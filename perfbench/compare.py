"""Compare two benchmark results, refusing results from different hosts.

    python3 perfbench/compare.py .bench_out/batch_fuzzy-s1-t0.json other.json

Prints each metric of the first result beside the second and their ratio.
Exits with 2, printing the differing header fields, when the two results
were not measured on the same host with the same pinned settings.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.env import same_host  # noqa: E402


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.loads(Path(p).read_text()) for p in argv)
    differ = same_host(a["header"], b["header"])
    if differ:
        for k in differ:
            print(f"header {k}: {a['header'].get(k)!r} != {b['header'].get(k)!r}", file=sys.stderr)
        print("refusing to compare results from different hosts", file=sys.stderr)
        return 2
    if (a["workload"], a["trace"]) != (b["workload"], b["trace"]):
        print("refusing to compare different workloads or trace modes", file=sys.stderr)
        return 2
    for name, va in a["metrics"].items():
        vb = b["metrics"].get(name)
        if vb is None:
            print(f"{name:50s} {va:>16.6g} {'-':>16}")
            continue
        ratio = f"{vb / va:.3f}" if va else "-"
        print(f"{name:50s} {va:>16.6g} {vb:>16.6g} {ratio:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
