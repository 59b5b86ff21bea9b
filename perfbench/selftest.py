"""Self-tests of the benchmark (``python3 perfbench/run.py --smoke``).

1. The checker flags deliberately corrupted answers -- swapped ranks, a
   tombstoned doc left in, a wrong count -- as failed operations.
2. The Spark-free doc ids of the prepared inputs equal the ids
   ``dts.io.ingest`` and ``dts.io.assign_doc_ids`` give.
3. Every workload runs at a tiny size, untraced and traced, and prints
   every metric it must: the gated ones of BENCHMARK.json in the last line,
   the others in the line before, each with its unit.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TINY = ["--seconds", "1", "--docs", "300"]

# Every end-to-end metric the benchmark prints, with its unit and the
# workloads that report it.
BOTH = ("batch_fuzzy", "lifecycle")
E2E = {
    "setup_s": ("s", BOTH),
    "query_p50_s": ("s", BOTH),
    "queries_per_s": ("1/s", BOTH),
    "bmw_query_p50_s": ("s", ("batch_fuzzy",)),
    "count_p50_s": ("s", ("batch_fuzzy",)),
    "build_docs_per_s": ("docs/s", ("lifecycle",)),
    "merge_docs_per_s": ("docs/s", ("lifecycle",)),
    "delete_p50_s": ("s", ("lifecycle",)),
    "compact_p50_s": ("s", ("lifecycle",)),
    "read_after_write_p50_s": ("s", ("lifecycle",)),
    "index_bytes_per_source_byte": ("ratio", BOTH),
    "jvm_peak_rss_mb": ("MB", BOTH),
    "failed_op_frac": ("ratio", BOTH),
}


def check_checker() -> None:
    from dts.oracle import OracleIndex
    from perfbench import check
    from perfbench.inputs import exact_batch, with_doc_ids
    from dts.corpus import make_corpus

    corpus = with_doc_ids(make_corpus(60, 3))
    oracle = OracleIndex(list(zip(corpus["doc_id"], corpus["content"])))
    queries = exact_batch(1, 1, 4)
    expected = check.expected_topk(oracle, queries, 10)

    def rows(answers):
        return [
            (int(qid), doc, score, rank)
            for qid, ranked in answers.items()
            for rank, (doc, score) in enumerate(ranked, 1)
        ]

    qid = next(q for q, r in expected.items() if len(r) >= 2)
    swapped = {q: [list(x) for x in r] for q, r in expected.items()}
    swapped[qid][0][0], swapped[qid][1][0] = swapped[qid][1][0], swapped[qid][0][0]
    deleted = {expected[qid][0][0]}
    masked = check.expected_topk(oracle, queries, 10, deleted)
    counts = check.expected_counts(oracle, queries)
    wrong = {q: n + (q == qid) for q, n in counts.items()}

    checker = check.Checker()
    assert checker.record("ok", check.topk_mismatch(rows(expected), expected))
    assert not checker.record("swapped", check.topk_mismatch(rows(swapped), expected))
    assert not checker.record("tombstone", check.topk_mismatch(rows(expected), masked))
    assert checker.record("counts", check.counts_mismatch(list(counts.items()), counts))
    assert not checker.record("counts", check.counts_mismatch(list(wrong.items()), counts))
    assert (checker.attempted, checker.failed) == (5, 3), checker.failures
    print("checker: corrupted answers are failed ops", checker.failures)


def check_doc_ids() -> None:
    from dts.corpus import make_corpus
    from dts.io import assign_doc_ids, ingest
    from dts.session import get_spark
    from perfbench.inputs import SOURCE_COLS, merge_batch, merged_ids, with_doc_ids
    from perfbench.run import _engine_env, _spark_conf, _stop_spark

    work = ROOT / ".bench_work" / f"selftest-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    _engine_env(work)
    try:
        spark = get_spark("perfbench-selftest", extra_conf=_spark_conf(work, False))
        try:
            pdf = make_corpus(80, 9)[SOURCE_COLS]
            want = with_doc_ids(pdf).set_index("path")["doc_id"].to_dict()
            got = {
                r["path"]: r["doc_id"]
                for r in ingest(spark.createDataFrame(pdf)).select("path", "doc_id").collect()
            }
            assert got == want, "prepared doc ids differ from dts.io.ingest"
            batch = merge_batch(1, 0, 40)
            want = dict(zip(batch["path"], merged_ids(batch, 1000).tolist()))
            got = {
                r["path"]: r["doc_id"]
                for r in assign_doc_ids(spark.createDataFrame(batch), base=1000)
                .select("path", "doc_id")
                .collect()
            }
            assert got == want, "merge doc ids differ from dts.io.assign_doc_ids"
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("doc ids: equal to dts.io.ingest and assign_doc_ids")


def check_workloads() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
                   "--workload", w, "--seed", "1", "--trace", str(trace), *TINY]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert p.returncode == 0, p.stderr[-3000:]
            lines = p.stdout.strip().splitlines()
            last = json.loads(lines[-1])
            assert set(last) == {"correct", "attempted", "failed", "metrics"}, last
            assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1, last
            gated = spec["per_layer"] if trace else spec["end_to_end"]
            assert list(last["metrics"]) == [m["name"] for m in gated], w
            for m in gated:
                got = last["metrics"][m["name"]]
                assert got["unit"] == m["unit"], (w, m)
                assert math.isfinite(got["value"]), (w, m, got)
                if not trace:
                    assert got["value"] > 0, (w, m, got)
            if trace:
                continue
            printed = {**json.loads(lines[-2])["details"], **last["metrics"]}
            for name, (unit, where) in E2E.items():
                if w in where:
                    assert printed[name]["unit"] == unit, (w, name, printed.get(name))
            print(f"{w}: trace 0 and 1 print every metric with its unit")


def main() -> int:
    check_checker()
    check_doc_ids()
    check_workloads()
    print("smoke: OK")
    return 0
