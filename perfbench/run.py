"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_fuzzy --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. Every file the run writes stays under it:
``.bench_cache/`` (seeded inputs and oracle answers, reused across runs),
``.bench_work/`` (the index, Spark's working files and event log; removed
at exit) and ``.bench_out/`` (one JSON result per workload, corpus size,
seed and trace mode, with its environment header).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the ``end_to_end`` metrics of BENCHMARK.json; with
``--trace 1`` they are its ``per_layer`` metrics, from a run with Spark's
event log on and a span around every call into a layer. The line before
it holds the environment header and the metrics that are printed but
not gated (see README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="corpus size (default: workloads.N_DOCS)")
    ap.add_argument("--smoke", action="store_true", help="run the self-tests at tiny size")
    ap.add_argument("--build-index", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not (args.smoke or args.build_index or args.workload):
        ap.error("--workload is required")
    return args


# Keeps the JVMs' temporary files and perf-data files inside the checkout.
_JVM_OPTS = "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _spark_conf(work: Path, trace: bool) -> dict:
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": _JVM_OPTS.format(tmp=work / "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # Spark 4.1 compresses event logs with zstd by default,
                # which the standard library cannot read.
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
            }
        )
    return conf


def _jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM, read from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _result_path(out: Path, workload: str, docs: int, seed: int, trace: int) -> Path:
    return out / f"{workload}-n{docs}-s{seed}-t{trace}.json"


def _untraced_query_p50(args, out: Path, header: dict) -> float:
    """query_p50_s of the untraced run of this workload, corpus size and
    seed, measured on this host from these sources; runs it first when
    none is stored."""
    from perfbench.env import same_host

    path = _result_path(out, args.workload, args.docs, args.seed, 0)

    def stored():
        if not path.is_file():
            return None
        res = json.loads(path.read_text())
        if (
            same_host(res["header"], header)
            or res["header"]["source_fingerprint"] != header["source_fingerprint"]
            or res["seconds"] != args.seconds
        ):
            return None
        return res["metrics"]["query_p50_s"]

    value = stored()
    if value is None:
        cmd = [
            sys.executable, str(Path(__file__).resolve()),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "0",
            "--docs", str(args.docs),
        ]
        subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL, timeout=170)
        value = stored()
    if value is None:
        raise RuntimeError(f"the untraced run left no usable result at {path}")
    return value


def _engine_env(work: Path) -> None:
    """Spark's Python workers import the engine from the checkout, and
    every temporary file stays inside it."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = _JVM_OPTS.format(tmp=work / "tmp")


def _base_index(args, cache: Path, corpus: Path) -> Path:
    """The read workload's index: ``build_index`` over the corpus, built
    once per checkout by a separate process so that no run's JVM is warmed
    by a build it does not measure."""
    out = cache / f"index-n{args.docs}"
    if not (out / "_READY").is_file():
        cmd = [
            sys.executable, str(Path(__file__).resolve()), "--build-index",
            "--docs", str(args.docs),
        ]
        subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL, timeout=600)
    return out


def build_base_index(args) -> int:
    """``--build-index``: build the base index into the cache and exit."""
    from perfbench import env
    from perfbench.inputs import prepare_corpus, publish
    from perfbench.workloads import BUCKET_SIZE, N_DOCS

    from dts.index_build import build_index
    from dts.session import get_spark

    args.docs = args.docs or N_DOCS["batch_fuzzy"]
    env.pin_environment()
    cache = ROOT / ".bench_cache" / env.source_fingerprint(ROOT)
    work = ROOT / ".bench_work" / f"build-index-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    _engine_env(work)
    try:
        corpus = prepare_corpus(cache, args.docs)
        tmp = cache / f".index-n{args.docs}-{os.getpid()}"
        spark = get_spark("perfbench-base-index", extra_conf=_spark_conf(work, False))
        try:
            source = spark.read.parquet(str(corpus)).select("doc_id", "content")
            build_index(spark, source, str(tmp), bucket_size=BUCKET_SIZE)
        finally:
            _stop_spark(spark)
        publish(tmp, cache / f"index-n{args.docs}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def run_workload(args) -> dict:
    from perfbench import env
    from perfbench.check import Checker
    from perfbench.inputs import ExpectationCache, prepare_corpus
    from perfbench.tracing import Tracer, read_event_log
    from perfbench.workloads import N_DOCS, WORKLOADS, Run

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    args.docs = args.docs or N_DOCS[args.workload]
    env.pin_environment()
    header = env.header(ROOT)
    cache = ROOT / ".bench_cache" / header["source_fingerprint"]
    out = ROOT / ".bench_out"
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    for d in (cache, out, work / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    _engine_env(work)

    marks = {"start": time.perf_counter()}
    try:
        untraced_p50 = _untraced_query_p50(args, out, header) if args.trace else None
        corpus = prepare_corpus(cache, args.docs)
        base_index = _base_index(args, cache, corpus) if args.workload == "batch_fuzzy" else None
        marks["inputs"] = time.perf_counter()

        t0 = time.perf_counter()
        from dts.session import get_spark

        spark = get_spark("perfbench", extra_conf=_spark_conf(work, bool(args.trace)))
        try:
            tracer = Tracer(args.workload, spark.sparkContext if args.trace else None)
            with tracer.span("session.start"):
                spark.range(1).count()
            session_start_s = time.perf_counter() - t0
            run = Run(
                spark=spark,
                tracer=tracer,
                checker=Checker(),
                seed=args.seed,
                seconds=args.seconds,
                docs=args.docs,
                work=work,
                corpus=corpus,
                base_index=base_index,
                expect=ExpectationCache(
                    cache / f"expect-{args.workload}-s{args.seed}-n{args.docs}.json"
                ),
            )
            if args.trace:
                from perfbench.layers import Probes

                run.probes = Probes(spark, tracer, corpus)
            marks["session"] = time.perf_counter()
            WORKLOADS[args.workload](run)
            marks["workload"] = time.perf_counter()
            run.details["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        finally:
            _stop_spark(spark)
        marks["stop"] = time.perf_counter()
        header["cpu_calibration_s"].append(env.cpu_calibration())
        run.e2e["setup_s"] = session_start_s + run.setup_s

        result = _result(args, header, run)
        result["phase_wall_s"] = {
            k: marks[k] - marks[p] for p, k in zip(marks, list(marks)[1:])
        }
        if args.trace:
            from perfbench.layers import per_layer

            layer, rows, unspanned = per_layer(
                tracer.spans,
                read_event_log(work / "eventlog"),
                run.probes,
                session_start_s,
                run.e2e["query_p50_s"],
                untraced_p50,
            )
            result["metrics"] = layer
            result["e2e_traced"] = run.e2e
            result["spans"] = rows
            result["unspanned_jobs"] = unspanned
            result["probes"] = run.probes.rows
        _result_path(out, args.workload, args.docs, args.seed, args.trace).write_text(
            json.dumps(result, indent=1)
        )
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _result(args, header: dict, run) -> dict:
    details = dict(run.details)
    details["failed_op_frac"] = run.checker.failed / max(1, run.checker.attempted)
    return {
        "header": header,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "docs": args.docs,
        "trace": args.trace,
        "correct": run.checker.failed == 0 and run.checker.attempted > 0,
        "attempted": run.checker.attempted,
        "failed": run.checker.failed,
        "failures": run.checker.failures,
        "metrics": dict(run.e2e),
        "details": details,
        "calls": run.calls,
    }


DETAIL_UNITS = {
    "build_docs_per_s": "docs/s",
    "jvm_peak_rss_mb": "MB",
    "bmw_query_p50_s": "s",
    "count_p50_s": "s",
    "read_after_write_p50_s": "s",
    "merge_docs_per_s": "docs/s",
    "delete_p50_s": "s",
    "compact_p50_s": "s",
    "failed_op_frac": "ratio",
    "cycles": "count",
}


def contract_line(result: dict, spec: dict) -> dict:
    """The last output line: every metric of the gated set, with its unit."""
    names = spec["per_layer"] if result["trace"] else spec["end_to_end"]
    metrics = {}
    for m in names:
        value = result["metrics"][m["name"]]
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise RuntimeError(f"metric {m['name']} is {value!r}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import dts.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.smoke:
        from perfbench.selftest import main as smoke

        return smoke()
    if args.build_index:
        return build_base_index(args)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    result = run_workload(args)
    for f in result["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "header": result["header"],
                "details": {
                    k: {"value": v, "unit": DETAIL_UNITS[k]}
                    for k, v in result["details"].items()
                    if k in DETAIL_UNITS
                },
            }
        )
    )
    print(json.dumps(contract_line(result, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
