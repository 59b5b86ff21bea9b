"""The workloads: single-client closed loops over the engine's public API.

One request is in flight at a time; the next call is sent only after the
previous one has returned and its rows were collected. A call's latency
runs from the call to the collected rows. Checking, oracle work and the
traced run's layer probes happen between calls, outside every latency,
and the measured window closes once the summed call latency reaches
``--seconds`` (after at least ``MIN_ROTATIONS`` rotations or one cycle).

Set-up is done ``SETUPS`` times in a run and ``setup_s`` is the session
start plus the median of those set-ups, so that one slow set-up does not
decide the figure.

- ``batch_fuzzy``: set-up opens a fresh copy of the prepared base index
  and answers a first (cold) 4-query exact search on it. ``WARMUP``
  untimed rotations follow. The measured window is a rotation of two
  40-query fuzzy-mix TAAT top-k calls, one 8-query block-max WAND top-k
  call and one 40-query match-count call, each call type cycling through
  ``POOL`` seeded batches.
- ``lifecycle``: set-up is a ``build_index`` of the corpus. The measured
  window is cycles of a merge, ``DELETES`` deletes and a compaction, each
  commit followed by a cold 4-query exact TAAT search.
"""

from __future__ import annotations

import gc
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import check
from perfbench.inputs import (
    QUERY_SCHEMA,
    ExpectationCache,
    delete_ids,
    exact_batch,
    fuzzy_mix,
    merge_batch,
    merged_ids,
    read_docs,
)

# Corpus size per workload. The write path's per-call cost is mostly
# fixed (jobs, parquet commits), so ``lifecycle`` runs on a smaller corpus
# to keep a run within about a minute.
N_DOCS = {"batch_fuzzy": 10_000, "lifecycle": 4_000}
# Docs per posting bucket, as bench.py builds. The 10k-doc index has 5
# buckets, fewer than the 32 at which ``auto_distribute`` picks the
# ``bucket`` distribution, so every call here takes the ``query`` one.
BUCKET_SIZE = 2048
DELETE_FRAC = 0.01
# Deletes per lifecycle cycle. Each is a commit with a cold read after it,
# and the cheapest one: two give four reads a cycle instead of three.
DELETES = 2
TOPK = 10
READ_QUERIES = 4
SETUPS = 3
# batch_fuzzy: queries per call type, seeded batches per call type, and
# untimed warm-up rotations. A rotation makes two TAAT calls (the calls
# ``query_p50_s`` is the median of) and one of each other type. Call latency falls over the first calls of
# a JVM (the three set-ups and the first rotation) before it levels off; a
# fixed warm-up puts every run's window at the same point of that curve.
BATCH = {"taat": 40, "bmw": 8, "count": 40}
POOL = 3
WARMUP = 2
MIN_ROTATIONS = 2


def merge_docs(n_docs: int) -> int:
    """Docs per merge: 1/20 of the corpus, the ratio of a 1k-doc merge
    into a 20k-doc index."""
    return max(1, n_docs // 20)


@dataclass
class Run:
    """Everything one workload run shares: the session, its inputs and
    what the run has measured so far."""

    spark: object
    tracer: object
    checker: check.Checker
    seed: int
    seconds: float
    docs: int
    work: Path
    corpus: Path
    expect: ExpectationCache
    base_index: Path | None = None
    probes: object = None  # perfbench.layers.Probes in the traced run
    setup_s: float = 0.0  # median engine set-up after the session has started
    calls: list[dict] = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    details: dict = field(default_factory=dict)

    def call(self, op: str, phase: str, fn, n_queries: int = 0, n_docs: int = 0):
        """Time ``fn`` (one engine call) inside a span; returns its value."""
        with self.tracer.span(op, kind="call", op=op, phase=phase) as sp:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.calls.append(
            {
                "op": op,
                "phase": phase,
                "latency_s": dt,
                "n_queries": n_queries,
                "n_docs": n_docs,
                "call_id": sp["call_id"] if sp else None,
            }
        )
        return out

    def measured(self, *ops: str) -> list[dict]:
        return [
            c for c in self.calls
            if c["phase"] == "measure" and (not ops or c["op"] in ops)
        ]

    def measured_s(self) -> float:
        return sum(c["latency_s"] for c in self.measured())

    def p50(self, op: str) -> float:
        return statistics.median(c["latency_s"] for c in self.measured(op))

    def queries_per_s(self) -> float:
        calls = self.measured()
        return sum(c["n_queries"] for c in calls) / sum(c["latency_s"] for c in calls)


def _search(run: Run, op: str, phase: str, idx: str, pdf, expected) -> None:
    """One top-k or count call, checked. An engine error is a failed op."""
    from dts.score_index import bm25_topk_indexed, match_counts_indexed

    qdf = run.spark.createDataFrame(pdf, QUERY_SCHEMA)
    if op == "count":
        fn = lambda: match_counts_indexed(run.spark, idx, qdf).collect()  # noqa: E731
        mismatch = check.counts_mismatch
    else:
        strategy = "bmw" if op == "bmw" else "taat"
        fn = lambda: bm25_topk_indexed(  # noqa: E731
            run.spark, idx, qdf, k=TOPK, strategy=strategy
        ).collect()
        mismatch = check.topk_mismatch
    try:
        rows = run.call(op, phase, fn, n_queries=len(pdf))
    except Exception as exc:  # the loop keeps going; the op counts as failed
        run.checker.error(op, exc)
        return
    run.checker.record(op, mismatch(rows, expected))
    if run.probes is not None:
        run.probes.after_search(op, idx, pdf)


def settle() -> None:
    """Collect garbage and freeze what survives, so that oracle work a run
    did or skipped (cached answers) leaves no difference in the Python
    heap that the driver-side engine code walks during timed calls."""
    gc.collect()
    gc.freeze()


def dir_bytes(path) -> int:
    """Bytes of the data files under ``path`` (checksums and markers out)."""
    return sum(
        p.stat().st_size
        for p in Path(path).rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    )


def _content_bytes(docs) -> int:
    return sum(len(c.encode()) for c in docs)


def batch_fuzzy(run: Run) -> None:
    from dts.oracle import OracleIndex

    salts = {"taat": 10, "bmw": 11, "count": 12}
    pool = [
        {op: fuzzy_mix(run.seed, 100 * salts[op] + i, n) for op, n in BATCH.items()}
        for i in range(POOL)
    ]
    opener = exact_batch(run.seed, 13, READ_QUERIES)
    docs = read_docs(run.corpus)

    def answers():
        oracle = OracleIndex(sorted(docs.items()))
        return {
            "open": check.expected_topk(oracle, opener, TOPK),
            "pool": [
                {
                    op: check.expected_counts(oracle, pdf)
                    if op == "count"
                    else check.expected_topk(oracle, pdf, TOPK)
                    for op, pdf in batches.items()
                }
                for batches in pool
            ],
        }

    expected = run.expect.get("batches", answers)
    run.expect.save()
    settle()

    # Set-up: open a fresh copy of the index (a path the engine's caches
    # have not seen) and answer a first search on it, SETUPS times.
    setups = []
    for i in range(SETUPS):
        idx = str(run.work / f"index{i}")
        t0 = time.perf_counter()
        shutil.copytree(run.base_index, idx)
        copy_s = time.perf_counter() - t0
        _search(run, "open", "setup", idx, opener, expected["open"])
        setups.append(copy_s + run.calls[-1]["latency_s"])
    run.setup_s = statistics.median(setups)
    if run.probes is not None:
        run.probes.index_ready(idx)

    def rotation(phase, i):
        j = (i + 1) % POOL
        for op, b in (("taat", i), ("bmw", i), ("taat", j), ("count", i)):
            _search(run, op, phase, idx, pool[b][op], expected["pool"][b][op])

    for i in range(WARMUP):
        rotation("warmup", i % POOL)
    rotations = 0
    while rotations < MIN_ROTATIONS or run.measured_s() < run.seconds:
        rotation("measure", rotations % POOL)
        rotations += 1

    run.e2e.update(
        query_p50_s=run.p50("taat"),
        queries_per_s=run.queries_per_s(),
        index_bytes_per_source_byte=dir_bytes(idx) / _content_bytes(docs.values()),
    )
    run.details.update(
        bmw_query_p50_s=run.p50("bmw"),
        count_p50_s=run.p50("count"),
    )


def lifecycle(run: Run) -> None:
    from dts.delete import delete_docs
    from dts.index_build import build_index, compact_index, merge_index
    from dts.oracle import OracleIndex

    live = read_docs(run.corpus)
    n_corpus = len(live)
    watermark = max(live) + 1

    def plan(cycle: int) -> dict:
        """Cycle ``cycle``'s mutations and the answers its reads must
        give, replayed on the live set before any timing. After the merge
        the reads see the live docs; after each delete, the same statistics
        with the docs tombstoned so far masked; after the compaction, the
        live docs without the tombstoned ones."""
        nonlocal watermark
        batch = merge_batch(run.seed, cycle, merge_docs(run.docs))
        live.update(zip(merged_ids(batch, watermark).tolist(), batch["content"]))
        watermark += len(batch)
        deads, gone = [], set()
        for j in range(DELETES):
            dead = delete_ids(
                run.seed, DELETES * cycle + j, [d for d in live if d not in gone], DELETE_FRAC
            )
            deads.append(dead)
            gone.update(dead)
        commits = ["merge"] + ["delete"] * DELETES + ["compact"]
        reads = [
            exact_batch(run.seed, 100 + len(commits) * cycle + i, READ_QUERIES)
            for i in range(len(commits))
        ]

        def answers():
            merged = OracleIndex(sorted(live.items()))
            compacted = OracleIndex(sorted(kv for kv in live.items() if kv[0] not in gone))
            out = [check.expected_topk(merged, reads[0], TOPK)]
            masked = set()
            for j, dead in enumerate(deads):
                masked.update(dead)
                out.append(check.expected_topk(merged, reads[1 + j], TOPK, masked))
            out.append(check.expected_topk(compacted, reads[-1], TOPK))
            return out

        expected = run.expect.get(f"cycle{cycle}", answers)
        for d in gone:
            del live[d]
        return {
            "batch": batch,
            "deads": deads,
            "commits": commits,
            "reads": reads,
            "expected": expected,
            "source_bytes": _content_bytes(live.values()),
        }

    plans = [plan(0)]
    run.expect.save()
    settle()

    # Set-up: build the index SETUPS times, each into a fresh directory;
    # the cycles run on the last one.
    with run.tracer.span("source"):
        source = run.spark.read.parquet(str(run.corpus)).select("doc_id", "content")
    for i in range(SETUPS):
        if i:
            shutil.rmtree(idx)
        idx = str(run.work / f"index{i}")
        meta = run.call(
            "build", "setup",
            lambda: build_index(run.spark, source, idx, bucket_size=BUCKET_SIZE),
            n_docs=n_corpus,
        )
    builds = [c["latency_s"] for c in run.calls if c["op"] == "build"]
    run.setup_s = statistics.median(builds)
    if run.probes is not None:
        run.probes.index_ready(idx, meta, run.calls[-1])

    def read_after(p: dict, i: int) -> None:
        _search(run, "read", "measure", idx, p["reads"][i], p["expected"][i])
        if run.probes is not None:
            run.probes.after_commit(idx, p["commits"][i])

    while True:
        p = plans[-1]
        new_docs = run.spark.createDataFrame(p["batch"])
        run.call("merge", "measure", lambda: merge_index(run.spark, idx, new_docs),
                 n_docs=len(p["batch"]))
        read_after(p, 0)
        for j, dead in enumerate(p["deads"]):
            run.call("delete", "measure", lambda: delete_docs(run.spark, idx, dead),
                     n_docs=len(dead))
            read_after(p, 1 + j)
        run.call("compact", "measure", lambda: compact_index(run.spark, idx))
        read_after(p, len(p["commits"]) - 1)
        if len(plans) == 1:
            run.e2e["index_bytes_per_source_byte"] = dir_bytes(idx) / p["source_bytes"]
        if run.measured_s() >= run.seconds:
            break
        plans.append(plan(len(plans)))
        run.expect.save()

    run.e2e.update(query_p50_s=run.p50("read"), queries_per_s=run.queries_per_s())
    run.details.update(
        build_docs_per_s=n_corpus / run.setup_s,
        read_after_write_p50_s=run.p50("read"),
        merge_docs_per_s=statistics.median(
            c["n_docs"] / c["latency_s"] for c in run.measured("merge")
        ),
        delete_p50_s=run.p50("delete"),
        compact_p50_s=run.p50("compact"),
        cycles=len(plans),
    )


WORKLOADS = {"batch_fuzzy": batch_fuzzy, "lifecycle": lifecycle}
