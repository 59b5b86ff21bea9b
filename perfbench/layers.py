"""Per-layer metrics of the traced run.

Two sources feed them:

- the fold of Spark's event log into the bench spans (``tracing``): jobs,
  stages, tasks, the prep / jobs / tail split of each call's wall, and the
  task metrics summed per call (scan, shuffle, run and CPU time, GC, the
  Python-worker accumulators);
- direct calls into single layers (``Probes``), made between the measured
  calls with each call's own inputs: query tokenizing, fuzzy expansion,
  the local query-term relation, posting decode, the WAND kernel, the
  vocabulary structure, a cold ``load_index`` and a corpus tokenizing
  sample. Probes only run in the traced run.

A layer a workload never reaches reports 0 (no fuzzy terms on
``lifecycle``, no merges on ``batch_fuzzy``).
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow.dataset as pads

from perfbench.tracing import attribute, fold_jobs, span_rows

READ_OPS = ("taat", "bmw", "count", "read")
TOPK_OPS = ("taat", "bmw", "read")
TOKENIZE_SAMPLE_DOCS = 2_000
BUILD_STAGES = ("term_stats", "postings", "trigrams", "terms_rev", "doc_stats", "corpus_meta")


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


class Probes:
    """Direct layer calls of the traced run. Each distinct (op, queries,
    index revision) is probed once: repeated identical calls would give
    the same layer work."""

    def __init__(self, spark, tracer, corpus: Path):
        self.spark = spark
        self.tracer = tracer
        self.corpus = corpus
        self.rows: list[dict] = []
        self._seen: set = set()
        self._vocab: dict = {}

    def _add(self, probe: str, **values) -> None:
        self.rows.append({"probe": probe, **values})

    def _revision(self, idx: str):
        from dts.index_build import index_revision

        return index_revision(idx)

    def _vocab_struct(self, idx: str) -> dict:
        """``build_vocab_struct`` over the index vocabulary, once per
        revision (the engine's own cache keys on the revision too)."""
        from dts.fuzzy import build_vocab_struct

        rev = self._revision(idx)
        if rev not in self._vocab:
            terms = (
                pads.dataset(f"{idx}/term_stats", format="parquet")
                .to_table(columns=["term"])
                .column("term")
                .to_pylist()
            )
            t0 = time.perf_counter()
            self._vocab = {rev: build_vocab_struct(terms)}
            self._add("fuzzy.vocab_struct", s=time.perf_counter() - t0)
        return self._vocab[rev]

    def load_index(self, idx: str) -> None:
        """``load_index`` on a revision its cache has not seen."""
        from dts.score_index import load_index

        with self.tracer.span("score_index.load_index", kind="probe") as sp:
            t0 = time.perf_counter()
            load_index(self.spark, idx, use_cache=False)
            dt = time.perf_counter() - t0
        self._add("score_index.load_index", s=dt, call_id=sp["call_id"])

    def index_ready(self, idx: str, meta: dict | None = None, call: dict | None = None) -> None:
        """Probes of a freshly built (``meta``, ``call``) or copied index,
        plus the corpus tokenizing sample."""
        from dts.tokenizer import tokenize_series

        if meta is not None:
            self._add("index_build.stages", call_id=call["call_id"], **meta["stage_wall_sec"])
        self.index_bytes(idx, "build")
        self.load_index(idx)
        sample = (
            pads.dataset(self.corpus, format="parquet")
            .head(TOKENIZE_SAMPLE_DOCS, columns=["content"])
            .column("content")
            .to_pandas()
        )
        t0 = time.perf_counter()
        n_tokens = int(tokenize_series(sample).map(len).sum())
        self._add("tokenizer.docs", tokens_per_s=n_tokens / (time.perf_counter() - t0))

    def index_bytes(self, idx: str, after: str) -> None:
        from perfbench.workloads import dir_bytes

        postings = int(
            pads.dataset(f"{idx}/postings", format="parquet")
            .to_table(columns=["n"])
            .column("n")
            .to_numpy()
            .sum()
        )
        self._add(
            "codec.index_bytes",
            after=after,
            index_bytes=dir_bytes(idx),
            postings_bytes=dir_bytes(f"{idx}/postings"),
            postings=postings,
        )

    def after_commit(self, idx: str, commit: str) -> None:
        self.index_bytes(idx, commit)
        self.load_index(idx)

    def after_search(self, op: str, idx: str, pdf) -> None:
        from dts.fuzzy import expand_fuzzy_local
        from dts.io import local_rows_df
        from dts.tokenizer import tokenize_text

        key = (op, self._revision(idx), tuple(pdf["text"]), tuple(pdf["fuzzy_k"]))
        if key in self._seen:
            return
        self._seen.add(key)
        queries = list(zip(pdf["query_id"].astype(int), pdf["text"], pdf["fuzzy_k"].astype(int)))

        t0 = time.perf_counter()
        toks = [tokenize_text(text) for _, text, _ in queries]
        tokenize_s = time.perf_counter() - t0

        vocab = self._vocab_struct(idx)
        pairs = sorted({(t, k) for (_, _, k), ts in zip(queries, toks) if k for t in ts})
        t0 = time.perf_counter()
        expansions = expand_fuzzy_local(pairs, vocab) if pairs else {}
        expand_s = time.perf_counter() - t0
        qrows = [
            (qid, clause, term)
            for (qid, _, k), ts in zip(queries, toks)
            for clause, t in enumerate(ts)
            for term in (expansions[(t, k)] if k else [t])
        ]

        with self.tracer.span("io.local_rows", kind="probe") as sp:
            t0 = time.perf_counter()
            local_rows_df(self.spark, qrows, "query_id long, clause int, term string").collect()
            local_rows_s = time.perf_counter() - t0
        self._add(
            "query",
            op=op,
            tokenize_s=tokenize_s,
            expand_s=expand_s,
            fuzzy_terms=len(pairs),
            expansions=sum(len(v) for v in expansions.values()),
            local_rows_s=local_rows_s,
            local_rows_call_id=sp["call_id"],
        )
        if op in TOPK_OPS and qrows:
            self._decode(op, idx, qrows)

    def _decode(self, op: str, idx: str, qrows: list[tuple]) -> None:
        """``decode_postings`` over the call's posting rows (read with
        pyarrow) and, for WAND calls, ``bmw_topk`` per query over them."""
        from dts.codec import PackedPostings, decode_postings
        from dts.index_build import load_meta
        from dts.oracle import idf
        from dts.score_index import POSTING_SCORE_COLS
        from dts.wand import bmw_topk
        from perfbench.workloads import TOPK

        meta = load_meta(idx)
        terms = sorted({t for *_, t in qrows})
        flt = pads.field("term").isin(terms)
        rows = (
            pads.dataset(f"{idx}/postings", format="parquet")
            .to_table(columns=POSTING_SCORE_COLS, filter=flt)
            .to_pylist()
        )
        packs: dict[str, list] = {}
        for r in rows:
            packs.setdefault(r["term"], []).append(
                PackedPostings(
                    n=r["n"],
                    doc_blob=r["doc_blob"],
                    tf_blob=r["tf_blob"],
                    dl_blob=r["dl_blob"],
                    block_last_doc=np.asarray(r["block_last_doc"], dtype=np.int64),
                    block_max_impact=np.asarray(r["block_max_impact"], dtype=np.float64),
                    doc_offs=np.asarray(r["doc_offs"], dtype=np.int32),
                    tf_offs=np.asarray(r["tf_offs"], dtype=np.int32),
                    dl_offs=np.asarray(r["dl_offs"], dtype=np.int32),
                    block_size=meta["block_size"],
                    codec=meta.get("codec", "varint"),
                )
            )
        t0 = time.perf_counter()
        for ps in packs.values():
            for p in ps:
                decode_postings(p)
        decode_s = time.perf_counter() - t0
        values = {"decode_s": decode_s, "postings": sum(r["n"] for r in rows)}
        if op == "bmw":
            stats = (
                pads.dataset(f"{idx}/term_stats", format="parquet")
                .to_table(columns=["term", "df"], filter=flt)
                .to_pydict()
            )
            df = dict(zip(stats["term"], stats["df"]))
            by_query: dict[int, list[str]] = {}
            for qid, _, term in qrows:
                by_query.setdefault(qid, []).append(term)
            t0 = time.perf_counter()
            for qterms in by_query.values():
                cursors = [
                    (t, idf(meta["n_docs"], df[t]), p)
                    for t in sorted(qterms)
                    for p in packs.get(t, [])
                ]
                bmw_topk(cursors, TOPK, meta["avgdl"])
            values["bmw_topk_s"] = time.perf_counter() - t0
        self._add("decode", op=op, **values)


def per_layer(
    spans: list[dict],
    events: list[dict],
    probes: Probes,
    session_start_s: float,
    traced_query_p50_s: float,
    untraced_query_p50_s: float,
) -> tuple[dict, list[dict], list[dict]]:
    """Every per-layer metric of the run, one row per span, and the jobs
    outside every span."""
    jobs = fold_jobs(events)
    owned = attribute(spans, jobs)
    rows = span_rows(spans, owned)
    by_id = {r["call_id"]: r for r in rows}

    def calls(*ops):
        return [
            r for r in rows
            if r["kind"] == "call" and r.get("op") in ops and r.get("phase") == "measure"
        ]

    def probes_of(name, **match):
        return [
            p for p in probes.rows
            if p["probe"] == name and all(p.get(k) in v for k, v in match.items())
        ]

    reads = calls(*READ_OPS)
    m: dict[str, float] = {}
    for key, field in (
        ("jobs_per_call", "jobs"),
        ("stages_per_call", "stages"),
        ("tasks_per_call", "tasks"),
        ("prep_s", "prep_s"),
        ("jobs_s", "jobs_s"),
        ("tail_s", "tail_s"),
        ("scan_bytes_per_call", "scan_bytes"),
        ("shuffle_bytes_per_call", "shuffle_write_bytes"),
        ("task_run_s", "task_run_s"),
        ("task_cpu_s", "task_cpu_s"),
        ("gc_s", "gc_s"),
        ("py_run_s", "py_run_s"),
        ("py_init_s", "py_init_s"),
        ("py_bytes_sent", "py_bytes_sent"),
    ):
        m[f"score_index.{key}"] = _mean(r[field] for r in reads)
    loads = probes_of("score_index.load_index")
    m["score_index.load_index_s"] = _mean(p["s"] for p in loads)
    m["score_index.cold_jobs"] = _mean(by_id[p["call_id"]]["jobs"] for p in loads)

    queries = probes_of("query")
    m["io.local_rows_jobs"] = _mean(by_id[p["local_rows_call_id"]]["jobs"] for p in queries)
    m["io.local_rows_s"] = _mean(p["local_rows_s"] for p in queries)
    m["tokenizer.query_tokenize_s"] = _mean(p["tokenize_s"] for p in queries)
    m["tokenizer.docs_tokens_per_s"] = _mean(
        p["tokens_per_s"] for p in probes_of("tokenizer.docs")
    )
    m["fuzzy.expand_s"] = _mean(p["expand_s"] for p in queries)
    fuzzy_terms = sum(p["fuzzy_terms"] for p in queries)
    m["fuzzy.expansions_per_fuzzy_term"] = (
        sum(p["expansions"] for p in queries) / fuzzy_terms if fuzzy_terms else 0.0
    )
    m["fuzzy.vocab_struct_s"] = _mean(p["s"] for p in probes_of("fuzzy.vocab_struct"))
    decodes = probes_of("decode")
    m["codec.decode_s"] = _mean(p["decode_s"] for p in decodes)
    m["codec.decoded_postings_per_call"] = _mean(p["postings"] for p in decodes)
    sizes = probes_of("codec.index_bytes")
    m["codec.index_bytes_per_posting"] = (
        sizes[-1]["postings_bytes"] / sizes[-1]["postings"] if sizes else 0.0
    )
    m["wand.bmw_topk_s"] = _mean(p["bmw_topk_s"] for p in probes_of("decode", op=("bmw",)))

    stages = probes_of("index_build.stages")
    for st in BUILD_STAGES:
        m[f"index_build.{st}_s"] = _mean(p.get(st, 0.0) for p in stages)
    builds = [r for r in rows if r["kind"] == "call" and r.get("op") == "build"]
    for key, field in (
        ("jobs", "jobs"),
        ("tasks", "tasks"),
        ("task_run_s", "task_run_s"),
        ("py_run_s", "py_run_s"),
        ("shuffle_write_bytes", "shuffle_write_bytes"),
        ("spill_bytes", "spill_bytes"),
        ("output_bytes", "output_bytes"),
        ("unattributed_jobs", "jobs_by_time"),
    ):
        m[f"index_build.{key}"] = _mean(r[field] for r in builds)
    merges = calls("merge")
    m["index_build.merge_jobs"] = _mean(r["jobs"] for r in merges)
    m["index_build.merge_task_run_s"] = _mean(r["task_run_s"] for r in merges)
    m["index_build.merge_output_bytes"] = _mean(r["output_bytes"] for r in merges)
    compacts = calls("compact")
    m["index_build.compact_jobs"] = _mean(r["jobs"] for r in compacts)
    m["index_build.compact_task_run_s"] = _mean(r["task_run_s"] for r in compacts)
    after_compact = probes_of("codec.index_bytes", after=("compact",))
    m["index_build.compact_bytes_rewritten_per_index_byte"] = _mean(
        r["output_bytes"] / p["index_bytes"] for r, p in zip(compacts, after_compact)
    )
    deletes = calls("delete")
    m["delete.jobs"] = _mean(r["jobs"] for r in deletes)
    m["delete.task_run_s"] = _mean(r["task_run_s"] for r in deletes)

    m["session.start_s"] = session_start_s
    m["trace.query_p50_s"] = traced_query_p50_s
    m["trace.overhead_frac"] = traced_query_p50_s / untraced_query_p50_s - 1.0
    m["trace.spans"] = len(spans)
    m["trace.jobs"] = len(jobs)
    m["trace.jobs_by_time"] = sum(r["jobs_by_time"] for r in rows)
    m["trace.unspanned_jobs"] = len(owned[""])
    return m, rows, owned[""]
