"""Multi-index search (Lucene MultiReader / IndexSearcher-over-segments).

Search SEVERAL independently-built indexes as ONE logical index: scores
use BLENDED corpus statistics — n_docs = Σ nᵢ, avgdl = Σ(nᵢ·avgdlᵢ)/Σnᵢ,
per-term df = Σ dfᵢ — exactly the statistics a single index over the
union corpus would hold (doc sets are disjoint), so the result is
BIT-IDENTICAL to having indexed everything together (tested). This is
Lucene's reader-composition model: each segment scores its own postings
with the composite reader's stats and top-ks merge.

Why it matters at cluster scale: shards/partitions each build their own
index (the engine's incremental-merge path already writes such pieces);
cross-shard search then needs no physical merge at all — one tiny stats
blend (client-sized: query terms only), per-index scoring jobs that
each keep their own bucket geometry/pushdown/tombstones, and a k-sized
global merge.

``doc_bases``: per-index doc_id offsets (Lucene docBase) for indexes
whose LOCAL ids overlap; defaults to all-zero for globally-unique ids
(the engine's own build convention — doc_id is a stable global
coordinate). Offsets apply after scoring, before the global merge, so
the merge's doc_id tiebreak is over the OFFSET ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from dts.io import local_rows_df

from dts.index_build import load_meta
from dts.score_index import (
    MAX_ISIN_TERMS,
    TOPK_SCHEMA,
    _score_filtered,
    load_index,
    term_filter,
    topk_merge_global,
)
from dts.tokenizer import tokenize_text


def multi_index_topk(
    spark: SparkSession,
    index_dirs: list[str],
    queries: DataFrame,
    k: int = 10,
    doc_bases: list[int] | None = None,
    max_isin_terms: int = MAX_ISIN_TERMS,
    index_boosts: list[float] | None = None,
) -> DataFrame:
    """Top-k BM25 across ``index_dirs`` with composite-reader statistics.
    ``queries`` needs (query_id, text). Returns (query_id, doc_id,
    score, rank). TAAT only: stored block maxima are bounds under each
    index's OWN avgdl, not the blend (the incremental-merge bmw gate is
    the same rule). ``index_boosts`` (ES indices_boost: rank one
    cluster's results above another's) multiplies each index's scores
    before the global merge — a per-leg scalar, zero plan change."""
    if not index_dirs:
        raise ValueError("need at least one index")
    if doc_bases is None:
        doc_bases = [0] * len(index_dirs)
    if len(doc_bases) != len(index_dirs):
        raise ValueError("doc_bases must align with index_dirs")
    if index_boosts is None:
        index_boosts = [1.0] * len(index_dirs)
    if len(index_boosts) != len(index_dirs):
        raise ValueError("index_boosts must align with index_dirs")
    rows = [
        (int(r["query_id"]), str(r["text"]))
        for r in queries.select("query_id", "text").collect()
    ]
    qterm_rows = [
        (qid, tok) for qid, text in rows for tok in tokenize_text(text)
    ]
    if not qterm_rows:
        return spark.createDataFrame([], TOPK_SCHEMA)
    terms = sorted({t for _, t in qterm_rows})
    metas = [load_meta(d) for d in index_dirs]
    n_total = sum(int(m["n_docs"]) for m in metas)
    if n_total == 0:
        return spark.createDataFrame([], TOPK_SCHEMA)
    avgdl = (
        sum(float(m["avgdl"]) * int(m["n_docs"]) for m in metas) / n_total
    )
    # Blended per-term df: one pruned dictionary scan per index over the
    # CLIENT-sized query term set, summed on the driver.
    df_blend: dict[str, int] = {}
    idxs = []
    for d in index_dirs:
        idx = load_index(spark, d)
        idxs.append(idx)
        for r in (
            term_filter(idx["term_stats"], terms, max_isin_terms)
            .select("term", "df")
            .collect()
        ):
            df_blend[r["term"]] = df_blend.get(r["term"], 0) + int(r["df"])
    stats = local_rows_df(
        spark,
        [(t, n) for t, n in sorted(df_blend.items())] or [],
        "term string, df long",
    )
    qterms = local_rows_df(spark, qterm_rows, "query_id long, term string")
    parts = []
    for d, idx, meta, base, ib in zip(
        index_dirs, idxs, metas, doc_bases, index_boosts
    ):
        blended_meta = dict(meta, n_docs=n_total, avgdl=avgdl)
        postings = term_filter(idx["postings"], terms, max_isin_terms)
        local = _score_filtered(
            spark, blended_meta, postings, stats, qterms,
            n_queries=len(rows), k=k, strategy="taat", index_dir=d,
        )
        if base:
            local = local.withColumn(
                "doc_id", F.col("doc_id") + F.lit(int(base))
            )
        if float(ib) != 1.0:
            local = local.withColumn(
                "score", F.col("score") * F.lit(float(ib))
            )
        parts.append(local.drop("rank"))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return topk_merge_global(union, k).select(
        "query_id", "doc_id", "score", "rank"
    )
