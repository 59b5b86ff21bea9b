"""More-like-this: rank the corpus by similarity to seed DOCUMENTS.

Lucene's MoreLikeThisQuery: extract a seed document's most significant
terms (top tf·idf, df-floored to skip noise terms), then run them as a
disjunctive BM25 query with the seed excluded from its own results. The
interesting engine part is TERM-VECTOR RECONSTRUCTION: Lucene stores
per-doc term vectors as a separate index precisely because the inverted
index is term-keyed; this engine instead exploits the doc-range bucket
layout — a seed's entire term vector lives in the postings rows of ONE
bucket, and postings files are written per encode task (one bucket group
per task), so a bucket filter prunes to a handful of files via parquet
min/max stats. Cost: decode one bucket's postings per distinct seed
bucket — bounded by construction, no full-index scan.

Scale: seeds are a client-sized batch (same contract as query batches);
the vector-extraction job touches ≤ |seed buckets| × bucket rows; term
selection is a tiny window over ≤ seeds × bucket-vocab rows; scoring is
the ordinary score_expanded_terms path with all its caps and pushdowns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from dts.io import local_rows_df

from dts.codec import POSTING_COLS
from dts.score_index import ROUND_RANK, load_index, score_expanded_terms

MLT_SCHEMA = "query_id long, doc_id long, score double, rank int"


def doc_term_vectors(
    spark: SparkSession, index_dir: str, doc_ids: list[int]
) -> DataFrame:
    """(doc_id, term, tf) for the given seed docs, reconstructed from the
    bucket-colocated postings (see module docstring)."""
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    bucket_size = meta["bucket_size"]
    seeds = sorted({int(d) for d in doc_ids})
    buckets = sorted({d // bucket_size for d in seeds})
    seed_arr = np.array(seeds, dtype=np.int64)
    block_size = meta["block_size"]

    def extract(it):
        from dts.codec import decode_postings, packed_rows

        for pdf in it:
            out_doc, out_term, out_tf = [], [], []
            for term, p in zip(
                pdf["term"].tolist(), packed_rows(pdf, block_size)
            ):
                docs, tfs, _ = decode_postings(p)
                hit = np.isin(docs, seed_arr, assume_unique=True)
                if hit.any():
                    n_hit = int(hit.sum())
                    out_doc.extend(docs[hit].tolist())
                    out_term.extend([term] * n_hit)
                    out_tf.extend(tfs[hit].tolist())
            yield pd.DataFrame(
                {"doc_id": out_doc, "term": out_term, "tf": out_tf}
            )

    scan = idx["postings"].select(*POSTING_COLS)
    # bucket IN-list: postings files are written per bucket-group task, so
    # parquet min/max stats on `bucket` prune to the seeds' files.
    scan = scan.filter(F.col("bucket").isin([int(b) for b in buckets]))
    return scan.mapInPandas(extract, "doc_id long, term string, tf long")


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    doc_ids: list[int],
    k: int = 10,
    max_terms: int = 25,
    min_df: int = 2,
    strategy: str = "taat",
) -> DataFrame:
    """(query_id=seed doc_id, doc_id, score, rank): top-k most similar
    docs per seed. Term selection: the seed's ``max_terms`` highest
    tf·idf terms with df ≥ ``min_df`` (ties: higher tf·idf first at the
    engine's round-9 key, then term ascending — deterministic). Scoring:
    the selected DISTINCT term set through the ordinary BooleanQuery
    rewrite (each term's idf once); the seed never appears in its own
    results, and ranks re-close over the remaining docs."""
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    n_docs = meta["n_docs"]
    if meta.get("store_term_vectors"):
        # Lucene behavior: use STORED term vectors when the index has
        # them (an IN-list-pruned read of the doc-major sidecar) instead
        # of reconstructing from bucket postings — same (doc_id, term,
        # tf) rows (test-pinned), no posting decode.
        from dts.termvectors import term_vectors as tv_read

        vectors = tv_read(spark, index_dir, doc_ids=list(doc_ids))
    else:
        vectors = doc_term_vectors(spark, index_dir, doc_ids)
    stats = idx["term_stats"].select("term", "df").filter(
        F.col("df") >= min_df
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    w_sel = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("tfidf"), ROUND_RANK).desc(), F.col("term").asc()
    )
    selected = (
        vectors.join(F.broadcast(stats), "term")
        .select(
            "doc_id", "term", (F.col("tf").cast("double") * idf).alias("tfidf")
        )
        .withColumn("r", F.row_number().over(w_sel))
        .filter(F.col("r") <= max_terms)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    sel_rows = [(int(r["query_id"]), r["term"]) for r in selected.collect()]
    if not sel_rows:
        return spark.createDataFrame([], MLT_SCHEMA)
    qterms = local_rows_df(spark, sel_rows, "query_id long, term string")
    all_terms = sorted({t for _, t in sel_rows})
    # k+1 then drop the seed and re-close ranks (tiny k×seeds frame)
    top = score_expanded_terms(
        spark, index_dir, qterms, n_queries=len(set(doc_ids)), k=k + 1,
        strategy=strategy, all_terms=all_terms,
    ).filter(F.col("query_id") != F.col("doc_id"))
    w_rank = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), ROUND_RANK).desc(), F.col("doc_id").asc()
    )
    return (
        top.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "doc_id", "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )
