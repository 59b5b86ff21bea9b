"""Score explanation (Lucene IndexSearcher.explain).

For CLIENT-sized (query, doc) pairs, break the BM25 score into
per-clause rows — (clause, term, tf, dl, df, idf, contribution) — whose
sum is EXACTLY the kernel's score for that doc (same formulas, same
float factors; duplicate query tokens appear as separate clauses, the
same multiplicity the scorer pays). The workhorse for relevance
debugging: "why does doc 4711 outrank doc 42 for this query?".

Plan shape: postings pruned to the query terms AND the target docs'
buckets (both predicates reach the parquet scan — term via the IN-list
/ semi-join strategy, bucket via partition-column pruning), then one
tiny applyInPandas per (query, bucket) that decodes only those rows and
searchsorted-probes the target ids. Cost scales with the pairs asked
about, not the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from dts.io import local_rows_df

from dts.score_index import MAX_ISIN_TERMS, load_index, term_filter
from dts.tokenizer import tokenize_text

EXPLAIN_SCHEMA = (
    "query_id long, doc_id long, clause int, term string, tf long, "
    "dl long, df long, contribution double"
)


def _explain_fn(n_docs: int, avgdl: float, block_size: int,
                targets: dict[int, np.ndarray], similarity: str = "bm25",
                total_tokens: float = 0.0):
    from dts.codec import bm25_idf, bm25_impact, decode_postings, packed_rows

    def weight_impact(df: int, cf: int, tf: int, dl: int) -> float:
        """Per-(clause, doc) contribution under the selected similarity —
        the SAME formulas as the kernel (dts.score_index / dts.score)."""
        tf_a = np.asarray([tf], dtype=np.int64)
        dl_a = np.asarray([dl], dtype=np.int64)
        if similarity == "classic":
            from dts.score import classic_impact, classic_weight

            return float(classic_weight(float(n_docs), df)) * float(
                classic_impact(tf_a, dl_a)[0]
            )
        if similarity == "lmd":
            from dts.score import lmd_impact

            return float(lmd_impact(tf_a, dl_a, cf, total_tokens)[0])
        idf = float(bm25_idf(n_docs, np.asarray([df], dtype=np.float64))[0])
        return idf * float(bm25_impact(tf_a, dl_a, avgdl)[0])

    def explain_group(pdf: pd.DataFrame) -> pd.DataFrame:
        query_id = int(pdf["query_id"].iloc[0])
        want = targets.get(query_id)
        rows: dict[str, list] = {
            "query_id": [], "doc_id": [], "clause": [], "term": [],
            "tf": [], "dl": [], "df": [], "contribution": [],
        }
        if want is None or not len(want):
            return pd.DataFrame(rows).astype(
                {"query_id": "int64", "doc_id": "int64", "clause": "int32",
                 "tf": "int64", "dl": "int64", "df": "int64"}
            )
        for term, clause, df, cf, p in zip(
            pdf["term"].tolist(),
            pdf["clause"].tolist(),
            pdf["df"].tolist(),
            pdf["cf"].tolist(),
            packed_rows(pdf, block_size),
        ):
            docs, tfs, dls = decode_postings(p)
            if not len(docs):
                continue
            pos = np.minimum(np.searchsorted(docs, want), len(docs) - 1)
            hit = docs[pos] == want
            if not np.any(hit):
                continue
            for d, i in zip(want[hit], pos[hit]):
                tf, dl = int(tfs[i]), int(dls[i])
                contrib = weight_impact(df, cf, tf, dl)
                rows["query_id"].append(query_id)
                rows["doc_id"].append(int(d))
                rows["clause"].append(clause)
                rows["term"].append(term)
                rows["tf"].append(tf)
                rows["dl"].append(dl)
                rows["df"].append(df)
                rows["contribution"].append(contrib)
        return pd.DataFrame(rows).astype(
            {"query_id": "int64", "doc_id": "int64", "clause": "int32",
             "tf": "int64", "dl": "int64", "df": "int64"}
        )

    return explain_group


def explain_scores(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    doc_ids: dict[int, list[int]],
    max_isin_terms: int = MAX_ISIN_TERMS,
    similarity: str = "bm25",
) -> DataFrame:
    """Per-clause score breakdown for the given (query, doc) pairs.
    ``queries`` needs (query_id, text); ``doc_ids`` maps query_id → the
    CLIENT-sized doc list to explain. Returns EXPLAIN_SCHEMA rows; the
    per-(query, doc) contribution sum equals the scorer's output
    bit-for-bit given the same accumulation order (tested). Docs not
    matching a clause simply emit no row for it (Lucene's non-match
    explanation). ``similarity`` mirrors bm25_topk_indexed's — Lucene's
    explain() works under any Similarity, so does this one (same
    weight/impact formulas as the kernel, incl. LMD's per-term floor)."""
    if similarity not in ("bm25", "classic", "lmd"):
        raise ValueError(f"unknown similarity {similarity!r}")
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    rows = [
        (int(r["query_id"]), str(r["text"]))
        for r in queries.select("query_id", "text").collect()
    ]
    qt_rows = [
        (qid, ci, tok)
        for qid, text in rows
        for ci, tok in enumerate(tokenize_text(text))
    ]
    if not qt_rows:
        return spark.createDataFrame([], EXPLAIN_SCHEMA)
    targets = {
        int(q): np.unique(np.asarray(ids, dtype=np.int64))
        for q, ids in doc_ids.items()
    }
    buckets = sorted(
        {
            int(d) // meta["bucket_size"]
            for ids in targets.values()
            for d in ids
        }
    )
    qt = local_rows_df(spark, qt_rows, "query_id long, clause int, term string")
    postings = (
        term_filter(
            idx["postings"], sorted({t for *_, t in qt_rows}), max_isin_terms
        )
        .filter(F.col("bucket").isin(buckets))
        .join(F.broadcast(qt), "term")
        .join(
            F.broadcast(
                term_filter(
                    idx["term_stats"],
                    sorted({t for *_, t in qt_rows}),
                    max_isin_terms,
                ).select("term", "df", "cf")
            ),
            "term",
        )
    )
    return postings.groupBy("query_id", "bucket").applyInPandas(
        _explain_fn(
            meta["n_docs"], meta["avgdl"], meta["block_size"], targets,
            similarity,
            float(meta.get("total_tokens", 0.0)),
        ),
        EXPLAIN_SCHEMA,
    )
