"""Query-time synonym expansion with blended scoring (Lucene
SynonymQuery).

A token with synonyms scores as ONE pseudo-term over the union of its
member postings: per-doc tf = Σ member tf, docFreq = MAX member df —
exactly Lucene's SynonymQuery statistics blend (df = max, ttf = sum),
so a doc saying "fast fast" and one saying "fast quick" score the same
clause identically. This differs from a plain BooleanQuery OR rewrite
(each member its own clause: idf applied per member, tf saturated per
member), which the engine already offers via score_expanded_terms.

Spark shape: member postings merge per (clause, bucket) in one
applyInPandas pass (decode + sorted tf-sum, arrays bounded by
bucket_size docs) and ride the scoring kernel as SYNTHETIC CLAUSE ROWS
(the round-5 phrase-fusion channel — dts.phrase.phrase_syn_rows is the
template): one scoring job total, no extra shuffle beyond the bucket
key the scoring join already pays. Blended df comes from one pruned
term_stats scan (client-sized member list, IN-list pushdown).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from dts.io import local_rows_df

from dts.codec import decode_postings, packed_rows
from dts.score_index import (
    MAX_ISIN_TERMS,
    SYN_TERM_PREFIX,
    load_index,
    score_expanded_terms,
    term_filter,
)
from dts.tokenizer import tokenize_text

_MERGE_SCHEMA = (
    "sid long, bucket long, n long, _syn_ids array<bigint>, "
    "_syn_tfs array<bigint>, _syn_dls array<bigint>"
)


def _merge_fn(block_size: int):
    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["sid"].iloc[0])
        bucket = int(pdf["bucket"].iloc[0])
        docs_l, tf_l, dl_l = [], [], []
        for p in packed_rows(pdf, block_size):
            d, tf, dl = decode_postings(p)
            docs_l.append(d)
            tf_l.append(tf)
            dl_l.append(dl)
        docs = np.concatenate(docs_l)
        tfs = np.concatenate(tf_l).astype(np.int64)
        dls = np.concatenate(dl_l).astype(np.int64)
        order = np.argsort(docs, kind="stable")
        docs, tfs, dls = docs[order], tfs[order], dls[order]
        uniq, starts = np.unique(docs, return_index=True)
        tf_sum = np.add.reduceat(tfs, starts)
        dl_first = dls[starts]  # every member agrees on a doc's length
        return pd.DataFrame(
            {
                "sid": [sid],
                "bucket": [bucket],
                "n": [len(uniq)],
                "_syn_ids": [uniq.astype(np.int64)],
                "_syn_tfs": [tf_sum],
                "_syn_dls": [dl_first],
            }
        )

    return merge_group


def synonym_syn_rows(
    spark: SparkSession,
    index_dir: str,
    groups: list[tuple[int, int, int, list[str], float]],
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame | None:
    """Synthetic clause rows for synonym clauses. ``groups``: (sid,
    query_id, clause, member_terms, boost) — sid unique per clause
    occurrence. Returns rows shaped for _score_filtered's ``syn_rows``
    channel, or None when there are no groups."""
    if not groups:
        return None
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    members = sorted({t for *_, ts, _ in groups for t in ts})
    mem_df = local_rows_df(
        spark,
        [(sid, t) for sid, *_rest in groups for t in _rest[2]],
        "sid long, term string",
    )
    postings = term_filter(idx["postings"], members, max_isin_terms).join(
        F.broadcast(mem_df), "term"
    )
    merged = postings.groupBy("sid", "bucket").applyInPandas(
        _merge_fn(meta["block_size"]),
        _MERGE_SCHEMA,
    )
    # Blended docFreq = MAX member df (Lucene SynonymQuery); absent
    # members contribute 0. One pruned dictionary scan, client-sized.
    df_by_term = {
        r["term"]: int(r["df"])
        for r in term_filter(idx["term_stats"], members, max_isin_terms)
        .select("term", "df")
        .collect()
    }
    meta_rows = [
        (
            sid,
            qid,
            clause,
            0,
            SYN_TERM_PREFIX + format(sid, "08d"),
            float(boost),
            max((df_by_term.get(t, 0) for t in terms), default=0),
        )
        for sid, qid, clause, terms, boost in groups
    ]
    mdf = local_rows_df(
        spark,
        meta_rows,
        "sid long, query_id long, clause int, role int, term string, "
        "boost double, df long",
    )
    return merged.join(F.broadcast(mdf), "sid").select(
        "query_id", "clause", "role", "term", "boost", "bucket", "n",
        "df", "_syn_ids", "_syn_tfs", "_syn_dls",
    )


def bm25_topk_synonyms(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    synonyms: dict[str, list[str]],
    k: int = 10,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """Top-k BM25 where each query token expands through ``synonyms`` at
    query time: a token with synonyms becomes ONE blended SynonymQuery
    clause (tf summed across members, df = max — Lucene semantics); a
    token without stays a plain term clause on the fast path. Duplicate
    tokens contribute duplicate clauses, exactly like plain text queries.
    ``queries`` needs (query_id, text). Returns (query_id, doc_id,
    score, rank)."""
    rows = [
        (int(r["query_id"]), str(r["text"]))
        for r in queries.select("query_id", "text").collect()
    ]
    qterm_rows: list[tuple[int, str]] = []
    groups: list[tuple[int, int, int, list[str], float]] = []
    sid = 0
    for qid, text in rows:
        for ci, tok in enumerate(tokenize_text(text)):
            alts = synonyms.get(tok)
            if alts:
                mem = sorted({tok, *alts})
                groups.append((sid, qid, ci, mem, 1.0))
                sid += 1
            else:
                qterm_rows.append((qid, tok))
    qterms = local_rows_df(
        spark,
        qterm_rows or [], "query_id long, term string"
    )
    syn = synonym_syn_rows(spark, index_dir, groups, max_isin_terms)
    if not qterm_rows and syn is None:
        from dts.score_index import TOPK_SCHEMA

        return spark.createDataFrame([], TOPK_SCHEMA)
    return score_expanded_terms(
        spark,
        index_dir,
        qterms,
        n_queries=len(rows),
        k=k,
        max_isin_terms=max_isin_terms,
        all_terms=sorted({t for _, t in qterm_rows}),
        syn_rows=syn,
    )
