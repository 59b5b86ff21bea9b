"""Boolean document matching over the index — Lucene BooleanQuery algebra.

BM25 scoring is disjunctive (any query term contributes); the reference's
counting surface likewise treats each pattern independently
(src/apm1.c:197-203 accumulates per-pattern totals). A search engine user
also needs Lucene's BooleanQuery algebra: MUST (all present), MUST_NOT
(none present), and — round 4 — SHOULD with ``minimum_should_match``
(at least msm of the optional terms present; Lucene's default msm is 0
when MUST clauses exist, 1 otherwise, and SHOULD-only queries therefore
stay index-resolvable as a counted union). This module resolves such
queries purely from the compressed postings — no corpus rescan.

Distribution mirrors dts.phrase: the (tiny) query-term table is broadcast,
postings arrive pre-partitioned by the doc-range bucket, and a
(bq_id, bucket) group holds ALL postings rows of every query term for the
docs of that bucket (buckets are term-independent doc ranges) — so each
group's verdict is exact and globally disjoint; there is no merge stage.
Inside a group the set algebra is numpy over decoded doc arrays:
m-way ``intersect1d`` for MUST, one ``isin`` subtraction for MUST_NOT.

Scale: a MUST term missing from a bucket short-circuits the whole group
(no doc there can match); head MUST_NOT terms cost one decode per bucket —
the same per-bucket bound every other query path has. The postings scan is
term_filter-pruned (IN-list row-group pushdown / semi-join fallback).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from dts.io import local_rows_df

from dts.codec import decode_postings, packed_rows
from dts.delete import mask_deleted_rows
from dts.score_index import MAX_ISIN_TERMS, load_index, term_filter
from dts.tokenizer import tokenize_text

BOOL_SCHEMA = "bq_id long, doc_id long"


def _decode_docs(rows: pd.DataFrame, block_size: int) -> np.ndarray:
    """Ascending doc_id array for one (term, bucket) slot. Multiple rows
    appear after incremental merges; their runs cover disjoint ascending
    doc ranges, so sorting runs by first doc yields a globally ascending
    (hence unique) concatenation."""
    runs = [decode_postings(p)[0] for p in packed_rows(rows, block_size)]
    runs.sort(key=lambda d: d[0] if len(d) else -1)
    return np.concatenate(runs) if runs else np.zeros(0, dtype=np.int64)


ROLE_MUST, ROLE_SHOULD, ROLE_NOT = 0, 1, 2


def _bool_matcher_fn(block_size: int):
    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "bq_id": np.zeros(0, dtype=np.int64),
                "doc_id": np.zeros(0, dtype=np.int64),
            }
        )
        bq_id = int(pdf["bq_id"].iloc[0])
        m = int(pdf["m"].iloc[0])
        msm = int(pdf["msm"].iloc[0])
        must = pdf[pdf["role"] == ROLE_MUST]
        if must["i"].nunique() != m:
            return empty  # a MUST term is absent from this bucket
        docs = None
        # Intersect smallest slot first: keeps the working set minimal.
        slots = sorted(
            (must[must["i"] == i] for i in sorted(must["i"].unique())),
            key=lambda s: int(s["n"].sum()),
        )
        for s in slots:
            d = _decode_docs(s, block_size)
            docs = d if docs is None else np.intersect1d(
                docs, d, assume_unique=True
            )
            if len(docs) == 0:
                return empty
        if msm > 0:
            should = pdf[pdf["role"] == ROLE_SHOULD]
            sh_slots = [
                _decode_docs(should[should["i"] == i], block_size)
                for i in sorted(should["i"].unique())
            ]
            if docs is None:
                # SHOULD-only query: counted union over the candidates.
                if not sh_slots:
                    return empty
                docs = np.unique(np.concatenate(sh_slots))
            cnt = np.zeros(len(docs), dtype=np.int32)
            for d in sh_slots:
                pos = np.minimum(
                    np.searchsorted(docs, d), max(len(docs) - 1, 0)
                )
                valid = docs[pos] == d
                cnt[pos[valid]] += 1
            docs = docs[cnt >= msm]
            if len(docs) == 0:
                return empty
        neg = pdf[pdf["role"] == ROLE_NOT]
        if len(neg):
            nd = np.unique(
                np.concatenate(
                    [
                        _decode_docs(neg[neg["i"] == i], block_size)
                        for i in neg["i"].unique()
                    ]
                )
            )
            docs = docs[~np.isin(docs, nd, assume_unique=True)]
        return pd.DataFrame(
            {
                "bq_id": np.full(len(docs), bq_id, dtype=np.int64),
                "doc_id": docs.astype(np.int64),
            }
        )

    return match_group


def boolean_match_docs(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """(bq_id, doc_id) for documents satisfying the Lucene BooleanQuery:
    ALL tokens of ``must``, NONE of ``must_not``, and — when a ``should``
    column is present — at least ``msm`` of the ``should`` tokens (set
    semantics everywhere; duplicate tokens are collapsed).

    ``queries`` needs (bq_id, must, must_not[, should[, msm]]); texts go
    through the shared engine tokenizer on the driver (query batches are
    client-sized; the term table is broadcast below anyway). ``msm``
    defaults per Lucene: 0 with MUST clauses, 1 without (and is floored
    at 1 for SHOULD-only queries — msm=0 there would be a match-all).
    At least one of must/should must tokenize to a term — a pure-negation
    query would be a match-all scan, which this index-resolved operator
    deliberately refuses (same stance as Lucene's MatchAllDocsQuery being
    a separate, explicit operator).
    """
    has_should = "should" in queries.columns
    has_msm = "msm" in queries.columns
    sel = ["bq_id", "must", "must_not"]
    if has_should:
        sel.append("should")
    if has_msm:
        sel.append("msm")
    qt_rows: list[tuple[int, int, int, int, int, str]] = []
    for r in queries.select(*sel).collect():
        must = sorted(set(tokenize_text(r["must"] or "")))
        # A term in BOTH must and must_not yields no matches (Lucene
        # +t -t semantics): intersection-then-subtraction gives that free.
        nots = sorted(set(tokenize_text(r["must_not"] or "")))
        should = (
            sorted(set(tokenize_text(r["should"] or ""))) if has_should else []
        )
        msm = r["msm"] if has_msm and r["msm"] is not None else None
        if msm is None:
            msm = 0 if must else 1
        msm = int(msm)
        if not must and should and msm < 1:
            msm = 1  # SHOULD-only with msm=0 would be match-all
        if not must and not should:
            raise ValueError(
                f"boolean query {r['bq_id']}: neither `must` nor `should` "
                "tokenizes to a term; pure-negation queries are not "
                "index-resolvable"
            )
        bq_id, m = int(r["bq_id"]), len(must)
        slot = 0
        for t in must:
            qt_rows.append((bq_id, m, slot, ROLE_MUST, msm, t))
            slot += 1
        for t in should:
            qt_rows.append((bq_id, m, slot, ROLE_SHOULD, msm, t))
            slot += 1
        for t in nots:
            qt_rows.append((bq_id, m, slot, ROLE_NOT, msm, t))
            slot += 1
    if not qt_rows:
        return spark.createDataFrame([], BOOL_SCHEMA)
    qt = local_rows_df(
        spark,
        qt_rows, "bq_id long, m int, i int, role int, msm int, term string"
    )
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    terms = sorted({t for *_, t in qt_rows})
    postings = term_filter(idx["postings"], terms, max_isin_terms).join(
        F.broadcast(qt), "term"
    )
    out = postings.groupBy("bq_id", "bucket").applyInPandas(
        _bool_matcher_fn(meta["block_size"]),
        BOOL_SCHEMA,
    )
    return mask_deleted_rows(out, spark, index_dir, meta)


TERMS_SET_SCHEMA = "tq_id long, doc_id long, n_matched int"


def _terms_set_counter_fn(block_size: int):
    def count_group(pdf: pd.DataFrame) -> pd.DataFrame:
        tq_id = int(pdf["tq_id"].iloc[0])
        slots = [
            _decode_docs(pdf[pdf["term"] == t], block_size)
            for t in pdf["term"].unique()
        ]
        docs, cnt = np.unique(np.concatenate(slots), return_counts=True)
        return pd.DataFrame(
            {
                "tq_id": np.full(len(docs), tq_id, dtype=np.int64),
                "doc_id": docs.astype(np.int64),
                "n_matched": cnt.astype(np.int32),
            }
        )

    return count_group


def terms_set_match(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    msm_field: str,
    msm_expr: str | None = None,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """Lucene CoveringQuery / ES ``terms_set``: (tq_id, doc_id,
    n_matched) for docs where the number of DISTINCT query terms present
    is >= the doc's OWN minimum, read from the ``msm_field`` doc-values
    sidecar column (``minimum_should_match_field``). ``msm_expr`` may
    derive the minimum from stored fields as a SQL expression (ES's
    minimum_should_match_script analogue); default = the field itself.

    The per-doc minimum is clamped to >= 1: a doc demanding < 1 matches
    would turn the query into a corpus scan, which this index-resolved
    operator refuses — same stance as pure-negation BooleanQueries
    (Lucene's CoveringQuery instead matches such docs unconditionally;
    documented delta).

    Scale shape: distinct-match counting is the SHOULD machinery — one
    decode per (term, bucket), np.unique(counts) per (query, bucket)
    group, globally exact because buckets are disjoint doc ranges. The
    per-doc minimum joins AFTER counting, on the hit-sized count frame
    against the column-pruned sidecar (doc_id, minimum) projection.
    """
    from dts.docvalues import sidecar

    qt_rows: list[tuple[int, str]] = []
    for r in queries.select("tq_id", "terms").collect():
        terms = sorted(set(tokenize_text(r["terms"] or "")))
        if not terms:
            raise ValueError(
                f"terms_set query {r['tq_id']}: no terms after tokenization"
            )
        qt_rows.extend((int(r["tq_id"]), t) for t in terms)
    qt = local_rows_df(spark, qt_rows, "tq_id long, term string")
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    postings = term_filter(
        idx["postings"], sorted({t for _, t in qt_rows}), max_isin_terms
    ).join(F.broadcast(qt), "term")
    counts = postings.groupBy("tq_id", "bucket").applyInPandas(
        _terms_set_counter_fn(meta["block_size"]),
        TERMS_SET_SCHEMA,
    )
    counts = mask_deleted_rows(counts, spark, index_dir, meta)
    side = sidecar(spark, index_dir, [msm_field]).select(
        "doc_id",
        F.greatest(
            F.lit(1), F.expr(msm_expr or msm_field).cast("int")
        ).alias("_msm"),
    )
    return (
        counts.join(side, "doc_id")
        .filter(F.col("n_matched") >= F.col("_msm"))
        .select("tq_id", "doc_id", "n_matched")
    )
