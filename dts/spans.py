"""Span queries over the positional index (Lucene SpanFirstQuery /
ordered SpanNearQuery shape).

Reference parity: the reference engine exposes positional window
matching (src/apm1.c window kernels); Lucene layers span queries on the
same positional postings. Two operators:

- ``span_first_counts``: occurrences of a term wholly within the first
  ``limit`` tokens of a document (SpanFirstQuery: span end ≤ limit —
  a single-term span at 0-based position p has end p+1).
- ``span_near_counts``: ordered multi-term spans under a TOTAL-span
  budget — positions p = q_0 < q_1 < … < q_{m-1}, one per term, with
  q_{m-1} − q_0 ≤ (m−1) + slop. This is Lucene's
  SpanNearQuery(inOrder=true) slop accounting (matchLength − m ≤ slop),
  NOT the per-step-gap rule the engine's sloppy phrases use
  (phrase_match_counts ``slop`` — delta documented there); slop=0
  degenerates to the exact phrase. n_matches counts DISTINCT CHAIN
  STARTS (the same counting convention as sloppy phrases; Lucene's span
  enumeration can yield several spans per start).

Exactness of the greedy sweep in span_near: choosing, at every step,
the SMALLEST next position > current minimizes the chain's final
position, so a start satisfies the total-span budget iff its greedy
chain does.

Distribution: identical to phrase_match_counts — broadcast query table,
one exact group per (query, bucket) (buckets are disjoint doc ranges,
so a doc's positions are wholly inside one group), numpy searchsorted
over packed doc·P+pos keys — no per-doc Python, no shuffle beyond the
postings' own bucket key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from dts.io import local_rows_df

from dts.delete import mask_deleted_rows
from dts.score_index import MAX_ISIN_TERMS, load_index, term_filter

SPAN_SCHEMA = "sq_id long, doc_id long, n_matches long"


def _require_positions(meta: dict, what: str) -> None:
    if not meta.get("positions"):
        raise ValueError(
            f"{what} needs a positional index: build_index(..., "
            "positions=True)"
        )


def _span_first_matcher(block_size: int):
    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        from dts.phrase import _concat_runs

        sq_id = int(pdf["sq_id"].iloc[0])
        limit = int(pdf["limit"].iloc[0])
        docs, flat, bounds, _ = _concat_runs(pdf, block_size)
        if not len(docs):
            return pd.DataFrame(
                {
                    "sq_id": np.zeros(0, dtype=np.int64),
                    "doc_id": np.zeros(0, dtype=np.int64),
                    "n_matches": np.zeros(0, dtype=np.int64),
                }
            )
        # Per doc: count positions with p + 1 <= limit (0-based offsets).
        # Every posting has tf >= 1 positions, so no segment is empty and
        # reduceat's empty-segment quirk never applies.
        counts = np.add.reduceat((flat < limit).astype(np.int64), bounds[:-1])
        keep = counts > 0
        return pd.DataFrame(
            {
                "sq_id": np.full(int(keep.sum()), sq_id, dtype=np.int64),
                "doc_id": docs[keep].astype(np.int64),
                "n_matches": counts[keep].astype(np.int64),
            }
        )

    return match_group


def span_first_counts(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """(sq_id, doc_id, n_matches): occurrences of ``term`` among the
    first ``limit`` tokens of each doc. ``queries`` needs (sq_id, term,
    limit). Single-slot positional sweep — one group per (sq_id, bucket).
    """
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    _require_positions(meta, "span_first")
    rows = [
        (int(r["sq_id"]), r["term"], int(r["limit"]))
        for r in queries.select("sq_id", "term", "limit").collect()
    ]
    if not rows:
        return spark.createDataFrame([], SPAN_SCHEMA)
    qt = local_rows_df(spark, rows, "sq_id long, term string, limit int")
    postings = term_filter(
        idx["postings"], sorted({t for _, t, _ in rows}), max_isin_terms
    ).join(F.broadcast(qt), "term")
    out = postings.groupBy("sq_id", "bucket").applyInPandas(
        _span_first_matcher(meta["block_size"]),
        SPAN_SCHEMA,
    )
    return mask_deleted_rows(out, spark, index_dir, meta)


def _span_near_matcher(block_size: int):
    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "sq_id": np.zeros(0, dtype=np.int64),
                "doc_id": np.zeros(0, dtype=np.int64),
                "n_matches": np.zeros(0, dtype=np.int64),
            }
        )
        sq_id = int(pdf["sq_id"].iloc[0])
        m = int(pdf["m"].iloc[0])
        slop = int(pdf["slop"].iloc[0])
        if pdf["i"].nunique() != m:
            return empty  # a span term absent from this bucket's range
        from dts.phrase import _concat_runs

        slots = [
            _concat_runs(pdf[pdf["i"] == i], block_size)
            for i in range(m)
        ]
        pos_max = max(
            (int(f.max()) for _, f, _, _ in slots if len(f)), default=0
        )
        doc_max = max(
            (int(d.max()) for d, _, _, _ in slots if len(d)), default=0
        )
        # Headroom: probe keys reach cur + 1 ≤ doc·P + pos_max + 1.
        P = pos_max + 2
        if doc_max and P > (2**63 - 1) // (doc_max + 1):
            raise OverflowError("doc_id * position key space exceeds int64")

        def keys_of(i: int) -> np.ndarray:
            docs, flat, bounds, _ = slots[i]
            return np.repeat(docs, np.diff(bounds)) * P + flat

        starts = keys_of(0)
        if not len(starts):
            return empty
        cur = starts
        alive = np.ones(len(starts), dtype=bool)
        for i in range(1, m):
            ki = keys_of(i)
            # Greedy: smallest occurrence of slot i strictly after cur,
            # in the same doc (P headroom keeps probes inside the doc's
            # key range; a cross-doc landing fails the same-doc check).
            idx_n = np.searchsorted(ki, cur + 1, side="left")
            ok = idx_n < len(ki)
            nxt = np.where(ok, ki[np.minimum(idx_n, len(ki) - 1)], -1)
            ok &= (nxt // P) == (cur // P)
            alive &= ok
            cur = np.where(alive, nxt, cur)
            if not alive.any():
                return empty
        span_ok = (cur - starts) <= (m - 1) + slop
        hit = alive & span_ok
        if not hit.any():
            return empty
        docs_out, counts = np.unique(starts[hit] // P, return_counts=True)
        return pd.DataFrame(
            {
                "sq_id": np.full(len(docs_out), sq_id, dtype=np.int64),
                "doc_id": docs_out.astype(np.int64),
                "n_matches": counts.astype(np.int64),
            }
        )

    return match_group


def span_near_counts(
    spark: SparkSession,
    index_dir: str,
    spans: DataFrame,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """(sq_id, doc_id, n_matches): ordered spans t_0 < t_1 < … < t_{m-1}
    under the TOTAL-span budget q_{m-1} − q_0 ≤ (m−1) + slop, counted by
    distinct starts. ``spans`` needs (sq_id, text, slop) — ``text``
    whitespace-splits into the ordered term list (≥ 2 terms)."""
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    _require_positions(meta, "span_near")
    qt_rows, shape_rows = [], []
    for r in spans.select("sq_id", "text", "slop").collect():
        terms = [t for t in str(r["text"]).split() if t]
        if len(terms) < 2:
            raise ValueError(
                f"span_near needs >= 2 terms (sq_id={r['sq_id']!r})"
            )
        if int(r["slop"]) < 0:
            raise ValueError("slop must be >= 0")
        for i, t in enumerate(terms):
            qt_rows.append((int(r["sq_id"]), i, t))
        shape_rows.append((int(r["sq_id"]), len(terms), int(r["slop"])))
    if not qt_rows:
        return spark.createDataFrame([], SPAN_SCHEMA)
    qt = local_rows_df(spark, qt_rows, "sq_id long, i int, term string")
    shape = local_rows_df(spark, shape_rows, "sq_id long, m int, slop int")
    postings = (
        term_filter(
            idx["postings"], sorted({t for *_, t in qt_rows}), max_isin_terms
        )
        .join(F.broadcast(qt), "term")
        .join(F.broadcast(shape), "sq_id")
    )
    out = postings.groupBy("sq_id", "bucket").applyInPandas(
        _span_near_matcher(meta["block_size"]),
        SPAN_SCHEMA,
    )
    return mask_deleted_rows(out, spark, index_dir, meta)


def _span_not_matcher(block_size: int):
    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "sq_id": np.zeros(0, dtype=np.int64),
                "doc_id": np.zeros(0, dtype=np.int64),
                "n_matches": np.zeros(0, dtype=np.int64),
            }
        )
        sq_id = int(pdf["sq_id"].iloc[0])
        m = int(pdf["m"].iloc[0])
        slop = int(pdf["slop"].iloc[0])
        pre = int(pdf["pre"].iloc[0])
        post = int(pdf["post"].iloc[0])
        inc = pdf[pdf["role"] == 0]
        if inc["i"].nunique() != m:
            return empty  # an include term absent from this bucket
        from dts.phrase import _concat_runs

        slots = [
            _concat_runs(inc[inc["i"] == i], block_size)
            for i in range(m)
        ]
        exc = pdf[pdf["role"] == 1]
        exc_runs = (
            _concat_runs(exc, block_size) if len(exc) else None
        )
        pos_max = max(
            (int(f.max()) for _, f, _, _ in slots if len(f)), default=0
        )
        if exc_runs is not None and len(exc_runs[1]):
            pos_max = max(pos_max, int(exc_runs[1].max()))
        doc_max = max(
            (int(d.max()) for d, _, _, _ in slots if len(d)), default=0
        )
        P = pos_max + 2
        if doc_max and P > (2**63 - 1) // (doc_max + 1):
            raise OverflowError("doc_id * position key space exceeds int64")

        def keys_of_runs(runs) -> np.ndarray:
            docs, flat, bounds, _ = runs
            return np.repeat(docs, np.diff(bounds)) * P + flat

        starts = keys_of_runs(slots[0])
        if not len(starts):
            return empty
        cur = starts
        alive = np.ones(len(starts), dtype=bool)
        for i in range(1, m):
            ki = keys_of_runs(slots[i])
            idx_n = np.searchsorted(ki, cur + 1, side="left")
            ok = idx_n < len(ki)
            nxt = np.where(ok, ki[np.minimum(idx_n, len(ki) - 1)], -1)
            ok &= (nxt // P) == (cur // P)
            alive &= ok
            cur = np.where(alive, nxt, cur)
            if not alive.any():
                return empty
        hit = alive & ((cur - starts) <= (m - 1) + slop)
        if not hit.any():
            return empty
        s_keys, e_keys = starts[hit], cur[hit]
        if exc_runs is not None:
            ek = keys_of_runs(exc_runs)
            if len(ek):
                doc_base = (s_keys // P) * P
                lo = np.maximum(s_keys - pre, doc_base)
                hi = np.minimum(e_keys + post, doc_base + (P - 2))
                j = np.searchsorted(ek, lo, side="left")
                has = (j < len(ek)) & (
                    ek[np.minimum(j, len(ek) - 1)] <= hi
                )
                s_keys = s_keys[~has]
                if not len(s_keys):
                    return empty
        docs_out, counts = np.unique(s_keys // P, return_counts=True)
        return pd.DataFrame(
            {
                "sq_id": np.full(len(docs_out), sq_id, dtype=np.int64),
                "doc_id": docs_out.astype(np.int64),
                "n_matches": counts.astype(np.int64),
            }
        )

    return match_group


def span_not_counts(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """Lucene SpanNotQuery: include spans that do NOT overlap any
    occurrence of the exclude term, the overlap window widened by
    ``pre`` tokens before the span and ``post`` after (SpanNotQuery's
    pre/post constructor). ``queries`` needs (sq_id, include, exclude,
    slop, pre, post) — ``include`` whitespace-splits into an ordered
    span_near term list (1 term = a plain term span; ≥ 2 = the ordered
    total-span-budget rule of span_near_counts), ``exclude`` is one term.

    Counting = distinct include chain starts, and the greedy chain is
    EXACT here too: the exclusion window [start − pre, end + post] grows
    with the span end, so the greedy (minimal-end) chain minimizes the
    window — if IT overlaps an exclude position, every longer chain from
    the same start does as well (superset window).

    Same distribution as the other span operators: broadcast query
    table, one exact (sq_id, bucket) group, numpy searchsorted over
    packed doc·P+pos keys; the exclude check is ONE searchsorted per
    surviving span. Window clamps stay inside the doc's key range, so
    pre/post never leak across documents.
    """
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    _require_positions(meta, "span_not")
    qt_rows, shape_rows = [], []
    for r in queries.select(
        "sq_id", "include", "exclude", "slop", "pre", "post"
    ).collect():
        terms = [t for t in str(r["include"]).split() if t]
        if not terms:
            raise ValueError(f"span_not needs >= 1 include term (sq_id={r['sq_id']!r})")
        exc = [t for t in str(r["exclude"] or "").split() if t]
        if len(exc) != 1:
            raise ValueError(
                f"span_not takes exactly one exclude term (sq_id={r['sq_id']!r})"
            )
        if int(r["slop"]) < 0 or int(r["pre"]) < 0 or int(r["post"]) < 0:
            raise ValueError("slop/pre/post must be >= 0")
        sq = int(r["sq_id"])
        for i, t in enumerate(terms):
            qt_rows.append((sq, i, 0, t))
        qt_rows.append((sq, 0, 1, exc[0]))
        shape_rows.append(
            (sq, len(terms), int(r["slop"]), int(r["pre"]), int(r["post"]))
        )
    if not qt_rows:
        return spark.createDataFrame([], SPAN_SCHEMA)
    qt = local_rows_df(
        spark,
        qt_rows, "sq_id long, i int, role int, term string"
    )
    shape = local_rows_df(
        spark,
        shape_rows, "sq_id long, m int, slop int, pre int, post int"
    )
    postings = (
        term_filter(
            idx["postings"], sorted({t for *_, t in qt_rows}), max_isin_terms
        )
        .join(F.broadcast(qt), "term")
        .join(F.broadcast(shape), "sq_id")
    )
    out = postings.groupBy("sq_id", "bucket").applyInPandas(
        _span_not_matcher(meta["block_size"]),
        SPAN_SCHEMA,
    )
    return mask_deleted_rows(out, spark, index_dir, meta)


def _interval_unordered_matcher(block_size: int):
    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "iq_id": np.zeros(0, dtype=np.int64),
                "doc_id": np.zeros(0, dtype=np.int64),
                "n_matches": np.zeros(0, dtype=np.int64),
            }
        )
        iq_id = int(pdf["iq_id"].iloc[0])
        m = int(pdf["m"].iloc[0])
        max_gaps = int(pdf["max_gaps"].iloc[0])
        win = m + max_gaps  # window length L: gaps = width − m ≤ max_gaps
        if pdf["i"].nunique() != m:
            return empty  # a term absent from this bucket's doc range
        from dts.phrase import _concat_runs

        slots = [
            _concat_runs(pdf[pdf["i"] == i], block_size)
            for i in range(m)
        ]
        pos_max = max(
            (int(f.max()) for _, f, _, _ in slots if len(f)), default=0
        )
        doc_max = max(
            (int(d.max()) for d, _, _, _ in slots if len(d)), default=0
        )
        P = pos_max + 2
        if doc_max and P > (2**63 - 1) // (doc_max + 1):
            raise OverflowError("doc_id * position key space exceeds int64")

        def keys_of(i: int) -> np.ndarray:
            docs, flat, bounds, _ = slots[i]
            return np.repeat(docs, np.diff(bounds)) * P + flat

        # Anchor-cover sweep: a window [a, b] (b − a + 1 ≤ win) containing
        # every term exists iff some ANCHOR p — an occurrence of any term —
        # has every slot's next-occurrence ≥ p landing within p + win − 1
        # in the same doc (take p = the leftmost occurrence inside a valid
        # window: all its terms sit in [p, p + win − 1]; the converse is a
        # valid window by construction). One searchsorted per slot over
        # the anchor vector — no per-doc Python.
        anchors = np.unique(np.concatenate([keys_of(i) for i in range(m)]))
        if not len(anchors):
            return empty
        alive = np.ones(len(anchors), dtype=bool)
        for i in range(m):
            ki = keys_of(i)
            if not len(ki):
                return empty
            nxt_i = np.searchsorted(ki, anchors, side="left")
            ok = nxt_i < len(ki)
            nxt = np.where(ok, ki[np.minimum(nxt_i, len(ki) - 1)], -1)
            ok &= (nxt // P) == (anchors // P)
            ok &= (nxt - anchors) <= (win - 1)
            alive &= ok
            if not alive.any():
                return empty
        docs_out, counts = np.unique(anchors[alive] // P, return_counts=True)
        return pd.DataFrame(
            {
                "iq_id": np.full(len(docs_out), iq_id, dtype=np.int64),
                "doc_id": docs_out.astype(np.int64),
                "n_matches": counts.astype(np.int64),
            }
        )

    return match_group


INTERVAL_SCHEMA = "iq_id long, doc_id long, n_matches long"


def interval_unordered_counts(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """ES intervals query, ``match`` with ``ordered=false`` + ``max_gaps``
    (Lucene ``Intervals.maxgaps(g, Intervals.unordered(...))``): a doc
    matches iff SOME window of ``len(terms) + max_gaps`` consecutive
    positions holds ≥ 1 occurrence of EVERY term, in any order — the
    interval's gaps = width − m ≤ max_gaps rule. The ordered variant is
    exactly :func:`span_near_counts` (identical budget algebra); this is
    the genuinely new matcher.

    ``queries`` needs (iq_id, text, max_gaps); ``text`` whitespace-splits
    into ≥ 2 DISTINCT terms (repeated terms need per-occurrence interval
    sources — unsupported, raises; documented delta vs Lucene).

    Returns (iq_id, doc_id, n_matches) with n_matches = the number of
    DISTINCT ANCHOR positions (occurrences of any query term) whose
    right-window covers all terms — the same deterministic counting
    convention family as span/sloppy-phrase counts (Lucene enumerates
    minimal intervals; the MATCHED DOC SET is identical, the per-doc count
    convention is ours and the oracle implements the same rule).

    Distribution: identical to span_near — broadcast query table, one
    exact group per (iq_id, bucket), numpy searchsorted over packed
    doc·P+pos keys; no per-doc Python, no shuffle beyond the postings'
    bucket key."""
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    _require_positions(meta, "intervals")
    qt_rows, shape_rows = [], []
    for r in queries.select("iq_id", "text", "max_gaps").collect():
        terms = [t for t in str(r["text"]).split() if t]
        if len(terms) < 2:
            raise ValueError(
                f"intervals needs >= 2 terms (iq_id={r['iq_id']!r})"
            )
        if len(set(terms)) != len(terms):
            raise ValueError(
                "unordered intervals with a repeated term are unsupported "
                f"(iq_id={r['iq_id']!r}): each occurrence needs its own "
                "interval source"
            )
        if int(r["max_gaps"]) < 0:
            raise ValueError("max_gaps must be >= 0")
        for i, t in enumerate(terms):
            qt_rows.append((int(r["iq_id"]), i, t))
        shape_rows.append((int(r["iq_id"]), len(terms), int(r["max_gaps"])))
    if not qt_rows:
        return spark.createDataFrame([], INTERVAL_SCHEMA)
    qt = local_rows_df(spark, qt_rows, "iq_id long, i int, term string")
    shape = local_rows_df(
        spark,
        shape_rows, "iq_id long, m int, max_gaps int"
    )
    postings = (
        term_filter(
            idx["postings"], sorted({t for *_, t in qt_rows}), max_isin_terms
        )
        .join(F.broadcast(qt), "term")
        .join(F.broadcast(shape), "iq_id")
    )
    out = postings.groupBy("iq_id", "bucket").applyInPandas(
        _interval_unordered_matcher(meta["block_size"]),
        INTERVAL_SCHEMA,
    )
    return mask_deleted_rows(out, spark, index_dir, meta)
