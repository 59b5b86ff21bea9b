"""Phrase queries over positional postings.

The reference enumerates byte positions per match (src/apm1.c:252-268);
the index analogue is a positional posting list: each (term, doc) posting
stores its ascending token offsets (built with build_index(...,
positions=True), wire format dts.codec.encode_positions). A phrase
"t0 t1 … t(m-1)" matches doc d at start offset p iff p+i ∈ positions(ti, d)
for every i — the classic positional-intersection phrase algorithm.

Distribution mirrors BM25 scoring: the (tiny) phrase-term table is
broadcast; postings arrive pre-partitioned by the doc-range bucket, and a
(phrase, bucket) group holds ALL of a document's postings for every phrase
term (buckets are term-independent doc ranges), so per-group results are
exact and globally disjoint — no merge stage at all. Inside a group the
intersection is numpy over decoded blocks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dts.codec import decode_positions, decode_postings, packed_rows
from dts.delete import mask_deleted_rows
from dts.io import local_rows_df
from dts.score_index import MAX_ISIN_TERMS, load_index, term_filter
from dts.tokenizer import tokenize_text

PHRASE_SCHEMA = "phrase_id long, doc_id long, n_matches long"


def _decode_row(p, pos_blob: bytes):
    docs, tfs, dls = decode_postings(p)
    pos_flat, bounds = decode_positions(bytes(pos_blob), tfs)
    return docs, pos_flat, bounds, dls


def _concat_runs(rows: pd.DataFrame, block_size: int):
    """Decode and concatenate a slot's posting rows (multiple rows appear
    after incremental merges; runs cover disjoint ascending doc ranges, so
    ordering by first doc yields globally ascending docs). Returns
    (docs, flat_positions, bounds[n_docs+1], dls)."""
    decs = sorted(
        map(
            _decode_row,
            packed_rows(rows, block_size),
            rows["pos_blob"].tolist(),
        ),
        key=lambda t: t[0][0] if len(t[0]) else -1,
    )
    docs = np.concatenate([d[0] for d in decs])
    flat = np.concatenate([d[1] for d in decs])
    bnds = [np.asarray(d[2], dtype=np.int64) for d in decs]
    offs = np.concatenate(([0], np.cumsum([b[-1] for b in bnds])[:-1]))
    bounds = np.concatenate(
        ([0], np.concatenate([b[1:] + o for b, o in zip(bnds, offs)]))
    )
    dls = np.concatenate([d[3] for d in decs])
    return docs, flat, bounds, dls


def _matcher_fn(block_size: int, with_dl: bool = False):
    """``with_dl``: additionally emit each matched doc's length (decoded
    from the same posting rows — no doc_stats join), the denominator input
    of the phrase-frequency BM25 impact.

    Sloppy phrases (``slop`` column on the group, default 1): a match at
    start p is an ORDERED chain p = q_0 < q_1 < … < q_{m-1} with
    q_i ∈ positions(t_i) and q_i − q_{i−1} ∈ [1, slop]; n_matches counts
    distinct starts. slop=1 is exactly the consecutive-token phrase (the
    vectorized m-way key intersection below). Delta vs Lucene's
    SloppyPhraseQuery documented in phrase_match_counts."""

    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = {
            "phrase_id": np.zeros(0, dtype=np.int64),
            "doc_id": np.zeros(0, dtype=np.int64),
            "n_matches": np.zeros(0, dtype=np.int64),
        }
        if with_dl:
            cols["dl"] = np.zeros(0, dtype=np.int64)
        empty = pd.DataFrame(cols)
        phrase_id = int(pdf["phrase_id"].iloc[0])
        m = int(pdf["m"].iloc[0])
        slop = int(pdf["slop"].iloc[0]) if "slop" in pdf.columns else 1
        if pdf["i"].nunique() != m:
            return empty  # some phrase term absent from this bucket
        # Per phrase slot i: docs (ascending) + per-doc position slices.
        # Multiple rows per slot (incrementally merged indexes) concat in
        # run order — runs cover disjoint ascending doc ranges.
        slot_docs: list[np.ndarray] = []
        slot_pos: list[tuple[np.ndarray, np.ndarray]] = []
        slot0_dls: np.ndarray | None = None
        for i in range(m):
            docs, flat, bounds, dls = _concat_runs(
                pdf[pdf["i"] == i], block_size
            )
            slot_docs.append(docs)
            slot_pos.append((flat, bounds))
            if i == 0:
                slot0_dls = dls
        # Vectorized intersection over the WHOLE group (no per-doc Python):
        # pack each slot's occurrences as key = doc * P + (pos - i); a
        # phrase occurrence at start p in doc d is exactly one key present
        # in every slot. Keys are unique within a slot (positions unique
        # per doc) and ascending (docs ascend, positions ascend per doc),
        # so m-way np.intersect1d(assume_unique) is exact.
        pos_max = max(
            (int(f.max()) for f, _ in slot_pos if len(f)), default=0
        )
        doc_max = max((int(d.max()) for d in slot_docs if len(d)), default=0)
        # Headroom for probe keys k + slop so they never collide into the
        # next doc's key range (slop=1 keeps the original pos_max + 2).
        P = pos_max + slop + 1
        if doc_max and P > (2**63 - 1) // (doc_max + 1):
            raise OverflowError(
                "doc_id * position key space exceeds int64"
            )  # 10^12 docs x 10^6 positions still fits; guard regardless
        if slop > 1:
            # Backward reachability DP: S holds the positions of slot i
            # that can start a chain through slots i..m-1 (each step's
            # gap in [1, slop]); after slot 0, S is the distinct chain
            # STARTS. Per-slot keys are sorted unique (docs ascend,
            # positions ascend per doc), so each sweep is two
            # searchsorted probes — no per-doc python.
            keys = None
            for i in range(m - 1, -1, -1):
                docs_i = slot_docs[i]
                flat, bounds = slot_pos[i]
                k = np.repeat(docs_i, np.diff(bounds)) * P + flat
                if keys is None:
                    keys = k
                else:
                    lo = np.searchsorted(keys, k + 1, side="left")
                    hi = np.searchsorted(keys, k + slop, side="right")
                    keys = k[hi > lo]
                if len(keys) == 0:
                    return empty
        else:
            keys = None
            for i in range(m):
                docs_i = slot_docs[i]
                flat, bounds = slot_pos[i]
                docs_rep = np.repeat(docs_i, np.diff(bounds))
                ok = flat >= i  # starts can't be negative offsets
                k = docs_rep[ok] * P + (flat[ok] - i)
                keys = k if keys is None else np.intersect1d(
                    keys, k, assume_unique=True
                )
                if len(keys) == 0:
                    return empty
        docs_out, counts = np.unique(keys // P, return_counts=True)
        out = {
            "phrase_id": np.full(len(docs_out), phrase_id, dtype=np.int64),
            "doc_id": docs_out.astype(np.int64),
            "n_matches": counts.astype(np.int64),
        }
        if with_dl:
            # docs_out ⊆ slot-0 docs (every match contains term 0), and
            # slot-0 docs are ascending unique within the group.
            pos = np.searchsorted(slot_docs[0], docs_out)
            out["dl"] = slot0_dls[pos].astype(np.int64)
        return pd.DataFrame(out)

    return match_group


def _prox_matcher_fn(block_size: int, slop: int):
    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "pair_id": np.zeros(0, dtype=np.int64),
                "doc_id": np.zeros(0, dtype=np.int64),
                "n_matches": np.zeros(0, dtype=np.int64),
            }
        )
        pair_id = int(pdf["pair_id"].iloc[0])
        if pdf["i"].nunique() != 2:
            return empty
        da, fa, ba, _ = _concat_runs(pdf[pdf["i"] == 0], block_size)
        db, fb, bb, _ = _concat_runs(pdf[pdf["i"] == 1], block_size)
        if not len(fa) or not len(fb):
            return empty
        # Packed keys: doc * P + pos; P leaves headroom for p + slop so a
        # probe key never collides into the next doc's range.
        P = int(max(fa.max(initial=0), fb.max(initial=0))) + slop + 2
        ka = np.repeat(da, np.diff(ba)) * P + fa
        kb = np.repeat(db, np.diff(bb)) * P + fb
        # p matches iff some q of side b lies in (p, p + slop].
        lo = np.searchsorted(kb, ka + 1, side="left")
        hi = np.searchsorted(kb, ka + slop, side="right")
        hit = hi > lo
        if not hit.any():
            return empty
        docs_out, counts = np.unique(
            (ka[hit] // P).astype(np.int64), return_counts=True
        )
        return pd.DataFrame(
            {
                "pair_id": np.full(len(docs_out), pair_id, dtype=np.int64),
                "doc_id": docs_out,
                "n_matches": counts.astype(np.int64),
            }
        )

    return match_group


def proximity_match_counts(
    spark: SparkSession,
    index_dir: str,
    pairs: DataFrame,
    slop: int = 3,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """(pair_id, doc_id, n_matches): per doc, the number of positions p of
    term_a followed by term_b within ``slop`` tokens (0 < q - p ≤ slop;
    slop=1 degenerates to the exact bigram phrase). Same distribution shape
    as phrase_match_counts: broadcast pair table, exact per-(pair, bucket)
    groups, numpy searchsorted over packed (doc, pos) keys — no per-doc
    Python. ``pairs`` needs (pair_id, term_a, term_b)."""
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    if not meta.get("positions"):
        raise ValueError(
            "proximity queries need a positional index: "
            "build_index(..., positions=True)"
        )
    if slop < 1:
        raise ValueError("slop must be >= 1")
    qt_rows = []
    for r in pairs.select("pair_id", "term_a", "term_b").collect():
        qt_rows.append((int(r["pair_id"]), 0, r["term_a"]))
        qt_rows.append((int(r["pair_id"]), 1, r["term_b"]))
    if not qt_rows:
        return spark.createDataFrame([], "pair_id long, doc_id long, n_matches long")
    qt = local_rows_df(spark, qt_rows, "pair_id long, i int, term string")
    terms = sorted({t for *_, t in qt_rows})
    # Same IN-list cap + semi-join fallback as BM25 scoring: wide synonym
    # batches must not regrow the inline-literal plan bomb here either.
    postings = term_filter(idx["postings"], terms, max_isin_terms).join(
        F.broadcast(qt), "term"
    )
    out = postings.groupBy("pair_id", "bucket").applyInPandas(
        _prox_matcher_fn(meta["block_size"], slop),
        "pair_id long, doc_id long, n_matches long",
    )
    return mask_deleted_rows(out, spark, index_dir, meta)


def phrase_match_counts(
    spark: SparkSession,
    index_dir: str,
    phrases: DataFrame,
    max_isin_terms: int = MAX_ISIN_TERMS,
    with_dl: bool = False,
) -> DataFrame:
    """(phrase_id, doc_id, n_matches) for docs containing each phrase as
    consecutive tokens (≥1 occurrence; overlaps all count).

    ``phrases`` needs (phrase_id, text) and may carry a per-phrase
    ``slop`` column (default 1 = exact): slop s matches the phrase as an
    ORDERED chain of its tokens with every adjacent gap in [1, s], and
    n_matches counts distinct chain starts. Delta vs Lucene's
    SloppyPhraseQuery, which measures total edit distance and permits
    term reordering at cost 2 — this engine's slop is per-gap and
    order-preserving, the same semantics as proximity_match_counts
    (slop=1 degenerates to both definitions' exact phrase).

    text is tokenized with the shared engine tokenizer. Requires a
    positional index (build_index positions=True). ``with_dl`` adds each
    doc's token length (decoded from the same posting rows) — the
    phrase-frequency BM25 input."""
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    if not meta.get("positions"):
        raise ValueError(
            "phrase queries need a positional index: "
            "build_index(..., positions=True)"
        )
    # Phrase batches are query-sized (broadcast below anyway): tokenize on
    # the driver with the SAME shared tokenizer — one tiny collect instead
    # of a python-UDF stage + distinct shuffle.
    schema = PHRASE_SCHEMA + (", dl long" if with_dl else "")
    has_slop = "slop" in phrases.columns
    cols = ["phrase_id", "text"] + (["slop"] if has_slop else [])
    qt_rows = []
    for r in phrases.select(*cols).collect():
        toks = tokenize_text(r["text"])
        slop = int(r["slop"]) if has_slop and r["slop"] is not None else 1
        if slop < 1:
            raise ValueError(f"slop must be >= 1, got {slop}")
        for i, term in enumerate(toks):
            qt_rows.append((int(r["phrase_id"]), len(toks), i, term, slop))
    if not qt_rows:
        return spark.createDataFrame([], schema)
    qt = local_rows_df(
        spark, qt_rows, "phrase_id long, m int, i int, term string, slop int"
    )
    terms = sorted({t for _, _, _, t, _ in qt_rows})
    postings = term_filter(idx["postings"], terms, max_isin_terms).join(
        F.broadcast(qt), "term"
    )
    out = postings.groupBy("phrase_id", "bucket").applyInPandas(
        _matcher_fn(meta["block_size"], with_dl),
        schema,
    )
    return mask_deleted_rows(out, spark, index_dir, meta)


def _multi_matcher_fn(block_size: int):
    """Exact-adjacency matcher where a SLOT may hold ALTERNATIVE terms
    (Lucene MultiPhraseQuery): slot i's occurrence keys are the UNION of
    its terms' position keys — still unique (a position holds exactly
    one token) and sorted after one np.sort — then the same m-way
    start-key intersection as the single-term matcher. Lead terms decode
    ONCE per group regardless of how many alternatives the tail slot
    carries (the reason this exists: the phrase-per-expansion rewrite
    re-decoded the lead postings once per expansion)."""

    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "pp_id": np.zeros(0, dtype=np.int64),
                "doc_id": np.zeros(0, dtype=np.int64),
                "n_matches": np.zeros(0, dtype=np.int64),
            }
        )
        pp_id = int(pdf["pp_id"].iloc[0])
        m = int(pdf["m"].iloc[0])
        if pdf["i"].nunique() != m:
            return empty
        slot_keys: list[np.ndarray] = []
        pos_max = 0
        doc_max = 0
        decs = []
        for i in range(m):
            rows_i = pdf[pdf["i"] == i]
            per_term = []
            for _, g in rows_i.groupby("term", sort=False):
                docs, flat, bounds, _ = _concat_runs(g, block_size)
                per_term.append((docs, flat, bounds))
                if len(flat):
                    pos_max = max(pos_max, int(flat.max()))
                if len(docs):
                    doc_max = max(doc_max, int(docs.max()))
            decs.append(per_term)
        P = pos_max + 2
        if doc_max and P > (2**63 - 1) // (doc_max + 1):
            raise OverflowError("doc_id * position key space exceeds int64")
        keys = None
        for i in range(m):
            parts = []
            for docs, flat, bounds in decs[i]:
                docs_rep = np.repeat(docs, np.diff(bounds))
                ok = flat >= i
                parts.append(docs_rep[ok] * P + (flat[ok] - i))
            if not parts:
                return empty
            k = parts[0] if len(parts) == 1 else np.sort(np.concatenate(parts))
            keys = (
                k
                if keys is None
                else np.intersect1d(keys, k, assume_unique=True)
            )
            if not len(keys):
                return empty
        docs_out, counts = np.unique(keys // P, return_counts=True)
        return pd.DataFrame(
            {
                "pp_id": np.full(len(docs_out), pp_id, dtype=np.int64),
                "doc_id": docs_out.astype(np.int64),
                "n_matches": counts.astype(np.int64),
            }
        )

    return match_group


def phrase_prefix_counts(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    max_expansions: int = 50,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """match_phrase_prefix (ES) / MultiPhraseQuery-with-trailing-prefix
    (Lucene): the LAST whitespace word of ``text`` is a PREFIX; a doc
    position matches when the leading words appear consecutively and ANY
    dictionary expansion of the prefix occupies the final slot.
    ``queries`` needs (pp_id, text). Returns (pp_id, doc_id, n_matches).

    ``max_expansions`` (ES default 50): the prefix expands to the FIRST
    ``max_expansions`` dictionary terms in term order — ES's documented
    truncation, which also bounds the clause width by construction (no
    TooManyClauses path needed here).

    One positional job with a true MULTI-SLOT matcher (Lucene
    MultiPhraseQuery): the final slot's occurrence keys are the UNION of
    the expansions' position keys, so the LEAD words' postings decode
    once per (query, bucket) group — NOT once per expansion (the naive
    phrase-per-expansion rewrite measured 30 s for 8 queries at 480k
    docs precisely because head-term lead postings re-decoded ~50×).
    A query whose prefix matches nothing returns no rows."""
    from dts.wildcard import _expand

    if max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    rows = [
        (int(r["pp_id"]), str(r["text"]))
        for r in queries.select("pp_id", "text").collect()
    ]
    if not rows:
        return spark.createDataFrame([], PHRASE_SCHEMA.replace("phrase_id", "pp_id"))
    lead_map: dict[int, list[str]] = {}
    pats = []
    for pp_id, text in rows:
        toks = tokenize_text(text)
        if not toks:
            raise ValueError(f"empty phrase_prefix text (pp_id={pp_id})")
        lead_map[pp_id] = toks[:-1]
        pats.append((pp_id, toks[-1] + "*"))
    pats_df = local_rows_df(spark, pats, "wq_id long, pattern string")
    qterms, term_list = _expand(spark, index_dir, pats_df)
    if term_list is None:
        # Distributed-dictionary path: truncate per query in term order.
        from pyspark.sql import Window

        w = Window.partitionBy("wq_id").orderBy(F.col("term").asc())
        exp_rows = (
            qterms.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_expansions)
            .select("wq_id", "term")
            .collect()
        )
        exp_pairs = [(int(r["wq_id"]), r["term"]) for r in exp_rows]
    else:
        by_q: dict[int, list[str]] = {}
        for r in qterms.collect():
            by_q.setdefault(int(r["wq_id"]), []).append(r["term"])
        exp_pairs = [
            (q, t)
            for q, ts in by_q.items()
            for t in sorted(ts)[:max_expansions]
        ]
    if not exp_pairs:
        return spark.createDataFrame([], PHRASE_SCHEMA.replace("phrase_id", "pp_id"))
    meta = load_index(spark, index_dir)["meta"]
    if not meta.get("positions"):
        raise ValueError(
            "phrase_prefix queries need a positional index: "
            "build_index(..., positions=True)"
        )
    exp_by_q: dict[int, list[str]] = {}
    for q, t in exp_pairs:
        exp_by_q.setdefault(q, []).append(t)
    qt_rows = []
    for pp_id, exps in exp_by_q.items():
        lead = lead_map[pp_id]
        m = len(lead) + 1
        for i, t in enumerate(lead):
            qt_rows.append((pp_id, m, i, t))
        for t in exps:
            qt_rows.append((pp_id, m, m - 1, t))
    qt = local_rows_df(spark, qt_rows, "pp_id long, m int, i int, term string")
    terms = sorted({t for *_, t in qt_rows})
    idx = load_index(spark, index_dir)
    postings = term_filter(idx["postings"], terms, max_isin_terms).join(
        F.broadcast(qt), "term"
    )
    out = postings.groupBy("pp_id", "bucket").applyInPandas(
        _multi_matcher_fn(meta["block_size"]),
        "pp_id long, doc_id long, n_matches long",
    )
    return mask_deleted_rows(out, spark, index_dir, meta)


def phrase_syn_rows(
    spark: SparkSession,
    index_dir: str,
    ph_meta: list[tuple[int, int, int, int, int, str, int, float]],
    with_dl: bool,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame | None:
    """Synthetic clause rows for the FUSED phrase path (round 5): resolve
    every phrase constraint of a search batch in one positional job and
    reshape the matches into rows the BM25 scoring kernel unions with the
    real posting rows — (query_id, clause, role, term, bucket, n, df,
    _syn_ids, _syn_tfs, _syn_dls), arrays per (phrase, bucket) so each
    scoring group (query- or shard-keyed) reassembles exactly its own
    buckets' phrase matches, like tombstones and filter contexts.

    ``ph_meta``: (phrase_id, query_id, clause, role, scored, text, slop,
    boost) rows — role 1 = required phrase clause (counts toward the query's m
    target), role 2 = excluded; ``scored`` = 1 makes the phrase score as
    a unit (tf = per-doc phrase count, df = docs containing the phrase —
    Lucene PhraseQuery), 0 makes it membership-only (zero contribution);
    ``slop`` ≥ 1 is the per-gap proximity bound (1 = exact phrase — see
    phrase_match_counts for the semantics and the Lucene delta);
    ``boost`` multiplies a scored phrase's clause impact (Lucene
    ``"a b"^2``; membership-only rows ignore it).

    The positional matcher output is consumed ONCE: per-bucket arrays come
    from one groupBy and the phrase df from a window sum of the per-bucket
    match counts over that same aggregate (the pre-fusion design re-ran
    the positional intersection for the df aggregate and again for the
    score join). Arrays are bounded by bucket_size docs. Term names carry
    SYN_TERM_PREFIX so they sort after every real token (fixed
    accumulation order, see dts.score_index)."""
    from pyspark.sql import Window

    from dts.score_index import SYN_TERM_PREFIX

    if not ph_meta:
        return None
    meta = load_index(spark, index_dir)["meta"]
    ph_df = local_rows_df(
        spark,
        [(pid, text, slop) for pid, _, _, _, _, text, slop, _ in ph_meta],
        "phrase_id long, text string, slop int",
    )
    pm = phrase_match_counts(
        spark, index_dir, ph_df, max_isin_terms, with_dl=with_dl
    )
    struct_cols = [F.col("doc_id"), F.col("n_matches")] + (
        [F.col("dl")] if with_dl else []
    )
    agg = (
        pm.withColumn(
            "bucket",
            (F.col("doc_id") / F.lit(meta["bucket_size"])).cast("long"),
        )
        .groupBy("phrase_id", "bucket")
        .agg(F.sort_array(F.collect_list(F.struct(*struct_cols))).alias("s"))
        .select(
            "phrase_id",
            "bucket",
            F.transform("s", lambda x: x["doc_id"]).alias("_syn_ids"),
            F.transform("s", lambda x: x["n_matches"]).alias("_tfs"),
            (
                F.transform("s", lambda x: x["dl"])
                if with_dl
                else F.lit(None).cast("array<bigint>")
            ).alias("_dls"),
            F.size("s").cast("long").alias("n"),
        )
        .withColumn("df", F.sum("n").over(Window.partitionBy("phrase_id")))
    )
    mdf = local_rows_df(
        spark,
        [
            (pid, qid, clause, role, scored,
             SYN_TERM_PREFIX + format(pid, "08d"), boost)
            for pid, qid, clause, role, scored, _, _, boost in ph_meta
        ],
        "phrase_id long, query_id long, clause int, role int, "
        "scored int, term string, boost double",
    )
    return agg.join(F.broadcast(mdf), "phrase_id").select(
        "query_id",
        "clause",
        "role",
        "term",
        "boost",
        "bucket",
        "n",
        F.when(F.col("scored") == 1, F.col("df"))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("df"),
        "_syn_ids",
        F.when(F.col("scored") == 1, F.col("_tfs")).alias("_syn_tfs"),
        F.when(F.col("scored") == 1, F.col("_dls")).alias("_syn_dls"),
    )


def phrase_bm25_scores(
    spark: SparkSession,
    index_dir: str,
    phrases: DataFrame,
    max_isin_terms: int = MAX_ISIN_TERMS,
) -> DataFrame:
    """(phrase_id, doc_id, n_matches, pscore): Lucene PhraseQuery scoring
    — the phrase is ONE clause whose tf is the per-doc phrase frequency
    and whose df is the number of docs containing the phrase; idf and
    impact are the exact term-BM25 formulas over full-corpus stats
    (spec: dts.oracle.phrase_bm25_score, shared constants K1/B).

    Plan: the positional match job (phrase_match_counts with_dl=True —
    dl decoded from the same posting rows, no doc_stats join), a tiny
    per-phrase df agg broadcast back, then one JVM expression. The match
    subtree appears twice in the plan (df agg + score join); Spark's
    exchange reuse shares the shuffle."""
    from dts.score import B, K1

    meta = load_index(spark, index_dir)["meta"]
    pm = phrase_match_counts(
        spark, index_dir, phrases, max_isin_terms, with_dl=True
    )
    dfreq = pm.groupBy("phrase_id").agg(F.count("*").alias("df"))
    n_docs, avgdl = float(meta["n_docs"]), float(meta["avgdl"])
    return pm.join(F.broadcast(dfreq), "phrase_id").select(
        "phrase_id",
        "doc_id",
        "n_matches",
        (
            F.log(
                F.lit(1.0)
                + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * (
                F.col("n_matches").cast("double") * F.lit(K1 + 1.0)
                / (
                    F.col("n_matches").cast("double")
                    + F.lit(K1)
                    * (
                        F.lit(1.0 - B)
                        + F.lit(B) * F.col("dl").cast("double") / F.lit(avgdl)
                    )
                )
            )
        ).alias("pscore"),
    )
