"""Index-backed BM25 top-k: query planning + distributed scoring.

Query lifecycle (the amortized replacement for the reference's per-query
full-corpus scan, src/apm1.c:235-278):

1. tokenize queries (same tokenizer as ingest);
2. fuzzy terms expand to exact index terms (dts.fuzzy — the Levenshtein
   graft); exact terms pass through;
3. postings lookup: parquet scan FILTERED by the expanded term set —
   pushed down to row-group stats because postings are written term-sorted
   (check .explain(): PushedFilters In(term, ...));
4. per-query scoring in one ``applyInPandas`` group: decode blocks, score,
   top-k. Two exact strategies:
   - ``taat``: vectorized term-at-a-time numpy accumulation (throughput
     default — every op is an array op);
   - ``bmw``: block-max WAND document-at-a-time with skipping (dts.wand,
     the north-rule operator; rank-identical, pruning is UB-safe).

Broadcast of the (small) query-term side mirrors DISTRIBUTE_PATTERNS=0
(src/flexible_mpi.c:147-153); the postings side stays partitioned — at
cluster scale each task reads only the postings row-groups its terms live
in. Scores are float64 with ascending-term accumulation order — the same
addition sequence as dts.oracle, hence bit-identical (tested).

Non-tokenizable patterns (contract): the reference matches arbitrary byte
strings (src/apm1.c:152-184); this index is TOKEN-based, so a query whose
text tokenizes to nothing (pure punctuation/operators — TOKEN_RE matches
no run) contributes no terms and scores no documents, BY DESIGN. The
byte-granularity path for such patterns is dts.bytematch.byte_match_counts
(raw substring windows, no tokenizer) — the engine keeps both surfaces
rather than pretending one index serves both semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dts.codec import (
    POSTING_COLS,
    bm25_idf,
    bm25_impact,
    decode_postings,
    packed_rows,
)
from dts.delete import bucket_ids, has_deletes, join_deletes
from dts.fuzzy import build_vocab_struct, expand_fuzzy_local, expand_fuzzy_terms
from dts.index_build import index_revision, load_meta
from dts.io import local_rows_df
from dts.tokenizer import tokenize_text
from dts.wand import bmw_topk

ROUND_RANK = 9
TOPK_SCHEMA = "query_id long, doc_id long, score double, rank int"
# Synthetic clause rows (fused phrase constraints) carry term names under
# this prefix so they sort AFTER every real vocabulary token: the kernel
# accumulates in ascending (term, bucket) order, and phrase impacts must
# add after all term impacts to keep score bits stable vs the pre-fusion
# "term score + phrase score" addition order.
SYN_TERM_PREFIX = "￿￿"
# Above this many distinct expanded terms, an IN-list filter stops being a
# pushdown win and starts being a plan-size bomb (a 10^5-term fuzzy batch
# would inline 10^5 literals); fall back to a broadcast left-semi join.
MAX_ISIN_TERMS = 10_000
# BM25 scoring never reads pos_blob (positional indexes only): explicit
# projection keeps the parquet scan and the applyInPandas transfer free of
# position bytes. A list, not the codec's tuple: pyarrow's dataset scanner
# accepts only a list of column names.
POSTING_SCORE_COLS = list(POSTING_COLS)


def term_filter(
    df: DataFrame, terms: list[str], max_isin_terms: int = MAX_ISIN_TERMS
) -> DataFrame:
    """Filter ``df`` to rows whose ``term`` is in ``terms`` — the shared
    plan-size guard: an IN-list (parquet row-group pushdown) up to
    ``max_isin_terms`` distinct terms, a broadcast left-semi join beyond
    (bounded plan; a batch that wide reads most row-groups anyway). Used by
    BM25 scoring AND phrase/proximity so a wide synonym expansion can't
    regrow the inline-literal bomb anywhere."""
    terms = sorted(set(terms))
    if len(terms) <= max_isin_terms:
        return df.filter(F.col("term").isin(terms))
    tdf = local_rows_df(
        df.sparkSession, [(t,) for t in terms], "term string"
    )
    return df.join(F.broadcast(tdf), "term", "left_semi")


_INDEX_CACHE: dict[tuple, dict] = {}


def load_index(spark: SparkSession, index_dir: str, use_cache: bool = True):
    """Index handle (lazy DataFrames + meta). Cached per (session,
    index_dir, meta revision): every index mutation (merge, delete,
    compact) bumps the monotonically increasing revision counter via
    save_meta, so the key self-invalidates even when two mutations land
    within one filesystem-mtime tick (round-4 ADVICE)."""
    import os

    key = (
        spark.sparkContext.applicationId,
        index_dir,
        index_revision(index_dir),
    )
    if use_cache and key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    out = {
        "postings": spark.read.parquet(f"{index_dir}/postings"),
        "term_stats": spark.read.parquet(f"{index_dir}/term_stats"),
        "doc_stats": spark.read.parquet(f"{index_dir}/doc_stats"),
        "meta": load_meta(index_dir),
        "trigrams": None,
    }
    if os.path.isdir(f"{index_dir}/trigrams"):
        out["trigrams"] = spark.read.parquet(f"{index_dir}/trigrams")
    out["terms_rev"] = None
    if os.path.isdir(f"{index_dir}/terms_rev"):
        out["terms_rev"] = spark.read.parquet(f"{index_dir}/terms_rev")
    if use_cache:
        if len(_INDEX_CACHE) >= 8:
            _INDEX_CACHE.clear()
        _INDEX_CACHE[key] = out
    return out


def expanded_query_terms(
    queries: DataFrame,
    term_stats: DataFrame,
    vocab_tri: DataFrame | None = None,
) -> DataFrame:
    """(query_id, clause, term) multiset after fuzzy expansion; ``clause``
    is the query token position (conjunctive scoring needs per-clause
    presence — a fuzzy clause is satisfied by ANY of its expansions).

    `queries` needs (query_id, text, fuzzy_k). Exact queries (fuzzy_k=0)
    pass through; fuzzy ones expand against the vocabulary — through the
    persisted trigram table when the index has one. Multiplicity
    (repeated terms) is preserved on both paths.

    Query batches are client-sized (the whole batch is broadcast into the
    scoring join anyway), so tokenization happens on the driver with the
    SAME shared tokenizer — no python-UDF stage, no extra collect job for
    the trigram pushdown (the corpus-side tokenizer stays a vectorized
    UDF; this is the query side only).
    """
    from dts.fuzzy import trigrams_py

    spark = queries.sparkSession
    exact_rows: list[tuple[int, int, str]] = []
    fuzzy_rows: list[tuple[int, int, str, int]] = []
    qtris: set[str] = set()
    for r in queries.select("query_id", "text", "fuzzy_k").collect():
        k = int(r["fuzzy_k"] or 0)
        for clause, t in enumerate(tokenize_text(r["text"])):
            if k == 0:
                exact_rows.append((int(r["query_id"]), clause, t))
            else:
                fuzzy_rows.append((int(r["query_id"]), clause, t, k))
                qtris.update(trigrams_py(t))
    exact = local_rows_df(
        spark, exact_rows, "query_id long, clause int, term string"
    ) if exact_rows else spark.createDataFrame(
        [], "query_id long, clause int, term string"
    )
    if not fuzzy_rows:
        return exact
    fuzzy = local_rows_df(
        spark, fuzzy_rows, "query_id long, clause int, qterm string, fuzzy_k int"
    )
    expanded = expand_fuzzy_terms(
        fuzzy, term_stats.select("term"), vocab_tri, qtris=sorted(qtris)
    )
    return exact.unionByName(expanded)


def row_contributions(
    pdf: pd.DataFrame, packs: list, idf: np.ndarray, impact
):
    """Per scoring row, in row order: (doc ids, idf·impact contributions).
    Posting rows decode their blocks; synthetic clause rows (``packs[i]``
    is None — fused phrases, see SYN_TERM_PREFIX) carry precomputed
    ``_syn_ids``/``_syn_tfs``/``_syn_dls`` arrays. ``impact(i, tf, dl)``
    is row ``i``'s per-doc factor. Shared by the single-index and the
    fused multifield kernels."""
    docs_parts, contrib_parts = [], []
    for i, p in enumerate(packs):
        if p is None:
            d = np.asarray(pdf["_syn_ids"].iat[i], dtype=np.int64)
            tfs = pdf["_syn_tfs"].iat[i]
            if tfs is None:
                # Filter-context phrase / deny clause: membership only,
                # zero scoring contribution.
                c = np.zeros(len(d), dtype=np.float64)
            else:
                c = float(idf[i]) * impact(
                    i,
                    np.asarray(tfs, dtype=np.int64),
                    np.asarray(pdf["_syn_dls"].iat[i], dtype=np.int64),
                )
        else:
            d, tf, dl = decode_postings(p)
            c = float(idf[i]) * impact(i, tf, dl)
        docs_parts.append(d)
        contrib_parts.append(c)
    return docs_parts, contrib_parts


def clause_sets(
    docs_parts: list[np.ndarray], terms_arr: np.ndarray, idxs_by_clause
) -> list[np.ndarray]:
    """Per-clause candidate doc sets (union of the clause's rows, given
    as row-index arrays). One-term clauses skip np.unique: their bucket
    rows arrive in ascending (term, bucket) order over disjoint doc
    ranges, so the concat is already sorted+unique."""
    sets = []
    for idxs in idxs_by_clause:
        rows_c = [docs_parts[i] for i in idxs]
        if len(rows_c) == 1:
            sets.append(rows_c[0])
        elif len(set(terms_arr[idxs])) == 1:
            sets.append(np.concatenate(rows_c))
        else:
            sets.append(np.unique(np.concatenate(rows_c)))
    return sets


def _scorer_fn(
    n_docs: int,
    avgdl: float,
    k: int,
    strategy: str,
    block_size: int,
    mode: str = "or",
    m_map: dict[int, int] | None = None,
    filter_qids: set[int] | None = None,
    similarity: str = "bm25",
    after_map: dict[int, tuple[float, int]] | None = None,
    dv_spec: tuple[str, float, str, float] | None = None,
    total_tokens: float = 0.0,
):
    """Tombstones arrive COLOCATED on the posting rows as a ``_del_ids``
    column (dts.delete.join_deletes — per-bucket sorted arrays, joined by
    the doc-range bucket key), never as a driver-shipped closure array:
    the group reassembles exactly its own buckets' deletions and masks
    them BEFORE top-k truncation, so a tombstone can never occupy a rank
    slot. Stats (idf / avgdl / n_docs) intentionally still count deleted
    docs until compaction (Lucene semantics).

    ``mode='and'`` (Lucene MUST / default-AND search): only docs matching
    EVERY query clause are ranked — a clause is a query token position,
    satisfied by any of its (fuzzy-)expanded terms; ``m_map`` gives each
    query's clause count (including clauses with zero index matches, which
    correctly make the whole query match nothing). Scores are the same
    disjunctive BM25 sums, AND only filters eligibility."""

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        query_id = int(pdf["query_id"].iloc[0])
        deleted = None
        if "_del_ids" in pdf.columns:
            arr = bucket_ids(pdf, "_del_ids")
            deleted = arr if len(arr) else None
        # ALLOW-list (filter context): unlike tombstones, an empty
        # reassembly means NOTHING in this group's buckets is eligible
        # (no member docs there).
        # In a fused batch with PER-QUERY filters (``filter_qids``), only
        # the queries that actually carry a filter context read the
        # column — the rest see all-null _keep_ids, which must mean
        # "unfiltered", not "nothing eligible".
        allowed = (
            bucket_ids(pdf, "_keep_ids")
            if "_keep_ids" in pdf.columns
            and (filter_qids is None or query_id in filter_qids)
            else None
        )
        # function_score doc values (round 5): per-bucket (ids, vals)
        # pairs colocated like tombstones — reassemble aligned arrays in
        # bucket order (buckets are disjoint ascending doc ranges, so the
        # concat is globally doc_id-sorted).
        dv_ids = dv_vals = None
        if dv_spec is not None and "_dv_ids" in pdf.columns:
            per_b: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            for b, ids, vs in zip(
                pdf["bucket"], pdf["_dv_ids"], pdf["_dv_vals"]
            ):
                if ids is not None and int(b) not in per_b:
                    per_b[int(b)] = (
                        np.asarray(ids, dtype=np.int64),
                        np.asarray(vs, dtype=np.float64),
                    )
            if per_b:
                bs = sorted(per_b)
                dv_ids = np.concatenate([per_b[b][0] for b in bs])
                dv_vals = np.concatenate([per_b[b][1] for b in bs])
        # Ascending (term, bucket): fixes the accumulation order AND makes
        # each term's bucket rows an ordered concatenation (the lazy phase-2
        # of the salted merge).
        pdf = pdf.sort_values(["term", "bucket"], kind="mergesort")
        # Pluggable similarity: ``idf`` is the per-ROW query weight and
        # ``_impact`` the per-(term, doc) factor; their product is the
        # contribution. "bm25" (default) is the engine contract;
        # "classic" is Lucene's ClassicSimilarity (sqrt(tf) · idf² ·
        # 1/sqrt(dl), exact dl instead of the lossy norm byte).
        df_arr = pdf["df"].to_numpy(np.float64)
        if similarity == "classic":
            from dts.score import classic_impact, classic_weight

            idf = classic_weight(float(n_docs), df_arr)
            _impact = lambda i, tf, dl: classic_impact(tf, dl)  # noqa: E731
        elif similarity == "lmd":
            # LM Dirichlet: the whole per-(term, doc) score lives in the
            # impact (it needs the row term's cf and is floored at 0, so
            # it doesn't factor into weight × impact); row weight is 1
            # (boosts still fold in below, matching Lucene's boost-inside
            # -the-floor semantics for positive boosts).
            from dts.score import lmd_impact

            cf_arr = pdf["cf"].to_numpy(np.float64)
            idf = np.ones(len(pdf), dtype=np.float64)
            _impact = lambda i, tf, dl: lmd_impact(  # noqa: E731
                tf, dl, cf_arr[i], total_tokens
            )
        else:
            idf = bm25_idf(n_docs, df_arr)
            _impact = lambda i, tf, dl: bm25_impact(tf, dl, avgdl)  # noqa: E731
        if "boost" in pdf.columns:
            # Per-row query boosts (Lucene ``^``): fold into the row
            # weight — covers TAAT accumulation, the BMW cursor weights
            # (block-max bounds stay sound: bound × boost ≥ impact ×
            # boost for boost ≥ 0) and synthetic phrase rows alike.
            # Rows from boost-less callers union in as NaN → 1.0.
            b = pdf["boost"].to_numpy(np.float64)
            idf = idf * np.where(np.isnan(b), 1.0, b)
        # Synthetic clause rows (round-5: scored/required phrases fused
        # into THIS kernel): no posting blobs — the doc/tf/dl arrays are
        # precomputed per (clause, bucket) and ride _syn_* columns. Their
        # term names sort AFTER every real token (SYN_TERM_PREFIX), so the
        # accumulation order is "all real terms, then phrases" — exactly
        # the order the pre-fusion re-rank added the phrase impacts in.
        # ``packed_rows`` maps them to None.
        packs = packed_rows(pdf, block_size)

        if strategy == "bmw":
            if any(p is None for p in packs):
                raise ValueError(
                    "synthetic clause rows require strategy='taat'"
                )
            cursors = [
                (term, float(w), p)
                for term, w, p in zip(pdf["term"].tolist(), idf, packs)
            ]
            # Merge bucket rows per (term occurrence): group consecutive
            # rows with equal term into one logical list per DUPLICATE set.
            # Duplicates of a term each carry the full bucket set in order;
            # simplest exact handling: give bmw one cursor per ROW — rows of
            # one term over disjoint doc ranges never overlap, so their
            # cursors co-exist safely; duplicates contribute twice as in
            # the oracle's multiset.
            ranked = bmw_topk(
                cursors, k, avgdl, deleted=deleted, allowed=allowed
            )
            docs_out = np.array([d for d, _ in ranked], dtype=np.int64)
            scores_out = np.array([s for _, s in ranked], dtype=np.float64)
        else:
            docs_parts, contrib_parts = row_contributions(
                pdf, packs, idf, _impact
            )
            empty = pd.DataFrame(
                columns=["query_id", "doc_id", "score", "rank"]
            ).astype({"query_id": "int64", "doc_id": "int64", "score": "float64", "rank": "int32"})
            if not docs_parts:
                return empty
            def _intersect(sets):
                """Smallest-first intersection; searchsorted probe INTO the
                larger sorted set — np.isin would re-sort the head clause's
                10^5+-doc list every time. Returns None when empty."""
                sets = sorted(sets, key=len)
                cur = sets[0]
                for cd in sets[1:]:
                    if not len(cur):
                        return None
                    pos = np.minimum(np.searchsorted(cd, cur), len(cd) - 1)
                    cur = cur[cd[pos] == cur]
                return cur if len(cur) else None

            def _accumulate_over(uniq_in, row_mask=None):
                acc_l = np.zeros(len(uniq_in), dtype=np.float64)
                for i, (d, c) in enumerate(zip(docs_parts, contrib_parts)):
                    if row_mask is not None and not row_mask[i]:
                        continue
                    pos = np.searchsorted(uniq_in, d)
                    pos_c = np.minimum(pos, len(uniq_in) - 1)
                    valid = uniq_in[pos_c] == d
                    acc_l[pos_c[valid]] += c[valid]
                return acc_l

            if mode == "and":
                # Conjunctive intersection-driven scoring (Lucene swaps
                # algorithms for MUST-only queries): eligible set FIRST,
                # then accumulate only over survivors. Per-doc addition
                # order unchanged ⇒ bit-identical scores.
                m = m_map[query_id]
                clause_vals = pdf["clause"].to_numpy()
                uniq_cl = np.unique(clause_vals)
                if len(uniq_cl) < m:
                    return empty  # a clause matched no index term
                sets = clause_sets(
                    docs_parts, pdf["term"].to_numpy(),
                    [np.flatnonzero(clause_vals == cl) for cl in uniq_cl]
                )
                uniq = _intersect(sets)
                if uniq is None:
                    return empty
                acc = _accumulate_over(uniq)
            elif mode == "mixed":
                # Role-typed clauses (the query-string parser, round 4):
                # role 1 = REQUIRED and scores (clause = one +term; all
                # required clauses intersect), role 0 = optional scorer,
                # role 2 = EXCLUDED (joined only for its doc set, never
                # scores). m_map = required clause count per query — a
                # required clause absent from the index kills the query.
                role_vals = pdf["role"].to_numpy()
                clause_vals = pdf["clause"].to_numpy()
                m = m_map[query_id]
                req_cl = np.unique(clause_vals[role_vals == 1])
                if len(req_cl) < m:
                    return empty
                neg_idx = np.flatnonzero(role_vals == 2)
                nd = (
                    np.unique(
                        np.concatenate([docs_parts[i] for i in neg_idx])
                    )
                    if len(neg_idx)
                    else None
                )
                score_mask = role_vals != 2
                if m > 0:
                    sets = clause_sets(
                        docs_parts, pdf["term"].to_numpy(),
                        [
                            np.flatnonzero(
                                (clause_vals == cl) & (role_vals == 1)
                            )
                            for cl in req_cl
                        ]
                    )
                    uniq = _intersect(sets)
                    if uniq is None:
                        return empty
                else:
                    score_rows = [
                        docs_parts[i] for i in np.flatnonzero(score_mask)
                    ]
                    if not score_rows:
                        return empty
                    uniq = np.unique(np.concatenate(score_rows))
                if nd is not None:
                    pos = np.minimum(np.searchsorted(nd, uniq), len(nd) - 1)
                    uniq = uniq[nd[pos] != uniq]
                if not len(uniq):
                    return empty
                acc = _accumulate_over(uniq, row_mask=score_mask)
            elif mode == "tree":
                # Nested boolean trees (dts.qtree): m_map carries each
                # query's exec tree — ("leaf", clause_id) | ("node", must,
                # should, must_not, msm) — and the group folds it bottom-up
                # over per-leaf doc sets / score arrays. Lucene
                # BooleanQuery semantics: a node matches iff all musts
                # match, no must_not matches and ≥ msm shoulds match; its
                # score is the sum of its MATCHING must+should children —
                # so a leaf under a failed OR-branch contributes nothing.
                tree = m_map[query_id]
                clause_vals = pdf["clause"].to_numpy()
                leaf_docs: dict[int, np.ndarray] = {}
                leaf_scores: dict[int, np.ndarray] = {}
                for cl in np.unique(clause_vals):
                    mask = clause_vals == cl
                    s = clause_sets(
                        docs_parts, pdf["term"].to_numpy(),
                        [np.flatnonzero(mask)],
                    )[0]
                    leaf_docs[int(cl)] = s
                    leaf_scores[int(cl)] = _accumulate_over(s, row_mask=mask)

                def _ev(node):
                    """(sorted docs, aligned scores) of matching docs, or
                    None when the subtree matches nothing."""
                    if node[0] == "leaf":
                        d = leaf_docs.get(node[1])
                        if d is None or not len(d):
                            return None
                        return d, leaf_scores[node[1]]
                    _, must, should, must_not, msm = node
                    mres = []
                    for ch in must:
                        r = _ev(ch)
                        if r is None:
                            return None
                        mres.append(r)
                    sres = [r for r in (_ev(ch) for ch in should)
                            if r is not None]
                    if mres:
                        docs = mres[0][0]
                        for d2, _ in mres[1:]:
                            pos = np.minimum(
                                np.searchsorted(d2, docs), len(d2) - 1
                            )
                            docs = docs[d2[pos] == docs]
                            if not len(docs):
                                return None
                    elif sres:
                        docs = (
                            sres[0][0] if len(sres) == 1 else np.unique(
                                np.concatenate([d for d, _ in sres])
                            )
                        )
                    else:
                        return None
                    if msm > 0:
                        if len(sres) < msm:
                            return None
                        cnt = np.zeros(len(docs), dtype=np.int64)
                        for d2, _ in sres:
                            pos = np.minimum(
                                np.searchsorted(d2, docs), len(d2) - 1
                            )
                            cnt += (d2[pos] == docs).astype(np.int64)
                        docs = docs[cnt >= msm]
                        if not len(docs):
                            return None
                    for ch in must_not:
                        r = _ev(ch)
                        if r is None:
                            continue
                        d2 = r[0]
                        pos = np.minimum(
                            np.searchsorted(d2, docs), len(d2) - 1
                        )
                        docs = docs[d2[pos] != docs]
                        if not len(docs):
                            return None
                    score = np.zeros(len(docs), dtype=np.float64)
                    # Child order is parse order — a fixed, distribution-
                    # independent float addition order per doc.
                    for d2, s2 in mres + sres:
                        pos = np.minimum(
                            np.searchsorted(d2, docs), len(d2) - 1
                        )
                        hit = d2[pos] == docs
                        score[hit] += s2[pos[hit]]
                    return docs, score

                res = _ev(tree)
                if res is None:
                    return empty
                uniq, acc = res
            else:
                uniq = np.unique(np.concatenate(docs_parts))
                acc = np.zeros(len(uniq), dtype=np.float64)
                for d, c in zip(docs_parts, contrib_parts):
                    acc[np.searchsorted(uniq, d)] += c
            if deleted is not None:
                live = ~np.isin(uniq, deleted, assume_unique=True)
                uniq, acc = uniq[live], acc[live]
            if allowed is not None:
                if not len(allowed) or not len(uniq):
                    return empty
                pos = np.minimum(
                    np.searchsorted(allowed, uniq), len(allowed) - 1
                )
                keep_m = allowed[pos] == uniq
                uniq, acc = uniq[keep_m], acc[keep_m]
            if dv_spec is not None:
                # ES field_value_factor: value -> missing-substitute ->
                # modifier -> factor, then combined into the query score.
                # Applied BEFORE truncation/rounding so ranking is exact.
                modifier, factor, boost_mode, missing = dv_spec
                vals = np.full(len(uniq), float(missing), dtype=np.float64)
                if dv_ids is not None and len(dv_ids) and len(uniq):
                    pos = np.minimum(
                        np.searchsorted(dv_ids, uniq), len(dv_ids) - 1
                    )
                    hitv = dv_ids[pos] == uniq
                    vals[hitv] = dv_vals[pos[hitv]]
                if isinstance(modifier, tuple) and modifier[0] in (
                    "saturation", "logf", "sigmoid",
                ):
                    # ES rank_feature functions (features are ≥ 0; a
                    # missing feature contributes f(0) — 0 for saturation
                    # and sigmoid, ln(sf) for log).
                    kind = modifier[0]
                    vals = np.maximum(vals, 0.0)
                    if kind == "saturation":
                        pivot = float(modifier[1])
                        fv = vals / (vals + pivot)
                    elif kind == "logf":
                        fv = np.log(float(modifier[1]) + vals)
                    else:  # sigmoid
                        pivot, expn = float(modifier[1]), float(modifier[2])
                        vp = vals ** expn
                        fv = vp / (vp + pivot ** expn)
                elif isinstance(modifier, tuple):
                    # ES decay functions (gauss/exp/linear): shape over
                    # dist = max(|v − origin| − offset, 0), parameterized
                    # so f(scale) = decay — the exact ES formulas.
                    kind, origin, scale_p, offset, decay = modifier
                    dist = np.maximum(
                        np.abs(vals - float(origin)) - float(offset), 0.0
                    )
                    if kind == "gauss":
                        sigma2 = -(float(scale_p) ** 2) / (
                            2.0 * np.log(float(decay))
                        )
                        fv = np.exp(-(dist * dist) / (2.0 * sigma2))
                    elif kind == "exp":
                        lam = np.log(float(decay)) / float(scale_p)
                        fv = np.exp(lam * dist)
                    elif kind == "linear":
                        s_ = float(scale_p) / (1.0 - float(decay))
                        fv = np.maximum((s_ - dist) / s_, 0.0)
                    else:
                        raise ValueError(f"unknown decay kind {kind!r}")
                elif modifier == "log1p":
                    fv = np.log1p(vals)
                elif modifier == "sqrt":
                    fv = np.sqrt(vals)
                elif modifier == "none":
                    fv = vals
                else:
                    raise ValueError(f"unknown modifier {modifier!r}")
                fv = float(factor) * fv
                acc = acc * fv if boost_mode == "multiply" else acc + fv
            key = np.round(acc, ROUND_RANK)
            if after_map is not None and query_id in after_map:
                # search_after (Lucene deep pagination): keep only docs
                # STRICTLY after the cursor in rank order — (rounded
                # score DESC, doc_id ASC) — so the local heap stays at k
                # instead of page×k. A pure per-doc predicate: exact
                # under any bucket partition.
                a_s, a_d = after_map[query_id]
                a_key = np.round(a_s, ROUND_RANK)
                keep_a = (key < a_key) | ((key == a_key) & (uniq > a_d))
                uniq, acc, key = uniq[keep_a], acc[keep_a], key[keep_a]
            # numpy-native tail (round-4): no per-row python tuples — at
            # k=∞ (full-candidate stages) this path emits millions of rows.
            order = np.lexsort((uniq, -key))[:k]
            docs_out = uniq[order].astype(np.int64)
            scores_out = acc[order]
        return pd.DataFrame(
            {
                "query_id": np.full(len(docs_out), query_id, dtype=np.int64),
                "doc_id": docs_out,
                "score": scores_out,
                "rank": np.arange(1, len(docs_out) + 1, dtype=np.int32),
            }
        )

    return score_group


# Vocabularies up to this many terms are collected to the driver once per
# process so fuzzy expansion runs as local numpy instead of a dedicated
# Spark job — that job's ~3-4 s fixed scheduling cost is the dominant
# serial fraction of small-index query batches (measured: removing it moves
# the 2→8 query scaling efficiency from ~0.77 to ~0.84). Larger
# vocabularies keep the distributed expansion. Cap sized from MEASURED
# build_vocab_struct footprint (tracemalloc, random 3-14 char terms):
# 107-253 B/term and ~2 s/100k terms one-time build → at 500k terms the
# struct is ~55 MB and ~10 s once per process — comfortably driver-sized.
# 2M terms (the old cap) would be ~0.5 GB + ~40 s: a silent cliff.
DRIVER_EXPAND_VOCAB_CAP = 500_000
_VOCAB_CACHE: dict[tuple, dict] = {}


def _driver_vocab(spark: SparkSession, index_dir: str, meta: dict) -> dict:
    key = (
        index_dir,
        meta.get("vocab_size"),
        index_revision(index_dir),
    )
    if key not in _VOCAB_CACHE:
        _VOCAB_CACHE.clear()  # hold one vocab at a time
        terms = [
            r["term"]
            for r in spark.read.parquet(f"{index_dir}/term_stats")
            .select("term")
            .collect()
        ]
        _VOCAB_CACHE[key] = build_vocab_struct(terms)
    return _VOCAB_CACHE[key]


def _local_query_term_rows(
    queries: DataFrame, vocab_struct: dict
) -> tuple[list[tuple[int, int, str]], int, dict[int, int]]:
    """Fully driver-side (query_id, clause, term) rows: tokenization +
    fuzzy expansion (dts.fuzzy.expand_fuzzy_local — identical semantics to
    the distributed path, tested). ``clause`` = query token position.
    Returns (rows, n_queries, m_map) where m_map = per-query token count
    — the AND-mode clause target, derived here so conjunctive batches
    need no second collect job."""
    if "fuzzy_k" not in queries.columns:
        queries = queries.withColumn("fuzzy_k", F.lit(0))
    rows = queries.select("query_id", "text", "fuzzy_k").collect()
    exact: list[tuple[int, int, str]] = []
    fuzzy_occ: list[tuple[int, int, str, int]] = []
    pairs: set[tuple[str, int]] = set()
    m_map: dict[int, int] = {}
    for r in rows:
        k = int(r["fuzzy_k"] or 0)
        toks = tokenize_text(r["text"])
        m_map[int(r["query_id"])] = len(toks)
        for clause, t in enumerate(toks):
            if k == 0:
                exact.append((int(r["query_id"]), clause, t))
            else:
                fuzzy_occ.append((int(r["query_id"]), clause, t, k))
                pairs.add((t, k))
    exp = expand_fuzzy_local(sorted(pairs), vocab_struct) if pairs else {}
    out = exact + [
        (qid, clause, et)
        for qid, clause, t, k in fuzzy_occ
        for et in exp[(t, k)]
    ]
    return out, len(rows), m_map


def auto_distribute(n_queries: int, n_buckets: int) -> str:
    """The engine's one choice of scoring distribution for single-index
    scoring: ``"query"`` (one scoring group per query) or ``"bucket"``
    (one group per (query, shard), then a global top-k merge). No caller
    can override it. Measured crossover, calibrated across THREE index
    sizes (local[8], warm best-of-2; cells are bucket_speedup =
    wall(query)/wall(bucket), >1 ⇒ bucket wins):

    n_queries →            1     2     4     16    60    240
    120k docs / 30 bkts   0.95  0.74  0.66  0.55  0.59  0.41
    480k docs / 118 bkts  0.90  1.27  1.16  1.06  0.77  0.61
    960k docs / 235 bkts  1.00  1.31  1.44  0.96  1.09  0.74

    Bucket sharding buys parallelism only when the batch is too small to
    occupy the cores by itself (one group per query) yet has real per-query
    work — and only when the index is big enough that per-query groups are
    heavy (the 30-bucket index loses everywhere: shard groups are too small
    to amortize applyInPandas overhead). Past ~16 queries the per-group
    overhead (n_queries × n_shards groups) dominates; a single query pays
    the extra merge stage for nothing. The rule below is within 10% of the
    better manual mode at EVERY measured cell (worst misses: 960k/16q auto
    picks bucket at 0.96, 960k/60q auto picks query where bucket was 1.09).
    Index size enters through n_buckets = n_docs/bucket_size."""
    return "bucket" if 2 <= n_queries <= 16 and n_buckets >= 32 else "query"


def _filter_by_qterms(
    idx: dict, scan: DataFrame, qterms: DataFrame, max_isin_terms: int
) -> tuple[DataFrame, DataFrame, list[str]]:
    """(postings, stats, terms≤cap+1) for a DISTRIBUTED (query_id, term)
    table: collect at most cap+1 distinct terms — enough to decide whether
    the IN-list pushdown is safe, never a driver blowup on huge
    expansions; beyond the cap, broadcast left-semi joins keep the plan
    bounded."""
    distinct_terms = qterms.select("term").distinct()
    terms = [
        r["term"] for r in distinct_terms.limit(max_isin_terms + 1).collect()
    ]
    if not terms:
        return None, None, []
    if len(terms) <= max_isin_terms:
        postings = scan.filter(F.col("term").isin(terms))
        stats = idx["term_stats"].filter(F.col("term").isin(terms)).select(
            "term", "df", "cf"
        )
    else:
        postings = scan.join(F.broadcast(distinct_terms), "term", "left_semi")
        stats = idx["term_stats"].join(
            F.broadcast(distinct_terms), "term", "left_semi"
        ).select("term", "df", "cf")
    return postings, stats, terms


def _ids_by_bucket(
    ids_df: DataFrame, bucket_size: int, alias: str
) -> DataFrame:
    """(bucket, sorted id array) from a doc_id DataFrame — the colocation
    shape shared by tombstones (deny) and filter contexts (allow). When
    ``ids_df`` carries a ``query_id`` column the arrays are PER-QUERY
    ((query_id, bucket) keyed — round-5: fused batches where each query
    has its own filter context, e.g. per-query phrase constraints)."""
    keys = (
        ["query_id", "bucket"] if "query_id" in ids_df.columns else ["bucket"]
    )
    cols = (
        [F.col("query_id").cast("long"), F.col("doc_id").cast("long")]
        if "query_id" in ids_df.columns
        else [F.col("doc_id").cast("long")]
    )
    return (
        ids_df.select(*cols)
        .distinct()
        .withColumn(
            "bucket", (F.col("doc_id") / F.lit(bucket_size)).cast("long")
        )
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_set("doc_id")).alias(alias))
    )


def _score_filtered(
    spark: SparkSession,
    meta: dict,
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_queries: int,
    k: int,
    strategy: str,
    index_dir: str | None = None,
    mode: str = "or",
    m_map: dict[int, int] | None = None,
    doc_filter: DataFrame | None = None,
    broadcast_filter: bool = True,
    filter_qids: set[int] | None = None,
    syn_rows: DataFrame | None = None,
    similarity: str = "bm25",
    after_map: dict[int, tuple[float, int]] | None = None,
    dv: DataFrame | None = None,
    dv_spec: tuple[str, float, str, float] | None = None,
    broadcast_dv: bool = True,
) -> DataFrame:
    """Shared scoring tail: join filtered postings with broadcast stats +
    query terms, attach colocated tombstones (when ``index_dir`` has a
    deletes directory) and the optional ALLOW-list filter context, pick
    the distribution mode (``auto_distribute``, looked up at call time),
    run the per-group scorer. A ``doc_filter``
    carrying a ``query_id`` column is PER-QUERY (joined on (query_id,
    bucket)); ``filter_qids`` must then name the filtered queries so the
    rest of the fused batch stays unfiltered. ``syn_rows``: synthetic
    clause rows (dts.phrase.phrase_syn_rows — precomputed per-bucket
    doc/tf/dl arrays, no posting blobs) unioned with the real posting
    rows so phrase constraints resolve INSIDE the one scoring kernel."""
    joined = postings.join(F.broadcast(stats), "term").join(
        F.broadcast(qterms), "term"
    )
    if index_dir is not None and has_deletes(index_dir):
        joined = join_deletes(joined, spark, index_dir, meta)
    if syn_rows is not None:
        # After the tombstone join: phrase matches are already
        # delete-masked by phrase_match_counts, and null _del_ids on the
        # synthetic rows contribute nothing to the group reassembly.
        joined = joined.unionByName(syn_rows, allowMissingColumns=True)
    if doc_filter is not None:
        kb = _ids_by_bucket(doc_filter, meta["bucket_size"], "_keep_ids")
        fkeys = (
            ["query_id", "bucket"]
            if "query_id" in doc_filter.columns
            else ["bucket"]
        )
        if broadcast_filter:
            kb = F.broadcast(kb)
        joined = joined.join(kb, fkeys, "left")
    if dv is not None:
        # Doc-value arrays colocated per bucket (function_score): same
        # join shape as tombstones/filter contexts. broadcast_dv=False
        # for corpus-scale sidecars — the join then shuffles on the
        # bucket key the scoring groups already use.
        dv_b = F.broadcast(dv) if broadcast_dv else dv
        joined = joined.join(dv_b, "bucket", "left")
    n_buckets = -(-meta["n_docs"] // meta["bucket_size"])
    if similarity not in ("bm25", "classic", "lmd"):
        raise ValueError(f"unknown similarity {similarity!r}")
    if similarity == "lmd" and syn_rows is not None:
        # Synthetic clause rows carry no collection frequency; LM
        # Dirichlet needs cf per scoring row. Term queries only for now.
        raise ValueError(
            "similarity='lmd' does not support fused phrase/synonym "
            "clause rows; use similarity='bm25'"
        )
    if similarity != "bm25" and strategy == "bmw":
        # Stored block maxima are BM25 impact bounds — not sound for
        # other similarities (Lucene likewise keeps per-similarity
        # impacts). TAAT is exact for any similarity.
        raise ValueError(
            f"strategy='bmw' supports only similarity='bm25' "
            f"(got {similarity!r}); use strategy='taat'"
        )
    if dv_spec is not None and strategy != "taat":
        raise ValueError("function_score doc values require strategy='taat'")
    scorer = _scorer_fn(
        meta["n_docs"], meta["avgdl"], k, strategy, meta["block_size"],
        mode, m_map, filter_qids,
        similarity, after_map, dv_spec,
        total_tokens=float(meta.get("total_tokens", 0.0)),
    )
    if auto_distribute(n_queries, n_buckets) == "bucket":
        n_shards = scoring_shards(meta, spark.sparkContext.defaultParallelism)
        local = (
            joined.withColumn(
                "shard", F.pmod(F.col("bucket"), F.lit(n_shards))
            )
            .groupBy("query_id", "shard")
            .applyInPandas(scorer, TOPK_SCHEMA)
        )
        return topk_merge_global(local.drop("rank"), k).select(
            "query_id", "doc_id", "score", "rank"
        )
    return joined.groupBy("query_id").applyInPandas(scorer, TOPK_SCHEMA)


def score_expanded_terms(
    spark: SparkSession,
    index_dir: str,
    qterms: DataFrame,
    n_queries: int,
    k: int = 10,
    strategy: str = "taat",
    max_isin_terms: int = MAX_ISIN_TERMS,
    all_terms: list[str] | None = None,
    doc_filter: DataFrame | None = None,
    broadcast_filter: bool = True,
    mode: str = "or",
    m_map: dict[int, int] | None = None,
    filter_qids: set[int] | None = None,
    syn_rows: DataFrame | None = None,
    similarity: str = "bm25",
) -> DataFrame:
    """BM25 top-k for explicit (query_id, term) rows — the multi-term
    rewrite entry point (wildcard/prefix expansion, external synonym sets,
    the query-string parser). ``doc_filter``: allow-list filter context,
    same contract as bm25_topk_indexed. ``mode='mixed'`` (parser path):
    ``qterms`` additionally carries ``clause`` and ``role`` columns
    (1 = required+scores, 0 = optional scorer, 2 = excluded — joined only
    for its doc set) and ``m_map`` gives each query's required clause
    count; the whole MUST/MUST_NOT algebra then runs INSIDE the one
    scoring job instead of a separate boolean-match job.
    Each ROW contributes its own idf·impact once, so the caller chooses
    multiplicity: text queries keep duplicate tokens, wildcard rewrites
    pass a distinct term set (Lucene's BooleanQuery rewrite semantics).
    ``qterms`` may be distributed (an expansion output) — the IN-list cap
    logic collects at most cap+1 terms to pick the pushdown strategy;
    callers that already know the distinct term set pass ``all_terms`` to
    skip that collect job entirely."""
    idx = load_index(spark, index_dir)
    if strategy == "bmw" and not idx["meta"].get("bmw_safe", True):
        raise ValueError(
            "bmw strategy unavailable on a merged index whose block maxima "
            "are stale; use strategy='taat' or compact first."
        )
    scan = idx["postings"].select(*POSTING_SCORE_COLS)
    if all_terms is not None:
        if not all_terms and syn_rows is None:
            return spark.createDataFrame([], TOPK_SCHEMA)
        # With synthetic rows an empty term set still scores: the isin([])
        # filter folds to an always-false LocalRelation scan.
        postings = term_filter(scan, all_terms, max_isin_terms)
        stats = term_filter(
            idx["term_stats"], all_terms, max_isin_terms
        ).select("term", "df", "cf")
    else:
        postings, stats, _ = _filter_by_qterms(
            idx, scan, qterms, max_isin_terms
        )
        if postings is None and syn_rows is not None:
            postings = term_filter(scan, [], max_isin_terms)
            stats = idx["term_stats"].filter(F.lit(False)).select(
                "term", "df", "cf"
            )
    if postings is None:
        return spark.createDataFrame([], TOPK_SCHEMA)
    if mode in ("mixed", "tree") and strategy != "taat":
        raise ValueError(f"mode={mode!r} requires strategy='taat'")
    if syn_rows is not None and strategy != "taat":
        raise ValueError("syn_rows (fused phrases) require strategy='taat'")
    return _score_filtered(
        spark, idx["meta"], postings, stats, qterms, n_queries, k,
        strategy, index_dir, mode, m_map,
        doc_filter=doc_filter, broadcast_filter=broadcast_filter,
        filter_qids=filter_qids, syn_rows=syn_rows, similarity=similarity,
    )


def bm25_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    strategy: str = "taat",
    max_isin_terms: int = MAX_ISIN_TERMS,
    mode: str = "or",
    doc_filter: DataFrame | None = None,
    broadcast_filter: bool = True,
    similarity: str = "bm25",
    search_after: dict[int, tuple[float, int]] | None = None,
) -> DataFrame:
    """Top-k over the persisted index. Returns (query_id, doc_id, score, rank).

    ``search_after`` (Lucene/ES deep pagination): per-query cursor
    ``{query_id: (score, doc_id)}`` — the (score, doc_id) of the LAST hit
    of the previous page. Only docs strictly after the cursor in rank
    order (rounded score DESC, doc_id ASC) are collected, so page p costs
    a k-heap, not a p·k-heap; ranks restart at 1 per page (Lucene
    likewise returns fresh TopDocs). Requires strategy='taat' (the WAND
    heap bound is score-only; Lucene, too, special-cases paging
    collectors). The mask applies BEFORE local top-k truncation — a pure
    per-doc predicate, exact under any bucket partition.

    ``similarity``: ``"bm25"`` (the engine contract — k1=1.2, b=0.75) or
    ``"classic"`` (Lucene ClassicSimilarity: sqrt(tf) · idf² · 1/sqrt(dl)
    with idf = 1 + ln(N/(df+1)); exact dl instead of Lucene's lossy norm
    byte — documented delta; spec dts.score.classic_weight /
    classic_impact) or ``"lmd"`` (Lucene LMDirichletSimilarity, μ=2000:
    per matched term max(ln(1 + tf/(μ·cf/total_tokens)) + ln(μ/(dl+μ)),
    0) — Dirichlet-smoothed query likelihood; spec dts.score.lmd_impact).
    The index is similarity-agnostic (it stores tf/dl and term_stats
    keeps cf); only the kernel's weight and impact formulas switch, so
    one build serves all three. Non-BM25 similarities require
    strategy='taat' (stored block maxima are BM25 bounds).

    ``doc_filter`` (Lucene filter context — round 4): a DataFrame with a
    ``doc_id`` column; only member docs are RANKED (masked before top-k
    truncation, like tombstones), while scores keep full-corpus statistics
    — exactly Lucene's non-scoring filter clause. Colocated per bucket
    through the same (bucket, id array) join as deletions, so a scoring
    group only carries its own buckets' allow-lists. ``broadcast_filter``:
    keep True for selective filters (the common case); set False for
    corpus-scale filters, which then reach the join as a plain
    shuffle-eligible table.

    ``mode``: ``"or"`` (default) ranks any doc matching ≥1 query term —
    the engine's native disjunctive BM25. ``"and"`` ranks only docs
    matching EVERY query clause (Lucene default-AND; a fuzzy clause is
    satisfied by any of its expansions); scores are unchanged disjunctive
    sums, AND filters eligibility before top-k truncation. ``"and"``
    requires strategy='taat' (the WAND pivot walk is a disjunctive
    algorithm; Lucene likewise swaps algorithms for conjunctions).

    Contract: the `queries` batch is CLIENT-sized (≲10⁴ rows) — both query
    paths collect/broadcast it (the driver-side tokenize+expand path
    explicitly, the distributed path via broadcast joins). Corpus-sized
    "query" tables belong in a join against the tf table, not here.

    Distribution: the engine picks it (``auto_distribute``, from the
    batch size and the index's bucket count); no caller can override it.
    - ``"query"``: one scoring group per query — every posting row of the
      query's terms ships to one task. Fine up to medium indexes.
    - ``"bucket"``: one group per (query, shard of buckets) — the
      CLUSTER-scale path, taken for small batches (2–16 queries) over
      many-bucket indexes. Buckets are term-independent doc ranges, so a
      document's entire score accumulates inside exactly one group;
      per-group local top-k is therefore EXACT, and a tiny global window
      merge (`topk_merge_global`) ranks the k×shards candidates. A head
      term's postings spread over all shards instead of converging on one
      task — the same property the salted build merge relies on.

    Both distributions, both strategies, are rank-identical (tested).
    """
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    if strategy == "bmw" and not meta.get("bmw_safe", True):
        raise ValueError(
            "bmw strategy unavailable: the index was incrementally merged "
            "and avgdl grew past an encode-time avgdl, so stored block "
            "maxima are no longer sound upper bounds. Use strategy='taat' "
            "(exact) or re-encode/compact the index."
        )
    if mode == "and":
        if strategy != "taat":
            raise ValueError("mode='and' requires strategy='taat'")
    elif mode != "or":
        raise ValueError(f"unknown mode {mode!r}")
    if search_after is not None and strategy != "taat":
        raise ValueError("search_after requires strategy='taat'")
    prep = _prepare_query_scan(
        spark, idx, index_dir, queries, max_isin_terms,
        need_count=True,
    )
    if prep is None:
        return spark.createDataFrame([], TOPK_SCHEMA)
    postings, stats, qterms, n_queries, m_map = prep
    if mode == "and" and m_map is None:
        # Distributed-expansion path only: the driver prep derives m_map
        # for free, so this extra collect never runs under the vocab cap.
        m_map = {
            int(r["query_id"]): len(tokenize_text(r["text"]))
            for r in queries.select("query_id", "text").collect()
        }
    if mode != "and":
        m_map = None
    return _score_filtered(
        spark, meta, postings, stats, qterms, n_queries, k, strategy,
        index_dir, mode, m_map, doc_filter, broadcast_filter,
        similarity=similarity, after_map=search_after,
    )


def _prepare_query_scan(
    spark: SparkSession,
    idx: dict,
    index_dir: str,
    queries: DataFrame,
    max_isin_terms: int,
    need_count: bool,
):
    """Shared query prep for every index-backed scoring surface: tokenize +
    fuzzy-expand (fully driver-side under DRIVER_EXPAND_VOCAB_CAP — zero
    Spark jobs before the scoring job itself), filter postings/stats to
    the expanded term set (IN-list pushdown or broadcast semi-join).
    Returns (postings, stats, qterms, n_queries) or None when the batch
    expands to no index terms."""
    meta = idx["meta"]
    scan = idx["postings"].select(*POSTING_SCORE_COLS)
    if meta.get("vocab_size") and meta["vocab_size"] <= DRIVER_EXPAND_VOCAB_CAP:
        qrows, n_queries, m_map = _local_query_term_rows(
            queries, _driver_vocab(spark, index_dir, meta)
        )
        if not qrows:
            return None
        # LocalRelation (no parallelize job) — the table is broadcast-
        # joined, and a parallelized build costs a 32-task job per call.
        qterms = local_rows_df(
            spark, qrows, "query_id long, clause int, term string"
        )
        all_terms = sorted({t for *_, t in qrows})
        # term_filter: IN-list pushdown (PLANS.md: PushedFilters In(term, …))
        # up to the cap, broadcast left-semi join beyond.
        postings = term_filter(scan, all_terms, max_isin_terms)
        stats = term_filter(
            idx["term_stats"], all_terms, max_isin_terms
        ).select("term", "df", "cf")
    else:
        m_map = None
        qterms = expanded_query_terms(
            queries, idx["term_stats"], idx.get("trigrams")
        ).cache()
        postings, stats, _ = _filter_by_qterms(
            idx, scan, qterms, max_isin_terms
        )
        if postings is None:
            return None
        n_queries = queries.count() if need_count else 0
    return postings, stats, qterms, n_queries, m_map


def scoring_shards(meta: dict, parallelism: int) -> int:
    """The shared bucket→shard fanout rule (``_score_filtered``'s bucket
    distribution and the fused multifield kernels): cap group count at
    ~4×cores, because per-group pandas overhead is real. Exact under ANY
    partition of buckets: a doc's postings all live in its one bucket, so
    its whole score accumulates in one shard."""
    n_buckets = -(-meta["n_docs"] // meta["bucket_size"])
    return max(1, min(n_buckets, 4 * parallelism))


def match_counts_indexed(
    spark: SparkSession, index_dir: str, queries: DataFrame
) -> DataFrame:
    """The reference-faithful output: per query, TOTAL number of matching
    token positions across the corpus (the n_matches vector of
    src/apm1.c:197-203 / O13), resolved through term_stats.cf — no posting
    decode needed."""
    idx = load_index(spark, index_dir)
    meta = idx["meta"]
    if meta.get("vocab_size") and meta["vocab_size"] <= DRIVER_EXPAND_VOCAB_CAP:
        qrows, _, _ = _local_query_term_rows(
            queries, _driver_vocab(spark, index_dir, meta)
        )
        qterms = local_rows_df(
            spark, qrows, "query_id long, clause int, term string"
        )
    else:
        qterms = expanded_query_terms(
            queries, idx["term_stats"], idx.get("trigrams")
        )
    joined = qterms.join(
        idx["term_stats"].select("term", "cf"), "term"
    )
    return (
        queries.select("query_id")
        .join(
            joined.groupBy("query_id").agg(F.sum("cf").alias("n_matches")),
            "query_id",
            "left",
        )
        .select(
            "query_id", F.coalesce("n_matches", F.lit(0)).alias("n_matches")
        )
    )


def topk_merge_global(local_topk: DataFrame, k: int = 10) -> DataFrame:
    """Final global top-k merge when scoring emitted per-shard candidates
    (cluster path): window over (query_id) with the shared ranking key."""
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), ROUND_RANK).desc(), F.col("doc_id").asc()
    )
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
