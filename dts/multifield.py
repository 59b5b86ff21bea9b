"""Multi-field indexing: field-scoped queries + per-field boosts.

A code-search user queries ``path:util parse`` — some clauses scoped to a
metadata field, the rest against the default content field. Lucene models
this as one index with field-prefixed terms; the Spark-native shape here
is one SUB-INDEX per field (``<out>/field=<col>/`` — each a complete,
independently usable index built by the unchanged ``build_index``), all
sharing the same doc_id space. This buys:

- per-field statistics for free (df/avgdl are naturally per-field — the
  BM25F-lite requirement — because each sub-index computes its own);
- total layout isolation: a content-only query never reads path postings
  (a different directory, not just a different column);
- build/merge/compact/delete reuse verbatim per field.

Scoring: score(q, d) = Σ_field boost_f · BM25_f(q_f, d) — each field's
disjunctive BM25 over the clauses scoped to it, weighted and summed, then
one global top-k window (round-9 key, doc_id tiebreak — the engine-wide
ranking contract). This is Lucene's multi-field BooleanQuery semantics
(per-field idf), not the single-merged-statistics BM25F variant — the
difference is documented, and the oracle implements the same formula.

Query syntax: whitespace-split; a clause ``f:rest`` with ``f`` a known
field routes to that field, anything else goes to ``default_field``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from dts.io import local_rows_df

from dts.index_build import build_index, load_meta
from dts.score_index import (
    MAX_ISIN_TERMS,
    ROUND_RANK,
    TOPK_SCHEMA,
    bm25_topk_indexed,
    scoring_shards,
    topk_merge_global,
)
from dts.session import run_parallel


def _fused_scorer(
    field_stats: dict,
    k: int,
    strategy: str = "taat",
    m_map: dict[int, int] | None = None,
    combine: str = "sum",
    tie_breaker: float = 0.0,
):
    """Per-(query, shard) kernel scoring ALL fields of a multifield index
    in one pass: clause rows (and phrase synthetic rows) from every field
    arrive in one group, and the group emits its local top-k directly —
    no candidate emission, no cross-field hash agg, no filter join.
    Exact per group: sub-indexes share doc_ids and bucket geometry, so a
    doc's whole multi-field evidence lives in its one shard.

    - ``taat``: per field, row contributions accumulate in the engine's
      fixed ascending (term, bucket) order over the field's live docs
      (tombstones masked per field); required-clause (role 1) and
      excluded (role 2) membership is counted per doc ACROSS fields, the
      group keeps docs with Σreq == m ∧ ¬excl (``m_map``; 0 for a query
      with no required clause), and fields combine in sorted field order
      as Σ boost·acc (``combine="sum"``) or Lucene dismax. Scores are
      bit-identical to the per-field oracle sum for ≤2 fields (two-addend
      IEEE754 sums commute). Rows without a ``role`` column are role 0.
    - ``bmw``: one block-max WAND walk over ALL fields' cursors — weight
      = boost·idf, per-cursor avgdl and tombstones (dts.wand). Plain
      disjunctive rows only; rank-identical at the round-9 key."""
    import numpy as np
    import pandas as pd

    from dts.codec import bm25_idf, bm25_impact, packed_rows
    from dts.delete import bucket_ids
    from dts.score_index import clause_sets, row_contributions
    from dts.wand import bmw_topk

    m_map = m_map or {}

    def _frame(query_id, docs, scores) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "query_id": np.full(len(docs), query_id, dtype=np.int64),
                "doc_id": np.asarray(docs, dtype=np.int64),
                "score": np.asarray(scores, dtype=np.float64),
            }
        )

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        query_id = int(pdf["query_id"].iloc[0])
        m = m_map.get(query_id, 0)
        cursors = []  # bmw: one cursor per posting row, every field
        # Per field: candidate docs (ANY clause), scoring accumulation,
        # per-required-clause doc sets, excluded doc set — each masked by
        # that field's tombstones.
        f_parts = []  # (uniq_f, boost*acc_f)
        req_sets: list[np.ndarray] = []  # one per (field, required clause)
        excl_sets: list[np.ndarray] = []
        for f_name in sorted(field_stats):
            g = pdf[pdf["field"] == f_name]
            if not len(g):
                continue
            st = field_stats[f_name]
            g = g.sort_values(["term", "bucket"], kind="mergesort")
            idf = bm25_idf(st["n_docs"], g["df"].to_numpy(np.float64))
            if "boost" in g.columns:
                # Per-row query boosts (term^2 in the grammar) — on top
                # of the per-FIELD boost applied at the combine below.
                bv = g["boost"].to_numpy(np.float64)
                idf = idf * np.where(np.isnan(bv), 1.0, bv)
            role_vals = (
                g["role"].to_numpy()
                if "role" in g.columns
                else np.zeros(len(g), dtype=np.int64)
            )
            packs = packed_rows(g, st["block_size"])
            dead = (
                bucket_ids(g, "_del_ids") if "_del_ids" in g.columns
                else None
            )
            if strategy == "bmw":
                if (role_vals != 0).any() or any(p is None for p in packs):
                    raise ValueError(
                        "required/excluded and synthetic clause rows "
                        "require strategy='taat'"
                    )
                cursors.extend(
                    (
                        f"{f_name}:{term}",
                        st["boost"] * float(w),
                        p,
                        st["avgdl"],
                        dead,
                    )
                    for term, w, p in zip(g["term"].tolist(), idf, packs)
                )
                continue
            avgdl = st["avgdl"]
            docs_parts, contribs = row_contributions(
                g, packs, idf, lambda i, tf, dl: bm25_impact(tf, dl, avgdl)
            )
            if not docs_parts:
                continue
            uniq_f = np.unique(np.concatenate(docs_parts))
            if dead is not None:
                uniq_f = uniq_f[~np.isin(uniq_f, dead, assume_unique=True)]
            if not len(uniq_f):
                continue
            acc_f = np.zeros(len(uniq_f), dtype=np.float64)
            for i, (d, c) in enumerate(zip(docs_parts, contribs)):
                if role_vals[i] == 2:
                    continue
                pos = np.minimum(np.searchsorted(uniq_f, d), len(uniq_f) - 1)
                valid = uniq_f[pos] == d
                acc_f[pos[valid]] += c[valid]
            f_parts.append((uniq_f, st["boost"] * acc_f))

            def _live(s):
                # req/excl membership must ignore THIS field's tombstones:
                # a deleted doc's clause memberships in this field never
                # count.
                if dead is None or not len(s):
                    return s
                return s[~np.isin(s, dead, assume_unique=True)]

            clause_vals = g["clause"].to_numpy()
            for s in clause_sets(
                docs_parts,
                g["term"].to_numpy(),
                [
                    np.flatnonzero((clause_vals == cl) & (role_vals == 1))
                    for cl in np.unique(clause_vals[role_vals == 1])
                ],
            ):
                s = _live(s)
                if len(s):
                    req_sets.append(s)
            neg_idx = np.flatnonzero(role_vals == 2)
            if len(neg_idx):
                ex = _live(
                    np.unique(np.concatenate([docs_parts[i] for i in neg_idx]))
                )
                if len(ex):
                    excl_sets.append(ex)
        if strategy == "bmw":
            ranked = bmw_topk(cursors, k, avgdl=0.0)
            return _frame(
                query_id, [d for d, _ in ranked], [s for _, s in ranked]
            )
        if not f_parts:
            return _frame(query_id, [], [])
        union = f_parts[0][0]
        for u, _ in f_parts[1:]:
            union = np.union1d(union, u)
        total = np.zeros(len(union), dtype=np.float64)
        mx = np.zeros(len(union), dtype=np.float64)
        for u, a in f_parts:
            pos = np.searchsorted(union, u)
            total[pos] += a
            if combine == "dismax":
                # One (u, a) pair per field with unique positions, so a
                # fancy-indexed elementwise max is exact. Contributions
                # are >= 0 (idf = log(1+x), boosts >= 0), so the
                # 0-initialized max equals the max over MATCHING fields
                # — Lucene DisjunctionMaxQuery over the present
                # subqueries.
                mx[pos] = np.maximum(mx[pos], a)
        if combine == "dismax":
            total = mx + tie_breaker * (total - mx)
        req = np.zeros(len(union), dtype=np.int64)
        for s in req_sets:
            pos = np.minimum(np.searchsorted(s, union), len(s) - 1)
            req += (s[pos] == union).astype(np.int64)
        keep = req == m
        for s in excl_sets:
            pos = np.minimum(np.searchsorted(s, union), len(s) - 1)
            keep &= s[pos] != union
        union, total = union[keep], total[keep]
        key = np.round(total, ROUND_RANK)
        order = np.lexsort((union, -key))[:k]
        return _frame(query_id, union[order], total[order])

    return score_group


def check_shared_geometry(
    metas: dict[str, dict], keys: tuple[str, ...] = ("bucket_size",)
) -> None:
    """Raise ``ValueError`` unless every sub-index meta agrees on ``keys``.
    The fused multifield paths shard by bucket across fields, which is
    exact only when all sub-indexes share one bucket geometry."""
    for key in keys:
        vals = {f: metas[f][key] for f in sorted(metas)}
        if len(set(vals.values())) > 1:
            raise ValueError(
                f"multifield sub-indexes disagree on {key}: {vals}; the "
                "fields must share one doc set and bucket geometry "
                "(rebuild them with one build_multifield_index call)"
            )


def fused_multifield_topk(
    spark: SparkSession,
    out_dir: str,
    fields: dict[str, float],
    touched: list[str],
    field_leg,
    k: int,
    strategy: str = "taat",
    m_map: dict[int, int] | None = None,
    combine: str = "sum",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """The one (query, shard) plan over a multifield index, shared by
    :func:`bm25_topk_multifield` and ``dts.parser.search_fields``: per
    touched field, the caller's pruned posting rows broadcast-join their
    term stats and query-term rows, tombstones join per field, phrase
    synthetic rows union in after them, and the field-tagged legs union
    into ONE mapInPandas pass per (query, shard) running
    :func:`_fused_scorer`; ``topk_merge_global`` ranks the k×shards
    survivors. Exact: local top-k under the global ranking key restricted
    to disjoint shards can never drop a global top-k doc.

    ``field_leg(f_name, idx)`` returns ``(postings, stats, qterms, syn)``
    for one touched field (``idx`` is its ``load_index`` handle; ``syn``
    may be None), or None when the field contributes no rows. The
    sub-index metas are checked for one bucket geometry first
    (``ValueError`` otherwise); ``scoring_shards`` sets the fanout."""
    import pandas as pd

    from dts.delete import has_deletes, join_deletes
    from dts.score_index import load_index

    sub_metas = {f: load_meta(f"{out_dir}/field={f}") for f in touched}
    check_shared_geometry(sub_metas)
    if strategy == "bmw":
        for f_name, meta in sub_metas.items():
            if not meta.get("bmw_safe", True):
                raise ValueError(
                    f"bmw strategy unavailable: sub-index field={f_name} "
                    "has stale block maxima; use 'taat' or compact"
                )
    n_shards = scoring_shards(
        next(iter(sub_metas.values())), spark.sparkContext.defaultParallelism
    )
    field_stats: dict[str, dict] = {}
    legs = []
    for f_name in touched:
        sub_dir = f"{out_dir}/field={f_name}"
        meta = sub_metas[f_name]
        field_stats[f_name] = {
            "n_docs": float(meta["n_docs"]),
            "avgdl": float(meta["avgdl"]),
            "boost": float(fields[f_name]),
            "block_size": meta["block_size"],
        }
        leg = field_leg(f_name, load_index(spark, sub_dir))
        if leg is None:
            continue
        postings, stats, qterms, syn = leg
        rows = postings.join(F.broadcast(stats), "term").join(
            F.broadcast(qterms), "term"
        )
        if has_deletes(sub_dir):
            rows = join_deletes(rows, spark, sub_dir, meta)
        if syn is not None:
            rows = rows.unionByName(syn, allowMissingColumns=True)
        legs.append(rows.withColumn("field", F.lit(f_name)))
    if not legs:
        return spark.createDataFrame([], TOPK_SCHEMA)
    union = legs[0]
    for leg in legs[1:]:
        union = union.unionByName(leg, allowMissingColumns=True)
    union = union.withColumn(
        "shard", F.pmod(F.col("bucket"), F.lit(n_shards)).cast("int")
    )
    scorer = _fused_scorer(
        field_stats, k, strategy, m_map, combine, tie_breaker
    )
    n_parts = max(1, 2 * spark.sparkContext.defaultParallelism)
    src = union.repartition(n_parts, "query_id", "shard")

    def score_partition(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        for _, g in pdf.groupby(["query_id", "shard"], sort=False):
            yield scorer(g)

    local = src.mapInPandas(
        score_partition, "query_id long, doc_id long, score double"
    )
    return topk_merge_global(local, k).select(
        "query_id", "doc_id", "score", F.col("rank").cast("int").alias("rank")
    )


def build_multifield_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    fields: dict[str, float],
    **build_kwargs,
) -> dict:
    """One sub-index per field column at ``<out>/field=<col>``; ``fields``
    maps doc column → boost. ``docs`` needs doc_id + the field columns.
    Returns the multifield meta (also persisted as ``<out>/meta.json``).

    Field sub-builds are independent (disjoint output dirs, each scans its
    own column) and run CONCURRENTLY from a small thread pool so one
    field's straggler tail back-fills with the next field's tasks
    (optimization guide §2.6) instead of serializing the builds."""

    def _one(col: str) -> None:
        build_index(
            spark,
            docs.select("doc_id", F.col(col).alias("content")),
            f"{out_dir}/field={col}",
            **build_kwargs,
        )

    run_parallel([lambda c=c: _one(c) for c in fields], max_workers=2)
    meta = {"fields": {c: float(b) for c, b in fields.items()}}
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/meta.json", "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)
    return meta


def parse_field_query(
    text: str, fields: dict[str, float], default_field: str
) -> dict[str, str]:
    """field → sub-query text. ``f:rest`` clauses route to field f (when
    known); everything else concatenates onto the default field."""
    out: dict[str, list[str]] = {}
    for clause in (text or "").split():
        field, sep, rest = clause.partition(":")
        if sep and field in fields and rest:
            out.setdefault(field, []).append(rest)
        else:
            out.setdefault(default_field, []).append(clause)
    return {f: " ".join(parts) for f, parts in out.items()}


def load_multifield_meta(out_dir: str) -> dict:
    with open(f"{out_dir}/meta.json") as f:
        return json.load(f)


def bm25_topk_multifield(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    k: int = 10,
    strategy: str = "taat",
    default_field: str | None = None,
) -> DataFrame:
    """Top-k over a multifield index. ``queries`` needs (query_id, text
    [, fuzzy_k]); clause routing per ``parse_field_query``. Returns the
    engine-standard (query_id, doc_id, score, rank).

    One execution path at every bucket count: the shared fused plan
    (:func:`fused_multifield_topk`) over each field's fuzzy-expanded,
    pruned posting rows. Sub-indexes share doc_ids AND bucket boundaries,
    so a document's entire multi-field score lives in ONE bucket shard
    across all fields; each (query, shard) group scores all fields and
    emits its local top-k. With strategy='bmw' the kernel runs a single
    block-max WAND walk across all fields' cursors (per-cursor boost·idf
    weight, avgdl, tombstones)."""
    from dts.score_index import _prepare_query_scan

    meta = load_multifield_meta(out_dir)
    fields: dict[str, float] = meta["fields"]
    if default_field is None:
        default_field = (
            "content" if "content" in fields else next(iter(sorted(fields)))
        )
    has_fk = "fuzzy_k" in queries.columns
    rows = queries.select(
        "query_id", "text", *(["fuzzy_k"] if has_fk else [])
    ).collect()
    per_field: dict[str, list[tuple[int, str, int]]] = {}
    for r in rows:
        fk = int(r["fuzzy_k"] or 0) if has_fk else 0
        for f_name, sub in parse_field_query(
            r["text"], fields, default_field
        ).items():
            per_field.setdefault(f_name, []).append(
                (int(r["query_id"]), sub, fk)
            )
    if not per_field:
        return spark.createDataFrame([], TOPK_SCHEMA)

    def field_leg(f_name: str, idx: dict):
        sub_q = local_rows_df(
            spark, per_field[f_name], "query_id long, text string, fuzzy_k int"
        )
        prep = _prepare_query_scan(
            spark, idx, f"{out_dir}/field={f_name}", sub_q, MAX_ISIN_TERMS,
            need_count=False,
        )
        return None if prep is None else (*prep[:3], None)

    return fused_multifield_topk(
        spark, out_dir, fields, sorted(per_field), field_leg, k, strategy
    )


def cross_fields_topk(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    k: int = 10,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """ES ``multi_match type=cross_fields`` — the third multi_match type
    beside most_fields (:func:`bm25_topk_multifield`'s weighted sum) and
    best_fields (``combine="dismax"``): TERM-centric scoring where the
    fields act as one big field. For each query term, a blended term
    query runs against every field with the df REPLACED by the blended
    df = max over fields (Lucene BlendedTermQuery's blend — it equalizes
    idf so a term that is rare in one field but common in another can't
    win on rarity alone), then per doc the term's score is
    max + tie_breaker·(sum − max) over the per-field boosted scores, and
    the query score is the sum over terms. Duplicate query terms score
    once per occurrence (clause), like ES.

    Implementation: BM25's impact is LINEAR in idf, so the blend needs no
    kernel change — each field scores one-term pseudo-queries through the
    unchanged :func:`bm25_topk_indexed` kernel, and the driver applies
    boost_f · idf(df_blend)/idf(df_f) as a per-(field, term) multiplier
    (dfs are client-sized: the distinct query terms against each field's
    term_stats). One scoring job per field, then two map-side-combinable
    hash aggs (per-term dismax, per-query sum) and the engine-standard
    top-k window. The per-(term, field) match-set materialization is the
    TAAT shape the kernel already uses, one row per posting of the query
    terms — no corpus scan.

    Deltas vs ES (documented): fuzziness is not composed (ES itself
    rejects fuzziness with cross_fields); ttf blending is irrelevant (BM25
    here doesn't use ttf); fields must share the analyzer (true by
    construction — one tokenizer engine-wide).
    """
    import math

    from dts.tokenizer import tokenize_text

    meta = load_multifield_meta(out_dir)
    boosts: dict[str, float] = meta["fields"]
    rows = queries.select("query_id", "text").collect()
    occ: list[tuple[int, int, int]] = []
    terms_seen: dict[str, int] = {}
    for r in rows:
        for clause, t in enumerate(tokenize_text(r["text"])):
            tid = terms_seen.setdefault(t, len(terms_seen))
            occ.append((int(r["query_id"]), clause, tid))
    empty = spark.createDataFrame([], TOPK_SCHEMA)
    if not occ:
        return empty
    terms = sorted(terms_seen, key=terms_seen.get)
    dfs: dict[str, dict[str, int]] = {}
    n_docs = None
    for f_name in sorted(boosts):
        sub = f"{out_dir}/field={f_name}"
        n_docs = int(load_meta(sub)["n_docs"])
        st = (
            spark.read.parquet(f"{sub}/term_stats")
            .filter(F.col("term").isin(terms))
            .select("term", "df")
            .collect()
        )
        dfs[f_name] = {r["term"]: int(r["df"]) for r in st}

    def idf(df: int) -> float:
        return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))

    blend = {t: max(dfs[f].get(t, 0) for f in boosts) for t in terms}
    parts = []
    for f_name in sorted(boosts):
        present = [t for t in terms if dfs[f_name].get(t)]
        if not present:
            continue
        pq = local_rows_df(
            spark,
            [(terms_seen[t], t) for t in present], "query_id long, text string"
        )
        mult = local_rows_df(
            spark,
            [
                (
                    terms_seen[t],
                    float(boosts[f_name]) * idf(blend[t]) / idf(dfs[f_name][t]),
                )
                for t in present
            ],
            "query_id long, mult double",
        )
        scored = bm25_topk_indexed(
            spark, f"{out_dir}/field={f_name}", pq, k=n_docs
        )
        parts.append(
            scored.join(F.broadcast(mult), "query_id").select(
                F.col("query_id").alias("t_id"),
                "doc_id",
                (F.col("score") * F.col("mult")).alias("fscore"),
            )
        )
    if not parts:
        return empty
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    per_term = union.groupBy("t_id", "doc_id").agg(
        (
            F.max("fscore")
            + F.lit(float(tie_breaker)) * (F.sum("fscore") - F.max("fscore"))
        ).alias("tscore")
    )
    occ_df = local_rows_df(spark, occ, "query_id long, clause int, t_id long")
    total = (
        per_term.join(F.broadcast(occ_df), "t_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("tscore").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), ROUND_RANK).desc(), F.col("doc_id").asc()
    )
    return (
        total.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "doc_id", "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _decoded_tf_rows(pruned: DataFrame, meta: dict) -> DataFrame:
    """(term, bucket, doc_id, tf) rows from coded posting rows — ONE
    mapInPandas decode pass; tombstones (``_del_ids``, bucket-colocated)
    are masked during the explode so dead docs never reach the agg."""
    block_size = int(meta["block_size"])

    def explode(batches):
        import numpy as np
        import pandas as pd

        from dts.codec import decode_postings, packed_rows

        for pdf in batches:
            outs = []
            for term, bucket, dead, p in zip(
                pdf["term"].tolist(),
                pdf["bucket"].tolist(),
                pdf["_del_ids"].tolist(),
                packed_rows(pdf, block_size),
            ):
                d, tf, _dl = decode_postings(p)
                if dead is not None:
                    arr = np.asarray(dead, dtype=np.int64)
                    if len(arr):
                        live = ~np.isin(d, arr)
                        d, tf = d[live], tf[live]
                if not len(d):
                    continue
                outs.append(
                    pd.DataFrame(
                        {
                            "term": term,
                            "bucket": np.int32(bucket),
                            "doc_id": d.astype(np.int64),
                            "tf": tf.astype(np.int64),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return pruned.mapInPandas(
        explode, "term string, bucket int, doc_id long, tf long"
    )


def combined_fields_topk(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    k: int = 10,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """ES ``multi_match type=combined_fields`` / Lucene sandbox
    ``CombinedFieldQuery`` — true BM25F-style scoring, the FOURTH
    multifield model beside most_fields (weighted per-field BM25 sum),
    best_fields (dismax) and cross_fields (blended df): the fields are
    merged into one pseudo-field BEFORE saturation, so a term hitting two
    fields saturates ONCE on the combined frequency instead of earning two
    independent saturation curves.

    Per doc d and term t, with per-field weights w_f:

        wtf(t, d)  = Σ_f w_f · tf_f(t, d)         (combined frequency)
        dlc(d)     = Σ_f w_f · dl_f(d)            (combined length)
        avgdlc     = Σ_f w_f · avgdl_f            (exact mean of dlc when
                                                   every doc has every
                                                   field — true here by
                                                   construction)
        df_c(t)    = min(n_docs, Σ_f df_f(t))     (Lucene's merged
                                                   TermStatistics: summed
                                                   docFreq clamped to
                                                   maxDoc)
        score(q,d) = Σ_t idf(df_c) · wtf·(k1+1) / (wtf + k1·(1−b+b·dlc/avgdlc))

    Duplicate query terms score once per occurrence (ES parity). Weights
    default to the index meta's per-field boosts and may be overridden
    per call (ES: per-query field^weight).

    Plan shape (everything after the decode is JVM expressions):
    per field, IN-list-pruned posting rows → one mapInPandas decode with
    tombstone masking (`_decoded_tf_rows`) → weighted union → ONE hash agg
    per (term, bucket, doc) for wtf (≤ |fields| addends — map-side
    combinable) → join the combined-length frame (a full-outer join of the
    fields' slim (doc_id, dl) sidecars, weighted in sorted field order) →
    idf/saturation as a codegen expression → per-(query, shard) bounded
    top-k windows + `topk_merge_global` (the engine-standard exactness
    argument: shards partition disjoint doc ranges).

    df_c and avgdlc are driver-side scalars (client-sized term_stats
    collects — the driver-side query path invariant).

    Delta vs Lucene (documented): Lucene derives avgdl from merged
    sumTotalTermFreq at query time; with every doc carrying every field,
    Σ_f w_f · avgdl_f is the same number computed from the per-field
    sidecars the index already has.
    """
    from dts.delete import has_deletes, join_deletes
    from dts.score import B, K1
    from dts.score_index import (
        POSTING_SCORE_COLS,
        load_index,
        term_filter,
        topk_merge_global,
    )
    from dts.tokenizer import tokenize_text

    meta = load_multifield_meta(out_dir)
    fields = {
        f: float(w) for f, w in (weights or meta["fields"]).items()
    }
    rows = queries.select("query_id", "text").collect()
    occ: list[tuple[int, int, str]] = []
    for r in rows:
        for clause, t in enumerate(tokenize_text(r["text"])):
            occ.append((int(r["query_id"]), clause, t))
    empty = spark.createDataFrame([], TOPK_SCHEMA)
    if not occ:
        return empty
    terms = sorted({t for *_, t in occ})

    sub_metas = {f: load_meta(f"{out_dir}/field={f}") for f in fields}
    check_shared_geometry(sub_metas, ("n_docs", "bucket_size"))
    any_meta = sub_metas[min(fields)]
    n_docs = int(any_meta["n_docs"])
    avgdlc = 0.0
    df_sum: dict[str, int] = {}
    legs = []
    for f_name in sorted(fields):
        w = fields[f_name]
        sub = f"{out_dir}/field={f_name}"
        idx = load_index(spark, sub)
        m = sub_metas[f_name]
        avgdlc += w * float(m["avgdl"])
        for r in term_filter(
            idx["term_stats"].select("term", "df"), terms
        ).collect():
            df_sum[r["term"]] = df_sum.get(r["term"], 0) + int(r["df"])
        pruned = term_filter(
            idx["postings"].select(*POSTING_SCORE_COLS), terms
        )
        if has_deletes(sub):
            pruned = join_deletes(pruned, spark, sub, m)
        else:
            pruned = pruned.withColumn(
                "_del_ids", F.lit(None).cast("array<bigint>")
            )
        legs.append(
            _decoded_tf_rows(pruned, m).select(
                "term",
                "bucket",
                "doc_id",
                (F.col("tf").cast("double") * F.lit(w)).alias("wtf"),
            )
        )
    if not df_sum or avgdlc <= 0.0:
        return empty

    union = legs[0]
    for leg in legs[1:]:
        union = union.unionByName(leg)
    tfc = union.groupBy("term", "bucket", "doc_id").agg(
        F.sum("wtf").alias("wtf")
    )

    # Combined per-doc length: weighted sum of the fields' slim
    # (doc_id, dl) sidecars in SORTED field order (the oracle mirrors the
    # same order — addition order is pinned, not assumed).
    dlc = None
    dl_cols = []
    for f_name in sorted(fields):
        col = f"_dl_{f_name}"
        ds = spark.read.parquet(
            f"{out_dir}/field={f_name}/doc_stats"
        ).select(
            "doc_id",
            (F.col("dl").cast("double") * F.lit(fields[f_name])).alias(col),
        )
        dlc = ds if dlc is None else dlc.join(ds, "doc_id", "full_outer")
        dl_cols.append(col)
    dlc_expr = F.coalesce(F.col(dl_cols[0]), F.lit(0.0))
    for c in dl_cols[1:]:
        dlc_expr = dlc_expr + F.coalesce(F.col(c), F.lit(0.0))
    dlc = dlc.select("doc_id", dlc_expr.alias("dlc"))

    import math

    idf_rows = [
        (
            t,
            math.log(
                1.0
                + (n_docs - min(n_docs, dfc) + 0.5)
                / (min(n_docs, dfc) + 0.5)
            ),
        )
        for t, dfc in sorted(df_sum.items())
    ]
    idf_df = local_rows_df(spark, idf_rows, "term string, idf double")
    occ_df = local_rows_df(
        spark,
        occ, "query_id long, clause int, term string"
    )

    contrib = (
        tfc.join(dlc, "doc_id")
        .join(F.broadcast(idf_df), "term")
        .withColumn(
            "contrib",
            F.col("idf")
            * (
                F.col("wtf")
                * F.lit(K1 + 1.0)
                / (
                    F.col("wtf")
                    + F.lit(K1)
                    * (
                        F.lit(1.0 - B)
                        + F.lit(B) * F.col("dlc") / F.lit(avgdlc)
                    )
                )
            ),
        )
        .join(F.broadcast(occ_df), "term")
    )
    total = contrib.groupBy("query_id", "bucket", "doc_id").agg(
        F.sum("contrib").alias("score")
    )
    n_shards = scoring_shards(any_meta, spark.sparkContext.defaultParallelism)
    total = total.withColumn(
        "shard", F.pmod(F.col("bucket"), F.lit(n_shards)).cast("int")
    )
    w_local = Window.partitionBy("query_id", "shard").orderBy(
        F.round(F.col("score"), ROUND_RANK).desc(), F.col("doc_id").asc()
    )
    local = (
        total.withColumn("_r", F.row_number().over(w_local))
        .filter(F.col("_r") <= k)
        .select("query_id", "doc_id", "score")
    )
    return topk_merge_global(local, k).select(
        "query_id", "doc_id", "score", F.col("rank").cast("int").alias("rank")
    )
