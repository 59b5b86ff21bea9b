"""Doc-values queries over the stored-fields sidecar: range filters,
sort-by-field, field collapsing.

Lucene keeps per-document metadata in columnar DocValues and answers
three staples from it without touching postings: range queries
(NumericRangeQuery / TermRangeQuery), sorting results by a field value
(Sort / SortField), and field collapsing (grouping — one best hit per
value of a field). This engine's analogue is the ``doc_meta`` sidecar
written by ``build_index(store_fields=[...])`` (dts/index_build.py):
a doc_id-sorted, column-pruned parquet projection that tracks merges and
deletion-applying compaction.

Scale notes (the reason these live on the sidecar, not the source table):

- ``range_docs`` is ONE pushed-down scan of the sidecar — the range
  predicate reaches the parquet reader (min/max row-group stats prune),
  and only (doc_id, field) columns are read. The output is an allow-list
  in the engine's standard filter-context shape, colocated per bucket by
  the scoring join exactly like tombstones (dts/score_index.py
  ``_ids_by_bucket``).
- ``sort_topk`` is Catalyst's TakeOrderedAndProject: per-partition
  top-k, then a k-sized merge — never a full sort of the match set.
- ``collapse_topk`` is a partial+final hash aggregation (``max`` over a
  comparable struct), so the per-group best hit reduces map-side; the
  grouped cardinality (distinct field values), not the candidate count,
  reaches the final exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dts.score_index import ROUND_RANK


def sidecar(spark: SparkSession, index_dir: str, need: list[str]) -> DataFrame:
    """The index's doc_meta projection, validated to carry ``need``."""
    from dts.index_build import load_meta

    stored = load_meta(index_dir).get("store_fields") or []
    missing = [f for f in need if f not in stored]
    if missing:
        raise ValueError(
            f"fields {missing} not stored in this index (store_fields="
            f"{stored}); rebuild with build_index(store_fields=[...])"
        )
    return spark.read.parquet(f"{index_dir}/doc_meta")


def update_doc_values(
    spark: SparkSession,
    index_dir: str,
    updates: DataFrame,
    fields: list[str],
) -> dict:
    """Lucene doc-values updates: change STORED FIELD values of existing
    docs without touching postings — the metadata-refresh path (a doc's
    popularity score, its freshness timestamp, a moderation flag) that
    must not cost a reindex. ``updates`` carries (doc_id, *fields);
    listed fields are overwritten for the given docs (others keep their
    values), unknown doc_ids are ignored (they have no sidecar row to
    update — use upsert_docs/merge_index to add docs).

    Mechanics: ONE left join of the doc_id-sorted sidecar against the
    updates (broadcast when small — AQE decides), rewritten to a `_new`
    dir and os.replace'd, meta revision bumped so every process-level
    cache invalidates. Old files stay immutable (snapshots keep working).
    Every doc-value surface (range/sort/collapse/function_score/decay/
    facet sidecar) reads the new values immediately."""
    from dts.index_build import load_meta, save_meta

    import os
    import shutil

    meta = load_meta(index_dir)
    stored = meta.get("store_fields") or []
    missing = [f for f in fields if f not in stored]
    if missing:
        raise ValueError(
            f"fields {missing} not stored in this index "
            f"(store_fields={stored})"
        )
    bad_cols = [c for c in fields if c not in updates.columns]
    if bad_cols or "doc_id" not in updates.columns:
        raise ValueError(
            f"updates must carry doc_id + {fields}; has {updates.columns}"
        )
    dm = spark.read.parquet(f"{index_dir}/doc_meta")
    up = updates.select(
        "doc_id", *[F.col(f).alias(f"_up_{f}") for f in fields]
    )
    dup = up.groupBy("doc_id").count().filter("count > 1").limit(1).collect()
    if dup:
        raise ValueError(
            f"duplicate doc_id {int(dup[0]['doc_id'])} in updates batch"
        )
    merged = dm.join(up, "doc_id", "left").select(
        "doc_id",
        *[
            (
                F.coalesce(F.col(f"_up_{f}"), F.col(f)).alias(f)
                if f in fields
                else F.col(f)
            )
            for f in stored
        ],
    )
    par = spark.sparkContext.defaultParallelism
    tmp = f"{index_dir}/doc_meta_new"
    merged.repartitionByRange(max(1, par // 4), "doc_id").sortWithinPartitions(
        "doc_id"
    ).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(f"{index_dir}/doc_meta")
    os.replace(tmp, f"{index_dir}/doc_meta")
    return save_meta(index_dir, meta)


def _range_pred(side: DataFrame, rng: tuple) -> F.Column:
    """Boolean column for one (field, lo, hi, lo_incl, hi_incl) range.
    Endpoint literals are cast to the COLUMN's type (a numeric sidecar
    field compares numerically — Lucene's typed-field semantics); a
    ``None`` endpoint is open (Lucene ``[* TO x]``)."""
    field, lo, hi, lo_incl, hi_incl = rng
    col = F.col(field)
    dt = side.schema[field].dataType
    pred = col.isNotNull()
    if lo is not None:
        lov = F.lit(lo).cast(dt)
        pred = pred & (col >= lov if lo_incl else col > lov)
    if hi is not None:
        hiv = F.lit(hi).cast(dt)
        pred = pred & (col <= hiv if hi_incl else col < hiv)
    return pred


def range_docs(
    spark: SparkSession,
    index_dir: str,
    field: str,
    lo=None,
    hi=None,
    lo_incl: bool = True,
    hi_incl: bool = True,
) -> DataFrame:
    """(doc_id) allow-list: docs whose stored ``field`` lies in the range
    — Lucene TermRangeQuery / NumericRangeQuery on DocValues. Feed it to
    ``bm25_topk_indexed(doc_filter=...)`` (filter context: masked before
    top-k, full-corpus stats) or use it standalone as a match set. The
    predicate pushes down to the sidecar parquet scan."""
    side = sidecar(spark, index_dir, [field])
    return side.filter(
        _range_pred(side, (field, lo, hi, lo_incl, hi_incl))
    ).select("doc_id")


def range_filter_batch(
    spark: SparkSession, index_dir: str, by_qid: dict[int, dict]
) -> DataFrame:
    """Per-query allow-lists for a FUSED search batch: ``by_qid`` maps
    query_id → {"ranges": [...], "not_ranges": [...]} (tuples as in
    ``_range_pred``). Returns (query_id, doc_id) — the shape
    score_expanded_terms' per-query ``doc_filter`` expects (joined on
    (query_id, bucket), gated by ``filter_qids``). A doc is allowed iff
    it satisfies EVERY positive range and NO negated range. One pushed-
    down sidecar scan per query; Spark unions them into one job."""
    need = sorted(
        {r[0] for v in by_qid.values() for r in v["ranges"] + v["not_ranges"]}
    )
    side = sidecar(spark, index_dir, need)
    parts = []
    for qid in sorted(by_qid):
        pred = F.lit(True)
        for rng in by_qid[qid]["ranges"]:
            pred = pred & _range_pred(side, rng)
        for rng in by_qid[qid]["not_ranges"]:
            pred = pred & ~_range_pred(side, rng)
        parts.append(
            side.filter(pred).select(
                F.lit(qid).cast("long").alias("query_id"), "doc_id"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sort_topk(
    spark: SparkSession,
    index_dir: str,
    matches: DataFrame,
    field: str,
    k: int = 10,
    ascending: bool = True,
    key: str = "query_id",
) -> DataFrame:
    """Lucene Sort(SortField(field)): the top-k MATCHING docs ordered by
    a stored field's value instead of relevance. ``matches`` is any
    doc-granular query output carrying (``key``, doc_id) — boolean
    matches, phrase hits, a filter context. Ties break on doc_id
    ascending (Lucene's implicit tie-break is likewise the doc order).

    Returns (key, doc_id, <field>, rank). Plan: matches ⋈ sidecar on
    doc_id, then a per-key window top-k — the window partitions by the
    query key, so the sort is per-query and never global; at cluster
    scale the matches side is the hit set and the join is the same
    shuffle the engine's facet path pays."""
    side = sidecar(spark, index_dir, [field])
    from pyspark.sql import Window

    order = [
        F.col(field).asc() if ascending else F.col(field).desc(),
        F.col("doc_id").asc(),
    ]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        matches.select(key, "doc_id")
        .distinct()
        .join(side.select("doc_id", field), "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(key, "doc_id", field, "rank")
    )


def collapse_topk(
    candidates: DataFrame,
    side: DataFrame,
    field: str,
    k: int = 10,
    key: str = "query_id",
) -> DataFrame:
    """Lucene field collapsing (grouping): keep only the BEST-scoring doc
    per distinct value of ``field``, then rank the survivors — "one hit
    per repo/domain/author". ``candidates`` carries (``key``, doc_id,
    score) — a FULL candidate set (k=2**62 scoring output), since the
    best doc of a group may rank below k overall.

    Determinism: best-of-group and the final ranking both order by
    (round(score, ROUND_RANK) desc, doc_id asc) — the engine's shared
    rank contract. Docs with a NULL field value are dropped (Lucene's
    grouping likewise needs a group value).

    Plan: candidates ⋈ sidecar on doc_id, then ``max`` over a comparable
    struct grouped by (key, field) — a partial+final hash agg: each map
    task reduces its candidates to one row per group BEFORE the exchange,
    so the shuffle carries group cardinality, not candidate cardinality —
    then a per-key window over the (query × distinct-values)-sized
    survivor set."""
    from pyspark.sql import Window

    best = (
        candidates.select(key, "doc_id", "score")
        .join(side.select("doc_id", field), "doc_id")
        .filter(F.col(field).isNotNull())
        .groupBy(key, field)
        .agg(
            F.max(
                F.struct(
                    F.round("score", ROUND_RANK).alias("s_r"),
                    (-F.col("doc_id")).alias("neg_doc"),
                    F.col("doc_id").alias("doc_id"),
                    F.col("score").alias("score"),
                )
            ).alias("best")
        )
        .select(
            key,
            field,
            F.col("best.doc_id").alias("doc_id"),
            F.col("best.score").alias("score"),
        )
    )
    w = Window.partitionBy(key).orderBy(
        F.round("score", ROUND_RANK).desc(), F.col("doc_id").asc()
    )
    return (
        best.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(key, field, "doc_id", "score", "rank")
    )


def collapse_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    candidates: DataFrame,
    field: str,
    k: int = 10,
    key: str = "query_id",
) -> DataFrame:
    """collapse_topk over the index's own sidecar."""
    return collapse_topk(
        candidates, sidecar(spark, index_dir, [field]), field, k, key
    )


def function_score_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    field: str,
    k: int = 10,
    factor: float = 1.0,
    modifier: str = "log1p",
    boost_mode: str = "multiply",
    missing: float = 1.0,
    broadcast_dv: bool = True,
) -> DataFrame:
    """ES function_score / field_value_factor over the sidecar: rank by
    ``bm25 OP (factor · modifier(field))`` with OP = ``boost_mode``
    ('multiply' | 'sum') and modifier ∈ {'log1p', 'sqrt', 'none'}; docs
    without a stored value substitute ``missing`` BEFORE the modifier
    (ES semantics). The function applies INSIDE the scoring kernel,
    after accumulation and before top-k truncation — exact ranking, a
    k-heap per group, never a full-candidate emission.

    Plumbing: the sidecar's (doc_id, value) pairs aggregate to per-bucket
    sorted arrays and join the posting rows on the bucket key — the same
    colocated shape as tombstones and filter contexts, so a scoring
    group reassembles exactly its own buckets' values.
    ``broadcast_dv=False`` routes corpus-scale sidecars through the
    bucket-key shuffle instead. Requires strategy='taat' semantics (the
    stored block maxima bound raw BM25 only; Lucene likewise cannot use
    impacts under score transforms)."""
    if boost_mode not in ("multiply", "sum"):
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    if modifier not in ("log1p", "sqrt", "none"):
        raise ValueError(f"unknown modifier {modifier!r}")
    return _dv_scored(
        spark, index_dir, queries, field, k,
        (modifier, float(factor), boost_mode, float(missing)),
        broadcast_dv,
    )


def decay_score_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    field: str,
    origin: float,
    scale: float,
    kind: str = "gauss",
    offset: float = 0.0,
    decay: float = 0.5,
    k: int = 10,
    boost_mode: str = "multiply",
    missing: float | None = None,
    broadcast_dv: bool = True,
) -> DataFrame:
    """ES decay functions (function_score decay): rank by ``bm25 OP
    f(dist)`` where dist = max(|field − origin| − offset, 0) and f is

        gauss:  exp(−dist² / 2σ²),       σ² = −scale² / (2·ln decay)
        exp:    exp(λ·dist),             λ  = ln(decay) / scale
        linear: max((s − dist) / s, 0),  s  = scale / (1 − decay)

    — each parameterized so f(scale+offset) = ``decay``, exactly ES's
    contract ("documents at distance *scale* score *decay*"). The
    recency/geo-proximity boost of every search UI, here over any stored
    numeric doc value. ``missing`` defaults to ``origin`` (neutral:
    f(0 distance) = 1). Applied inside the kernel like
    function_score_topk — same colocated-bucket plumbing, same
    exact-before-truncation ranking."""
    if kind not in ("gauss", "exp", "linear"):
        raise ValueError(f"unknown decay kind {kind!r}")
    if boost_mode not in ("multiply", "sum"):
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    if scale <= 0:
        raise ValueError("scale must be > 0")
    if not (0.0 < decay < 1.0):
        raise ValueError("decay must be in (0, 1)")
    if missing is None:
        missing = float(origin)
    spec = (
        (kind, float(origin), float(scale), float(offset), float(decay)),
        1.0,
        boost_mode,
        float(missing),
    )
    return _dv_scored(
        spark, index_dir, queries, field, k, spec, broadcast_dv
    )


def _dv_scored(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    field: str,
    k: int,
    dv_spec: tuple,
    broadcast_dv: bool,
) -> DataFrame:
    """Shared doc-value scoring plumbing: sidecar values → per-bucket
    sorted (ids, vals) arrays colocated on the posting rows (the
    tombstone join shape) → the TAAT kernel applies ``dv_spec``."""
    from pyspark.sql.types import NumericType

    from dts.index_build import load_meta
    from dts.score_index import (
        MAX_ISIN_TERMS,
        TOPK_SCHEMA,
        _prepare_query_scan,
        _score_filtered,
        load_index,
    )

    side = sidecar(spark, index_dir, [field])
    if not isinstance(side.schema[field].dataType, NumericType):
        raise ValueError(
            f"doc-value scoring needs a numeric field, got "
            f"{side.schema[field].dataType.simpleString()} for {field!r}"
        )
    meta = load_meta(index_dir)
    dv = (
        side.select(
            "doc_id", F.col(field).cast("double").alias("v")
        )
        .filter(F.col("v").isNotNull())
        .withColumn(
            "bucket", (F.col("doc_id") / F.lit(meta["bucket_size"])).cast("long")
        )
        .groupBy("bucket")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "v"))).alias("s"))
        .select(
            "bucket",
            F.transform("s", lambda x: x["doc_id"]).alias("_dv_ids"),
            F.transform("s", lambda x: x["v"]).alias("_dv_vals"),
        )
    )
    idx = load_index(spark, index_dir)
    prep = _prepare_query_scan(
        spark, idx, index_dir, queries, MAX_ISIN_TERMS,
        need_count=True,
    )
    if prep is None:
        return spark.createDataFrame([], TOPK_SCHEMA)
    postings, stats, qterms, n_queries, _ = prep
    return _score_filtered(
        spark, idx["meta"], postings, stats, qterms, n_queries, k,
        "taat", index_dir,
        dv=dv, dv_spec=dv_spec, broadcast_dv=broadcast_dv,
    )


def sort_index_meta(
    spark: SparkSession, index_dir: str, field: str, n_bins: int = 32
) -> dict:
    """Lucene INDEX SORTING for the doc-values sidecar
    (IndexWriterConfig.setIndexSort): materialize ``doc_meta`` range-
    partitioned by ``field`` — bin b holds a contiguous value range, all
    bins value-DISJOINT (repartitionByRange assigns equal keys to one
    partition, so a value never straddles a boundary — the property that
    makes early termination exact in BOTH sort directions) and
    row-sorted by (field, doc_id) within each bin. A manifest records
    per-bin row counts and the index revision (staleness guard).

    This is the O(k)-IO path for sort-by-field queries: Lucene visits
    segments in sort order and stops after k competitive hits;
    :func:`sorted_topk_indexed` reads bin DIRECTORIES in range order
    (parquet partition pruning — unread bins are never opened) and stops
    the same way. Null field values are excluded (ES sorts missing values
    by the `missing` param — documented delta: they simply never sort).

    One distributed range-sort at build time (the same cost class as the
    postings layout itself); rebuild after merges/compactions (the
    revision check refuses stale reads)."""
    import json
    import os
    import shutil

    from dts.index_build import load_meta

    sidecar(spark, index_dir, [field])  # validates presence
    base = f"{index_dir}/sorted_meta_{field}"
    tmp = f"{base}_tmp"
    dm = spark.read.parquet(f"{index_dir}/doc_meta").filter(
        F.col(field).isNotNull()
    )
    n_bins = max(1, int(n_bins))
    binned = (
        dm.repartitionByRange(n_bins, F.col(field))
        .sortWithinPartitions(field, "doc_id")
        .withColumn("_bin", F.spark_partition_id())
    )
    shutil.rmtree(tmp, ignore_errors=True)
    binned.write.mode("overwrite").partitionBy("_bin").parquet(tmp)
    stats = sorted(
        spark.read.parquet(tmp)
        .groupBy("_bin")
        .agg(F.count("*").alias("n"))
        .collect(),
        key=lambda r: int(r["_bin"]),
    )
    manifest = {
        "field": field,
        "revision": int(load_meta(index_dir).get("revision", 0)),
        "bins": [{"bin": int(r["_bin"]), "n": int(r["n"])} for r in stats],
    }
    with open(f"{tmp}/_bins.json", "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    shutil.rmtree(base, ignore_errors=True)
    os.replace(tmp, base)
    return manifest


def sorted_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    field: str,
    k: int = 10,
    ascending: bool = True,
    matches: DataFrame | None = None,
    key: str = "query_id",
    return_bins_read: bool = False,
):
    """Early-terminated sorted fetch over the index-sorted sidecar
    (:func:`sort_index_meta`): top-k docs by ``field``, optionally
    restricted to a ``matches`` hit set (Lucene's
    sorted-index + early-termination collector for query+sort).

    - Unfiltered: the manifest's per-bin counts pick the MINIMAL bin
      prefix (in range order — reversed for descending) covering k rows
      with zero data jobs; only those bin directories are opened
      (partition pruning), then one exact sort of the ≤ prefix-sized
      remainder. O(k) IO instead of O(n).
    - Filtered: bins are read in range order with DOUBLING batches
      (1, 2, 4, …) and one small count-agg per round until every key has
      ≥ k matching rows (or bins exhaust) — the driver loop is over BIN
      BATCHES (≤ log₂(n_bins) rounds), never over rows.

    Exactness: bins are value-disjoint and the within-key order is
    (field, doc_id); once a key holds k rows from a bin prefix, every
    unread bin's values sort strictly after the kth — in either
    direction, because equal values never straddle bins.

    Returns (key?, doc_id, <field>, rank); with ``return_bins_read`` a
    (DataFrame, bins_read) tuple for plan assertions."""
    import json

    from dts.index_build import load_meta

    base = f"{index_dir}/sorted_meta_{field}"
    with open(f"{base}/_bins.json") as f:
        manifest = json.load(f)
    rev = int(load_meta(index_dir).get("revision", 0))
    if int(manifest["revision"]) != rev:
        raise ValueError(
            f"sorted_meta_{field} was built at revision "
            f"{manifest['revision']} but the index is at {rev}: rebuild "
            "with sort_index_meta (merges/compactions invalidate the sort)"
        )
    bins = sorted(manifest["bins"], key=lambda b: b["bin"])
    if not ascending:
        bins = list(reversed(bins))
    order = [
        F.col(field).asc() if ascending else F.col(field).desc(),
        F.col("doc_id").asc(),
    ]

    def _read(bin_ids: list[int]) -> DataFrame:
        return spark.read.parquet(base).filter(F.col("_bin").isin(bin_ids))

    if matches is None:
        chosen, seen = [], 0
        for b in bins:
            chosen.append(int(b["bin"]))
            seen += int(b["n"])
            if seen >= k:
                break
        # Distributed top-k over the pruned bin prefix:
        # orderBy().limit(k) is TakeOrderedAndProject (per-partition
        # k-heaps, no single-partition sort of the whole prefix). Rank
        # comes from a window over the ALREADY k-row result — the order
        # (field, doc_id) is tie-free, so ranks are identical.
        top = _read(chosen).orderBy(*order).limit(k)
        w = Window.partitionBy().orderBy(*order)
        out = top.select(
            "doc_id",
            field,
            F.row_number().over(w).cast("int").alias("rank"),
        )
        return (out, len(chosen)) if return_bins_read else out

    m = matches.select(key, "doc_id").distinct()
    keys = [r[key] for r in m.select(key).distinct().collect()]
    chosen: list[int] = []
    counts: dict = {q: 0 for q in keys}
    i, batch = 0, 1
    while i < len(bins):
        new_bins = [int(b["bin"]) for b in bins[i : i + batch]]
        chosen.extend(new_bins)
        i += batch
        batch *= 2
        # count only the NEW batch; accumulate driver-side — each bin is
        # read exactly once during the termination scan
        for r in (
            _read(new_bins)
            .join(m, "doc_id")
            .groupBy(key)
            .agg(F.count("*").alias("n"))
            .collect()
        ):
            counts[r[key]] = counts.get(r[key], 0) + int(r["n"])
        if all(counts.get(q, 0) >= k for q in keys):
            break
    w = Window.partitionBy(key).orderBy(*order)
    out = (
        _read(chosen)
        .join(m, "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            key, "doc_id", field, F.col("rank").cast("int").alias("rank")
        )
    )
    return (out, len(chosen)) if return_bins_read else out


def rank_feature_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    field: str,
    k: int = 10,
    function: str = "saturation",
    pivot: float | None = None,
    scaling_factor: float = 1.0,
    exponent: float = 1.0,
    boost: float = 1.0,
    broadcast_dv: bool = True,
) -> DataFrame:
    """ES rank_feature query: the text score plus ``boost · f(S)`` over a
    stored non-negative feature S (pagerank, url_length, recency score —
    the static-signal boost of every web ranker), with f one of ES's
    three shapes:

        saturation: S / (S + pivot)
        log:        ln(scaling_factor + S)
        sigmoid:    S^exp / (S^exp + pivot^exp)

    Composition is ADDITIVE (ES evaluates rank_feature as a bool SHOULD
    clause next to the text query — boost_mode is not a knob here).
    ``pivot`` defaults to the feature's exact geometric mean over
    positive values (ES defaults to an approximate geometric mean).
    Missing/negative features clamp to 0 → saturation/sigmoid contribute
    0 (ES: a missing feature doesn't match the clause); log contributes
    ln(scaling_factor).

    Same colocated-bucket kernel plumbing as function_score/decay —
    exact ranking before truncation, k-heap per group."""
    if function not in ("saturation", "log", "sigmoid"):
        raise ValueError(f"unknown rank_feature function {function!r}")
    if function in ("saturation", "sigmoid") and pivot is None:
        side = sidecar(spark, index_dir, [field])
        row = (
            side.filter(F.col(field) > 0)
            .agg(F.exp(F.avg(F.log(F.col(field).cast("double")))).alias("g"))
            .collect()[0]
        )
        pivot = float(row["g"]) if row["g"] is not None else 1.0
    if function == "saturation":
        spec_mod = ("saturation", float(pivot))
    elif function == "log":
        if scaling_factor <= 0:
            raise ValueError("scaling_factor must be > 0")
        spec_mod = ("logf", float(scaling_factor))
    else:
        if exponent <= 0 or pivot <= 0:
            raise ValueError("sigmoid needs pivot > 0 and exponent > 0")
        spec_mod = ("sigmoid", float(pivot), float(exponent))
    return _dv_scored(
        spark, index_dir, queries, field, k,
        (spec_mod, float(boost), "sum", 0.0),
        broadcast_dv,
    )


def script_score_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    score_expr_sql: str,
    fields: tuple[str, ...] = (),
    k: int = 10,
) -> DataFrame:
    """ES script_score query — the fully general rescoring escape hatch:
    new score = any SQL expression over ``_score`` (the BM25 score) and
    the listed doc-value ``fields``. Exact: candidates are emitted
    UNTRUNCATED (an arbitrary script is not monotone in _score, so no
    top-k can be taken before the transform — Lucene likewise disables
    impacts/WAND under score scripts), transformed in one codegen
    expression after a sidecar join, then top-k'd per query.

    Scale note: prefer the kernel-resident modifiers
    (function_score / decay / rank_feature — k-heap per group, no full
    emission) whenever the transform fits their shapes; this operator
    pays candidates-sized emission + one hit-set join, ES's own
    script_score cost class."""
    from dts.score_index import ROUND_RANK, bm25_topk_indexed

    base = (
        bm25_topk_indexed(spark, index_dir, queries, k=2**62)
        .withColumnRenamed("score", "_score")
        .drop("rank")
    )
    if fields:
        side = sidecar(spark, index_dir, list(fields))
        base = base.join(
            side.select("doc_id", *fields), "doc_id", "left"
        )
    scored = base.withColumn("score", F.expr(score_expr_sql))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), ROUND_RANK).desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "doc_id", "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )
