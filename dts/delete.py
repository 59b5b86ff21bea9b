"""Document deletion: tombstones at query time, physical at compaction.

Lucene's model, re-expressed for the doc-range-bucketed index:

1. ``delete_docs`` commits the tombstone set to ``<index>/deletes/`` as a
   BUCKET-AGGREGATED parquet — (bucket, sorted _del_ids array), the exact
   shape the query-time join consumes — via an atomic full-union rewrite,
   then bumps meta.json (which invalidates the process-level caches,
   keyed on the meta revision). The postings/stats files are never
   touched, but each call DOES run two cheap validation jobs (an id
   bounds check and a liveness anti-join against doc_stats — both
   column-pruned doc_id scans) that guard the compaction-stats invariant;
   bulk pipelines that already know their ids are live can skip them with
   ``validate=False``.
2. Query paths mask tombstoned docs BEFORE top-k truncation (inside the
   scoring kernels) or via a broadcast anti-join (row-shaped outputs:
   phrase / proximity / boolean). Corpus statistics — n_docs, avgdl, df,
   cf — deliberately KEEP counting deleted docs until a merge, exactly
   like Lucene's docFreq over live+deleted segments: scores of live docs
   shift only at compaction, never mid-tombstone.
3. ``compact_index`` (dts.index_build) physically drops deleted postings,
   recomputes exact stats (n_docs / avgdl / df / cf), rewrites doc_stats,
   clears the tombstone set, and re-encodes block maxima with the new
   avgdl — restoring both stat exactness and bmw safety.

Scale (round-4 redesign — tombstones are COLOCATED BY BUCKET): the
tombstone set reaches the scoring kernels as a ``(bucket, _del_ids)``
table joined onto the posting rows by bucket — bucket = doc_id //
bucket_size, the same doc-range key the postings shuffle on, so a
scoring group only ever carries the deletions of its own buckets. No
driver-side array, no pickled closure payload, no size cap: the old
``DELETED_DRIVER_CAP`` refusal (and its circular can't-query/can't-compact
failure mode once exceeded — round-4 ADVICE) is gone because nothing
materializes the full set in one place. Each per-bucket array is bounded
by bucket_size (4096 default); under bucket-sharded scoring a task holds
only its shard's arrays, and compaction's stats-delta job still prunes to
the buckets that actually contain deletions (a 0.1% delete set touches
~0.1% of postings row-groups).

Crash safety: all gating derives from the deletes DIRECTORY, not from
``meta['n_deleted']`` — a crash between the deletes append and the meta
write leaves tombstones on disk with a stale counter, and trusting the
counter would silently resurrect those docs (round-4 ADVICE).
``n_deleted`` is kept as observability metadata and as a join-strategy
hint only; correctness never reads it.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from dts.io import local_rows_df

from dts.index_build import load_meta, save_meta

# Above this many tombstones the per-bucket delete table stops being
# broadcast into the scoring join and becomes a plain (shuffle-eligible)
# join — a strategy hint, never a refusal. Read from meta.n_deleted, which
# may lag one append batch after a crash; the join stays correct either
# way, only the physical strategy shifts.
BROADCAST_DELETES_MAX = 4_000_000


def _nonempty_dir(d: str) -> bool:
    return os.path.isdir(d) and any(
        not f.startswith(("_", ".")) for f in os.listdir(d)
    )


def deletes_path(index_dir: str) -> str | None:
    """The live tombstone store, derived from the filesystem — never from
    meta['n_deleted']. ``deletes/`` is the committed store;
    ``deletes_new/`` is only consulted when ``deletes/`` is absent (a
    crash between delete_docs' rmtree and rename — the pending store
    holds the FULL union, so reading it never loses tombstones)."""
    for name in ("deletes", "deletes_new"):
        d = f"{index_dir}/{name}"
        if _nonempty_dir(d):
            return d
    return None


def has_deletes(index_dir: str) -> bool:
    """Tombstone presence (one local listing, no Spark job)."""
    return deletes_path(index_dir) is not None


def deletes_df(spark: SparkSession, index_dir: str) -> DataFrame:
    """Distinct tombstoned doc_ids as a DataFrame (never driver-side).
    Handles both the bucket-aggregated store (current) and the raw
    doc_id-rows layout (pre-round-4 indexes)."""
    raw = spark.read.parquet(deletes_path(index_dir))
    if "_del_ids" in raw.columns:
        return raw.select(
            F.explode("_del_ids").alias("doc_id")
        ).select(F.col("doc_id").cast("long"))
    return raw.select(F.col("doc_id").cast("long")).distinct()


def deletes_by_bucket(
    spark: SparkSession, index_dir: str, bucket_size: int
) -> DataFrame:
    """(bucket, _del_ids) — sorted distinct tombstones grouped by the
    postings' own doc-range bucket key. Joined onto posting rows by
    bucket, so every scoring/compaction group sees exactly the deletions
    that can occur in its doc ranges. Each array ≤ bucket_size entries.

    ``delete_docs`` persists the store ALREADY in this shape, so the hot
    query path is a scan of a tombstone-set-sized parquet + broadcast —
    no per-batch distinct/groupBy stages (those cost ~1 s/batch on the
    480k index when computed inline). The groupBy fallback covers
    pre-round-4 indexes whose deletes/ holds raw doc_id rows."""
    raw = spark.read.parquet(deletes_path(index_dir))
    if "_del_ids" in raw.columns:
        return raw.select("bucket", "_del_ids")
    return (
        raw.select(F.col("doc_id").cast("long"))
        .distinct()
        .withColumn(
            "bucket", (F.col("doc_id") / F.lit(bucket_size)).cast("long")
        )
        .groupBy("bucket")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("_del_ids"))
    )


def join_deletes(
    joined: DataFrame, spark: SparkSession, index_dir: str, meta: dict
) -> DataFrame:
    """Attach ``_del_ids`` to posting rows (left join on bucket). Broadcast
    while the delete set is modest (meta hint); plain join beyond — at that
    point compaction is overdue but queries STILL work, just slower."""
    db = deletes_by_bucket(spark, index_dir, meta["bucket_size"])
    if int(meta.get("n_deleted") or 0) <= BROADCAST_DELETES_MAX:
        db = F.broadcast(db)
    return joined.join(db, "bucket", "left")


def bucket_ids(frame: pd.DataFrame, col: str) -> np.ndarray:
    """Reassemble a scoring group's bucket-colocated id arrays (``_del_ids``
    from ``join_deletes``, or an allow list): buckets are disjoint
    ascending doc ranges and each array is sorted, so the bucket-ordered
    concatenation is globally sorted and unique. A bucket's array repeats
    on each of its posting rows and counts once; nulls add nothing."""
    per_bucket: dict[int, np.ndarray] = {}
    for b, a in zip(frame["bucket"].tolist(), frame[col].tolist()):
        if a is not None and len(a) and b not in per_bucket:
            per_bucket[b] = np.asarray(a, dtype=np.int64)
    if not per_bucket:
        return np.zeros(0, dtype=np.int64)
    return np.concatenate([per_bucket[b] for b in sorted(per_bucket)])


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    doc_ids: DataFrame | Iterable[int],
    validate: bool = True,
) -> dict:
    """Tombstone documents by id. Idempotent (re-deleting is a no-op in
    effect); ids outside [0, next_doc_id) or already compacted away are
    rejected (skippable with ``validate=False`` for bulk pipelines that
    guarantee liveness themselves). Returns updated meta."""
    meta = load_meta(index_dir)
    # Read-repair a mid-swap crash FIRST: if a previous call died between
    # rmtree(deletes/) and os.replace, only deletes_new/ exists — and it
    # holds the FULL union, so promoting it is exactly the rename the
    # crashed call was about to do. Without this, the union below would
    # read deletes_new/ and then try to overwrite that same path, which
    # Spark rejects ("Cannot overwrite a path that is also being read
    # from") — blocking all tombstone appends until a compact.
    if not _nonempty_dir(f"{index_dir}/deletes") and _nonempty_dir(
        f"{index_dir}/deletes_new"
    ):
        import shutil

        if os.path.isdir(f"{index_dir}/deletes"):
            shutil.rmtree(f"{index_dir}/deletes")
        os.replace(f"{index_dir}/deletes_new", f"{index_dir}/deletes")
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    else:
        ids = local_rows_df(
            spark, [(int(d),) for d in set(doc_ids)], "doc_id long"
        )
    if validate:
        watermark = meta.get("next_doc_id", meta["n_docs"])
        bad = ids.filter(
            (F.col("doc_id") < 0) | (F.col("doc_id") >= watermark)
        ).count()
        if bad:
            raise ValueError(
                f"{bad} doc_ids outside [0, {watermark}) — refusing"
            )
        # Ids must be LIVE: already-compacted-away ids would silently skew
        # the n_docs/avgdl adjustment at the next compaction.
        dead = ids.join(
            spark.read.parquet(f"{index_dir}/doc_stats").select("doc_id"),
            "doc_id",
            "left_anti",
        ).count()
        if dead:
            raise ValueError(
                f"{dead} doc_ids are not live documents of this index — "
                "refusing"
            )
    # Commit the bucket-aggregated store atomically: write the FULL union
    # (existing ∪ new) to deletes_new/, then swap. Readers prefer
    # deletes/ and fall back to deletes_new/ only when deletes/ is absent
    # (see deletes_path), so every crash point leaves a complete,
    # readable tombstone set — and the hot query path never pays
    # distinct/groupBy stages, just a scan of this tiny table.
    import shutil

    if has_deletes(index_dir):
        ids = ids.unionByName(deletes_df(spark, index_dir)).distinct()
    bucket_size = int(meta["bucket_size"])
    bucketed = (
        ids.withColumn(
            "bucket", (F.col("doc_id") / F.lit(bucket_size)).cast("long")
        )
        .groupBy("bucket")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("_del_ids"))
    )
    tmp = f"{index_dir}/deletes_new"
    bucketed.write.mode("overwrite").parquet(tmp)
    n_deleted = int(
        spark.read.parquet(tmp)
        .agg(F.sum(F.size("_del_ids")).alias("n"))
        .collect()[0]["n"]
        or 0
    )
    if os.path.isdir(f"{index_dir}/deletes"):
        shutil.rmtree(f"{index_dir}/deletes")
    os.replace(tmp, f"{index_dir}/deletes")
    meta["n_deleted"] = n_deleted
    save_meta(index_dir, meta)
    return meta


def mask_deleted_rows(
    out: DataFrame, spark: SparkSession, index_dir: str, meta: dict
) -> DataFrame:
    """Broadcast anti-join for row-shaped query outputs (phrase /
    proximity / boolean): drops tombstoned doc_ids. No-op (zero jobs) when
    the deletes directory is absent; the directory — not meta — is the
    source of truth."""
    if not has_deletes(index_dir):
        return out
    dels = deletes_df(spark, index_dir)
    if int(meta.get("n_deleted") or 0) <= BROADCAST_DELETES_MAX:
        dels = F.broadcast(dels)
    return out.join(dels, "doc_id", "left_anti")
