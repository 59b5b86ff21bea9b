"""Inverted-index build: tf extraction → stats → bucketed posting encode.

Replaces the reference's per-query corpus re-scan (src/apm1.c:235-278 scans
every byte for every pattern, every run) with a one-time index build.

## Shuffle plan (the part that must survive 100×)

1. **tf extraction — ZERO shuffle.** One ``mapInPandas`` pass turns
   (doc_id, content) into (doc_id, term, tf, dl): a document's tokens are
   always local to its row, so per-doc aggregation needs no exchange. This
   is the map-side-combine idea of the reference's thread-local counters
   (src/flexible_mpi.c:487-521, O11/O12) taken to its limit.
2. **term stats — one map-side-combined shuffle.** ``groupBy(term)`` over
   the tf table; Spark's partial aggregation means each upstream partition
   emits at most |vocab| rows, so head terms (`def`, `import`) cost the
   same as tail terms. No skew possible for counts.
3. **posting encode — the salted term-partitioned merge.** Naive
   ``groupBy(term)`` would put ALL of `def`'s postings (≈ every doc; at
   10^12 files that is terabytes) in ONE reduce group — the head-term skew
   the north rule calls out (the reference hit the same wall when leftover
   ranks piled onto pattern 0, src/flexible_mpi.c:171-186). The salt here
   is the **doc-range bucket**: ``bucket = doc_id // bucket_size``. Shuffle
   key = bucket; every reduce group is bounded by construction
   (≤ bucket_size docs × avg terms), head terms spread across ALL buckets,
   tail terms (df ≤ a few) touch ≤ df buckets — i.e. the salt fanout is
   implicitly proportional to df(term), which is what SURVEY.md §4
   prescribes. Because buckets are disjoint ORDERED doc ranges, the final
   per-term merge is a lazy ordered concatenation of bucket rows at query
   time — the classic two-phase salted merge with a free phase 2.

Postings are docID-sorted, delta+varint block-compressed (dts.codec), one
row per (term, bucket), written sorted by term so parquet min/max row-group
stats prune term lookups at query time.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dts.codec import (
    BLOCK_SIZE,
    CODEC,
    POSTING_COLS,
    POSTING_FIELDS,
    check_codec,
    packed_rows,
)
from dts.session import run_parallel
from dts.tokenizer import tokenize_exploded

DEFAULT_BUCKET_SIZE = 4096  # docs per bucket; at 10^12 docs → ~2.4e8 buckets

TF_SCHEMA = "doc_id long, term string, tf long, dl long"
TF_SCHEMA_POS = TF_SCHEMA + ", positions array<int>"
POSTINGS_SCHEMA = ", ".join(f"{c} {t}" for c, t in POSTING_FIELDS)
# Positional variant: pos_blob holds each posting's token positions
# (delta+varint, first absolute per posting — dts.codec.encode_positions);
# per-posting boundaries are derivable from the decoded tfs, so no extra
# offsets column. Parquet is columnar: BM25 queries that never select
# pos_blob never read those bytes.
POSTINGS_SCHEMA_POS = POSTINGS_SCHEMA + ", pos_blob binary"


def build_tf(
    docs: DataFrame, positions: bool = False, strip_literals: bool = False
) -> DataFrame:
    """(doc_id, term, tf, dl[, positions]) with NO shuffle — per-doc agg
    inside the UDF.

    Zero-token docs contribute no rows (their dl is recovered in
    doc_stats / meta from the doc table itself). With ``positions=True``
    each row also carries the term's ascending token offsets within the
    doc (array<int>) — the positional-postings payload. With
    ``strip_literals=True`` string literals and comments are stripped
    per-lang before tokenizing (tokenizer.strip_code_literals; needs a
    ``lang`` column) — dl and token offsets are then relative to the
    stripped token stream.
    """
    strip = strip_literals and "lang" in docs.columns
    cols = ["doc_id", "content"] + (["lang"] if strip else [])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            flat = tokenize_exploded(
                pdf["content"],
                langs=pdf["lang"] if strip else None,
                strip_literals=strip,
            )
            if len(flat) == 0:
                continue
            # Integer-key aggregation (factorize + unique) — ~3x faster
            # than a string groupby; all C.
            pos = flat["pos"].to_numpy("int64")
            codes, uniq_terms = pd.factorize(flat["term"], sort=False)
            v = len(uniq_terms)
            key = pos * v + codes
            dl_per_pos = np.bincount(pos, minlength=len(pdf))
            if positions:
                # Stable sort groups (doc, term) keys; token order (and so
                # ascending toff) is preserved within each group.
                order = np.argsort(key, kind="stable")
                sk = key[order]
                uniq_key, starts = np.unique(sk, return_index=True)
                tf = np.diff(np.append(starts, len(sk)))
                toff_sorted = flat["toff"].to_numpy("int32")[order]
                pos_lists = np.split(toff_sorted, starts[1:])
            else:
                uniq_key, tf = np.unique(key, return_counts=True)
                pos_lists = None
            k_pos = uniq_key // v
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy("int64")[k_pos],
                    "term": uniq_terms.to_numpy()[uniq_key % v],
                    "tf": tf.astype("int64"),
                    "dl": dl_per_pos[k_pos].astype("int64"),
                }
            )
            if positions:
                out["positions"] = pos_lists
            yield out

    schema = TF_SCHEMA_POS if positions else TF_SCHEMA
    return docs.select(*cols).mapInPandas(gen, schema)


def term_stats(tf: DataFrame) -> DataFrame:
    """(term, df, cf) — df = #docs containing term, cf = collection freq.
    Map-side combined; head terms cost one row per upstream partition."""
    return tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )


def corpus_meta(docs: DataFrame, tf: DataFrame) -> dict:
    """n_docs counts ALL docs (incl. zero-token ones, mirroring the oracle's
    avgdl over every doc); total_tokens from tf avoids a second tokenize.
    ``next_doc_id`` is the id-space WATERMARK (max assigned + 1) — distinct
    from n_docs once deletions have been compacted away: n_docs shrinks
    (it feeds idf/avgdl over LIVE docs) but ids are stable identities and
    are never reused, so appends continue from the watermark."""
    agg = docs.agg(
        F.count("doc_id").alias("n"), F.max("doc_id").alias("hi")
    ).collect()[0]
    n_docs = int(agg["n"])
    total = tf.agg(F.sum("tf").alias("t")).collect()[0]["t"] or 0
    return {
        "n_docs": n_docs,
        "next_doc_id": int(agg["hi"]) + 1 if n_docs else 0,
        "total_tokens": int(total),
        "avgdl": (float(total) / n_docs) if n_docs else 0.0,
    }


def doc_stats(docs: DataFrame, tf: DataFrame) -> DataFrame:
    """(doc_id, dl) for every doc, zero-token docs included."""
    dl = tf.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    return (
        docs.select("doc_id")
        .join(dl, "doc_id", "left")
        .select("doc_id", F.coalesce("dl", F.lit(0)).cast("long").alias("dl"))
    )


def _encode_bucket_fn(
    avgdl: float,
    bucket_size: int,
    block_size: int,
    positions: bool = False,
):
    from dts.codec import encode_posting_rows

    def encode_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["term", "doc_id"], kind="mergesort")
        terms = pdf["term"].to_numpy()
        uniq, starts = np.unique(terms, return_index=True)
        return encode_posting_rows(
            uniq,
            int(pdf["bucket"].iloc[0]),
            pdf["doc_id"].to_numpy("int64"),
            pdf["tf"].to_numpy("int64"),
            pdf["dl"].to_numpy("int64"),
            np.append(starts, len(terms)),
            avgdl,
            block_size,
            # Posting order == row order after the (term, doc_id) sort.
            np.concatenate(
                [np.asarray(p, dtype=np.int64) for p in pdf["positions"]]
            )
            if positions
            else None,
        )

    return encode_bucket


def build_postings(
    tf: DataFrame,
    avgdl: float,
    bucket_size: int = DEFAULT_BUCKET_SIZE,
    block_size: int = BLOCK_SIZE,
) -> DataFrame:
    """The salted term-partitioned merge (see module docstring). Positional
    when the tf table carries a ``positions`` column."""
    positions = "positions" in tf.columns
    bucketed = tf.withColumn(
        "bucket", (F.col("doc_id") / F.lit(bucket_size)).cast("long")
    )
    return bucketed.groupBy("bucket").applyInPandas(
        _encode_bucket_fn(avgdl, bucket_size, block_size, positions),
        POSTINGS_SCHEMA_POS if positions else POSTINGS_SCHEMA,
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    bucket_size: int = DEFAULT_BUCKET_SIZE,
    block_size: int = BLOCK_SIZE,
    positions: bool = False,
    strip_literals: bool = False,
    extra_meta: dict | None = None,
    store_fields: list[str] | None = None,
    store_term_vectors: bool = False,
) -> dict:
    """Build + persist the full index. `docs` needs (doc_id, content).

    Layout: <out_dir>/{postings,term_stats,doc_stats}/ parquet + meta.json.
    Postings written sorted by term for row-group pruning on term lookups.
    ``positions=True`` additionally stores each posting's token positions
    (pos_blob column) enabling phrase/proximity queries (dts.phrase) —
    opt-in, like Lucene index options: pure BM25 workloads skip the
    encode cost and the column bytes. Returns the meta dict.

    ``store_fields`` (Lucene stored-fields analogue, metadata only):
    persist a ``doc_meta`` sidecar — (doc_id, *store_fields) written
    doc_id-sorted — so facet/metadata queries are self-contained on the
    index: no join back to the source table at query time (which at
    100 TB may be remote, re-partitioned, or gone). doc_id row-group
    stats give hit-list IN-list pushdown. The sidecar follows index
    mutations: merge appends the new docs' rows, deletion-applying
    compaction drops tombstoned rows.

    ``store_term_vectors`` (Lucene TermVectors analogue): persist a
    ``term_vectors`` sidecar — the doc-major (doc_id, term, tf)
    projection of the already-computed tf frame, doc_id-range-partitioned
    and sorted so per-doc fetches prune to one row-group — giving O(doc)
    "what terms does this doc contain" reads (MLT seeds, highlighters,
    explain UIs) without decoding term-major postings. Follows merges
    (append) and compaction (tombstoned rows dropped), like doc_meta.
    """
    import time

    stage_wall: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        stage_wall[name] = round(time.perf_counter() - t0, 3)
        return out

    # Content is the heavy column: scan it EXACTLY once (inside build_tf's
    # mapInPandas); every other consumer uses a column-pruned doc_id
    # projection (near-free parquet scan). Never cache or shuffle content —
    # at 100 TB that cache/shuffle IS the bottleneck. If the source layout
    # gives fewer splits than cores (maxPartitionBytes packing), widen it.
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par * 2)
    tf = build_tf(docs, positions=positions, strip_literals=strip_literals).cache()
    try:
        # term_stats FIRST: this one action tokenizes the corpus and fills the
        # tf cache; every later consumer reads the cache or the written stats.
        stats = term_stats(tf)
        timed(
            "term_stats",
            # No explicit partition count (round-6): AQE sizes the range
            # shuffle by advisoryPartitionSizeInBytes, so file counts adapt
            # to the data (1 file on the toy corpora, ~advisory-sized files
            # at cluster scale) instead of a cores-derived constant.
            lambda: stats.repartitionByRange("term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/term_stats"),
        )
        # Corpus totals from the PERSISTED stats (Σcf = Σtf by construction,
        # vocab-sized scan) + a column-pruned docs pass — the old shape paid a
        # second full pass over the tf cache for Σtf.
        def _totals():
            ts = spark.read.parquet(f"{out_dir}/term_stats").agg(
                F.sum("cf").alias("t"), F.count("*").alias("v")
            ).collect()[0]
            agg = docs.agg(
                F.count("doc_id").alias("n"), F.max("doc_id").alias("hi")
            ).collect()[0]
            n_docs = int(agg["n"])
            total = int(ts["t"] or 0)
            return {
                "n_docs": n_docs,
                "next_doc_id": int(agg["hi"]) + 1 if n_docs else 0,
                "total_tokens": total,
                "avgdl": (float(total) / n_docs) if n_docs else 0.0,
                "vocab_size": int(ts["v"]),
            }

        meta = timed("corpus_meta", _totals)
        meta.update(
            {
                "bucket_size": bucket_size,
                "block_size": block_size,
                "positions": positions,
                "strip_literals": bool(strip_literals and "lang" in docs.columns),
                "codec": CODEC,
            }
        )

        # The remaining writes are mutually independent (tf is cached,
        # term_stats is on disk): submit them from a small thread pool so each
        # job's straggler tail is back-filled by the next job's tasks (guide
        # §2.6 overlap) instead of serializing 4-6 driver-side actions.
        # stage_wall entries are per-job walls and OVERLAP in time.
        def _postings():
            # NOTE: no repartitionByRange here — RangePartitioner's sampling
            # job would recompute the whole encode a second time. Sorting
            # WITHIN each encode task's output by term gives parquet row-group
            # min/max stats that prune term lookups just as well.
            build_postings(
                tf, meta["avgdl"], bucket_size, block_size
            ).sortWithinPartitions("term", "bucket").write.mode(
                "overwrite"
            ).parquet(f"{out_dir}/postings")

        jobs = [
            ("postings", _postings),
            ("trigrams", lambda: write_trigrams(spark, out_dir)),
            ("terms_rev", lambda: write_reversed_terms(spark, out_dir)),
            (
                "doc_stats",
                lambda: doc_stats(docs, tf)
                .repartitionByRange("doc_id")
                .sortWithinPartitions("doc_id")
                .write.mode("overwrite")
                .parquet(f"{out_dir}/doc_stats"),
            ),
        ]
        if store_fields:
            missing = [c for c in store_fields if c not in docs.columns]
            if missing:
                raise ValueError(f"store_fields not in docs: {missing}")
            # Column-pruned projection (content never read); doc_id-sorted so
            # row-group min/max stats serve hit-list pushdown. The range
            # repartition's sampling job touches only these narrow columns.
            jobs.append(
                (
                    "doc_meta",
                    lambda: docs.select("doc_id", *store_fields)
                    .repartitionByRange("doc_id")
                    .sortWithinPartitions("doc_id")
                    .write.mode("overwrite")
                    .parquet(f"{out_dir}/doc_meta"),
                )
            )
            meta["store_fields"] = list(store_fields)
        if store_term_vectors:
            # Doc-major projection of the cached tf frame (no re-tokenize);
            # range partitioning's sampling job reads the cache, not content.
            jobs.append(
                (
                    "term_vectors",
                    lambda: tf.select("doc_id", "term", "tf")
                    .repartitionByRange("doc_id")
                    .sortWithinPartitions("doc_id", "term")
                    .write.mode("overwrite")
                    .parquet(f"{out_dir}/term_vectors"),
                )
            )
            meta["store_term_vectors"] = True
        # A/B at 480k docs (local[8], alternating reps) showed overlap ≈
        # sequential ≈ the old shape within the box's noise band there (mins
        # 14.0 / 15.7 / 15.5 s), while at latency-bound scale overlap wins
        # (~2 s of the 5k-doc build); 3 jobs in flight is the guide §2.6
        # sweet spot. The first failed job cancels the queued ones.
        run_parallel(
            [lambda n=n, fn=fn: timed(n, fn) for n, fn in jobs], max_workers=3
        )

        meta["stage_wall_sec"] = stage_wall
        if extra_meta:
            meta.update(extra_meta)
        save_meta(out_dir, meta)
    finally:
        tf.unpersist()
    return meta


def write_trigrams(spark: SparkSession, index_dir: str) -> None:
    """Persist the vocabulary trigram table (fuzzy-expansion amortization):
    (tri, term) written tri-sorted so a query batch's distinct trigrams
    push down as an IN-list over row-group stats. Derived from the
    PERSISTED term_stats (read back — cheap, vocab-sized)."""
    from dts.fuzzy import vocab_trigrams

    par = spark.sparkContext.defaultParallelism
    vocab = spark.read.parquet(f"{index_dir}/term_stats").select("term")
    tmp = f"{index_dir}/trigrams_new"
    (
        vocab_trigrams(vocab)
        .repartitionByRange("tri")
        .sortWithinPartitions("tri")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    import shutil

    if os.path.isdir(f"{index_dir}/trigrams"):
        shutil.rmtree(f"{index_dir}/trigrams")
    os.replace(tmp, f"{index_dir}/trigrams")


def write_reversed_terms(spark: SparkSession, index_dir: str) -> None:
    """Reversed term dictionary (Lucene's ReversedWildcardFilter design
    point): one column ``rterm`` = reverse(term), written rterm-sorted so
    a LEADING-wildcard pattern (``*ing``) rewrites to a PREFIX range over
    rterm (``gni*`` → rterm >= 'gni' AND rterm < 'gnj'), pruned by parquet
    row-group stats — instead of a full vocabulary scan. The original term
    is recovered as reverse(rterm) (reversal is a bijection, no second
    column needed). Derived from the PERSISTED term_stats, refreshed
    wherever the trigram table is."""
    par = spark.sparkContext.defaultParallelism
    vocab = spark.read.parquet(f"{index_dir}/term_stats").select(
        F.reverse(F.col("term")).alias("rterm")
    )
    tmp = f"{index_dir}/terms_rev_new"
    (
        vocab.repartitionByRange("rterm")
        .sortWithinPartitions("rterm")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    import shutil

    if os.path.isdir(f"{index_dir}/terms_rev"):
        shutil.rmtree(f"{index_dir}/terms_rev")
    os.replace(tmp, f"{index_dir}/terms_rev")


def load_meta(index_dir: str) -> dict:
    """Read meta.json; raises ``ValueError`` for an index whose postings
    use a codec other than varint (such an index must be rebuilt)."""
    with open(f"{index_dir}/meta.json") as f:
        meta = json.load(f)
    check_codec(meta.get("codec", CODEC), index_dir)
    return meta


def save_meta(index_dir: str, meta: dict) -> dict:
    """The ONE way to commit index metadata. Bumps a monotonically
    increasing ``revision`` counter and writes atomically (tmp +
    os.replace). Every process-level cache (index handle, driver vocab,
    result cache) keys on the revision, so two mutations within the same
    filesystem-mtime tick can never serve stale results (round-4 ADVICE:
    1 s-granularity mtime races). Callers that need extra fields committed
    atomically with the mutation (e.g. streaming's last_stream_batch)
    merge them into ``meta`` before calling — one write, no crash window.
    """
    meta["revision"] = int(meta.get("revision", 0)) + 1
    os.makedirs(index_dir, exist_ok=True)
    tmp = f"{index_dir}/meta.json.tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)
    os.replace(tmp, f"{index_dir}/meta.json")
    return meta


def index_revision(index_dir: str) -> int | float:
    """Cache-invalidation key: the meta revision, falling back to
    meta.json's mtime for indexes written before revisions existed."""
    rev = load_meta(index_dir).get("revision")
    if rev is not None:
        return int(rev)
    return os.path.getmtime(f"{index_dir}/meta.json")


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Re-encode the postings with the CURRENT corpus stats: merges the
    duplicate (term, bucket) rows that incremental merges leave behind and
    recomputes exact block maxima, restoring block-max-WAND soundness
    (meta.bmw_safe). The periodic background job of a long-lived index.

    When the index carries tombstones (dts.delete), compaction also
    APPLIES them — the Lucene-merge semantics: deleted docs drop out of
    the postings physically, term_stats loses their df/cf (a bucket-pruned
    delta job: only buckets containing deletions are decoded for the
    delta), doc_stats and meta (n_docs / avgdl / vocab_size) become exact
    over live docs, the trigram table is refreshed for the shrunk
    vocabulary, and the tombstone set is cleared. Scores after compaction
    equal a fresh build over the live corpus (probe-verified vs the SQL
    oracle on the filtered table).
    """
    import shutil

    from dts.codec import decode_postings

    meta = load_meta(index_dir)
    block_size = meta["block_size"]
    positional = meta.get("positions", False)
    bucket_size = meta["bucket_size"]

    # Tombstones are handled FULLY DISTRIBUTED (round-4 ADVICE: no driver
    # array, no size cap — compaction of an arbitrarily large delete set is
    # always possible): the per-bucket delete table joins onto posting rows
    # by the doc-range bucket key, so each task masks exactly its buckets'
    # deletions. Gating derives from the deletes directory, never from
    # meta['n_deleted'] (crash between deletes append and meta write).
    from dts.delete import (
        BROADCAST_DELETES_MAX,
        deletes_by_bucket,
        deletes_df,
        has_deletes,
    )

    apply_deletes = has_deletes(index_dir)
    db_joined = None
    if apply_deletes:
        dels = deletes_df(spark, index_dir).cache()
        del_by_bucket = deletes_by_bucket(
            spark, index_dir, bucket_size
        ).cache()
        small = int(meta.get("n_deleted") or 0) <= BROADCAST_DELETES_MAX
        db_joined = F.broadcast(del_by_bucket) if small else del_by_bucket
        n_del_buckets = del_by_bucket.count()

        def _bucket_filter(df: DataFrame) -> DataFrame:
            if n_del_buckets <= 10_000:
                bl = [
                    int(r["bucket"])
                    for r in del_by_bucket.select("bucket").collect()
                ]
                return df.filter(F.col("bucket").isin(bl))
            return df.join(
                F.broadcast(del_by_bucket.select("bucket")),
                "bucket",
                "left_semi",
            )

        # Stats delta: decode ONLY rows of buckets that contain deletions
        # (a 0.1% delete set touches ~0.1% of row-groups) and count each
        # row's deleted docs / their tf mass against the row's OWN bucket
        # delete array (attached by the bucket join). A doc lives in
        # exactly one run per (term, bucket), so per-row counting sums
        # exactly.
        def _delta(it):
            for pdf in it:
                terms, dfs, cfs = [], [], []
                for term, a, p in zip(
                    pdf["term"].tolist(),
                    pdf["_del_ids"].tolist(),
                    packed_rows(pdf, block_size),
                ):
                    if a is None:
                        continue
                    docs, tfs, _ = decode_postings(p)
                    hit = np.isin(
                        docs, np.asarray(a, dtype=np.int64), assume_unique=True
                    )
                    if hit.any():
                        terms.append(term)
                        dfs.append(int(hit.sum()))
                        cfs.append(int(tfs[hit].sum()))
                yield pd.DataFrame(
                    {"term": terms, "df_d": dfs, "cf_d": cfs}
                )

        delta = (
            _bucket_filter(spark.read.parquet(f"{index_dir}/postings"))
            .select(*POSTING_COLS)
            .join(db_joined, "bucket")
            .mapInPandas(_delta, "term string, df_d long, cf_d long")
            .groupBy("term")
            .agg(F.sum("df_d").alias("df_d"), F.sum("cf_d").alias("cf_d"))
        )
        old_stats = spark.read.parquet(f"{index_dir}/term_stats")
        new_stats = (
            old_stats.join(F.broadcast(delta), "term", "left")
            .select(
                "term",
                (F.col("df") - F.coalesce("df_d", F.lit(0))).alias("df"),
                (F.col("cf") - F.coalesce("cf_d", F.lit(0))).alias("cf"),
            )
            .filter(F.col("df") > 0)
        )
        par = spark.sparkContext.defaultParallelism
        # doc_stats: deleted docs' dl mass funds the new avgdl. Only
        # tombstones that are actually LIVE (present in doc_stats) adjust
        # the stats — delete_docs validates this, but the guard keeps a
        # hand-edited deletes dir from corrupting n_docs. This tiny agg
        # runs FIRST (round-6): it yields the post-delete avgdl, which
        # unblocks the postings re-encode to run CONCURRENTLY with the
        # stats/sidecar rewrites below.
        ds = spark.read.parquet(f"{index_dir}/doc_stats")
        dh = F.broadcast(dels) if small else dels
        live_del = ds.join(dh, "doc_id", "left_semi").agg(
            F.count("*").alias("n"), F.sum("dl").alias("t")
        ).collect()[0]
        n_live_deleted = int(live_del["n"])
        dl_deleted = int(live_del["t"] or 0)
        meta.setdefault("next_doc_id", meta["n_docs"])  # pre-watermark indexes
        meta["n_docs"] -= n_live_deleted
        meta["total_tokens"] -= dl_deleted
        meta["avgdl"] = (
            meta["total_tokens"] / meta["n_docs"] if meta["n_docs"] else 0.0
        )

        def _write_term_stats():
            new_stats.repartitionByRange(
                "term"
            ).sortWithinPartitions("term").write.mode("overwrite").parquet(
                f"{index_dir}/term_stats_new"
            )

        def _write_doc_stats():
            ds.join(dh, "doc_id", "left_anti").write.mode(
                "overwrite"
            ).parquet(f"{index_dir}/doc_stats_new")

        def _write_doc_meta():
            # Stored-fields sidecar follows the same physical-delete
            # semantics as doc_stats.
            spark.read.parquet(f"{index_dir}/doc_meta").join(
                dh, "doc_id", "left_anti"
            ).write.mode("overwrite").parquet(f"{index_dir}/doc_meta_new")

        def _write_term_vectors():
            spark.read.parquet(f"{index_dir}/term_vectors").join(
                dh, "doc_id", "left_anti"
            ).write.mode("overwrite").parquet(f"{index_dir}/term_vectors_new")

        stat_jobs = [_write_term_stats, _write_doc_stats]
        swap_dirs = ["term_stats", "doc_stats"]
        if os.path.isdir(f"{index_dir}/doc_meta"):
            stat_jobs.append(_write_doc_meta)
            swap_dirs.append("doc_meta")
        if os.path.isdir(f"{index_dir}/term_vectors"):
            stat_jobs.append(_write_term_vectors)
            swap_dirs.append("term_vectors")

    avgdl = meta["avgdl"]
    cols = [*POSTING_COLS, *(["pos_blob"] if positional else [])]

    def compact(pdf: pd.DataFrame) -> pd.DataFrame:
        from dts.codec import decode_positions, encode_posting_rows

        bucket = int(pdf["bucket"].iloc[0])
        n_rows = len(pdf)
        pos_blobs = pdf["pos_blob"].tolist() if positional else [None] * n_rows
        del_ids = (
            pdf["_del_ids"].tolist() if "_del_ids" in pdf.columns
            else [None] * n_rows
        )
        per_term: dict[str, list] = {}
        for term, p, pos_blob, dead in zip(
            pdf["term"].tolist(), packed_rows(pdf, block_size), pos_blobs,
            del_ids,
        ):
            run = decode_postings(p)
            if positional:
                pos_flat, _ = decode_positions(bytes(pos_blob), run[1])
                run = (*run, pos_flat)
            if dead is not None and len(dead):
                keep = ~np.isin(
                    run[0], np.asarray(dead, dtype=np.int64), assume_unique=True
                )
                if not keep.all():
                    if positional:
                        pos_keep = np.repeat(keep, run[1].astype(np.int64))
                        run = (
                            run[0][keep], run[1][keep], run[2][keep],
                            run[3][pos_keep],
                        )
                    else:
                        run = (run[0][keep], run[1][keep], run[2][keep])
                if not len(run[0]):
                    continue  # every posting of this run was tombstoned
            per_term.setdefault(term, []).append(run)
        terms = sorted(per_term)
        if not terms:  # the whole bucket was deleted
            return pd.DataFrame({c: [] for c in cols})
        d_parts, t_parts, l_parts, p_parts, bounds = [], [], [], [], [0]
        for t in terms:
            runs = sorted(per_term[t], key=lambda r: r[0][0] if len(r[0]) else -1)
            d = np.concatenate([r[0] for r in runs])
            d_parts.append(d)
            t_parts.append(np.concatenate([r[1] for r in runs]).astype(np.int64))
            l_parts.append(np.concatenate([r[2] for r in runs]).astype(np.int64))
            if positional:
                p_parts.append(
                    np.concatenate([r[3] for r in runs]).astype(np.int64)
                )
            bounds.append(bounds[-1] + len(d))
        return encode_posting_rows(
            np.array(terms),
            bucket,
            np.concatenate(d_parts),
            np.concatenate(t_parts),
            np.concatenate(l_parts),
            np.asarray(bounds, dtype=np.int64),
            avgdl,
            block_size,
            np.concatenate(p_parts) if positional else None,
        )

    postings = spark.read.parquet(f"{index_dir}/postings")
    src = postings.select(*cols)
    if apply_deletes:
        src = src.join(db_joined, "bucket", "left")
    compacted = (
        src.groupBy("bucket")
        .applyInPandas(
            compact, POSTINGS_SCHEMA_POS if positional else POSTINGS_SCHEMA
        )
        .sortWithinPartitions("term", "bucket")
    )
    tmp = f"{index_dir}/postings_compact"

    def _write_postings():
        compacted.write.mode("overwrite").parquet(tmp)

    # Round-6: the postings re-encode and the stats/sidecar rewrites are
    # independent jobs over the PRE-swap directories — run them from one
    # thread pool (guide §2.6), then swap everything adjacently (a
    # strictly smaller crash window than the old progressive swaps).
    run_parallel(
        [_write_postings] + (stat_jobs if apply_deletes else []), max_workers=3
    )
    if apply_deletes:
        for d in swap_dirs:
            shutil.rmtree(f"{index_dir}/{d}")
            os.replace(f"{index_dir}/{d}_new", f"{index_dir}/{d}")
    shutil.rmtree(f"{index_dir}/postings")
    os.replace(tmp, f"{index_dir}/postings")
    if apply_deletes:
        # trigram/reversed dictionaries re-derive from the SWAPPED
        # term_stats; the vocab count is parquet-footer metadata.
        dict_jobs = [lambda: write_trigrams(spark, index_dir)]
        if os.path.isdir(f"{index_dir}/terms_rev"):
            dict_jobs.append(lambda: write_reversed_terms(spark, index_dir))
        run_parallel(dict_jobs, max_workers=2)
        meta["vocab_size"] = spark.read.parquet(
            f"{index_dir}/term_stats"
        ).count()
    meta["min_encode_avgdl"] = avgdl
    meta["bmw_safe"] = True
    meta.pop("n_merges", None)
    if apply_deletes:
        dels.unpersist()
        del_by_bucket.unpersist()
        shutil.rmtree(f"{index_dir}/deletes", ignore_errors=True)
        shutil.rmtree(f"{index_dir}/deletes_new", ignore_errors=True)
        meta.pop("n_deleted", None)
    save_meta(index_dir, meta)
    return meta


def merge_index(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    extra_meta: dict | None = None,
) -> dict:
    """Incremental update: append new documents to an existing index.

    ``extra_meta`` fields are committed in the SAME atomic meta.json write
    as the merge itself — the streaming-ingest idempotency marker
    (last_stream_batch) rides here so a crash can never observe a merged
    index without its batch id (round-4 ADVICE: exactly-once crash
    window).

    `new_docs` needs (content, …) WITHOUT doc_id — ids continue from the
    current n_docs (arrival order), so new postings land in the trailing
    partial bucket + fresh buckets. Multiple rows per (term, bucket) are
    fine: their doc ranges are disjoint and both scorers treat a term's
    rows as a concatenation.

    Block-max soundness: stored block maxima were computed with the avgdl
    AT ENCODE TIME, and the BM25 impact is monotonically increasing in
    avgdl. The bound stays an upper bound iff the CURRENT scoring avgdl is
    ≤ every encode-time avgdl; meta tracks ``min_encode_avgdl`` and sets
    ``bmw_safe`` accordingly — the scorer refuses the bmw strategy when
    unsafe (TAAT is exact regardless). A compaction/re-encode pass restores
    safety; at 10^12 scale that is a periodic background job.
    """
    from dts.io import assign_doc_ids

    meta = load_meta(index_dir)
    # Id WATERMARK, not live-doc count: after a deletion-applying
    # compaction n_docs < max-id+1, and reusing a live id would corrupt
    # the index (doc_ids are stable identities).
    base = meta.get("next_doc_id", meta["n_docs"])
    par = spark.sparkContext.defaultParallelism

    # Deterministic id assignment continuing at `base`: natural key when
    # present, md5(content) otherwise — via the per-partition-offset form
    # (range shuffle + tiny driver prefix sum), NOT a global Window, so a
    # 10^9-doc append never funnels through one partition.
    nd = assign_doc_ids(new_docs, base=base)
    tf = build_tf(
        nd,
        positions=meta.get("positions", False),
        strip_literals=meta.get("strip_literals", False),
    ).cache()
    add_tokens = int(tf.agg(F.sum("tf")).collect()[0][0] or 0)
    n_new = nd.count()
    new_total = meta["total_tokens"] + add_tokens
    new_n = meta["n_docs"] + n_new  # LIVE docs (stats), not the watermark
    new_avgdl = new_total / new_n if new_n else 0.0

    # Postings for the new docs, encoded with the NEW avgdl (their blocks'
    # maxima are exact for it); appended as extra parquet files.
    postings = build_postings(
        tf, new_avgdl, meta["bucket_size"], meta["block_size"]
    ).sortWithinPartitions("term", "bucket")
    # Checkpoint-built indexes partition postings by chunk=N directories;
    # mixing top-level files into that layout breaks partition discovery,
    # so merges land in their own chunk dir there.
    pdir = f"{index_dir}/postings"
    if any(d.startswith("chunk=") for d in os.listdir(pdir)):
        merge_id = meta.get("n_merges", 0)
        postings.write.mode("overwrite").parquet(f"{pdir}/chunk=m{merge_id}")
        meta["n_merges"] = merge_id + 1
    else:
        postings.write.mode("append").parquet(pdir)

    # term_stats: old + delta, re-aggregated (map-side combined, no skew).
    old_stats = spark.read.parquet(f"{index_dir}/term_stats")
    delta = term_stats(tf)
    merged = (
        old_stats.unionByName(delta)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    tmp = f"{index_dir}/term_stats_new"
    merged.repartitionByRange("term").sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(f"{index_dir}/term_stats")
    os.replace(tmp, f"{index_dir}/term_stats")
    if os.path.isdir(f"{index_dir}/trigrams"):
        write_trigrams(spark, index_dir)
    if os.path.isdir(f"{index_dir}/terms_rev"):
        write_reversed_terms(spark, index_dir)

    doc_stats(nd, tf).write.mode("append").parquet(f"{index_dir}/doc_stats")
    sf = meta.get("store_fields")
    if sf and os.path.isdir(f"{index_dir}/doc_meta"):
        missing = [c for c in sf if c not in nd.columns]
        if missing:
            raise ValueError(
                f"merge into an index with store_fields={sf}: new_docs "
                f"lack {missing}"
            )
        nd.select("doc_id", *sf).write.mode("append").parquet(
            f"{index_dir}/doc_meta"
        )
    if meta.get("store_term_vectors") and os.path.isdir(
        f"{index_dir}/term_vectors"
    ):
        tf.select("doc_id", "term", "tf").write.mode("append").parquet(
            f"{index_dir}/term_vectors"
        )

    min_encode = min(meta.get("min_encode_avgdl", meta["avgdl"]), new_avgdl)
    meta.update(
        {
            "n_docs": new_n,
            "next_doc_id": base + n_new,
            "total_tokens": new_total,
            "avgdl": new_avgdl,
            "min_encode_avgdl": min_encode,
            "bmw_safe": new_avgdl <= min_encode + 1e-12,
            # read back from the swapped dir — `merged` is lazy and its old
            # input was just deleted
            "vocab_size": int(
                spark.read.parquet(f"{index_dir}/term_stats").count()
            ),
        }
    )
    if extra_meta:
        meta.update(extra_meta)
    save_meta(index_dir, meta)
    tf.unpersist()
    return meta
