"""Source-table ingest: sha256 invariant, stable doc_id, doc shards.

Replaces the reference's per-rank file scan + Allgather (reference
src/apm1.c:148-232, O1-O3 in SURVEY.md §2): documents stay distributed rows;
the stable global ``doc_id`` plays the role the pointer-shifted global byte
offset played there (src/flexible_mpi.c:455).

Design notes for scale:
- ``doc_id`` via ``row_number()`` over ``(repo, path, commit)`` — stable and
  deterministic regardless of partition layout; NEVER
  ``monotonically_increasing_id`` (partition-dependent). This is a global
  sort — at 10^12-row scale you'd persist the assignment once at ingest
  (it IS the ingest) and never recompute; ``zipWithIndex``-style range
  arithmetic over sorted partition boundaries gives the same ids without a
  single-reducer sort (Spark's row_number over a global Window WOULD
  single-reduce, so we use the orderBy+per-partition-offset form below).
- ``content_sha256`` via ``F.sha2`` — JVM-side, zero Python; the per-row
  invariant mandated by BASELINE.json `input_hint`.
- ``shard_id = doc_id % n_shards`` — document-partitioned index shards; each
  shard holds full posting lists for its docs (local index), queries fan out
  to shards and merge top-k, the classic web-scale layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SOURCE_COLS = ["repo", "path", "commit", "lang", "content"]

# local_rows_df caps: beyond these the inline-literal plan gets big enough
# that parse/optimize time eats the win — fall back to parallelize.
_LOCAL_REL_MAX_ROWS = 20_000
_LOCAL_REL_MAX_CHARS = 4_000_000


def _sql_literal(v, dtype: str) -> str | None:
    """One VALUES cell, or None when the value can't be safely inlined."""
    if v is None:
        return "NULL"
    if type(v).__module__ == "numpy":  # np.int64/float64 scalars
        v = v.item()
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return None
        # repr is the shortest round-trip form; SQL double literals parse
        # back to the identical binary64.
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return None


def local_rows_df(
    spark: SparkSession, rows: list[tuple], schema: str
) -> DataFrame:
    """Client-sized rows as a LOCAL RELATION (inline VALUES) instead of a
    parallelized RDD.

    ``spark.createDataFrame(list)`` parallelizes into defaultParallelism
    slices, so every broadcast build over a 100-row query table runs a
    32-task Python-scan job (~0.35 s warm, ~2 s cold per call —
    measured). An inline-table SELECT is a LocalRelation: the broadcast
    collects it driver-side with NO job at all. Columns are cast to the
    DDL schema so dtypes match createDataFrame exactly (probe hashes
    compare dtypes). Falls back to createDataFrame for empty/huge
    batches, non-inlinable values (NaN/Inf, exotic types), or when
    ``spark.sql.parser.escapedStringLiterals`` is on (string literals are
    then read verbatim, so no escaping of ``'`` round-trips). Raises
    ``ValueError`` for a row whose arity differs from the schema."""
    fields = [f.strip().rsplit(" ", 1) for f in schema.split(",")]
    for r in rows:
        if len(r) != len(fields):
            raise ValueError(
                f"row {r!r} has {len(r)} values; schema {schema!r} has "
                f"{len(fields)} columns"
            )
    cells_total = 0
    vals = []
    if (
        rows
        and len(rows) <= _LOCAL_REL_MAX_ROWS
        and spark.conf.get("spark.sql.parser.escapedStringLiterals", "false").lower()
        != "true"
    ):
        ok = True
        for r in rows:
            lits = []
            for v, (_, _t) in zip(r, fields):
                s = _sql_literal(v, _t)
                if s is None:
                    ok = False
                    break
                lits.append(s)
                cells_total += len(s)
            if not ok or cells_total > _LOCAL_REL_MAX_CHARS:
                ok = False
                break
            vals.append("(" + ",".join(lits) + ")")
        if ok:
            proj = ", ".join(
                f"CAST(col{i + 1} AS {t.upper()}) AS {name}"
                for i, (name, t) in enumerate(fields)
            )
            local = spark.sql(
                f"SELECT {proj} FROM (VALUES {','.join(vals)})"
            )
            # Literal inference marks all-non-null columns non-nullable;
            # union with the empty typed relation restores the exact
            # createDataFrame schema (still a LocalRelation, no job).
            return local.unionByName(spark.createDataFrame([], schema))
    return spark.createDataFrame(rows, schema)


def with_sha256(docs: DataFrame) -> DataFrame:
    """Per-row invariant column: sha256 over UTF-8 content bytes."""
    return docs.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def assign_doc_ids(
    docs: DataFrame,
    base: int = 0,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
) -> DataFrame:
    """Stable dense doc_id in [base, base+n) over key_cols — no global Window.

    Sorts by the key (range shuffle), then adds each partition's row offset
    (computed from per-partition counts, a tiny driver-side prefix sum) to
    the within-partition row_number. Equivalent to a global row_number but
    scales: no single-partition sort. ``base`` shifts the id space — the
    incremental-merge path appends with base = current n_docs.

    When none of ``key_cols`` exist, a deterministic md5-of-content sort
    key substitutes (arrival keys don't exist, but the assignment must
    still be layout-independent).
    """
    keys = [c for c in key_cols if c in docs.columns]
    tmp_key = None
    if not keys:
        tmp_key = "_sortkey"
        src = "content" if "content" in docs.columns else docs.columns[0]
        docs = docs.withColumn(
            tmp_key, F.md5(F.coalesce(F.col(src).cast("string"), F.lit("")))
        )
        keys = [tmp_key]
    sorted_docs = docs.repartitionByRange(
        docs.sparkSession.sparkContext.defaultParallelism, *keys
    ).sortWithinPartitions(*keys)
    part_w = Window.partitionBy("_pid").orderBy(*keys)
    with_pid = sorted_docs.withColumn("_pid", F.spark_partition_id()).cache()
    counts = {r["_pid"]: r["cnt"] for r in with_pid.groupBy("_pid").count().withColumnRenamed("count", "cnt").collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = docs.sparkSession
    offs_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long"
        )
    )
    out = (
        with_pid.withColumn("_rn", F.row_number().over(part_w))
        .join(offs_df, "_pid")
        .withColumn(
            "doc_id",
            (F.col("_off") + F.col("_rn") - F.lit(1) + F.lit(base)).cast("long"),
        )
        .drop("_pid", "_rn", "_off")
    )
    return out.drop(tmp_key) if tmp_key else out


def ingest(docs: DataFrame, n_shards: int = 32) -> DataFrame:
    """Full ingest: sha256 invariant + doc_id + shard_id."""
    out = assign_doc_ids(with_sha256(docs))
    return out.withColumn("shard_id", (F.col("doc_id") % n_shards).cast("int"))


# --- storage seam (SURVEY §7.0): Iceberg catalog when the runtime has the
# jar + a configured catalog, plain parquet otherwise. Callers address the
# source table ONLY through read_source/write_table; nothing else in the
# repo touches spark.read.parquet for source tables directly, so swapping
# the storage layer is a config change, not a refactor.


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of configured Iceberg catalogs (spark.sql.catalog.<name> set
    to an Iceberg SparkCatalog class). Empty in jar-less runtimes."""
    out = []
    for k, v in spark.sparkContext.getConf().getAll():
        parts = k.split(".")
        if (
            k.startswith("spark.sql.catalog.")
            and len(parts) == 4
            and "iceberg" in (v or "").lower()
        ):
            out.append(parts[3])
    return out


def _is_table_ref(
    ref: str, catalogs: list[str] | tuple = (), for_write: bool = False
) -> tuple[str | None, str]:
    """('iceberg'|'parquet'|None, rest). Explicit scheme prefix wins. A
    dotted, slash-less ref is a catalog table when its first component
    names a CONFIGURED Iceberg catalog; otherwise, on reads only, a
    non-existent dotted name still routes to Iceberg so the user gets the
    configuration-guidance error instead of a parquet path-not-found. An
    EXISTING local name like ``index.v2`` always stays on the parquet
    branch (round-4 ADVICE) — the ``iceberg:`` prefix covers the
    intentional case."""
    import os

    for scheme in ("iceberg", "parquet"):
        if ref.startswith(scheme + ":"):
            return scheme, ref[len(scheme) + 1 :]
    if "/" not in ref and "." in ref and not ref.endswith(".parquet"):
        if ref.split(".", 1)[0] in catalogs:
            return "iceberg", ref
        if not for_write and not os.path.exists(ref):
            return "iceberg", ref
    return None, ref


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """Read a table by ref: 'iceberg:<catalog.db.table>' (or a bare dotted
    identifier) via the catalog, 'parquet:<path>' or a plain path via
    parquet. Raises a clear error when an Iceberg ref is used in a runtime
    without a configured Iceberg catalog."""
    scheme, rest = _is_table_ref(ref, iceberg_catalogs(spark))
    if scheme == "iceberg":
        if not iceberg_catalogs(spark):
            raise RuntimeError(
                f"table ref {ref!r} needs an Iceberg catalog, but none is "
                "configured (spark.sql.catalog.<name> = "
                "org.apache.iceberg.spark.SparkCatalog + the runtime jar). "
                "Use a parquet path, or configure the catalog."
            )
        return spark.read.table(rest)
    return spark.read.parquet(rest)


def write_table(df: DataFrame, ref: str, mode: str = "overwrite") -> None:
    """Write a DataFrame through the same seam: Iceberg refs use the v2
    writeTo API (createOrReplace / append), paths write parquet."""
    scheme, rest = _is_table_ref(
        ref, iceberg_catalogs(df.sparkSession), for_write=True
    )
    if scheme == "iceberg":
        if not iceberg_catalogs(df.sparkSession):
            raise RuntimeError(
                f"table ref {ref!r} needs an Iceberg catalog, but none is "
                "configured. Use a parquet path, or configure the catalog."
            )
        if mode == "append":
            df.writeTo(rest).append()
        else:
            df.writeTo(rest).createOrReplace()
        return
    df.write.mode(mode).parquet(rest)


def read_source(spark: SparkSession, ref: str) -> DataFrame:
    """Read the (repo, path, commit, lang, content) source table through
    the storage seam (Iceberg table ref or parquet path)."""
    return read_table(spark, ref).select(*SOURCE_COLS)


def driver_documents_as_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's documents table (doc_id, text, lang, source,
    n_chars) to the engine's source shape; doc_id is kept as-is (already
    stable and dense)."""
    d = read_table(spark, f"{sf_dir}/documents.parquet")
    return d.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.sha2(F.concat_ws("/", "source", "doc_id"), 256).substr(1, 40).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
