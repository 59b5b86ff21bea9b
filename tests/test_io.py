"""Ingest invariants: per-row sha256 (BASELINE.json input_hint) and stable,
dense, deterministic doc_id assignment."""

from __future__ import annotations

import hashlib

import pytest

from dts.io import ingest, local_rows_df


def test_sha256_invariant_matches_python(spark, corpus_pd):
    docs = spark.createDataFrame(corpus_pd.drop(columns=["doc_id"]))
    out = ingest(docs, n_shards=8).collect()
    for r in out[:50] + out[-10:]:
        want = hashlib.sha256(r["content"].encode("utf-8")).hexdigest()
        assert r["content_sha256"] == want, (r["repo"], r["path"])


def test_doc_ids_dense_and_ordered(spark, corpus_pd):
    docs = spark.createDataFrame(corpus_pd.drop(columns=["doc_id"]))
    out = ingest(docs, n_shards=8).select("repo", "path", "commit", "doc_id", "shard_id")
    rows = sorted(out.collect(), key=lambda r: r["doc_id"])
    n = len(rows)
    assert [r["doc_id"] for r in rows] == list(range(n))
    # doc_id order == (repo, path, commit) order — the oracle's convention.
    keys = [(r["repo"], r["path"], r["commit"]) for r in rows]
    assert keys == sorted(keys)
    assert all(r["shard_id"] == r["doc_id"] % 8 for r in rows)


def test_ingest_deterministic_across_runs(spark, corpus_pd):
    docs = spark.createDataFrame(corpus_pd.drop(columns=["doc_id"]))
    a = {(r["repo"], r["path"]): r["doc_id"] for r in ingest(docs).collect()}
    b = {(r["repo"], r["path"]): r["doc_id"] for r in ingest(docs).collect()}
    assert a == b


def test_assign_doc_ids_base_and_no_single_partition(spark, corpus_pd):
    """Round-2: id assignment with a base offset (the merge path) is dense,
    key-ordered, and never funnels through a single-partition exchange."""
    from dts.io import assign_doc_ids

    docs = spark.createDataFrame(corpus_pd.drop(columns=["doc_id"]))
    out = assign_doc_ids(docs, base=1000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == list(range(1000, 1000 + len(corpus_pd)))
    # key order preserved: doc_id ascending == (repo, path, commit) ascending
    rows = out.select("repo", "path", "commit", "doc_id").collect()
    by_id = sorted(rows, key=lambda r: r["doc_id"])
    assert [(r["repo"], r["path"], r["commit"]) for r in by_id] == sorted(
        (r["repo"], r["path"], r["commit"]) for r in rows
    )


def test_assign_doc_ids_without_natural_key(spark):
    """Fallback md5(content) key: dense ids, deterministic across layouts."""
    from dts.io import assign_doc_ids

    pdf = [(f"text number {i}",) for i in range(97)]
    a = assign_doc_ids(spark.createDataFrame(pdf, "content string"))
    b = assign_doc_ids(spark.createDataFrame(pdf, "content string").repartition(7))
    am = {r["content"]: r["doc_id"] for r in a.collect()}
    bm = {r["content"]: r["doc_id"] for r in b.collect()}
    assert sorted(am.values()) == list(range(97))
    assert am == bm
    assert "_sortkey" not in a.columns


def test_storage_seam_parquet_roundtrip(spark, corpus_pd, tmp_path):
    """read_source/write_table are the ONLY storage entry points for source
    tables (SURVEY §7.0 seam): parquet paths work everywhere; Iceberg refs
    engage the catalog when configured."""
    from dts.io import read_source, read_table, write_table

    p = str(tmp_path / "src_pq")
    sdf = spark.createDataFrame(
        corpus_pd[["repo", "path", "commit", "lang", "content"]]
    )
    write_table(sdf, p)
    back = read_source(spark, p)
    assert back.columns == ["repo", "path", "commit", "lang", "content"]
    assert back.count() == len(corpus_pd)
    # explicit scheme form is equivalent
    assert read_table(spark, f"parquet:{p}").count() == len(corpus_pd)
    # append mode through the seam
    write_table(sdf.limit(5), p, mode="append")
    assert read_table(spark, p).count() == len(corpus_pd) + 5


def test_storage_seam_iceberg_requires_catalog(spark):
    """Without the Iceberg jar/catalog, an Iceberg table ref fails loudly
    with configuration guidance (never silently falls back)."""
    import pytest

    from dts.io import iceberg_catalogs, read_table, write_table

    if iceberg_catalogs(spark):
        pytest.skip("runtime has an Iceberg catalog; covered by live test")
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        read_table(spark, "iceberg:lake.db.sources")
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        read_table(spark, "lake.db.sources")  # bare dotted identifier
    df = spark.range(3)
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        write_table(df, "iceberg:lake.db.sources")


def test_dotted_local_path_stays_parquet(tmp_path, monkeypatch):
    """Round-4 ADVICE fix: a slash-less dotted name that EXISTS locally
    (e.g. a directory 'index.v2') resolves to the parquet branch; writes
    only go to Iceberg when the first component names a configured
    catalog; reads of absent dotted names keep the instructive Iceberg
    error."""
    from dts.io import _is_table_ref

    monkeypatch.chdir(tmp_path)
    (tmp_path / "index.v2").mkdir()
    assert _is_table_ref("index.v2") == (None, "index.v2")
    # absent dotted name on READ → iceberg (guidance error downstream)
    assert _is_table_ref("lake.db.sources") == ("iceberg", "lake.db.sources")
    # on WRITE a bare dotted name is parquet unless a catalog matches
    assert _is_table_ref("new.dir", for_write=True) == (None, "new.dir")
    assert _is_table_ref("lake.db.t", ["lake"], for_write=True) == (
        "iceberg", "lake.db.t",
    )
    # explicit prefixes always win
    assert _is_table_ref("parquet:index.v2") == ("parquet", "index.v2")
    assert _is_table_ref("iceberg:a.b.c") == ("iceberg", "a.b.c")


def test_storage_seam_live_iceberg(spark, tmp_path):
    """Live Iceberg catalog roundtrip — runs only when the runtime has the
    jar (skipped in this sandbox; the seam keeps it a config change)."""
    import pytest

    from dts.io import iceberg_catalogs, read_table, write_table

    cats = iceberg_catalogs(spark)
    if not cats:
        pytest.skip("no Iceberg catalog configured in this runtime")
    ref = f"iceberg:{cats[0]}.db.seam_test"
    write_table(spark.range(10).withColumnRenamed("id", "doc_id"), ref)
    assert read_table(spark, ref).count() == 10


def test_local_rows_df_quotes_and_backslashes_roundtrip(spark):
    """Terms holding ``'`` and ``\\`` read back exactly with the parser's
    escapedStringLiterals flag off (inline VALUES) and on (createDataFrame
    fallback: verbatim literals cannot encode ``'``)."""
    terms = ["it's", "it\\'s", "a\\b", "''", "\\", "x\\\\'y"]
    rows = list(enumerate(terms))
    key = "spark.sql.parser.escapedStringLiterals"
    try:
        for flag in ("false", "true"):
            spark.conf.set(key, flag)
            got = local_rows_df(spark, rows, "i long, term string").collect()
            assert sorted((r.i, r.term) for r in got) == rows, flag
    finally:
        spark.conf.unset(key)


def test_local_rows_df_rejects_wrong_arity(spark):
    for bad in ([(1, "a"), (2,)], [(1, "a", "extra")]):
        with pytest.raises(ValueError, match="schema .* has 2 columns"):
            local_rows_df(spark, bad, "i long, term string")
