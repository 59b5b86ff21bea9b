"""Doc-values surface (dts.docvalues): range filters, sort-by-field and
field collapsing over the stored-fields sidecar, plus the parser's range
grammar (``f:[a TO b]``) fused into search_batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dts.docvalues import (
    collapse_topk_indexed,
    range_docs,
    sidecar,
    sort_topk,
)
from dts.index_build import build_index
from dts.parser import parse_query, search_batch
from dts.tokenizer import tokenize_text


def test_parse_range_grammar():
    q = parse_query("fast size:[100 TO 300] -n:{2 TO *] lang:[* TO fr}")
    assert q.score_terms == ["fast"]
    assert q.ranges == [
        ("size", "100", "300", True, True),
        ("lang", None, "fr", True, False),
    ]
    assert q.not_ranges == [("n", "2", None, False, True)]
    # malformed: no field prefix / no TO
    with pytest.raises(ValueError):
        parse_query("[100 TO 300]")
    with pytest.raises(ValueError):
        parse_query("size:[100 300]")
    # a range never routes into a fielded sub-query even with known fields
    q2 = parse_query("text:fast size:[1 TO 2]", fields={"text", "size"})
    assert q2.ranges == [("size", "1", "2", True, True)]
    assert "size" not in q2.fielded


@pytest.fixture(scope="module")
def dv_idx(spark, docs_sdf, tmp_path_factory):
    """Index with a sidecar carrying a numeric field, string fields, and a
    NULLABLE group field (doc_id % 5 == 0 rows are NULL)."""
    d = str(tmp_path_factory.mktemp("dv") / "idx")
    docs = docs_sdf.withColumn(
        "n_chars", F.length("content").cast("long")
    ).withColumn(
        "grp",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
            (F.col("doc_id") % 3).cast("long")
        ),
    )
    build_index(
        spark, docs, d, bucket_size=64, positions=True,
        store_fields=["lang", "repo", "n_chars", "grp"],
    )
    return d


@pytest.fixture(scope="module")
def meta_pd(spark, docs_sdf):
    return (
        docs_sdf.select(
            "doc_id",
            "lang",
            "repo",
            F.length("content").cast("long").alias("n_chars"),
        )
        .toPandas()
        .set_index("doc_id")
    )


def _terms(corpus_pd, n=3):
    return " ".join(tokenize_text(corpus_pd["content"].iloc[0])[:n])


def test_range_docs_matches_filter(spark, dv_idx, meta_pd):
    got = {
        int(r["doc_id"])
        for r in range_docs(spark, dv_idx, "n_chars", 500, 900).collect()
    }
    want = set(
        meta_pd.index[(meta_pd["n_chars"] >= 500) & (meta_pd["n_chars"] <= 900)]
    )
    assert got == want
    # exclusive + open endpoints
    got2 = {
        int(r["doc_id"])
        for r in range_docs(
            spark, dv_idx, "n_chars", 500, None, lo_incl=False
        ).collect()
    }
    assert got2 == set(meta_pd.index[meta_pd["n_chars"] > 500])
    # string-typed range compares lexically
    got3 = {
        int(r["doc_id"])
        for r in range_docs(spark, dv_idx, "lang", "go", "py").collect()
    }
    assert got3 == set(
        meta_pd.index[(meta_pd["lang"] >= "go") & (meta_pd["lang"] <= "py")]
    )


def test_sidecar_missing_field_raises(spark, dv_idx):
    with pytest.raises(ValueError, match="store_fields"):
        sidecar(spark, dv_idx, ["nope"])


def test_search_batch_range_equals_manual(spark, dv_idx, corpus_pd):
    """The fused per-query range filter context ranks exactly like the
    manual range_docs + doc_filter composition, and an unranged query in
    the same batch stays unfiltered."""
    from dts.score_index import bm25_topk_indexed

    text = _terms(corpus_pd)
    out = search_batch(
        spark, dv_idx, [f"{text} n_chars:[500 TO 900]", text], k=10
    ).toPandas()
    got0 = out[out["query_id"] == 0].sort_values("rank")
    got1 = out[out["query_id"] == 1].sort_values("rank")

    q = spark.createDataFrame(
        [(0, text, 0)], "query_id long, text string, fuzzy_k int"
    )
    ref0 = bm25_topk_indexed(
        spark, dv_idx, q, k=10,
        doc_filter=range_docs(spark, dv_idx, "n_chars", 500, 900),
    ).toPandas().sort_values("rank")
    ref1 = bm25_topk_indexed(spark, dv_idx, q, k=10).toPandas().sort_values(
        "rank"
    )
    assert list(got0["doc_id"]) == list(ref0["doc_id"])
    assert list(got0["score"]) == list(ref0["score"])
    assert list(got1["doc_id"]) == list(ref1["doc_id"])
    # the range actually constrained something
    assert list(got0["doc_id"]) != list(got1["doc_id"])


def test_negated_range_keeps_null_field_docs(spark, dv_idx, corpus_pd):
    """Lucene semantics: a doc MISSING the field never matches the range,
    so a negated range keeps it."""
    text = _terms(corpus_pd)
    out = search_batch(
        spark, dv_idx, [f"{text} -grp:[0 TO 2]"], k=10**6
    ).toPandas()
    # grp covers 0..2 for every non-null doc, so survivors are exactly the
    # NULL-grp docs (doc_id % 5 == 0) among the query's matches.
    assert len(out) > 0
    assert all(int(d) % 5 == 0 for d in out["doc_id"])


def test_pure_range_query_returns_empty(spark, dv_idx):
    assert search_batch(spark, dv_idx, ["n_chars:[1 TO 9999]"]).count() == 0


def test_sort_topk_order_and_ties(spark, dv_idx, docs_sdf, meta_pd):
    matches = docs_sdf.select(
        F.lit(0).cast("long").alias("query_id"), "doc_id"
    ).filter(F.col("doc_id") % 2 == 0)
    got = (
        sort_topk(spark, dv_idx, matches, "n_chars", k=15, ascending=True)
        .toPandas()
        .sort_values("rank")
    )
    even = meta_pd[meta_pd.index % 2 == 0].reset_index()
    want = even.sort_values(["n_chars", "doc_id"]).head(15)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["n_chars"]) == list(want["n_chars"])
    # descending flips the field order, not the doc_id tie-break
    got_d = (
        sort_topk(spark, dv_idx, matches, "n_chars", k=5, ascending=False)
        .toPandas()
        .sort_values("rank")
    )
    want_d = even.sort_values(
        ["n_chars", "doc_id"], ascending=[False, True]
    ).head(5)
    assert list(got_d["doc_id"]) == list(want_d["doc_id"])


def test_collapse_matches_window_reference(spark, dv_idx, corpus_pd):
    """collapse_topk (hash-agg best-of-group) equals the window-function
    reference on full candidates; NULL group values are dropped."""
    from pyspark.sql import Window

    from dts.score_index import bm25_topk_indexed

    text = _terms(corpus_pd)
    q = spark.createDataFrame(
        [(0, text, 0), (1, text.split()[0], 0)],
        "query_id long, text string, fuzzy_k int",
    )
    full = bm25_topk_indexed(spark, dv_idx, q, k=2**62)
    got = (
        collapse_topk_indexed(spark, dv_idx, full, "grp", k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    side = sidecar(spark, dv_idx, ["grp"])
    w_g = Window.partitionBy("query_id", "grp").orderBy(
        F.round("score", 9).desc(), F.col("doc_id").asc()
    )
    w_q = Window.partitionBy("query_id").orderBy(
        F.round("score", 9).desc(), F.col("doc_id").asc()
    )
    ref = (
        full.join(side, "doc_id")
        .filter(F.col("grp").isNotNull())
        .withColumn("rn", F.row_number().over(w_g))
        .filter(F.col("rn") == 1)
        .withColumn("rank", F.row_number().over(w_q))
        .filter(F.col("rank") <= 10)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    assert list(got["doc_id"]) == list(ref["doc_id"])
    assert list(got["grp"]) == list(ref["grp"])
    assert list(got["score"]) == list(ref["score"])
    # at most one row per (query, group)
    assert got.groupby(["query_id", "grp"]).size().max() == 1


def _fs_replay(oracle, meta_vals, text, factor, modifier, boost_mode, missing, topk=10):
    import math

    base = {d: s for _, d, s in oracle.score_query(text, topk=10**6)}
    out = {}
    for d, s in base.items():
        v = meta_vals.get(d)
        v = float(missing) if v is None else float(v)
        fv = {"log1p": math.log1p(v), "sqrt": math.sqrt(v), "none": v}[modifier]
        fv *= factor
        out[d] = s * fv if boost_mode == "multiply" else s + fv
    return sorted(out.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:topk]


def test_function_score_vs_replay(spark, dv_idx, corpus_pd, meta_pd):
    import numpy as np

    from dts.docvalues import function_score_topk
    from dts.oracle import OracleIndex

    oracle = OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )
    text = _terms(corpus_pd, 2)
    nv = meta_pd["n_chars"].to_dict()
    q = spark.createDataFrame([(0, text)], "query_id long, text string")
    for modifier, boost_mode, factor in [
        ("log1p", "multiply", 1.0),
        ("sqrt", "sum", 0.5),
        ("none", "multiply", 0.01),
    ]:
        got = (
            function_score_topk(
                spark, dv_idx, q, "n_chars", k=10,
                factor=factor, modifier=modifier, boost_mode=boost_mode,
            )
            .toPandas()
            .sort_values("rank")
        )
        want = _fs_replay(oracle, nv, text, factor, modifier, boost_mode, 1.0)
        assert list(got["doc_id"].astype(int)) == [d for d, _ in want], (modifier, boost_mode)
        assert np.allclose(got["score"], [s for _, s in want], rtol=1e-9), (modifier, boost_mode)


def test_function_score_missing_and_validation(
    spark, dv_idx, corpus_pd, docs_sdf, force_distribute
):
    import numpy as np
    import pytest as _pt

    from dts.docvalues import function_score_topk
    from dts.oracle import OracleIndex

    oracle = OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )
    text = _terms(corpus_pd, 2)
    q = spark.createDataFrame([(0, text)], "query_id long, text string")
    # grp is NULL on doc_id % 5 == 0: those docs substitute `missing`
    gv = {
        int(d): (None if d % 5 == 0 else float(d % 3))
        for d in corpus_pd["doc_id"].astype(int)
    }
    got = (
        function_score_topk(
            spark, dv_idx, q, "grp", k=10, modifier="none",
            boost_mode="sum", factor=2.0, missing=7.0,
        )
        .toPandas()
        .sort_values("rank")
    )
    want = _fs_replay(oracle, gv, text, 2.0, "none", "sum", 7.0)
    assert list(got["doc_id"].astype(int)) == [d for d, _ in want]
    assert np.allclose(got["score"], [s for _, s in want], rtol=1e-9)
    # both distributions identical
    force_distribute("bucket")
    g2 = function_score_topk(
        spark, dv_idx, q, "n_chars", k=10
    ).toPandas().sort_values("rank")
    force_distribute("query")
    g1 = function_score_topk(
        spark, dv_idx, q, "n_chars", k=10
    ).toPandas().sort_values("rank")
    assert list(g1["doc_id"]) == list(g2["doc_id"])
    assert np.array_equal(g1["score"].to_numpy(), g2["score"].to_numpy())
    with _pt.raises(ValueError, match="numeric"):
        function_score_topk(spark, dv_idx, q, "lang").collect()
    with _pt.raises(ValueError, match="modifier"):
        function_score_topk(spark, dv_idx, q, "n_chars", modifier="exp").collect()


def test_facet_histogram(spark, dv_idx, corpus_pd, meta_pd):
    import math

    from dts.facet import facet_histogram_indexed
    from dts.score_index import bm25_topk_indexed

    nv = meta_pd["n_chars"].to_dict()
    # corpus-wide histogram
    glob = facet_histogram_indexed(spark, dv_idx, "n_chars", 50.0).toPandas()
    want_glob = {}
    for v in nv.values():
        b = math.floor(v / 50.0) * 50.0
        want_glob[b] = want_glob.get(b, 0) + 1
    assert dict(zip(glob["bucket_lo"], glob["n"].astype(int))) == want_glob
    # per-query over top-10 matches, with offset
    text = _terms(corpus_pd, 2)
    q = spark.createDataFrame([(0, text)], "query_id long, text string")
    top = bm25_topk_indexed(spark, dv_idx, q, k=10)
    hist = facet_histogram_indexed(
        spark, dv_idx, "n_chars", 100.0, matches=top, key="query_id",
        offset=25.0,
    ).toPandas()
    hits = [int(r["doc_id"]) for r in top.collect()]
    want = {}
    for d in hits:
        b = math.floor((nv[d] - 25.0) / 100.0) * 100.0 + 25.0
        want[b] = want.get(b, 0) + 1
    got = {
        r["bucket_lo"]: int(r["n"])
        for _, r in hist.iterrows()
        if r["query_id"] == 0
    }
    assert got == want
    import pytest as _pt

    with _pt.raises(ValueError, match="interval"):
        facet_histogram_indexed(spark, dv_idx, "n_chars", 0).collect()
    with _pt.raises(ValueError, match="key"):
        facet_histogram_indexed(spark, dv_idx, "n_chars", 10.0, matches=top).collect()


def _decay_f(kind, v, origin, scale, offset, decay):
    import math

    dist = max(abs(v - origin) - offset, 0.0)
    if kind == "gauss":
        sigma2 = -(scale ** 2) / (2.0 * math.log(decay))
        return math.exp(-(dist * dist) / (2.0 * sigma2))
    if kind == "exp":
        return math.exp(math.log(decay) / scale * dist)
    s = scale / (1.0 - decay)
    return max((s - dist) / s, 0.0)


def test_decay_score_vs_replay(spark, dv_idx, corpus_pd, meta_pd):
    import numpy as np

    from dts.docvalues import decay_score_topk
    from dts.oracle import OracleIndex

    oracle = OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )
    text = _terms(corpus_pd, 2)
    nv = meta_pd["n_chars"].to_dict()
    q = spark.createDataFrame([(0, text)], "query_id long, text string")
    origin, scale = 600.0, 300.0
    for kind, offset, decay, bm in [
        ("gauss", 0.0, 0.5, "multiply"),
        ("exp", 50.0, 0.3, "multiply"),
        ("linear", 0.0, 0.5, "sum"),
    ]:
        got = (
            decay_score_topk(
                spark, dv_idx, q, "n_chars", origin=origin, scale=scale,
                kind=kind, offset=offset, decay=decay, k=10, boost_mode=bm,
            )
            .toPandas()
            .sort_values("rank")
        )
        base = {d: s for _, d, s in oracle.score_query(text, topk=10**6)}
        out = {}
        for d, s in base.items():
            fv = _decay_f(kind, float(nv[d]), origin, scale, offset, decay)
            out[d] = s * fv if bm == "multiply" else s + fv
        want = sorted(
            out.items(), key=lambda kv: (-round(kv[1], 9), kv[0])
        )[:10]
        assert list(got["doc_id"].astype(int)) == [d for d, _ in want], kind
        assert np.allclose(got["score"], [s for _, s in want], rtol=1e-9)
    # contract: a doc AT distance scale(+offset) scores exactly `decay`
    assert abs(_decay_f("gauss", origin + scale, origin, scale, 0, 0.5) - 0.5) < 1e-12
    assert abs(_decay_f("exp", origin + scale, origin, scale, 0, 0.3) - 0.3) < 1e-12
    assert abs(_decay_f("linear", origin + scale, origin, scale, 0, 0.5) - 0.5) < 1e-12


def test_decay_score_validation(spark, dv_idx):
    import pytest as _pt

    from dts.docvalues import decay_score_topk

    q = spark.createDataFrame([(0, "x")], "query_id long, text string")
    with _pt.raises(ValueError, match="decay kind"):
        decay_score_topk(spark, dv_idx, q, "n_chars", 0, 1, kind="triangle")
    with _pt.raises(ValueError, match="scale"):
        decay_score_topk(spark, dv_idx, q, "n_chars", 0, 0)
    with _pt.raises(ValueError, match="decay must"):
        decay_score_topk(spark, dv_idx, q, "n_chars", 0, 1, decay=1.0)


def test_update_doc_values(spark, corpus_pd, tmp_path):
    """DV updates rewrite stored values without reindexing: every
    doc-value surface sees new values; unknown ids ignored; validation
    (unstored field, missing col, duplicate ids); null update keeps old
    value (coalesce semantics, documented)."""
    import pytest as _pt

    from dts.docvalues import (
        function_score_topk,
        range_docs,
        update_doc_values,
    )
    from dts.index_build import build_index, load_meta

    docs = spark.createDataFrame(corpus_pd.head(40)).withColumn(
        "grp", (F.col("doc_id") % 3).cast("long")
    )
    d = str(tmp_path / "dvu")
    build_index(spark, docs, d, bucket_size=16, store_fields=["grp", "lang"])
    rev0 = load_meta(d)["revision"]

    ups = spark.createDataFrame(
        [(0, 99, "zz"), (7, 99, None), (10 ** 6, 99, "xx")],
        "doc_id long, grp long, lang string",
    )
    update_doc_values(spark, d, ups, ["grp", "lang"])
    assert load_meta(d)["revision"] > rev0  # caches invalidate

    got = {
        int(r["doc_id"])
        for r in range_docs(spark, d, "grp", 99, 99).collect()
    }
    assert got == {0, 7}  # unknown id 10^6 ignored
    side = {
        int(r["doc_id"]): (int(r["grp"]), r["lang"])
        for r in spark.read.parquet(f"{d}/doc_meta").collect()
    }
    assert side[0] == (99, "zz")
    assert side[7][0] == 99
    assert side[7][1] == corpus_pd["lang"].iloc[7]  # null kept old value
    assert side[3] == (0, corpus_pd["lang"].iloc[3])  # untouched row
    assert len(side) == 40  # no rows added or lost

    # scoring surface reads updates immediately
    from dts.tokenizer import tokenize_text

    text = " ".join(tokenize_text(corpus_pd["content"].iloc[0])[:2])
    q = spark.createDataFrame([(0, text)], "query_id long, text string")
    s = function_score_topk(
        spark, d, q, "grp", k=5, modifier="none", boost_mode="sum",
        factor=1.0, missing=0.0,
    ).collect()
    assert any(float(r["score"]) > 50 for r in s if int(r["doc_id"]) == 0)

    with _pt.raises(ValueError, match="not stored"):
        update_doc_values(spark, d, ups, ["n_chars"])
    with _pt.raises(ValueError, match="must carry"):
        update_doc_values(
            spark, d,
            spark.createDataFrame([(1,)], "doc_id long"), ["grp"],
        )
    with _pt.raises(ValueError, match="duplicate"):
        update_doc_values(
            spark, d,
            spark.createDataFrame(
                [(1, 5, "a"), (1, 6, "b")], "doc_id long, grp long, lang string"
            ),
            ["grp"],
        )


def test_rank_feature_vs_replay(spark, dv_idx, corpus_pd, meta_pd):
    import math

    import numpy as np

    from dts.docvalues import rank_feature_topk
    from dts.oracle import OracleIndex

    oracle = OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )
    text = _terms(corpus_pd, 2)
    nv = meta_pd["n_chars"].to_dict()
    q = spark.createDataFrame([(0, text)], "query_id long, text string")
    base = {d: s for _, d, s in oracle.score_query(text, topk=10**6)}

    def f(kind, v, pivot=300.0, sf=2.0, expn=2.0):
        v = max(float(v), 0.0)
        if kind == "saturation":
            return v / (v + pivot)
        if kind == "log":
            return math.log(sf + v)
        return v**expn / (v**expn + pivot**expn)

    for kind, kwargs in [
        ("saturation", {"pivot": 300.0}),
        ("log", {"scaling_factor": 2.0}),
        ("sigmoid", {"pivot": 300.0, "exponent": 2.0}),
    ]:
        got = (
            rank_feature_topk(
                spark, dv_idx, q, "n_chars", function=kind, boost=1.5,
                k=10, **kwargs,
            )
            .toPandas()
            .sort_values("rank")
        )
        out = {d: s + 1.5 * f(kind, nv[d]) for d, s in base.items()}
        want = sorted(
            out.items(), key=lambda kv: (-round(kv[1], 9), kv[0])
        )[:10]
        assert list(got["doc_id"].astype(int)) == [d for d, _ in want], kind
        assert np.allclose(got["score"], [s for _, s in want], rtol=1e-9)

    # default pivot = exact geometric mean of positive feature values
    import pytest as _pt

    got_def = rank_feature_topk(
        spark, dv_idx, q, "n_chars", function="saturation", k=5
    ).toPandas()
    vals = [v for v in nv.values() if v > 0]
    gm = math.exp(sum(math.log(v) for v in vals) / len(vals))
    out = {d: s + f("saturation", nv[d], pivot=gm) for d, s in base.items()}
    want = sorted(out.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:5]
    assert list(got_def.sort_values("rank")["doc_id"].astype(int)) == [
        d for d, _ in want
    ]

    with _pt.raises(ValueError, match="rank_feature function"):
        rank_feature_topk(spark, dv_idx, q, "n_chars", function="zz")
    with _pt.raises(ValueError, match="scaling_factor"):
        rank_feature_topk(
            spark, dv_idx, q, "n_chars", function="log", scaling_factor=0
        )


def test_script_score_vs_replay(spark, dv_idx, corpus_pd, meta_pd):
    import math

    import numpy as np

    from dts.docvalues import script_score_topk
    from dts.oracle import OracleIndex

    oracle = OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )
    text = _terms(corpus_pd, 2)
    nv = meta_pd["n_chars"].to_dict()
    q = spark.createDataFrame([(0, text)], "query_id long, text string")
    got = (
        script_score_topk(
            spark, dv_idx, q,
            "_score * ln(1.0e0 + n_chars) / (1.0e0 + doc_id % 3)",
            fields=("n_chars",), k=10,
        )
        .toPandas()
        .sort_values("rank")
    )
    base = {d: s for _, d, s in oracle.score_query(text, topk=10**6)}
    out = {
        d: s * math.log(1.0 + nv[d]) / (1.0 + d % 3) for d, s in base.items()
    }
    want = sorted(out.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:10]
    assert list(got["doc_id"].astype(int)) == [d for d, _ in want]
    assert np.allclose(got["score"], [s for _, s in want], rtol=1e-9)
