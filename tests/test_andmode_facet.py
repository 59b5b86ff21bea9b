"""Conjunctive (AND-mode) BM25 vs the oracle spec — incl. fuzzy clauses
(any expansion satisfies its clause) and absent-term queries — plus facet
counts vs a pandas replay."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from dts.facet import facet_counts
from dts.index_build import build_index
from dts.oracle import OracleIndex
from dts.score_index import bm25_topk_indexed
from dts.tokenizer import tokenize_text


@pytest.fixture(scope="module")
def and_index(spark, docs_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("and_index"))
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16)
    return d


@pytest.fixture(scope="module")
def oracle(corpus_pd) -> OracleIndex:
    return OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )


def _cases(corpus_pd):
    toks0 = tokenize_text(corpus_pd["content"].iloc[0])
    toks5 = tokenize_text(corpus_pd["content"].iloc[5])
    return [
        (0, " ".join(toks0[:2]), 0),
        (1, " ".join(toks5[:3]), 0),
        (2, f"{toks0[0]} zzzabsent", 0),      # absent clause ⇒ no results
        (3, toks0[0], 0),                      # single clause == OR mode
        (4, toks0[0][:-1] + "x " + toks5[0], 1),  # fuzzy clause
    ]


@pytest.mark.parametrize("distribute", ["query", "bucket"])
def test_and_mode_vs_oracle(
    spark, and_index, corpus_pd, oracle, distribute, force_distribute
):
    force_distribute(distribute)
    cases = _cases(corpus_pd)
    q = spark.createDataFrame(
        cases, "query_id long, text string, fuzzy_k int"
    )
    got = bm25_topk_indexed(
        spark, and_index, q, k=10, mode="and"
    ).toPandas()
    assert 2 not in set(got["query_id"])  # absent clause matched nothing
    for qid, text, fk in cases:
        want = oracle.score_query_and(text, fk, topk=10)
        g = got[got["query_id"] == qid].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == [d for _, d, _ in want], text
        assert np.array_equal(
            g["score"].to_numpy(), np.array([s for *_, s in want])
        ), (text, "bit identity")


def test_and_mode_rejects_bmw(spark, and_index, corpus_pd):
    q = spark.createDataFrame(
        [(0, "def", 0)], "query_id long, text string, fuzzy_k int"
    )
    with pytest.raises(ValueError, match="taat"):
        bm25_topk_indexed(spark, and_index, q, mode="and", strategy="bmw")


def test_facet_counts_vs_pandas(spark, and_index, docs_sdf, corpus_pd):
    toks = tokenize_text(corpus_pd["content"].iloc[0])
    q = spark.createDataFrame(
        [(0, " ".join(toks[:1]), 0), (1, " ".join(toks[:2]), 0)],
        "query_id long, text string, fuzzy_k int",
    )
    top = bm25_topk_indexed(spark, and_index, q, k=25)
    got = {
        (int(r["query_id"]), r["lang"]): int(r["n"])
        for r in facet_counts(top, docs_sdf, "lang", key="query_id").collect()
    }
    top_pd = top.toPandas()
    lang = dict(zip(corpus_pd["doc_id"].astype(int), corpus_pd["lang"]))
    want: dict = {}
    for _, r in top_pd.iterrows():
        k2 = (int(r["query_id"]), lang[int(r["doc_id"])])
        want[k2] = want.get(k2, 0) + 1
    assert got == want and len(got) > 0


def test_and_mode_distributed_path(
    spark, and_index, corpus_pd, oracle, monkeypatch
):
    """AND-mode through the DISTRIBUTED expansion path (vocab cap forced
    to -1): the clause column must survive expand_fuzzy_terms and the
    results must equal the driver path / oracle."""
    from dts import score_index as si

    monkeypatch.setattr(si, "DRIVER_EXPAND_VOCAB_CAP", -1)
    cases = _cases(corpus_pd)
    q = spark.createDataFrame(cases, "query_id long, text string, fuzzy_k int")
    got = bm25_topk_indexed(spark, and_index, q, k=10, mode="and").toPandas()
    for qid, text, fk in cases:
        want = oracle.score_query_and(text, fk, topk=10)
        g = got[got["query_id"] == qid].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == [d for _, d, _ in want], text
        assert np.array_equal(
            g["score"].to_numpy(), np.array([s for *_, s in want])
        ), (text, "bit identity")


@pytest.fixture(scope="module")
def sidecar_index(spark, docs_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sc_index"))
    build_index(
        spark, docs_sdf, d, bucket_size=64, block_size=16,
        store_fields=["lang", "repo"],
    )
    return d


def test_facet_sidecar_equals_source_join(
    spark, sidecar_index, docs_sdf, corpus_pd
):
    """facet_counts_indexed over the doc_meta sidecar == facet_counts
    joined against the source table, for both stored fields."""
    from dts.facet import facet_counts_indexed

    toks = tokenize_text(corpus_pd["content"].iloc[0])
    q = spark.createDataFrame(
        [(0, " ".join(toks[:1]), 0), (1, " ".join(toks[:2]), 0)],
        "query_id long, text string, fuzzy_k int",
    )
    top = bm25_topk_indexed(spark, sidecar_index, q, k=25)
    for field in ("lang", "repo"):
        got = {
            (int(r["query_id"]), r[field]): int(r["n"])
            for r in facet_counts_indexed(
                spark, sidecar_index, top, field, key="query_id"
            ).collect()
        }
        want = {
            (int(r["query_id"]), r[field]): int(r["n"])
            for r in facet_counts(
                top, docs_sdf, field, key="query_id"
            ).collect()
        }
        assert got == want and len(got) > 0, field
    with pytest.raises(ValueError, match="not stored"):
        facet_counts_indexed(spark, sidecar_index, top, "path", key="query_id")


def test_facet_sidecar_tracks_merge_and_compaction(
    spark, docs_sdf, corpus_pd, tmp_path
):
    """The sidecar follows index mutations: merged docs' metadata rows
    appear; deletion-applying compaction drops tombstoned rows."""
    from dts.delete import delete_docs
    from dts.facet import facet_counts_indexed
    from dts.index_build import compact_index, merge_index

    d = str(tmp_path / "sc_mut")
    base = docs_sdf.filter(F.col("doc_id") < 150)
    build_index(
        spark, base, d, bucket_size=64, block_size=16, store_fields=["lang"]
    )
    extra = (
        docs_sdf.filter(F.col("doc_id") >= 150)
        .drop("doc_id")
    )
    merge_index(spark, d, extra)
    n_docs = docs_sdf.count()
    meta_ids = {
        int(r["doc_id"])
        for r in spark.read.parquet(f"{d}/doc_meta").select("doc_id").collect()
    }
    assert len(meta_ids) == n_docs
    victims = sorted(meta_ids)[:10]
    delete_docs(spark, d, victims)
    compact_index(spark, d)
    left = {
        int(r["doc_id"])
        for r in spark.read.parquet(f"{d}/doc_meta").select("doc_id").collect()
    }
    assert left == meta_ids - set(victims)
    # and the facet surface still works end-to-end post-compaction
    toks = tokenize_text(corpus_pd["content"].iloc[0])
    q = spark.createDataFrame(
        [(0, toks[0], 0)], "query_id long, text string, fuzzy_k int"
    )
    top = bm25_topk_indexed(spark, d, q, k=25)
    out = facet_counts_indexed(spark, d, top, "lang", key="query_id")
    assert out.count() > 0


def test_significant_terms_vs_replay(spark, corpus_pd):
    import re
    from collections import Counter

    from dts.facet import significant_terms

    tok = lambda t: re.findall(r"[a-z0-9]+", (t or "").lower())
    dsets = {
        int(r["doc_id"]): set(tok(r["content"]))
        for _, r in corpus_pd.iterrows()
    }
    n = float(len(dsets))
    bg = Counter(t for s in dsets.values() for t in s)
    # two foregrounds: docs containing a mid-df selector term each
    mids = sorted(t for t, c in bg.items() if 8 <= c <= 60)
    sel = {0: mids[0], 1: mids[len(mids) // 2]}
    fgdocs = {
        k: sorted(d for d, s in dsets.items() if t in s)
        for k, t in sel.items()
    }
    matches = spark.createDataFrame(
        [(k, d) for k, ds in fgdocs.items() for d in ds],
        "k long, doc_id long",
    )
    docs = spark.createDataFrame(corpus_pd[["doc_id", "content"]])
    got = (
        significant_terms(
            matches, docs, key="k", text_col="content", size=5,
            min_doc_count=2,
        )
        .orderBy("k", "rank")
        .collect()
    )
    want = {}
    for k, ds in fgdocs.items():
        fg_size = float(len(ds))
        cnt = Counter(t for d in ds for t in dsets[d])
        scored = [
            (round((c / fg_size - bg[t] / n) * (c / fg_size) / (bg[t] / n), 6), t, c)
            for t, c in cnt.items()
            if c >= 2
        ]
        scored = [s for s in scored if s[0] > 0]
        scored.sort(key=lambda s: (-s[0], s[1]))
        want[k] = scored[:5]
    for k in sel:
        rows = [r for r in got if int(r["k"]) == k]
        assert [(r["term"], int(r["fg_count"])) for r in rows] == [
            (t, c) for _, t, c in want[k]
        ]
        for r, (j, _, _) in zip(rows, want[k]):
            assert abs(float(r["jlh6"]) - j) < 2e-6
        assert [int(r["rank"]) for r in rows] == list(range(1, len(rows) + 1))


def test_significant_terms_indexed_matches_direct(spark, tmp_path):
    """On a plain-word corpus (engine tokenizer == the simple regex) the
    index-backed background must reproduce the direct corpus scan."""
    from dts.facet import significant_terms, significant_terms_indexed
    from dts.index_build import build_index

    words = ["apple", "berry", "cacao", "dates", "elder", "figs", "grape"]
    rows = []
    for i in range(60):
        ws = [words[i % 7], words[(i * 3 + 1) % 7], words[(i * 5 + 2) % 7]]
        if i % 4 == 0:
            ws += ["apple", "berry"]  # planted co-occurrence
        rows.append((i, " ".join(ws)))
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path / "sig_idx")
    build_index(spark, docs, d, bucket_size=16)
    matches = docs.filter(F.col("content").contains("apple")).select(
        F.lit(0).cast("long").alias("k"), "doc_id"
    )
    kw = dict(key="k", text_col="content", size=10, min_doc_count=2)
    direct = significant_terms(matches, docs, **kw).orderBy("rank").collect()
    via_idx = (
        significant_terms_indexed(spark, d, matches, docs, **kw)
        .orderBy("rank")
        .collect()
    )
    assert [tuple(r) for r in direct] == [tuple(r) for r in via_idx]
    assert len(direct) > 0 and direct[0]["term"] in ("apple", "berry")


def test_top_hits_replay(spark):
    from dts.facet import top_hits

    matches = spark.createDataFrame(
        [(0, d, float(100 - d)) for d in range(10)]
        + [(1, d, 5.0) for d in range(6)],  # all-tied scores: doc_id breaks
        "q long, doc_id long, score double",
    )
    docs = spark.createDataFrame(
        [(d, "py" if d % 2 == 0 else "rs") for d in range(10)],
        "doc_id long, lang string",
    )
    got = {
        (int(r["q"]), r["lang"], int(r["hit_rank"])): int(r["doc_id"])
        for r in top_hits(
            matches, docs, "lang", key="q", n=2, score_col="score"
        ).collect()
    }
    assert got[(0, "py", 1)] == 0 and got[(0, "py", 2)] == 2
    assert got[(0, "rs", 1)] == 1 and got[(0, "rs", 2)] == 3
    # ties: ascending doc_id within each lang group
    assert got[(1, "py", 1)] == 0 and got[(1, "py", 2)] == 2
    assert got[(1, "rs", 1)] == 1 and got[(1, "rs", 2)] == 3
    assert len(got) == 8


def test_facet_stats_cardinality_percentiles_replay(spark):
    from dts.facet import facet_cardinality, facet_percentiles, facet_stats

    vals = [3, 7, 7, 10, 22, 40, 41, 41, 100, 6]
    docs = spark.createDataFrame(
        [(d, int(v), f"s{d % 3}") for d, v in enumerate(vals)],
        "doc_id long, x long, src string",
    )
    matches = spark.createDataFrame(
        [(0, d) for d in range(10)] + [(1, d) for d in (0, 2, 4)],
        "k long, doc_id long",
    )

    st = {int(r["k"]): r for r in facet_stats(matches, docs, "x", "k").collect()}
    n, s, sq = 10, sum(vals), sum(v * v for v in vals)
    assert (st[0]["n"], st[0]["min"], st[0]["max"], st[0]["sum"]) == (n, 3, 100, s)
    assert abs(st[0]["avg6"] - round(s / n, 6)) < 1e-9
    assert abs(st[0]["var6"] - round((sq - s * s / n) / (n - 1), 6)) < 1e-9
    sub = [vals[0], vals[2], vals[4]]
    assert (st[1]["n"], st[1]["sum"]) == (3, sum(sub))

    card = {
        int(r["k"]): int(r["n_distinct"])
        for r in facet_cardinality(matches, docs, "src", "k").collect()
    }
    assert card[0] == 3 and card[1] == len({d % 3 for d in (0, 2, 4)})
    approx = {
        int(r["k"]): int(r["n_distinct"])
        for r in facet_cardinality(
            matches, docs, "src", "k", exact=False
        ).collect()
    }
    assert approx[0] == 3  # HLL++ exact at tiny cardinality

    pct = {
        (int(r["k"]), float(r["p"])): float(r["value6"])
        for r in facet_percentiles(
            matches, docs, "x", "k", percentiles=(0.5,)
        ).collect()
    }
    assert abs(pct[(0, 0.5)] - float(np.percentile(vals, 50))) < 1e-6
    assert abs(pct[(1, 0.5)] - float(np.percentile(sub, 50))) < 1e-6
    papprox = {
        (int(r["k"]), float(r["p"])): float(r["value6"])
        for r in facet_percentiles(
            matches, docs, "x", "k", percentiles=(0.5,), exact=False
        ).collect()
    }
    assert papprox[(0, 0.5)] in vals  # t-digest-style returns a member


def test_facet_range_date_histogram_filters_replay(spark):
    """Python replay of the three ES bucket aggs added in round-5
    session 6: range (overlap + empty buckets), calendar date_histogram
    (week/month truncation), filters (named predicates, 0-completion)."""
    import datetime as dt

    from dts.facet import facet_date_histogram, facet_filters, facet_range

    docs = spark.createDataFrame(
        [(i, (i * 37) % 100, "en" if i % 3 == 0 else "de") for i in range(40)],
        "doc_id long, x long, lang string",
    )
    matches = spark.createDataFrame(
        [(0, i) for i in range(20)] + [(1, i) for i in range(5)],
        "k long, doc_id long",
    )
    ranges = [("lo", None, 50.0), ("hi", 50.0, None), ("all", None, None),
              ("none", 1000.0, None)]
    got = {
        (r.k, r.range_label): (r.range_from, r.range_to, r.n)
        for r in facet_range(matches, docs, "x", ranges, key="k").collect()
    }
    vals = {i: (i * 37) % 100 for i in range(40)}
    for k, ids in ((0, range(20)), (1, range(5))):
        for lbl, lo, hi in ranges:
            exp = sum(
                1 for i in ids
                if (lo is None or vals[i] >= lo) and (hi is None or vals[i] < hi)
            )
            assert got[(k, lbl)] == (lo, hi, exp), (k, lbl)
    assert len(got) == 8  # every (key, bucket) emitted, incl. 0-count
    # corpus-wide
    cw = {r.range_label: r.n for r in facet_range(None, docs, "x", ranges).collect()}
    assert cw["all"] == 40 and cw["none"] == 0 and cw["lo"] + cw["hi"] == 40

    ev = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(days=i * 3)) for i in range(30)]
        + [(99, None)],
        "doc_id long, ts timestamp",
    )
    for iv, trunc in (
        ("week", lambda d: d - dt.timedelta(days=d.weekday())),
        ("month", lambda d: d.replace(day=1)),
    ):
        got_h = {
            r.bucket_ts: r.n
            for r in facet_date_histogram(None, ev, "ts", iv).collect()
        }
        exp_h: dict[str, int] = {}
        for i in range(30):
            d = (dt.datetime(2024, 1, 1) + dt.timedelta(days=i * 3)).date()
            key = trunc(d).strftime("%Y-%m-%d 00:00:00")
            exp_h[key] = exp_h.get(key, 0) + 1
        assert got_h == exp_h, iv
    with pytest.raises(ValueError, match="calendar_interval"):
        facet_date_histogram(None, ev, "ts", "fortnight")

    flt = {"lo": "x < 50", "en": "lang = 'en'", "never": "x > 1000"}
    got_f = {
        (r.k, r.bucket): r.n
        for r in facet_filters(matches, docs, flt, key="k").collect()
    }
    for k, ids in ((0, range(20)), (1, range(5))):
        assert got_f[(k, "lo")] == sum(1 for i in ids if vals[i] < 50)
        assert got_f[(k, "en")] == sum(1 for i in ids if i % 3 == 0)
        assert got_f[(k, "never")] == 0
    cw_f = {r.bucket: r.n for r in facet_filters(None, docs, flt).collect()}
    assert cw_f["en"] == sum(1 for i in range(40) if i % 3 == 0)


def test_facet_composite_pagination_walk(spark):
    """Paging with after_key visits every bucket exactly once, in key
    order, and equals the one-shot ordered aggregation."""
    from pyspark.sql import functions as F

    from dts.facet import composite_after_key, facet_composite

    rows = [
        (i, ["a", "b", "c"][i % 3], (i * 37) % 500, None if i == 41 else "x")
        for i in range(120)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, n long, opt string"
    )
    srcs = [("lang", "lang"), ("bin", (F.floor(F.col("n") / 100) * 100).cast("long"))]
    want = sorted(
        {
            (r.lang, r.bin): r.doc_count
            for r in facet_composite(docs, srcs, size=1000).collect()
        }.items()
    )
    assert len(want) == 15  # 3 langs x 5 bins

    walked = []
    after = None
    while True:
        page = facet_composite(docs, srcs, size=4, after=after).collect()
        if not page:
            break
        walked.extend(((r.lang, r.bin), r.doc_count) for r in page)
        after = composite_after_key(page)
    assert walked == want  # order AND counts

    # NULL in any source drops the row (ES missing_bucket=false)
    srcs_null = [("opt", "opt"), ("lang", "lang")]
    got = facet_composite(docs, srcs_null, size=100).collect()
    assert sum(r.doc_count for r in got) == 119

    import pytest as _pytest

    with _pytest.raises(ValueError, match="components"):
        facet_composite(docs, srcs, size=4, after=("a",))
    with _pytest.raises(ValueError, match="non-empty"):
        facet_composite(docs, [], size=4)


# ---------------------------------------------------------------------------
# ES pipeline aggregations (dts.facet.pipeline_aggs / bucket_selector /
# bucket_sort) vs a pandas replay.


def test_pipeline_aggs_vs_pandas(spark):
    import pandas as pd

    from dts.facet import bucket_selector, bucket_sort, pipeline_aggs

    rows = [("b%02d" % i, n) for i, n in enumerate([5, 8, 2, 2, 9, 1, 7])]
    b = spark.createDataFrame(rows, "bucket_ts string, n long")
    out = (
        pipeline_aggs(b, "bucket_ts", "n", window=3, lag=2)
        .toPandas()
        .sort_values("bucket_ts")
        .reset_index(drop=True)
    )
    s = pd.Series([n for _, n in rows], dtype="float64")
    assert out["derivative"].equals(s.diff())
    assert list(out["cumulative_sum"]) == list(s.cumsum().astype(int))
    exp_mavg = s.rolling(3, min_periods=1).mean().round(6)
    assert (out["moving_avg"] - exp_mavg).abs().max() < 1e-12
    assert out["serial_diff"].equals(s.diff(2))

    kept = bucket_selector(
        pipeline_aggs(b, "bucket_ts", "n", window=3), "n >= 5"
    ).toPandas()
    assert sorted(kept["n"]) == [5, 7, 8, 9]

    top2 = bucket_sort(
        pipeline_aggs(b, "bucket_ts", "n"),
        [("n", False), ("bucket_ts", True)],
        size=2,
    ).toPandas()
    assert list(top2["n"]) == [9, 8]


def test_pipeline_aggs_per_key_series_independent(spark):
    from dts.facet import pipeline_aggs

    rows = [
        (0, "a", 1), (0, "b", 4), (0, "c", 2),
        (1, "a", 10), (1, "b", 10), (1, "c", 30),
    ]
    b = spark.createDataFrame(rows, "q long, bucket_ts string, n long")
    out = pipeline_aggs(
        b, "bucket_ts", "n", window=2, lag=1, key="q"
    ).toPandas()
    g0 = out[out["q"] == 0].sort_values("bucket_ts")
    g1 = out[out["q"] == 1].sort_values("bucket_ts")
    # first bucket of EACH series has a null derivative (no cross-key leak)
    assert g0["derivative"].isna().iloc[0] and g1["derivative"].isna().iloc[0]
    assert list(g0["cumulative_sum"]) == [1, 5, 7]
    assert list(g1["cumulative_sum"]) == [10, 20, 50]
    assert list(g1["moving_avg"]) == [10.0, 10.0, 20.0]


def test_rare_and_multi_terms(spark):
    from dts.facet import multi_terms, rare_terms

    docs = spark.createDataFrame(
        [
            (0, "a", "x"), (1, "a", "x"), (2, "a", "y"),
            (3, "b", "y"), (4, "b", None), (5, None, "z"),
        ],
        "doc_id long, lang string, source string",
    )
    m = spark.createDataFrame(
        [(0, i) for i in range(6)], "q long, doc_id long"
    )
    rare = rare_terms(m, docs, "lang", max_doc_count=2, key="q").toPandas()
    assert dict(zip(rare["lang"], rare["doc_count"])) == {"b": 2}
    rare_all = rare_terms(None, docs, "lang", max_doc_count=3).toPandas()
    assert dict(zip(rare_all["lang"], rare_all["doc_count"])) == {
        "a": 3, "b": 2,
    }
    mt = multi_terms(m, docs, ["lang", "source"], key="q").toPandas()
    got = {
        (r["lang"], r["source"]): r["doc_count"] for _, r in mt.iterrows()
    }
    assert got == {("a", "x"): 2, ("a", "y"): 1, ("b", "y"): 1}

    import pytest as _pt

    with _pt.raises(ValueError):
        rare_terms(m, docs, "lang", max_doc_count=0, key="q")
    with _pt.raises(ValueError):
        multi_terms(m, docs, ["lang"], key="q")
    with _pt.raises(ValueError):
        multi_terms(m, docs, ["lang", "source"])  # key required


def test_weighted_avg_and_bucket_extrema(spark):
    from dts.facet import bucket_extrema, weighted_avg

    docs = spark.createDataFrame(
        [(0, 10, 1), (1, 20, 3), (2, 30, 1), (3, None, 5), (4, 40, None)],
        "doc_id long, v long, w long",
    )
    m = spark.createDataFrame([(7, i) for i in range(5)], "q long, doc_id long")
    got = weighted_avg(m, docs, "v", "w", key="q").collect()
    assert len(got) == 1
    assert abs(got[0]["weighted_avg"] - (10 + 60 + 30) / 5.0) < 1e-12
    allv = weighted_avg(None, docs, "v", "w").collect()
    assert abs(allv[0]["weighted_avg"] - 100 / 5.0) < 1e-12

    b = spark.createDataFrame(
        [("a", 5), ("b", 9), ("c", 5), ("d", 9), ("e", 7)],
        "bucket_ts string, n long",
    )
    ex = bucket_extrema(b, "bucket_ts", "n").collect()[0]
    assert ex["min_value"] == 5 and ex["max_value"] == 9
    assert ex["sum_value"] == 35 and abs(ex["avg_value"] - 7.0) < 1e-12
    assert list(ex["min_keys"]) == ["a", "c"]
    assert list(ex["max_keys"]) == ["b", "d"]


def test_blocklist_filter(spark):
    from dts.textstats import blocklist_filter

    docs = spark.createDataFrame(
        [(0, "clean text here"), (1, "contains BadWord now"),
         (2, "badword at start"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in blocklist_filter(docs, ["badword", "zz"]).collect()
    }
    assert kept == {0, 3, 4}  # case-insensitive; null/empty pass


def test_adjacency_matrix_and_densify(spark):
    from dts.facet import (
        adjacency_matrix, densify_date_histogram,
    )

    docs = spark.createDataFrame(
        [(0, 10, "x"), (1, 30, "x"), (2, 30, "y"), (3, 99, "y")],
        "doc_id long, v long, s string",
    )
    got = adjacency_matrix(
        None, docs, {"big": "v >= 30", "why": "s = 'y'", "no": "v < 0"}
    ).collect()
    assert sorted((r["bucket"], r["doc_count"]) for r in got) == [
        ("big", 3), ("big&why", 2), ("why", 2),
    ]  # empty 'no' buckets absent; keys in sorted order

    m = spark.createDataFrame([(0, 2), (0, 3)], "q long, doc_id long")
    keyed = adjacency_matrix(
        m, docs, {"big": "v >= 30", "why": "s = 'y'"}, key="q"
    ).collect()
    assert sorted((r["bucket"], r["doc_count"]) for r in keyed) == [
        ("big", 2), ("big&why", 2), ("why", 2),
    ]

    b = spark.createDataFrame(
        [(0, "2024-03-01 00:00:00", 4), (0, "2024-06-01 00:00:00", 1),
         (1, "2024-01-01 00:00:00", 2)],
        "q long, bucket_ts string, n long",
    )
    d = densify_date_histogram(b, "month", key="q").toPandas()
    g0 = d[d["q"] == 0].sort_values("bucket_ts")
    assert list(g0["n"]) == [4, 0, 0, 1]   # Mar..Jun per-series span
    assert len(d[d["q"] == 1]) == 1        # single-bucket series stays 1


def test_percentile_ranks(spark):
    from dts.facet import facet_percentile_ranks

    docs = spark.createDataFrame(
        [(i, v) for i, v in enumerate([10, 20, 30, 40, None])],
        "doc_id long, v long",
    )
    m = spark.createDataFrame([(0, i) for i in range(5)], "q long, doc_id long")
    got = {
        (r["q"], r["value"]): r["rank6"]
        for r in facet_percentile_ranks(
            m, docs, "v", key="q", values=(15.0, 30.0, 99.0)
        ).collect()
    }
    assert got == {
        (0, 15.0): 25.0, (0, 30.0): 75.0, (0, 99.0): 100.0,
    }


def test_facet_sidecar_scan_column_pruned(spark, sidecar_index, docs_sdf, corpus_pd):
    """Round-6 (ROADMAP facet-sidecar item): the doc_meta scan under
    facet_counts_indexed must read ONLY (doc_id, <field>) — ReadSchema
    excludes the other stored fields."""
    from dts.facet import facet_counts_indexed

    toks = tokenize_text(corpus_pd["content"].iloc[0])
    q = spark.createDataFrame(
        [(0, " ".join(toks[:1]), 0)], "query_id long, text string, fuzzy_k int"
    )
    top = bm25_topk_indexed(spark, sidecar_index, q, k=10)
    df = facet_counts_indexed(spark, sidecar_index, top, "lang", key="query_id")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    meta_scan = [
        blk for blk in plan.split("\n\n")
        if "doc_meta" in blk and "ReadSchema" in blk
    ]
    assert meta_scan, plan
    rs = [ln for ln in meta_scan[0].splitlines() if "ReadSchema" in ln][0]
    assert "lang" in rs and "doc_id" in rs and "repo" not in rs, rs
