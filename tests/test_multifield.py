"""Multi-field index: clause routing, per-field stats, weighted merge —
vs a per-field OracleIndex replay (bit-identical scores: two-field sums
are order-independent in IEEE754)."""

from __future__ import annotations

import numpy as np
import pytest

from dts.multifield import (
    bm25_topk_multifield,
    build_multifield_index,
    parse_field_query,
)
from dts.oracle import OracleIndex
from dts.tokenizer import tokenize_text

FIELDS = {"content": 1.0, "path": 2.0}


def test_parse_field_query():
    assert parse_field_query("a path:b c", FIELDS, "content") == {
        "content": "a c", "path": "b",
    }
    assert parse_field_query("path:x path:y", FIELDS, "content") == {"path": "x y"}
    # unknown field prefix and bare colon stay in the default field
    assert parse_field_query("zzz:abc path:", FIELDS, "content") == {
        "content": "zzz:abc path:",
    }


@pytest.fixture(scope="module")
def mf_index(spark, docs_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mf"))
    build_multifield_index(
        spark, docs_sdf, d, FIELDS, bucket_size=64, block_size=16
    )
    return d


@pytest.fixture(scope="module")
def mf_oracles(corpus_pd):
    ids = corpus_pd["doc_id"].astype(int)
    return {
        "content": OracleIndex(list(zip(ids, corpus_pd["content"]))),
        "path": OracleIndex(list(zip(ids, corpus_pd["path"]))),
    }


def _mf_cases(corpus_pd):
    ctoks = tokenize_text(corpus_pd["content"].iloc[0])
    ptoks = tokenize_text(corpus_pd["path"].iloc[4])
    return [
        (0, f"{ctoks[0]} {ctoks[1]}"),               # default field only
        (1, f"path:{ptoks[0]}"),                       # scoped only
        (2, f"{ctoks[0]} path:{ptoks[-1]}"),           # mixed
        (3, f"path:{ptoks[0]} path:{ptoks[-1]} {ctoks[2]}"),
    ]


# Bucket layouts of the 200-doc corpus, keyed by the scoring path the
# old auto rule picked for them: "query" below 32 buckets, "fused" at 32
# or more; "bucket" is a layout with more buckets than scoring shards and
# a short last bucket. The one fused kernel must answer all of them.
MF_LAYOUTS = {
    "query": (64, 16),   # 4 buckets
    "bucket": (16, 16),  # 13 buckets, the last one half full
    "fused": (4, 4),     # 50 buckets
}


@pytest.fixture(scope="module")
def mf_layout_index(spark, docs_sdf, mf_index, tmp_path_factory):
    """``mf_layout_index(layout)`` -> a multifield index built with that
    MF_LAYOUTS (bucket_size, block_size); the 4-bucket one is mf_index."""
    built = {MF_LAYOUTS["query"]: mf_index}

    def _get(layout: str) -> str:
        geom = MF_LAYOUTS[layout]
        if geom not in built:
            d = str(tmp_path_factory.mktemp(f"mf_{layout}"))
            build_multifield_index(
                spark, docs_sdf, d, FIELDS,
                bucket_size=geom[0], block_size=geom[1],
            )
            built[geom] = d
        return built[geom]

    return _get


@pytest.mark.parametrize("layout", list(MF_LAYOUTS))
def test_multifield_vs_oracle(
    spark, mf_layout_index, corpus_pd, mf_oracles, layout
):
    cases = _mf_cases(corpus_pd)
    q = spark.createDataFrame(cases, "query_id long, text string")
    got = bm25_topk_multifield(
        spark, mf_layout_index(layout), q, k=10
    ).toPandas()
    for qid, text in cases:
        want = _expect_mf_text(mf_oracles, text)
        g = got[got["query_id"] == qid].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == [d for d, _ in want], (
            layout, text,
        )
        assert np.array_equal(
            g["score"].to_numpy(), np.array([s for _, s in want])
        ), (layout, text, "bit identity")


def test_multifield_auto_distribute_and_empty(spark, mf_index, corpus_pd):
    """The one fused path answers a small index (4 buckets); an empty
    batch yields an empty engine-standard frame."""
    q = spark.createDataFrame(
        [(0, _mf_cases(corpus_pd)[0][1])], "query_id long, text string"
    )
    out = bm25_topk_multifield(spark, mf_index, q, k=5)
    assert out.count() > 0
    empty = bm25_topk_multifield(
        spark, mf_index,
        spark.createDataFrame([], "query_id long, text string"), k=5,
    )
    assert empty.count() == 0


# ---- round-5: unified grammar over multifield (search_fields) ----------


@pytest.fixture(scope="module")
def mfp_index(spark, docs_sdf, tmp_path_factory):
    """Positional multifield index (field-scoped phrases need positions)."""
    d = str(tmp_path_factory.mktemp("mfp"))
    build_multifield_index(
        spark, docs_sdf, d, FIELDS, bucket_size=64, block_size=16,
        positions=True,
    )
    return d


def _expect_mf(mf_oracles, scoring, eligible=None, k=10, dead=None):
    """Reference ranking: Σ_field boost·BM25_f over ``scoring`` (field →
    term list), restricted to ``eligible`` doc ids. ``dead`` (field → doc
    ids tombstoned in that sub-index) drops those docs' contribution from
    that field only; the oracles keep full-corpus statistics, as the
    engine does until compaction."""
    dead = dead or {}
    total: dict[int, float] = {}
    for f_name, terms in scoring.items():
        if not terms:
            continue
        for _, doc, s in mf_oracles[f_name].score_terms(terms, topk=10**9):
            if doc in dead.get(f_name, ()):
                continue
            total[doc] = total.get(doc, 0.0) + FIELDS[f_name] * s
    items = [
        (d, s) for d, s in total.items()
        if eligible is None or d in eligible
    ]
    return sorted(items, key=lambda kv: (-round(kv[1], 9), kv[0]))[:k]


def _expect_mf_text(mf_oracles, text, dead=None):
    """_expect_mf for a bm25_topk_multifield query string (clauses routed
    per parse_field_query, content first)."""
    routed = parse_field_query(text, FIELDS, "content")
    scoring = {
        f: tokenize_text(routed[f]) for f in ("content", "path") if f in routed
    }
    return _expect_mf(mf_oracles, scoring, dead=dead)


def _field_toksets(corpus_pd, col):
    return {
        int(d): set(tokenize_text(t))
        for d, t in zip(corpus_pd["doc_id"], corpus_pd[col])
    }


def test_search_fields_plain_equals_multifield(spark, mfp_index, corpus_pd):
    """Unmodified routed queries through the unified grammar must be
    rank-identical to bm25_topk_multifield's manual composition."""
    from dts.parser import search_fields

    cases = _mf_cases(corpus_pd)
    got = (
        search_fields(spark, mfp_index, [t for _, t in cases], k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    q = spark.createDataFrame(cases, "query_id long, text string")
    ref = (
        bm25_topk_multifield(spark, mfp_index, q, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert got[["query_id", "doc_id", "rank"]].values.tolist() == (
        ref[["query_id", "doc_id", "rank"]].values.tolist()
    )
    assert np.allclose(got["score"], ref["score"], rtol=0, atol=0)


def test_search_fields_must_and_not(spark, mfp_index, corpus_pd, mf_oracles):
    """The verdict's example shape: 'path:util +parse' — scoped scoring +
    cross-field MUST; plus a field-scoped exclusion."""
    from dts.parser import search_fields

    ctoks = tokenize_text(corpus_pd["content"].iloc[0])
    ptoks = tokenize_text(corpus_pd["path"].iloc[4])
    c_sets = _field_toksets(corpus_pd, "content")
    p_sets = _field_toksets(corpus_pd, "path")

    q1 = f"path:{ptoks[0]} +{ctoks[1]}"
    q2 = f"{ctoks[0]} -path:{ptoks[0]}"
    q3 = f"{ctoks[0]} +path:{ptoks[0]}"
    got = (
        search_fields(spark, mfp_index, [q1, q2, q3], k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    want1 = _expect_mf(
        mf_oracles,
        {"path": [ptoks[0]], "content": [ctoks[1]]},
        {d for d, s in c_sets.items() if ctoks[1] in s},
    )
    want2 = _expect_mf(
        mf_oracles,
        {"content": [ctoks[0]]},
        {d for d, s in p_sets.items() if ptoks[0] not in s},
    )
    want3 = _expect_mf(
        mf_oracles,
        {"content": [ctoks[0]], "path": [ptoks[0]]},
        {d for d, s in p_sets.items() if ptoks[0] in s},
    )
    for qid, want in [(0, want1), (1, want2), (2, want3)]:
        g = got[got["query_id"] == qid]
        assert list(g["doc_id"].astype(int)) == [d for d, _ in want], qid
        assert np.array_equal(
            g["score"].to_numpy(), np.array([s for _, s in want])
        ), qid


def test_search_fields_scoped_phrase_and_wildcard(
    spark, mfp_index, corpus_pd, mf_oracles
):
    from dts.oracle import phrase_count
    from dts.parser import search_fields

    ctoks = tokenize_text(corpus_pd["content"].iloc[0])
    ptoks = tokenize_text(corpus_pd["path"].iloc[4])
    phrase = f"{ptoks[0]} {ptoks[1]}"
    q1 = f'{ctoks[0]} path:"{phrase}"'
    prefix = ptoks[0][:2]
    q2 = f"{ctoks[0]} path:{prefix}*"
    got = (
        search_fields(spark, mfp_index, [q1, q2], k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    eligible1 = {
        int(d)
        for d, t in zip(corpus_pd["doc_id"], corpus_pd["path"])
        if phrase_count(t, phrase.split(" ")) > 0
    }
    want1 = _expect_mf(
        mf_oracles,
        {"content": [ctoks[0]], "path": [ptoks[0], ptoks[1]]},
        eligible1,
    )
    g1 = got[got["query_id"] == 0]
    assert list(g1["doc_id"].astype(int)) == [d for d, _ in want1]
    assert np.array_equal(
        g1["score"].to_numpy(), np.array([s for _, s in want1])
    )
    exp = sorted(mf_oracles["path"].wildcard_expand(f"{prefix}*"))
    want2 = _expect_mf(
        mf_oracles, {"content": [ctoks[0]], "path": exp}
    )
    g2 = got[got["query_id"] == 1]
    assert list(g2["doc_id"].astype(int)) == [d for d, _ in want2]


def test_search_fields_required_missing_term_kills_query(
    spark, mfp_index, corpus_pd
):
    from dts.parser import search_fields

    ctoks = tokenize_text(corpus_pd["content"].iloc[0])
    out = search_fields(
        spark, mfp_index, [f"{ctoks[0]} +path:zzqqnothere"], k=10
    )
    assert out.count() == 0


def test_multifield_fused_bmw_rank_identical(
    spark, mf_index, corpus_pd, mf_oracles
):
    """Round-5 verdict #6: the fused kernel with strategy='bmw' runs ONE
    block-max WAND walk across all fields' cursors (per-cursor
    boost·idf, avgdl) — rank-identical to the oracle at the round-9 key,
    scores equal to 1e-9."""
    cases = _mf_cases(corpus_pd)
    q = spark.createDataFrame(cases, "query_id long, text string")
    got = bm25_topk_multifield(
        spark, mf_index, q, k=10, strategy="bmw"
    ).toPandas()
    for qid, text in cases:
        want = _expect_mf_text(mf_oracles, text)
        g = got[got["query_id"] == qid].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == [d for d, _ in want], text
        assert np.allclose(
            g["score"], [s for _, s in want], rtol=0, atol=1e-9
        ), text


def test_multifield_fused_respects_tombstones(
    spark, docs_sdf, corpus_pd, mf_oracles, tmp_path
):
    """Per-field tombstones in the fused kernel: a doc deleted in ONE
    field loses only that field's contribution (both strategies)."""
    from dts.delete import delete_docs

    d = str(tmp_path / "mf_del")
    build_multifield_index(
        spark, docs_sdf, d, FIELDS, bucket_size=64, block_size=16
    )
    cases = _mf_cases(corpus_pd)
    q = spark.createDataFrame(cases, "query_id long, text string")
    # Delete a handful of docs from the PATH sub-index only.
    dead = {"path": {0, 4, 8, 12}}
    delete_docs(spark, f"{d}/field=path", sorted(dead["path"]))
    for strat in ("taat", "bmw"):
        got = bm25_topk_multifield(
            spark, d, q, k=10, strategy=strat
        ).toPandas()
        for qid, text in cases:
            want = _expect_mf_text(mf_oracles, text, dead=dead)
            g = got[got["query_id"] == qid].sort_values("rank")
            assert list(g["doc_id"].astype(int)) == [x for x, _ in want], (
                strat, text,
            )
            assert np.allclose(
                g["score"], [s for _, s in want], rtol=0, atol=1e-9
            ), (strat, text)


def _assert_ranked(got, qid, want, tag):
    g = got[got["query_id"] == qid].sort_values("rank")
    assert list(g["doc_id"].astype(int)) == [d for d, _ in want], tag
    assert np.allclose(
        g["score"].to_numpy(), [s for _, s in want], rtol=0, atol=1e-9
    ), tag


def test_search_fields_fused_identical_to_candidates(
    spark, mfp_index, corpus_pd, mf_oracles
):
    """Round-5 late session: the one-job fused kernel for the unified
    grammar (multifield.fused_multifield_topk) must be rank-identical to the
    per-field oracle across every query shape — scoped MUST/MUST_NOT,
    field-scoped phrases, wildcards, and a required term whose expansion
    is empty."""
    from dts.oracle import phrase_count
    from dts.parser import search_fields

    ctoks = tokenize_text(corpus_pd["content"].iloc[0])
    ptoks = tokenize_text(corpus_pd["path"].iloc[4])
    c_sets = _field_toksets(corpus_pd, "content")
    p_sets = _field_toksets(corpus_pd, "path")
    phrase = f"{ptoks[0]} {ptoks[1]}"
    prefix = ptoks[0][:2]
    queries = [
        f"{ctoks[0]} {ctoks[1]}",
        f"path:{ptoks[0]} +{ctoks[1]}",
        f"{ctoks[0]} -path:{ptoks[0]}",
        f'{ctoks[0]} path:"{phrase}"',
        f'+{ctoks[0]} -"{ctoks[1]} {ctoks[2]}" path:{prefix}*',
        f"{ctoks[0]} +path:zzqqnothere",
    ]
    got = search_fields(spark, mfp_index, queries, k=10).toPandas()

    def has_phrase(col, words):
        return {
            int(d) for d, t in zip(corpus_pd["doc_id"], corpus_pd[col])
            if phrase_count(t, words) > 0
        }

    wants = [
        _expect_mf(mf_oracles, {"content": [ctoks[0], ctoks[1]]}),
        _expect_mf(
            mf_oracles,
            {"content": [ctoks[1]], "path": [ptoks[0]]},
            {d for d, s in c_sets.items() if ctoks[1] in s},
        ),
        _expect_mf(
            mf_oracles,
            {"content": [ctoks[0]]},
            {d for d, s in p_sets.items() if ptoks[0] not in s},
        ),
        _expect_mf(
            mf_oracles,
            {"content": [ctoks[0]], "path": [ptoks[0], ptoks[1]]},
            has_phrase("path", phrase.split(" ")),
        ),
        _expect_mf(
            mf_oracles,
            {
                "content": [ctoks[0]],
                "path": sorted(mf_oracles["path"].wildcard_expand(f"{prefix}*")),
            },
            {d for d, s in c_sets.items() if ctoks[0] in s}
            - has_phrase("content", [ctoks[1], ctoks[2]]),
        ),
        [],
    ]
    for qid, want in enumerate(wants):
        _assert_ranked(got, qid, want, queries[qid])


def test_search_fields_fused_respects_tombstones(
    spark, docs_sdf, corpus_pd, mf_oracles, tmp_path
):
    """Fused unified-grammar kernel over an index with per-field
    tombstones: a doc deleted in ONE field loses that field's score AND
    its clause memberships there (a dead doc neither satisfies a required
    clause nor trips an excluded one in that field)."""
    from dts.delete import delete_docs
    from dts.oracle import phrase_count
    from dts.parser import search_fields

    d = str(tmp_path / "mfp_del")
    build_multifield_index(
        spark, docs_sdf, d, FIELDS, bucket_size=64, block_size=16,
        positions=True,
    )
    ctoks = tokenize_text(corpus_pd["content"].iloc[0])
    ptoks = tokenize_text(corpus_pd["path"].iloc[4])
    queries = [
        f"{ctoks[0]} +path:{ptoks[0]}",
        f"{ctoks[0]} -path:{ptoks[0]}",
        f'{ctoks[0]} path:"{ptoks[0]} {ptoks[1]}"',
    ]
    dead = {"path": {0, 4, 8, 12}}
    delete_docs(spark, f"{d}/field=path", sorted(dead["path"]))
    got = search_fields(spark, d, queries, k=10).toPandas()
    live_p0 = {
        dd for dd, s in _field_toksets(corpus_pd, "path").items()
        if ptoks[0] in s and dd not in dead["path"]
    }
    live_phrase = {
        int(dd) for dd, t in zip(corpus_pd["doc_id"], corpus_pd["path"])
        if phrase_count(t, [ptoks[0], ptoks[1]]) > 0
        and int(dd) not in dead["path"]
    }
    all_docs = set(corpus_pd["doc_id"].astype(int))
    wants = [
        _expect_mf(
            mf_oracles, {"content": [ctoks[0]], "path": [ptoks[0]]},
            live_p0, dead=dead,
        ),
        _expect_mf(
            mf_oracles, {"content": [ctoks[0]]}, all_docs - live_p0,
            dead=dead,
        ),
        _expect_mf(
            mf_oracles,
            {"content": [ctoks[0]], "path": [ptoks[0], ptoks[1]]},
            live_phrase, dead=dead,
        ),
    ]
    for qid, want in enumerate(wants):
        _assert_ranked(got, qid, want, queries[qid])


def _dismax_reference(mf_oracles, text, tie):
    """Per doc: max + tie·(sum − max) over the boost-weighted per-field
    BM25 scores of a routed query string, ranked by the engine key."""
    per_field = {}
    for f_name, sub in parse_field_query(text, FIELDS, "content").items():
        per_field[f_name] = {
            doc: FIELDS[f_name] * s
            for _, doc, s in mf_oracles[f_name].score_query(sub, topk=10**9)
        }
    out = {}
    for doc in set().union(*per_field.values()):
        vals = [sc[doc] for sc in per_field.values() if doc in sc]
        out[doc] = max(vals) + tie * (sum(vals) - max(vals))
    return sorted(out.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))


def test_search_fields_dismax(spark, mfp_index, corpus_pd, mf_oracles):
    """DisMax cross-field combine: the fused path equals the per-field
    oracle reference, the per-doc score equals max + tie·(sum − max) over
    the per-field sums, and tie_breaker=1.0 degenerates to the sum
    combine."""
    import numpy as np

    from dts.parser import search_fields

    cases = [t for _, t in _mf_cases(corpus_pd)]
    tie = 0.3
    a = (
        search_fields(
            spark, mfp_index, cases, k=10**6, default_field="content",
            combine="dismax", tie_breaker=tie,
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    for qid, text in enumerate(cases):
        _assert_ranked(a, qid, _dismax_reference(mf_oracles, text, tie), text)

    # per-field reference for the mixed query (index 2)
    mixed = cases[2]
    c_part, p_part = mixed.split(" ")[0], mixed.split(":")[1]
    sc = (
        search_fields(spark, mfp_index, [c_part], k=10**6,
                      default_field="content")
        .toPandas().set_index("doc_id")["score"]
    )
    sp = (
        search_fields(spark, mfp_index, [f"path:{p_part}"], k=10**6,
                      default_field="content")
        .toPandas().set_index("doc_id")["score"]
    )
    got = a[a["query_id"] == 2].set_index("doc_id")["score"]
    for did in got.index:
        st, ss = float(sc.get(did, 0.0)), float(sp.get(did, 0.0))
        assert np.isclose(got[did], max(st, ss) + tie * (st + ss - max(st, ss)))

    t1 = (
        search_fields(
            spark, mfp_index, cases, k=10**6, default_field="content",
            combine="dismax", tie_breaker=1.0,
        )
        .toPandas()
        .sort_values(["query_id", "doc_id"])
    )
    t2 = (
        search_fields(
            spark, mfp_index, cases, k=10**6, default_field="content",
            combine="sum",
        )
        .toPandas()
        .sort_values(["query_id", "doc_id"])
    )
    assert list(t1["doc_id"]) == list(t2["doc_id"])
    assert np.allclose(t1["score"].to_numpy(), t2["score"].to_numpy())

    with pytest.raises(ValueError, match="combine"):
        search_fields(spark, mfp_index, cases, combine="best")


def test_multifield_job_counts(spark, mfp_index, corpus_pd, count_jobs):
    """Per-call Spark job counts on the 4-bucket index pin the one fused
    path of each entry point (measured on a warm second call: the first
    call of a process also reads index schemas and the vocabulary)."""
    from dts.parser import search_fields

    cases = _mf_cases(corpus_pd)
    q = spark.createDataFrame(cases, "query_id long, text string")
    texts = [t for _, t in cases]
    for _ in range(2):
        _, sf_jobs = count_jobs(
            lambda: search_fields(spark, mfp_index, texts, k=10).collect()
        )
        _, mf_jobs = count_jobs(
            lambda: bm25_topk_multifield(spark, mfp_index, q, k=10).collect()
        )
    assert sf_jobs == 7, sf_jobs
    assert mf_jobs == 14, mf_jobs


def test_subindex_geometry_mismatch_raises(
    spark, docs_sdf, corpus_pd, tmp_path
):
    """Sub-indexes whose bucket_size differs cannot share the fused
    per-shard plan (or combined_fields' shard windows): every multifield
    scorer rejects the index with ValueError, under ``python -O`` too."""
    import json

    from pyspark.sql import functions as F

    from dts.index_build import build_index
    from dts.multifield import combined_fields_topk
    from dts.parser import search_fields

    d = str(tmp_path / "mf_geom")
    for col, bucket_size in (("content", 64), ("path", 32)):
        build_index(
            spark, docs_sdf.select("doc_id", F.col(col).alias("content")),
            f"{d}/field={col}", bucket_size=bucket_size, block_size=16,
        )
    with open(f"{d}/meta.json", "w") as f:
        json.dump({"fields": FIELDS}, f)
    ctok = tokenize_text(corpus_pd["content"].iloc[0])[0]
    ptok = tokenize_text(corpus_pd["path"].iloc[4])[0]
    text = f"{ctok} path:{ptok}"
    q = spark.createDataFrame([(0, text)], "query_id long, text string")
    with pytest.raises(ValueError, match="bucket_size"):
        bm25_topk_multifield(spark, d, q, k=10)
    with pytest.raises(ValueError, match="bucket_size"):
        search_fields(spark, d, [text], k=10)
    with pytest.raises(ValueError, match="bucket_size"):
        combined_fields_topk(spark, d, q, k=10)


def test_fused_bmw_rejects_role_and_synthetic_rows(mf_index, corpus_pd):
    """The fused kernel's block-max WAND walk scores plain disjunctive
    rows only: a required/excluded clause row or a synthetic phrase row
    raises ValueError instead of being scored as an optional term."""
    import pandas as pd

    from dts.index_build import load_meta
    from dts.multifield import _fused_scorer

    sub = f"{mf_index}/field=content"
    meta = load_meta(sub)
    term = tokenize_text(corpus_pd["content"].iloc[0])[0]
    rows = pd.read_parquet(f"{sub}/postings")
    rows = rows[rows["term"] == term].reset_index(drop=True)
    rows = rows.assign(query_id=0, clause=0, df=len(rows), field="content")
    stats = {
        "content": {
            "n_docs": float(meta["n_docs"]), "avgdl": float(meta["avgdl"]),
            "boost": 1.0, "block_size": meta["block_size"],
        }
    }
    kernel = _fused_scorer(stats, 10, "bmw")
    assert len(kernel(rows.assign(role=0))) > 0
    with pytest.raises(ValueError, match="taat"):
        kernel(rows.assign(role=1))
    syn = rows.assign(role=0, doc_blob=None, _syn_ids=None, _syn_tfs=None)
    with pytest.raises(ValueError, match="taat"):
        kernel(syn)


def test_cross_fields_vs_replay(spark, mf_index, corpus_pd):
    """ES multi_match type=cross_fields (term-centric blended df): full
    Python replay — per term, blended df = max over fields, per-doc
    dismax with tie_breaker across boosted per-field scores, sum over
    clauses — matches the engine for every (query, doc)."""
    import math
    from collections import Counter

    from dts.multifield import cross_fields_topk

    tie = 0.4
    ctoks = tokenize_text(corpus_pd["content"].iloc[0])
    ptoks = tokenize_text(corpus_pd["path"].iloc[4])
    queries = [
        (0, f"{ctoks[0]} {ptoks[0]}"),
        (1, f"{ctoks[1]} {ctoks[2]}"),
        (2, "zzqqxx"),
    ]
    q = spark.createDataFrame(queries, "query_id long, text string")
    got = cross_fields_topk(
        spark, mf_index, q, k=10**6, tie_breaker=tie
    ).collect()

    N = len(corpus_pd)

    def stats(col):
        tf: dict[str, dict[int, int]] = {}
        dl: dict[int, int] = {}
        for _, r in corpus_pd.iterrows():
            toks = tokenize_text(r[col])
            dl[int(r["doc_id"])] = len(toks)
            for t, c in Counter(toks).items():
                tf.setdefault(t, {})[int(r["doc_id"])] = c
        return tf, dl, sum(dl.values()) / N

    st = {f: stats(f) for f in FIELDS}
    K1, Bp = 1.2, 0.75

    def idf(df):
        return math.log(1 + (N - df + 0.5) / (df + 0.5))

    exp: dict[tuple[int, int], float] = {}
    for qid, text in queries:
        for t in tokenize_text(text):
            dfb = max(len(st[f][0].get(t, {})) for f in FIELDS)
            if dfb == 0:
                continue
            per_doc: dict[int, list[float]] = {}
            for f, boost in FIELDS.items():
                tf, dl, avgdl = st[f]
                for did, c in tf.get(t, {}).items():
                    s = (
                        boost * idf(dfb) * c * (K1 + 1)
                        / (c + K1 * (1 - Bp + Bp * dl[did] / avgdl))
                    )
                    per_doc.setdefault(did, []).append(s)
            for did, ss in per_doc.items():
                tsc = max(ss) + tie * (sum(ss) - max(ss))
                exp[(qid, did)] = exp.get((qid, did), 0.0) + tsc
    gotmap = {(int(r["query_id"]), int(r["doc_id"])): float(r["score"]) for r in got}
    assert set(gotmap) == set(exp)
    for key in exp:
        assert np.isclose(gotmap[key], exp[key], rtol=1e-9), key


def test_cross_fields_identical_fields_collapse(
    spark, docs_sdf, corpus_pd, tmp_path_factory
):
    """With two IDENTICAL fields and tie_breaker=1 (pure sum), the blend
    is a no-op and cross_fields degenerates to (b1+b2)·single-field BM25
    — pinned against the OracleIndex replay."""
    from pyspark.sql import functions as F

    from dts.multifield import cross_fields_topk

    d = str(tmp_path_factory.mktemp("cfid"))
    docs2 = docs_sdf.withColumn("copy", F.col("content"))
    build_multifield_index(
        spark, docs2.select("doc_id", "content", "copy", "repo", "path", "commit"),
        d, {"content": 1.0, "copy": 2.0}, bucket_size=64, block_size=16,
    )
    ctoks = tokenize_text(corpus_pd["content"].iloc[0])
    text = f"{ctoks[0]} {ctoks[3]}"
    q = spark.createDataFrame([(0, text)], "query_id long, text string")
    got = {
        int(r["doc_id"]): float(r["score"])
        for r in cross_fields_topk(spark, d, q, k=10**6, tie_breaker=1.0).collect()
    }
    oracle = OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )
    exp = {did: sc for _, did, sc in oracle.score_query(text, topk=10**9)}
    assert set(got) == set(exp)
    for did in exp:
        assert np.isclose(got[did], 3.0 * exp[did], rtol=1e-9), did


# ---------------------------------------------------------------------------
# combined_fields (BM25F-style — ES multi_match type=combined_fields /
# Lucene CombinedFieldQuery): fields merged into one pseudo-field BEFORE
# saturation. Reference = direct pure-python evaluation of the documented
# formula over the same corpus.


def _bm25f_reference(corpus_pd, weights, queries, dead=()):
    import math

    from dts.score import B, K1

    toks = {
        int(r.doc_id): {f: tokenize_text(getattr(r, f)) for f in weights}
        for r in corpus_pd.itertuples()
    }
    live = {i: t for i, t in toks.items() if i not in set(dead)}
    n = len(live)
    avgdlc = sum(
        weights[f] * (sum(len(t[f]) for t in live.values()) / n)
        for f in sorted(weights)
    )
    out = {}
    for qid, text in queries:
        sc = {}
        for t in tokenize_text(text):
            dfc = min(
                n,
                sum(
                    sum(1 for d in live.values() if t in d[f])
                    for f in weights
                ),
            )
            if dfc == 0:
                continue
            idf = math.log(1.0 + (n - dfc + 0.5) / (dfc + 0.5))
            for i, d in live.items():
                wtf = sum(
                    weights[f] * d[f].count(t) for f in sorted(weights)
                )
                if wtf <= 0:
                    continue
                dlc = sum(
                    weights[f] * len(d[f]) for f in sorted(weights)
                )
                sc[i] = sc.get(i, 0.0) + idf * (
                    wtf * (K1 + 1.0)
                    / (wtf + K1 * (1.0 - B + B * dlc / avgdlc))
                )
        out[qid] = sorted(sc.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))
    return out


def _cf_cases(corpus_pd):
    ctoks = tokenize_text(corpus_pd["content"].iloc[0])
    ptoks = tokenize_text(corpus_pd["path"].iloc[4])
    return [
        (0, f"{ctoks[0]} {ctoks[1]}"),
        (1, f"{ptoks[0]}"),                       # path-heavy term
        (2, f"{ctoks[0]} {ctoks[0]}"),            # duplicate term: 2× score
        (3, "zzqqnohit"),
    ]


def test_combined_fields_vs_reference(spark, mf_index, corpus_pd):
    from dts.multifield import combined_fields_topk

    cases = _cf_cases(corpus_pd)
    q = spark.createDataFrame(cases, "query_id long, text string")
    got = combined_fields_topk(spark, mf_index, q, k=10).collect()
    ref = _bm25f_reference(corpus_pd, FIELDS, cases)
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    assert 3 not in by_q  # no-hit query emits nothing
    for qid, expected in ref.items():
        rows = by_q.get(qid, [])
        assert [r["doc_id"] for r in rows] == [d for d, _ in expected[:10]]
        for r, (_, s) in zip(rows, expected):
            assert abs(r["score"] - s) < 1e-9


def test_combined_fields_duplicate_term_doubles_score(spark, mf_index, corpus_pd):
    from dts.multifield import combined_fields_topk

    t = tokenize_text(corpus_pd["content"].iloc[0])[0]
    q = spark.createDataFrame(
        [(0, t), (1, f"{t} {t}")], "query_id long, text string"
    )
    got = combined_fields_topk(spark, mf_index, q, k=5).collect()
    one = {r["doc_id"]: r["score"] for r in got if r["query_id"] == 0}
    two = {r["doc_id"]: r["score"] for r in got if r["query_id"] == 1}
    assert set(one) == set(two)
    for d in one:
        assert abs(two[d] - 2.0 * one[d]) < 1e-12


def test_combined_fields_respects_tombstones(
    spark, docs_sdf, corpus_pd, tmp_path
):
    from dts.delete import delete_docs
    from dts.multifield import combined_fields_topk

    d = str(tmp_path / "mfdel")
    build_multifield_index(
        spark, docs_sdf, d, FIELDS, bucket_size=64, block_size=16
    )
    cases = _cf_cases(corpus_pd)[:2]
    q = spark.createDataFrame(cases, "query_id long, text string")
    before = combined_fields_topk(spark, d, q, k=5).collect()
    dead = sorted({r["doc_id"] for r in before})[:2]
    for f in FIELDS:
        delete_docs(spark, f"{d}/field={f}", dead)
    after = combined_fields_topk(spark, d, q, k=5).collect()
    assert not {r["doc_id"] for r in after} & set(dead)
    # NOTE: stats (df/avgdl) intentionally keep counting tombstoned docs
    # until compaction (engine-wide contract) — so only membership is
    # asserted here, not scores.


def test_combined_fields_weight_override(spark, mf_index, corpus_pd):
    from dts.multifield import combined_fields_topk

    cases = _cf_cases(corpus_pd)[:2]
    q = spark.createDataFrame(cases, "query_id long, text string")
    w = {"content": 3.0, "path": 0.5}
    got = combined_fields_topk(spark, mf_index, q, k=10, weights=w).collect()
    ref = _bm25f_reference(corpus_pd, w, cases)
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, expected in ref.items():
        rows = by_q.get(qid, [])
        assert [r["doc_id"] for r in rows] == [d for d, _ in expected[:10]]
        for r, (_, s) in zip(rows, expected):
            assert abs(r["score"] - s) < 1e-9
