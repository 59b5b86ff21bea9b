"""Filtered search (Lucene filter context, round 4): only allow-list docs
are ranked, masked BEFORE top-k truncation, scores keep full-corpus
statistics — composable with tombstones and both strategies."""

from __future__ import annotations

import numpy as np
import pytest

from dts.index_build import build_index
from dts.oracle import OracleIndex
from dts.score_index import bm25_topk_indexed
from dts.tokenizer import tokenize_text


@pytest.fixture(scope="module")
def f_index(spark, docs_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("f_index"))
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16)
    return d


@pytest.fixture(scope="module")
def oracle(corpus_pd) -> OracleIndex:
    return OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )


def _queries(spark, corpus_pd, n=5):
    texts = [
        " ".join(tokenize_text(r["content"])[:3])
        for _, r in corpus_pd.head(n).iterrows()
    ]
    return texts, spark.createDataFrame(
        [(i, t, 0) for i, t in enumerate(texts)],
        "query_id long, text string, fuzzy_k int",
    )


@pytest.mark.parametrize("strategy,distribute", [
    ("taat", "query"), ("taat", "bucket"), ("bmw", "query"),
])
def test_filtered_topk_vs_oracle(
    spark, f_index, corpus_pd, oracle, strategy, distribute, force_distribute
):
    force_distribute(distribute)
    keep = {int(d) for d in corpus_pd["doc_id"] if int(d) % 3 == 0}
    flt = spark.createDataFrame([(d,) for d in sorted(keep)], "doc_id long")
    texts, q = _queries(spark, corpus_pd)
    got = bm25_topk_indexed(
        spark, f_index, q, k=10, strategy=strategy, doc_filter=flt,
    ).toPandas()
    assert set(got["doc_id"].astype(int)) <= keep
    for i, text in enumerate(texts):
        want = [
            (d, s)
            for _, d, s in oracle.score_query(text, topk=10**6)
            if d in keep
        ][:10]
        g = got[got["query_id"] == i].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == [d for d, _ in want], (
            strategy, distribute, text,
        )
        assert np.array_equal(
            g["score"].to_numpy(), np.array([s for _, s in want])
        ), (strategy, distribute, text, "full-corpus stats, bit identity")


def test_filter_composes_with_tombstones(spark, f_index, corpus_pd, oracle, tmp_path):
    """filter ∧ ¬deleted: both masks apply before truncation."""
    import shutil

    from dts.delete import delete_docs

    d = str(tmp_path / "f_del")
    shutil.copytree(f_index, d)
    dead = set(range(0, len(corpus_pd), 7))
    delete_docs(spark, d, sorted(dead))
    keep = {int(x) for x in corpus_pd["doc_id"] if int(x) % 2 == 0}
    flt = spark.createDataFrame([(x,) for x in sorted(keep)], "doc_id long")
    texts, q = _queries(spark, corpus_pd, n=3)
    got = bm25_topk_indexed(spark, d, q, k=10, doc_filter=flt).toPandas()
    eligible = keep - dead
    assert set(got["doc_id"].astype(int)) <= eligible
    for i, text in enumerate(texts):
        want = [
            dd
            for _, dd, _ in oracle.score_query(text, topk=10**6)
            if dd in eligible
        ][:10]
        g = got[got["query_id"] == i].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == want, text


def test_empty_and_and_mode_filter(spark, f_index, corpus_pd, oracle):
    """An empty allow-list yields zero rows (never a crash); AND-mode
    composes (intersection then filter)."""
    texts, q = _queries(spark, corpus_pd, n=2)
    empty = spark.createDataFrame([], "doc_id long")
    assert bm25_topk_indexed(
        spark, f_index, q, k=10, doc_filter=empty
    ).count() == 0
    keep = {int(d) for d in corpus_pd["doc_id"] if int(d) % 2 == 1}
    flt = spark.createDataFrame([(d,) for d in sorted(keep)], "doc_id long")
    got = bm25_topk_indexed(
        spark, f_index, q, k=10, mode="and", doc_filter=flt
    ).toPandas()
    assert set(got["doc_id"].astype(int)) <= keep
    for i, text in enumerate(texts):
        want = [
            (d, s)
            for _, d, s in oracle.score_query_and(text, 0, topk=10**6)
            if d in keep
        ][:10]
        g = got[got["query_id"] == i].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == [d for d, _ in want], text
