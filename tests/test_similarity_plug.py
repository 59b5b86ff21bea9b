"""Pluggable similarity (dts.score classic_weight/classic_impact +
score_index similarity=): Lucene ClassicSimilarity over the same index
that serves BM25, exact vs a single-process python reference."""

from __future__ import annotations

import collections
import math

import numpy as np
import pytest

from dts.index_build import build_index
from dts.score_index import bm25_topk_indexed
from dts.tokenizer import tokenize_text


@pytest.fixture(scope="module")
def cls_idx(spark, docs_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cls") / "idx")
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16)
    return d


def _classic_ref(corpus_pd, qterms, k=10):
    toks = {
        int(r.doc_id): tokenize_text(r.content)
        for r in corpus_pd.itertuples()
    }
    n = len(toks)
    df = collections.Counter()
    for ts in toks.values():
        df.update(set(ts))
    out = {}
    for did, ts in toks.items():
        c = collections.Counter(ts)
        s = 0.0
        for t in qterms:
            if c[t]:
                s += (
                    (1.0 + math.log(n / (df[t] + 1.0))) ** 2
                    * math.sqrt(c[t])
                    / math.sqrt(len(ts))
                )
        if s:
            out[did] = s
    return sorted(out.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:k]


@pytest.mark.parametrize("distribute", ["query", "bucket"])
def test_classic_matches_reference(
    spark, cls_idx, corpus_pd, distribute, force_distribute
):
    force_distribute(distribute)
    text = " ".join(tokenize_text(corpus_pd["content"].iloc[0])[:3])
    q = spark.createDataFrame(
        [(0, text, 0)], "query_id long, text string, fuzzy_k int"
    )
    got = (
        bm25_topk_indexed(
            spark, cls_idx, q, k=10, similarity="classic",
        )
        .toPandas()
        .sort_values("rank")
    )
    want = _classic_ref(corpus_pd, text.split())
    assert list(got["doc_id"]) == [d for d, _ in want]
    assert np.allclose(list(got["score"]), [s for _, s in want])


def test_classic_differs_from_bm25_scores(spark, cls_idx, corpus_pd):
    text = " ".join(tokenize_text(corpus_pd["content"].iloc[0])[:3])
    q = spark.createDataFrame(
        [(0, text, 0)], "query_id long, text string, fuzzy_k int"
    )
    a = bm25_topk_indexed(spark, cls_idx, q, k=5).toPandas()
    b = bm25_topk_indexed(
        spark, cls_idx, q, k=5, similarity="classic"
    ).toPandas()
    assert list(a["score"]) != list(b["score"])


def test_classic_rejects_bmw_and_unknown(spark, cls_idx):
    q = spark.createDataFrame(
        [(0, "fast", 0)], "query_id long, text string, fuzzy_k int"
    )
    with pytest.raises(ValueError, match="bmw"):
        bm25_topk_indexed(
            spark, cls_idx, q, similarity="classic", strategy="bmw"
        ).count()
    with pytest.raises(ValueError, match="unknown similarity"):
        bm25_topk_indexed(spark, cls_idx, q, similarity="dfr").count()


def _lmd_ref(corpus_pd, qterms, k=10, mu=2000.0):
    toks = {
        int(r.doc_id): tokenize_text(r.content)
        for r in corpus_pd.itertuples()
    }
    total = float(sum(len(ts) for ts in toks.values()))
    cf = collections.Counter()
    for ts in toks.values():
        cf.update(ts)
    out = {}
    for did, ts in toks.items():
        c = collections.Counter(ts)
        s, matched = 0.0, False
        for t in qterms:
            if c[t]:
                matched = True
                p = cf[t] / total
                s += max(
                    math.log(1.0 + c[t] / (mu * p))
                    + math.log(mu / (len(ts) + mu)),
                    0.0,
                )
        if matched:
            out[did] = s
    return sorted(out.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:k]


@pytest.mark.parametrize("distribute", ["query", "bucket"])
def test_lmd_matches_reference(
    spark, cls_idx, corpus_pd, distribute, force_distribute
):
    force_distribute(distribute)
    text = " ".join(tokenize_text(corpus_pd["content"].iloc[0])[:3])
    q = spark.createDataFrame(
        [(0, text, 0)], "query_id long, text string, fuzzy_k int"
    )
    got = (
        bm25_topk_indexed(
            spark, cls_idx, q, k=10, similarity="lmd",
        )
        .toPandas()
        .sort_values("rank")
    )
    want = _lmd_ref(corpus_pd, text.split())
    assert list(got["doc_id"]) == [d for d, _ in want]
    assert np.allclose(list(got["score"]), [s for _, s in want])


def test_lmd_floor_engages(spark, corpus_pd, tmp_path):
    """A head term in a very LONG doc would go negative without the
    per-term floor; Lucene clamps at 0 — so must the kernel."""
    import pandas as pd

    rows = [(i, "common filler" + f" word{i}" * 3) for i in range(30)]
    rows.append((30, "common " + "padding " * 3000))  # huge dl, tf=1
    pdf = pd.DataFrame(rows, columns=["doc_id", "content"])
    d = str(tmp_path / "lmd_idx")
    build_index(spark, spark.createDataFrame(pdf), d, bucket_size=16)
    q = spark.createDataFrame(
        [(0, "common", 0)], "query_id long, text string, fuzzy_k int"
    )
    got = bm25_topk_indexed(
        spark, d, q, k=100, similarity="lmd"
    ).toPandas()
    want = _lmd_ref(pdf, ["common"], k=100)
    by_id = {int(r.doc_id): float(r.score) for r in got.itertuples()}
    assert set(by_id) == {d_ for d_, _ in want}
    for d_, s in want:
        assert math.isclose(by_id[d_], s, abs_tol=1e-9)
    assert by_id[30] == 0.0  # floored, still ranked (matched the term)
    assert min(s for _, s in want[:-1]) > 0


def test_lmd_rejects_bmw(spark, cls_idx):
    q = spark.createDataFrame(
        [(0, "fast", 0)], "query_id long, text string, fuzzy_k int"
    )
    with pytest.raises(ValueError, match="bmw"):
        bm25_topk_indexed(
            spark, cls_idx, q, similarity="lmd", strategy="bmw"
        ).count()
