"""SynonymQuery blended scoring vs a python replay of the Lucene blend."""

from __future__ import annotations

import numpy as np
import pytest

from dts.index_build import build_index
from dts.oracle import K1, B, OracleIndex, idf
from dts.synonym import bm25_topk_synonyms
from dts.tokenizer import tokenize_text


@pytest.fixture(scope="module")
def syn_index(spark, docs_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("syn_index"))
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16)
    return d


@pytest.fixture(scope="module")
def oracle(corpus_pd) -> OracleIndex:
    return OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )


def _syn_replay(oracle, text, synonyms, topk=10):
    scores: dict[int, float] = {}

    def add(doc_id, s):
        scores[doc_id] = scores.get(doc_id, 0.0) + s

    for tok in tokenize_text(text):
        alts = synonyms.get(tok)
        if not alts:
            if tok not in oracle.tf:
                continue
            w = idf(oracle.n_docs, len(oracle.tf[tok]))
            for d, tf in oracle.tf[tok].items():
                dl = oracle.doc_len[d]
                add(d, w * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / oracle.avgdl)))
        else:
            mem = sorted({tok, *alts})
            df_b = max((len(oracle.tf.get(t, {})) for t in mem), default=0)
            tfb: dict[int, int] = {}
            for t in mem:
                for d, tf in oracle.tf.get(t, {}).items():
                    tfb[d] = tfb.get(d, 0) + tf
            if not tfb:
                continue
            w = idf(oracle.n_docs, df_b)
            for d, tf in tfb.items():
                dl = oracle.doc_len[d]
                add(d, w * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / oracle.avgdl)))
    ranked = sorted(scores.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:topk]
    return ranked


def test_synonym_blend_vs_replay(spark, syn_index, oracle, corpus_pd):
    t = tokenize_text(corpus_pd["content"].iloc[0])
    u = tokenize_text(corpus_pd["content"].iloc[7])
    synonyms = {t[0]: [u[1]], u[3]: [t[2], "zzznosuch"]}
    queries = [
        (0, f"{t[0]} {t[1]}"),          # one blended + one plain clause
        (1, f"{u[3]}"),                  # blend incl. a dead member
        (2, f"{t[0]} {t[0]}"),          # duplicate blended clauses
        (3, f"{t[1]} {u[2]}"),          # no synonyms at all
    ]
    q = spark.createDataFrame(queries, "query_id long, text string")
    got = (
        bm25_topk_synonyms(spark, syn_index, q, synonyms, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    for qid, text in queries:
        want = _syn_replay(oracle, text, synonyms)
        g = got[got["query_id"] == qid]
        assert list(g["doc_id"].astype(int)) == [d for d, _ in want], (qid, text)
        assert np.allclose(
            g["score"].to_numpy(), [s for _, s in want], rtol=1e-9, atol=1e-12
        ), (qid, text)


def test_synonym_empty_map_matches_plain_topk(spark, syn_index, queries_pd):
    from dts.score_index import bm25_topk_indexed

    q = spark.createDataFrame(queries_pd.iloc[:3][["query_id", "text"]])
    base = bm25_topk_indexed(spark, syn_index, q, k=8).toPandas()
    syn = bm25_topk_synonyms(spark, syn_index, q, {}, k=8).toPandas()
    key = ["query_id", "rank"]
    b = base.sort_values(key).reset_index(drop=True)
    s = syn.sort_values(key).reset_index(drop=True)
    assert list(b["doc_id"]) == list(s["doc_id"])
    assert np.allclose(b["score"], s["score"])


def test_synonym_bucket_distribute_identical(
    spark, syn_index, oracle, corpus_pd, force_distribute
):
    t = tokenize_text(corpus_pd["content"].iloc[0])
    synonyms = {t[0]: [t[3]]}
    q = spark.createDataFrame([(0, f"{t[0]} {t[2]}")], "query_id long, text string")
    force_distribute("query")
    a = bm25_topk_synonyms(spark, syn_index, q, synonyms, k=10).toPandas()
    force_distribute("bucket")
    b = bm25_topk_synonyms(spark, syn_index, q, synonyms, k=10).toPandas()
    a = a.sort_values("rank").reset_index(drop=True)
    b = b.sort_values("rank").reset_index(drop=True)
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert np.array_equal(a["score"].to_numpy(), b["score"].to_numpy())
