"""Nested boolean query trees (dts.qtree): grammar structure, Lucene
BooleanQuery match/score semantics vs an independent set-based reference,
and plan invariants (both scoring distributions bit-identical, one job)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from dts.index_build import build_index
from dts.oracle import OracleIndex, phrase_bm25_score, phrase_count
from dts.qtree import parse_bool_query, search_bool
from dts.score import B, K1
from dts.tokenizer import tokenize_text


def test_parse_tree_shapes():
    # precedence: AND binds tighter than OR / juxtaposition
    n = parse_bool_query("a AND b OR c")
    assert n[0] == "node"
    _, must, should, mnot, msm, boost = n
    assert must == () and mnot == () and msm == 1
    assert should[0][0] == "node" and should[1] == ("term", "c", 1.0)
    sub = should[0]
    assert sub[1] == (("term", "a", 1.0), ("term", "b", 1.0))  # must
    # NOT / ! / '-' are MUST_NOT at their level
    n2 = parse_bool_query("x NOT (y OR z)")
    _, must, should, mnot, msm, _ = n2
    assert should == (("term", "x", 1.0),) and msm == 1
    assert mnot[0][0] == "node"
    assert parse_bool_query("x !y")[3] == (("term", "y", 1.0),)
    # group msm + boost suffixes
    n3 = parse_bool_query("(a b c)~2^1.5")
    assert n3[4] == 2 and n3[5] == 1.5
    # single unsigned child collapses through
    assert parse_bool_query("(fast)") == ("term", "fast", 1.0)
    # multi-token atom = OR-group of its tokens
    n4 = parse_bool_query("+FastJoin")
    _, must, _, _, _, _ = n4
    assert must[0][0] == "node" and must[0][2] == (
        ("term", "fast", 1.0), ("term", "join", 1.0)
    )
    with pytest.raises(ValueError):
        parse_bool_query("(a OR b")
    with pytest.raises(ValueError):
        parse_bool_query("a) b")
    with pytest.raises(ValueError):
        parse_bool_query("()")


@pytest.fixture(scope="module")
def qt_index(spark, docs_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qt_index"))
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16,
                positions=True)
    return d


@pytest.fixture(scope="module")
def oracle(corpus_pd) -> OracleIndex:
    return OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )


def _leaf_scores(oracle, corpus_pd, leaf) -> dict[int, float]:
    """Reference per-doc score of one parse-tree leaf (expansions union,
    matching expansions sum — BooleanQuery-rewrite; phrases score as
    units via the shared phrase_bm25_score spec)."""
    kind = leaf[0]
    if kind == "term":
        terms = [leaf[1]] if leaf[1] in oracle.tf else []
        boost = leaf[2]
    elif kind == "fuzzy":
        terms, boost = oracle.expand_term(leaf[1], leaf[2]), leaf[3]
    elif kind == "wild":
        import fnmatch

        terms = [t for t in oracle.vocab if fnmatch.fnmatchcase(t, leaf[1])]
        boost = leaf[2]
    else:  # phrase
        words = leaf[1].split(" ")
        assert leaf[2] == 1, "exact phrases only in this reference"
        cnt = {
            int(d): phrase_count(c, words)
            for d, c in zip(corpus_pd["doc_id"], corpus_pd["content"])
        }
        cnt = {d: n for d, n in cnt.items() if n > 0}
        return {
            d: leaf[3] * phrase_bm25_score(
                oracle.n_docs, oracle.avgdl, len(cnt), n, oracle.doc_len[d]
            )
            for d, n in cnt.items()
        }
    out: dict[int, float] = {}
    for t in terms:
        df = len(oracle.tf[t])
        w = math.log(1.0 + (oracle.n_docs - df + 0.5) / (df + 0.5))
        for d, tf in oracle.tf[t].items():
            dl = oracle.doc_len[d]
            imp = tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * dl / oracle.avgdl)
            )
            out[d] = out.get(d, 0.0) + boost * w * imp
    return out


def _ref_eval(oracle, corpus_pd, node) -> dict[int, float]:
    """Independent evaluator over the PARSE tree: {doc: score} of matching
    docs (dict-based — validates the kernel's sorted-array algebra)."""
    if node[0] != "node":
        return _leaf_scores(oracle, corpus_pd, node)
    _, must, should, mnot, msm, boost = node
    mres = [_ref_eval(oracle, corpus_pd, c) for c in must]
    sres = [r for r in (_ref_eval(oracle, corpus_pd, c) for c in should) if r]
    if must:
        if any(not r for r in mres):
            return {}
        docs = set(mres[0])
        for r in mres[1:]:
            docs &= set(r)
    elif sres:
        docs = set().union(*[set(r) for r in sres])
    else:
        return {}
    if msm > 0:
        docs = {d for d in docs if sum(d in r for r in sres) >= msm}
    for c in mnot:
        docs -= set(_ref_eval(oracle, corpus_pd, c))
    return {
        d: boost * (
            sum(r[d] for r in mres) + sum(r.get(d, 0.0) for r in sres)
        )
        for d in docs
    }


def _check(spark, qt_index, oracle, corpus_pd, query: str):
    got = (
        search_bool(spark, qt_index, [query], k=10**6)
        .toPandas().sort_values("doc_id")
    )
    ref = _ref_eval(oracle, corpus_pd, parse_bool_query(query))
    assert sorted(got["doc_id"]) == sorted(ref), query
    want = np.array([ref[d] for d in got["doc_id"]])
    assert np.allclose(got["score"].to_numpy(), want, rtol=1e-12), query


QUERIES = [
    "{a} AND ({b} OR {c})",
    "{a} OR ({b} AND {c})",
    "({a} {b} {c})~2",
    "{a} NOT ({b} OR {c})",
    "({a} {b})^2 OR {c}",
    "{a} AND ({b} OR {c}) AND NOT {d}",
    "(({a} OR {b}) AND {c}) OR {d}",
    "{a} && ({b} || !{c})",
]


def test_tree_semantics_vs_reference(spark, qt_index, oracle, corpus_pd):
    toks = []
    for content in corpus_pd["content"]:
        for t in tokenize_text(content):
            if t not in toks:
                toks.append(t)
        if len(toks) >= 4:
            break
    a, b, c, d = toks[:4]
    for q in QUERIES:
        _check(spark, qt_index, oracle, corpus_pd,
               q.format(a=a, b=b, c=c, d=d))


def test_tree_fuzzy_wild_phrase_leaves(spark, qt_index, oracle, corpus_pd):
    t0 = tokenize_text(corpus_pd["content"].iloc[0])[0]
    t1 = tokenize_text(corpus_pd["content"].iloc[1])[0]
    bigram = None
    for content in corpus_pd["content"]:
        ts = tokenize_text(content)
        if len(ts) >= 2:
            bigram = f"{ts[0]} {ts[1]}"
            break
    qs = [
        f"{t0}~1 OR {t1}",
        f"{t0[:2]}* AND {t1}",
        f'"{bigram}" OR {t0}',
        f'{t1} AND NOT "{bigram}"',
    ]
    for q in qs:
        _check(spark, qt_index, oracle, corpus_pd, q)


def test_tree_distribute_modes_identical(
    spark, qt_index, corpus_pd, force_distribute
):
    toks = tokenize_text(corpus_pd["content"].iloc[0])[:3]
    q = f"{toks[0]} AND ({toks[1]} OR {toks[2]})"
    force_distribute("query")
    a = (
        search_bool(spark, qt_index, [q], k=10**6)
        .toPandas().sort_values("doc_id")
    )
    force_distribute("bucket")
    b = (
        search_bool(spark, qt_index, [q], k=10**6)
        .toPandas().sort_values("doc_id")
    )
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert np.array_equal(a["score"].to_numpy(), b["score"].to_numpy())


def test_tree_flat_parity(spark, qt_index, corpus_pd):
    """`t0 +t1 -t2` means the same thing in both grammars: identical
    ranked set, scores equal to the flat parser path."""
    from dts.parser import search

    toks = tokenize_text(corpus_pd["content"].iloc[0])[:3]
    q = f"{toks[0]} +{toks[1]} -{toks[2]}"
    a = search_bool(spark, qt_index, [q], k=10**6).toPandas().sort_values(
        "doc_id"
    )
    b = search(spark, qt_index, q, k=10**6).toPandas().sort_values("doc_id")
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert np.allclose(a["score"].to_numpy(), b["score"].to_numpy(),
                       rtol=1e-12)


def test_tree_batch_and_errors(spark, qt_index, corpus_pd):
    from dts.wildcard import TooManyClauses

    toks = tokenize_text(corpus_pd["content"].iloc[0])[:2]
    qs = [f"{toks[0]} AND {toks[1]}", f"{toks[0]} OR zzznope"]
    batch = search_bool(spark, qt_index, qs, k=5).toPandas()
    singles = [
        search_bool(spark, qt_index, [q], k=5).toPandas() for q in qs
    ]
    for qid, single in enumerate(singles):
        got = batch[batch["query_id"] == qid].sort_values("rank")
        assert list(got["doc_id"]) == list(single["doc_id"])
    # pure-negative query matches nothing (Lucene parity)
    assert search_bool(
        spark, qt_index, [f"NOT {toks[0]}"], k=5
    ).toPandas().empty
    with pytest.raises(TooManyClauses):
        search_bool(spark, qt_index, ["*a* AND x"], k=5, max_clauses=1)
