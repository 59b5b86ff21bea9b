"""Wildcard/prefix queries: expansion vs the spec oracle, counting,
rewrite scoring rank identity, and the range-pushdown plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dts.index_build import build_index
from dts.oracle import OracleIndex
from dts.wildcard import (
    _pattern_filter,
    _prefix_upper,
    bm25_topk_wildcard,
    expand_wildcard_terms,
    wildcard_match_counts,
)

PATTERNS = ["de*", "*t", "i*t", "def", "zzqq*", "*", "s*a*m"]


@pytest.fixture(scope="module")
def wc_index(spark, docs_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wc_index"))
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16)
    return d


@pytest.fixture(scope="module")
def oracle(corpus_pd) -> OracleIndex:
    return OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )


def test_prefix_upper():
    assert _prefix_upper("fa") == "fb"
    assert _prefix_upper("a" + chr(0x10FFFF)) == "b"
    assert _prefix_upper(chr(0x10FFFF)) is None
    assert _prefix_upper("") is None


@pytest.mark.parametrize("local", [True, False])
def test_expand_vs_oracle(spark, wc_index, oracle, local):
    """Both expansion paths — driver-side bisect and distributed pruned
    scan legs — must match the spec oracle (hence each other)."""
    pats = spark.createDataFrame(
        list(enumerate(PATTERNS)), "wq_id long, pattern string"
    )
    got = expand_wildcard_terms(spark, wc_index, pats, local=local).toPandas()
    by_q = {int(i): set(g["term"]) for i, g in got.groupby("wq_id")}
    for i, p in enumerate(PATTERNS):
        assert by_q.get(i, set()) == set(oracle.wildcard_expand(p)), p


def test_counts_vs_oracle(spark, wc_index, oracle):
    pats = spark.createDataFrame(
        list(enumerate(PATTERNS)), "wq_id long, pattern string"
    )
    got = {
        int(r["wq_id"]): int(r["n_matches"])
        for r in wildcard_match_counts(spark, wc_index, pats).collect()
    }
    for i, p in enumerate(PATTERNS):
        want = sum(
            sum(self_tf.values())
            for t, self_tf in (
                (t, oracle.tf[t]) for t in oracle.wildcard_expand(p)
            )
        )
        assert got[i] == want, p
    assert got[4] == 0  # the miss pattern reports an explicit zero


@pytest.mark.parametrize("distribute", ["query", "bucket"])
def test_topk_vs_oracle(spark, wc_index, oracle, distribute, force_distribute):
    force_distribute(distribute)
    pats = spark.createDataFrame(
        list(enumerate(PATTERNS)), "wq_id long, pattern string"
    )
    # max_clauses lifted: the '*' pattern expands to the whole vocabulary,
    # and this test pins the SCORED rewrite semantics (budget behavior has
    # its own tests below).
    got = bm25_topk_wildcard(
        spark, wc_index, pats, k=10, max_clauses=10**9,
    ).toPandas()
    for i, p in enumerate(PATTERNS):
        want = oracle.score_terms(oracle.wildcard_expand(p), topk=10)
        g = got[got["query_id"] == i].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == [d for _, d, _ in want], p
        assert np.allclose(
            g["score"].to_numpy(), [s for *_, s in want], rtol=0, atol=0
        ), p  # bit-identical: shared ascending-term summation order


def test_prefix_range_is_pushed_down(spark, wc_index):
    """The pure-prefix leg must reach the parquet scan as a range predicate
    (the term dictionary 'seek')."""
    vocab = spark.read.parquet(f"{wc_index}/term_stats").select("term")
    leg = vocab.filter(_pattern_filter("de*"))
    plan = leg._sc._jvm.PythonSQLUtils.explainString(
        leg._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(term,de)" in plan and "LessThan(term,df)" in plan, plan


def test_leading_wildcard_uses_reversed_dictionary(spark, wc_index):
    """Round-4: a leading-wildcard pattern must range-push into the
    rterm-sorted reversed dictionary (Lucene ReversedWildcardFilter) —
    '*nt' ⇒ rterm ∈ ['tn', 'to') — instead of scanning the vocabulary."""
    from dts.score_index import load_index
    from dts.wildcard import _reverse_pattern

    assert _reverse_pattern("*ing") == "gni*"
    assert _reverse_pattern("*a*b") == "b*a*"
    assert _reverse_pattern("jo*n") == "n*oj"
    idx = load_index(spark, wc_index, use_cache=False)
    assert idx["terms_rev"] is not None  # built by build_index
    pats = spark.createDataFrame([(0, "*nt")], "wq_id long, pattern string")
    leg = expand_wildcard_terms(spark, wc_index, pats, local=False)
    plan = leg._sc._jvm.PythonSQLUtils.explainString(
        leg._jdf.queryExecution(), "formatted"
    )
    assert "GreaterThanOrEqual(rterm,tn)" in plan and "LessThan(rterm,to)" in plan, plan


def test_reversed_dictionary_refreshed_on_merge(spark, wc_index, docs_sdf, tmp_path):
    """terms_rev stays consistent with the vocabulary across merge: a term
    introduced by the merge must be findable via a leading wildcard on
    BOTH expansion paths."""
    import shutil

    from dts.index_build import merge_index

    d = str(tmp_path / "wc_merge")
    shutil.copytree(wc_index, d)
    extra = spark.createDataFrame(
        [("zzuniquesuffixqx only here",)], "content string"
    )
    merge_index(spark, d, extra)
    pats = spark.createDataFrame(
        [(0, "*suffixqx")], "wq_id long, pattern string"
    )
    for local in (True, False):
        got = expand_wildcard_terms(spark, d, pats, local=local).collect()
        assert {r["term"] for r in got} == {"zzuniquesuffixqx"}, local


REGEXES = ["de[a-z]+", "i.*t", "(de|im)port.*", "zz[0-9]+", "[a-d]+", "s.m"]


def test_regex_literal_prefix():
    from dts.wildcard import _regex_literal_prefix

    assert _regex_literal_prefix("de[a-z]+") == "de"
    assert _regex_literal_prefix("abc*") == "ab"      # c is quantified
    assert _regex_literal_prefix("ab?c") == "a"
    assert _regex_literal_prefix(".*x") == ""
    assert _regex_literal_prefix("ab\\d") == "ab"
    assert _regex_literal_prefix("plain") == "plain"


@pytest.mark.parametrize("local", [True, False])
def test_regex_expand_vs_python(spark, wc_index, oracle, local):
    """Both regex expansion paths equal re.fullmatch over the vocabulary
    (Lucene RegexpQuery whole-term anchoring)."""
    import re as _re

    from dts.wildcard import expand_regex_terms

    pats = spark.createDataFrame(
        list(enumerate(REGEXES)), "rq_id long, pattern string"
    )
    got_df, terms = expand_regex_terms(spark, wc_index, pats, local=local)
    got = {
        int(i): set(g["term"])
        for i, g in got_df.toPandas().groupby("rq_id")
    }
    for i, p in enumerate(REGEXES):
        rx = _re.compile(p)
        want = {t for t in oracle.vocab if rx.fullmatch(t)}
        assert got.get(i, set()) == want, p
    if local:
        assert terms == sorted(set().union(*got.values())) if got else terms == []


def test_regex_counts_and_topk_vs_oracle(spark, wc_index, oracle):
    import re as _re

    from dts.wildcard import bm25_topk_regex, regex_match_counts

    pats = spark.createDataFrame(
        list(enumerate(REGEXES)), "rq_id long, pattern string"
    )
    got_c = {
        int(r["rq_id"]): int(r["n_matches"])
        for r in regex_match_counts(spark, wc_index, pats).collect()
    }
    for i, p in enumerate(REGEXES):
        rx = _re.compile(p)
        matched = [t for t in oracle.vocab if rx.fullmatch(t)]
        want = sum(sum(oracle.tf[t].values()) for t in matched)
        assert got_c[i] == want, p
    got_t = bm25_topk_regex(spark, wc_index, pats, k=10).toPandas()
    for i, p in enumerate(REGEXES):
        rx = _re.compile(p)
        matched = [t for t in oracle.vocab if rx.fullmatch(t)]
        want = oracle.score_terms(matched, topk=10)
        g = got_t[got_t["query_id"] == i].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == [d for _, d, _ in want], p
        assert np.allclose(
            g["score"].to_numpy(), [s for *_, s in want], rtol=0, atol=0
        ), p


def test_regex_match_docs_vs_oracle(spark, wc_index, oracle):
    import re as _re

    from dts.wildcard import regex_match_docs

    pats = spark.createDataFrame(
        list(enumerate(REGEXES)), "rq_id long, pattern string"
    )
    got = regex_match_docs(spark, wc_index, pats).toPandas()
    by_q = {int(i): set(g["doc_id"].astype(int)) for i, g in got.groupby("rq_id")}
    for i, p in enumerate(REGEXES):
        rx = _re.compile(p)
        want = set()
        for t in oracle.vocab:
            if rx.fullmatch(t):
                want |= set(oracle.tf[t])
        assert by_q.get(i, set()) == want, p


def test_match_docs_vs_oracle(spark, wc_index, oracle):
    from dts.wildcard import wildcard_match_docs

    pats = spark.createDataFrame(
        list(enumerate(PATTERNS)), "wq_id long, pattern string"
    )
    got = wildcard_match_docs(spark, wc_index, pats).toPandas()
    by_q = {int(i): set(g["doc_id"].astype(int)) for i, g in got.groupby("wq_id")}
    for i, p in enumerate(PATTERNS):
        want = set()
        for t in oracle.wildcard_expand(p):
            want |= set(oracle.tf[t])
        assert by_q.get(i, set()) == want, p


def test_clause_budget_error_mode(spark, wc_index):
    """Round-5 verdict #2: on_too_many='error' raises a
    TooManyClauses-style error naming the constant-score remedy."""
    import pytest

    from dts.wildcard import TooManyClauses, bm25_topk_regex

    pats = spark.createDataFrame(
        [(0, "de*")], "wq_id long, pattern string"
    )
    with pytest.raises(TooManyClauses, match="wildcard_match_docs"):
        bm25_topk_wildcard(
            spark, wc_index, pats, k=10, max_clauses=1, on_too_many="error"
        ).collect()
    rpats = spark.createDataFrame([(0, "de.*")], "rq_id long, pattern string")
    with pytest.raises(TooManyClauses, match="regex_match_docs"):
        bm25_topk_regex(
            spark, wc_index, rpats, k=10, max_clauses=1, on_too_many="error"
        ).collect()


def test_clause_budget_constant_score_autoswitch(spark, wc_index, oracle):
    """Default on_too_many='constant': an over-budget pattern returns the
    constant-score rewrite (score 1.0, k lowest doc_ids — Lucene's
    equal-score tie-break) while under-budget patterns in the SAME batch
    keep exact scored-rewrite results."""
    wide, narrow = "*", "def"
    pats = spark.createDataFrame(
        [(0, wide), (1, narrow)], "wq_id long, pattern string"
    )
    got = bm25_topk_wildcard(
        spark, wc_index, pats, k=10, max_clauses=64
    ).toPandas()
    g0 = got[got["query_id"] == 0].sort_values("rank")
    want_docs = set()
    for t in oracle.wildcard_expand(wide):
        want_docs |= set(oracle.tf[t])
    assert list(g0["doc_id"].astype(int)) == sorted(want_docs)[:10]
    assert (g0["score"] == 1.0).all()
    g1 = got[got["query_id"] == 1].sort_values("rank")
    want = oracle.score_terms(oracle.wildcard_expand(narrow), topk=10)
    assert list(g1["doc_id"].astype(int)) == [d for _, d, _ in want]
    assert np.allclose(
        g1["score"].to_numpy(), [s for *_, s in want], rtol=0, atol=0
    )


def test_parser_wildcard_budget_raises(spark, wc_index):
    """Inside a composed query string there is no constant-score fallback
    — a too-wide wildcard raises (Lucene QueryParser parity)."""
    import pytest

    from dts.parser import search
    from dts.wildcard import TooManyClauses

    with pytest.raises(TooManyClauses, match="max_clauses"):
        search(spark, wc_index, "def d*", max_clauses=1).collect()


def test_term_range_docs_vs_replay(spark, wc_index, corpus_pd):
    from dts.tokenizer import tokenize_text
    from dts.wildcard import term_range_docs

    doc_toks = {
        int(r["doc_id"]): set(tokenize_text(r["content"]))
        for _, r in corpus_pd.iterrows()
    }
    vocab = sorted({t for s in doc_toks.values() for t in s})
    lo, hi = vocab[len(vocab) // 4], vocab[len(vocab) // 2]
    qs = [
        (0, lo, hi, True, True),
        (1, lo, hi, False, False),
        (2, None, vocab[3], True, True),     # [* TO x]
        (3, vocab[-2], None, False, True),   # {y TO *]
        (4, "zzz", "zzzz", True, True),      # empty slice
    ]
    q = spark.createDataFrame(
        qs, "wq_id long, lo string, hi string, lo_incl boolean, hi_incl boolean"
    )
    got = term_range_docs(spark, wc_index, q).toPandas()
    for wq_id, lo_, hi_, li, hi_i in qs:
        def _in(t):
            if lo_ is not None and (t < lo_ if li else t <= lo_):
                return False
            if hi_ is not None and (t > hi_ if hi_i else t >= hi_):
                return False
            return True

        want = {d for d, s in doc_toks.items() if any(_in(t) for t in s)}
        g = set(got[got["wq_id"] == wq_id]["doc_id"].astype(int))
        assert g == want, (wq_id, lo_, hi_)


def test_match_bool_prefix(spark, wc_index, corpus_pd):
    """match_bool_prefix == manual composition: exact clauses + the
    term-ordered capped prefix expansion, one clause per expansion; a
    no-expansion prefix leaves the exact clauses scoring."""
    from dts.score_index import score_expanded_terms
    from dts.tokenizer import tokenize_text
    from dts.wildcard import expand_wildcard_terms, match_bool_prefix_topk

    toks = tokenize_text(corpus_pd["content"].iloc[0])
    a = toks[0]
    pre = toks[2][:2]
    q = spark.createDataFrame(
        [(0, f"{a} {pre}"), (1, f"{a} zzqqnever")],
        "query_id long, text string",
    )
    got = match_bool_prefix_topk(
        spark, wc_index, q, k=10, max_expansions=3
    ).collect()

    pats = spark.createDataFrame(
        [(0, f"{pre}*")], "wq_id long, pattern string"
    )
    exp = sorted(
        r["term"] for r in expand_wildcard_terms(spark, wc_index, pats).collect()
    )[:3]
    rows = [(0, 0, a)] + [(0, 1, t) for t in exp] + [(1, 0, a)]
    qt = spark.createDataFrame(rows, "query_id long, clause long, term string")
    want = score_expanded_terms(spark, wc_index, qt, n_queries=2, k=10).collect()
    key = lambda rs: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in rs
    )
    assert key(got) == key(want)
    assert {r["query_id"] for r in got} == {0, 1}
