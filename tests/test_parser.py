"""Query-string parser + one-call search: parse structure, and end-to-end
rank identity vs compositions of the already-oracle-verified operators."""

from __future__ import annotations

import numpy as np
import pytest

from dts.index_build import build_index
from dts.oracle import OracleIndex
from dts.parser import parse_query, search
from dts.tokenizer import tokenize_text


def test_parse_query_structure():
    q = parse_query('fast +join -slow "table scan" quer* fuzz~1 -"bad pair"')
    assert q.score_terms == ["fast"]
    assert q.phrase_terms == ["table", "scan"]
    assert q.must == ["join"]
    assert q.must_not == ["slow"]
    assert q.phrases == ["table scan"]
    assert q.not_phrases == ["bad pair"]
    assert q.wildcards == ["quer*"]
    assert q.fuzzy == [("fuzz", 1)]
    # camelCase atoms split through the shared tokenizer
    assert parse_query("+FastJoin").must == ["fast", "join"]
    assert parse_query("").score_terms == []


@pytest.fixture(scope="module")
def p_index(spark, docs_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("p_index"))
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16,
                positions=True)
    return d


@pytest.fixture(scope="module")
def oracle(corpus_pd) -> OracleIndex:
    return OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )


def _ranked(oracle, terms, eligible=None, k=10):
    """Reference ranking: score the term multiset, keep eligible docs,
    truncate — the parser's documented semantics."""
    want = [
        (d, s)
        for _, d, s in oracle.score_terms(terms, topk=10**6)
        if eligible is None or d in eligible
    ]
    return want[:k]


def test_search_bare_equals_bm25(spark, p_index, corpus_pd, oracle):
    from dts.score_index import bm25_topk_indexed

    toks = tokenize_text(corpus_pd["content"].iloc[0])[:3]
    text = " ".join(toks)
    got = search(spark, p_index, text, k=10).toPandas().sort_values("rank")
    ref = bm25_topk_indexed(
        spark, p_index,
        spark.createDataFrame([(0, text, 0)], "query_id long, text string, fuzzy_k int"),
        k=10,
    ).toPandas().sort_values("rank")
    assert list(got["doc_id"]) == list(ref["doc_id"])
    assert np.array_equal(got["score"].to_numpy(), ref["score"].to_numpy())


def test_search_must_and_not(spark, p_index, corpus_pd, oracle):
    toks0 = tokenize_text(corpus_pd["content"].iloc[0])
    toks9 = tokenize_text(corpus_pd["content"].iloc[9])
    t_score, t_must, t_not = toks0[0], toks0[1], toks9[0]
    got = search(
        spark, p_index, f"{t_score} +{t_must} -{t_not}", k=10
    ).toPandas().sort_values("rank")
    eligible = {
        d
        for d, txt in zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"])
        if t_must in tokenize_text(txt) and t_not not in tokenize_text(txt)
    }
    want = _ranked(oracle, [t_score, t_must], eligible)
    assert list(got["doc_id"].astype(int)) == [d for d, _ in want]
    assert np.array_equal(
        got["score"].to_numpy(), np.array([s for _, s in want])
    )


def test_search_negative_only_anchors_on_candidates(
    spark, p_index, corpus_pd, oracle
):
    toks0 = tokenize_text(corpus_pd["content"].iloc[0])
    toks5 = tokenize_text(corpus_pd["content"].iloc[5])
    t, t_not = toks0[0], toks5[0]
    got = search(spark, p_index, f"{t} -{t_not}", k=10).toPandas()
    eligible = {
        d
        for d, txt in zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"])
        if t_not not in tokenize_text(txt)
    }
    want = _ranked(oracle, [t], eligible)
    got = got.sort_values("rank")
    assert list(got["doc_id"].astype(int)) == [d for d, _ in want]


def test_search_phrase_required_and_wildcard(spark, p_index, corpus_pd, oracle):
    toks3 = tokenize_text(corpus_pd["content"].iloc[3])
    phrase = f"{toks3[1]} {toks3[2]}"
    got = search(spark, p_index, f'"{phrase}"', k=10).toPandas()
    from dts.oracle import phrase_count

    eligible = {
        int(d)
        for d, txt in zip(corpus_pd["doc_id"], corpus_pd["content"])
        if phrase_count(txt, phrase.split(" ")) > 0
    }
    assert set(got["doc_id"].astype(int)) <= eligible
    want = _ranked(oracle, phrase.split(" "), eligible)
    got = got.sort_values("rank")
    assert list(got["doc_id"].astype(int)) == [d for d, _ in want]

    # wildcard: scores the expansion set (distinct terms)
    prefix = toks3[0][:2]
    got_w = search(spark, p_index, f"{prefix}*", k=10).toPandas().sort_values("rank")
    exp_terms = sorted(oracle.wildcard_expand(f"{prefix}*"))
    want_w = oracle.score_terms(exp_terms, topk=10)
    assert list(got_w["doc_id"].astype(int)) == [d for _, d, _ in want_w]


def test_search_batch_equals_per_query(spark, p_index, corpus_pd):
    """search_batch fuses phrase-free queries into one job and must equal
    per-query search row-for-row; phrase queries fall back and union in."""
    from dts.parser import search_batch

    toks0 = tokenize_text(corpus_pd["content"].iloc[0])
    toks3 = tokenize_text(corpus_pd["content"].iloc[3])
    toks9 = tokenize_text(corpus_pd["content"].iloc[9])
    qs = [
        f"{toks0[0]} {toks0[1]}",
        f"{toks0[0]} +{toks0[1]} -{toks9[0]}",
        f"+{toks3[0]}",
        f'{toks0[0]} "{toks3[1]} {toks3[2]}"',   # phrase → fallback leg
        "zzzznothing",
    ]
    batch = (
        search_batch(spark, p_index, qs, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    import pandas as pd

    singles = []
    for i, s in enumerate(qs):
        one = search(spark, p_index, s, k=10).toPandas()
        one["query_id"] = i
        singles.append(one)
    want = (
        pd.concat(singles, ignore_index=True)
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    cols = ["query_id", "doc_id", "rank"]
    assert batch[cols].values.tolist() == want[cols].values.tolist()
    assert np.allclose(batch["score"], want["score"], rtol=0, atol=0)


def test_search_fuzzy_and_empty(spark, p_index, corpus_pd, oracle):
    toks = next(
        ts
        for ts in (
            tokenize_text(t) for t in corpus_pd["content"].iloc[2:12]
        )
        if len(ts) >= 2
    )
    t = toks[0]
    fz = (t[:-1] + "x") if len(t) > 3 else (t + "x")
    got = search(spark, p_index, f"{fz}~1", k=10).toPandas()
    exp = sorted(oracle.expand_term(fz, 1))
    if exp:
        want = oracle.score_terms(exp, topk=10)
        got = got.sort_values("rank")
        assert list(got["doc_id"].astype(int)) == [d for _, d, _ in want]
    assert search(spark, p_index, "", k=10).count() == 0
    assert search(spark, p_index, "-only negative? no:", k=10).count() == 0


def test_parse_signed_fuzzy_and_wildcard_structure():
    """Round-5 ADVICE: '-quer*' excludes the wildcard EXPANSION (not the
    literal 'quer'); '+fuzz~1' keeps MUST semantics; '-fuzz~1' excludes
    the fuzzy expansion."""
    q = parse_query("+fuzz~1 -quer* +wild* -miss~2 base")
    assert q.must_fuzzy == [("fuzz", 1)]
    assert q.not_wildcards == ["quer*"]
    assert q.must_wildcards == ["wild*"]
    assert q.not_fuzzy == [("miss", 2)]
    assert q.score_terms == ["base"]
    assert q.must == [] and q.must_not == []
    assert q.n_required == 2


def test_search_negated_wildcard_excludes_expansion(
    spark, p_index, corpus_pd, oracle
):
    toks0 = tokenize_text(corpus_pd["content"].iloc[0])
    toks7 = tokenize_text(corpus_pd["content"].iloc[7])
    t = toks0[0]
    prefix = toks7[0][:2]
    got = search(spark, p_index, f"{t} -{prefix}*", k=10).toPandas()
    excluded_terms = set(oracle.wildcard_expand(f"{prefix}*"))
    eligible = {
        int(d)
        for d, txt in zip(corpus_pd["doc_id"], corpus_pd["content"])
        if not (excluded_terms & set(tokenize_text(txt)))
    }
    want = _ranked(oracle, [t], eligible)
    got = got.sort_values("rank")
    assert list(got["doc_id"].astype(int)) == [d for d, _ in want]
    assert np.array_equal(
        got["score"].to_numpy(), np.array([s for _, s in want])
    )


def test_search_required_fuzzy_is_must(spark, p_index, corpus_pd, oracle):
    """'+term~1' requires ≥1 expansion term in the doc; all expansions
    score (one clause satisfied by any of them)."""
    toks = tokenize_text(corpus_pd["content"].iloc[4])
    t = toks[0]
    fz = (t[:-1] + "x") if len(t) > 3 else (t + "x")
    exp = sorted(oracle.expand_term(fz, 1))
    if not exp:
        fz, exp = t, sorted(oracle.expand_term(t, 1))
    assert exp
    base = tokenize_text(corpus_pd["content"].iloc[11])[0]
    got = search(spark, p_index, f"{base} +{fz}~1", k=10).toPandas()
    eligible = {
        int(d)
        for d, txt in zip(corpus_pd["doc_id"], corpus_pd["content"])
        if set(exp) & set(tokenize_text(txt))
    }
    want = _ranked(oracle, [base] + exp, eligible)
    got = got.sort_values("rank")
    assert list(got["doc_id"].astype(int)) == [d for d, _ in want]
    assert np.array_equal(
        got["score"].to_numpy(), np.array([s for _, s in want])
    )


def test_search_required_wildcard_is_must(spark, p_index, corpus_pd, oracle):
    toks3 = tokenize_text(corpus_pd["content"].iloc[3])
    prefix = toks3[0][:2]
    base = tokenize_text(corpus_pd["content"].iloc[0])[0]
    got = search(spark, p_index, f"{base} +{prefix}*", k=10).toPandas()
    exp = set(oracle.wildcard_expand(f"{prefix}*"))
    eligible = {
        int(d)
        for d, txt in zip(corpus_pd["doc_id"], corpus_pd["content"])
        if exp & set(tokenize_text(txt))
    }
    want = _ranked(oracle, [base] + sorted(exp), eligible)
    got = got.sort_values("rank")
    assert list(got["doc_id"].astype(int)) == [d for d, _ in want]


def test_search_scored_phrase_only(spark, p_index, corpus_pd):
    """phrase_mode='scored' (Lucene PhraseQuery): the phrase scores as
    ONE clause — tf = per-doc phrase frequency, df = docs containing the
    phrase — via the shared oracle formula; words do NOT score
    individually."""
    from dts.oracle import phrase_bm25_score, phrase_count

    toks3 = tokenize_text(corpus_pd["content"].iloc[3])
    phrase = f"{toks3[1]} {toks3[2]}"
    got = (
        search(spark, p_index, f'"{phrase}"', k=10, phrase_mode="scored")
        .toPandas()
        .sort_values("rank")
    )
    n_docs = len(corpus_pd)
    dls = {
        int(d): len(tokenize_text(t))
        for d, t in zip(corpus_pd["doc_id"], corpus_pd["content"])
    }
    avgdl = float(np.mean(list(dls.values())))
    tfs = {
        int(d): phrase_count(t, phrase.split(" "))
        for d, t in zip(corpus_pd["doc_id"], corpus_pd["content"])
    }
    tfs = {d: c for d, c in tfs.items() if c > 0}
    df = len(tfs)
    want = sorted(
        (
            (d, phrase_bm25_score(n_docs, avgdl, df, c, dls[d]))
            for d, c in tfs.items()
        ),
        key=lambda kv: (-round(kv[1], 9), kv[0]),
    )[:10]
    assert list(got["doc_id"].astype(int)) == [d for d, _ in want]
    assert np.allclose(
        got["score"].to_numpy(), [s for _, s in want], rtol=0, atol=1e-12
    )


def test_search_scored_phrase_plus_terms(spark, p_index, corpus_pd, oracle):
    """Mixed scored query: term BM25 + phrase-unit impact, ranked after
    the combine; eligibility = phrase docs (filter part unchanged)."""
    from dts.oracle import phrase_bm25_score, phrase_count

    toks3 = tokenize_text(corpus_pd["content"].iloc[3])
    base = tokenize_text(corpus_pd["content"].iloc[0])[0]
    phrase = f"{toks3[1]} {toks3[2]}"
    got = (
        search(
            spark, p_index, f'{base} "{phrase}"', k=10, phrase_mode="scored"
        )
        .toPandas()
        .sort_values("rank")
    )
    n_docs = len(corpus_pd)
    dls = {
        int(d): len(tokenize_text(t))
        for d, t in zip(corpus_pd["doc_id"], corpus_pd["content"])
    }
    avgdl = float(np.mean(list(dls.values())))
    tfs = {
        int(d): phrase_count(t, phrase.split(" "))
        for d, t in zip(corpus_pd["doc_id"], corpus_pd["content"])
        if phrase_count(t, phrase.split(" ")) > 0
    }
    df = len(tfs)
    term_scores = {
        d: s for _, d, s in oracle.score_terms([base], topk=10**9)
    }
    want = sorted(
        (
            (
                d,
                term_scores.get(d, 0.0)
                + phrase_bm25_score(n_docs, avgdl, df, c, dls[d]),
            )
            for d, c in tfs.items()
        ),
        key=lambda kv: (-round(kv[1], 9), kv[0]),
    )[:10]
    assert list(got["doc_id"].astype(int)) == [d for d, _ in want]
    assert np.allclose(
        got["score"].to_numpy(), [s for _, s in want], rtol=0, atol=1e-12
    )


def test_search_batch_phrases_fused_one_positional_job(
    spark, p_index, corpus_pd
):
    """Round-5 verdict #5: a batch mixing phrase-free, required-phrase and
    negated-phrase queries fuses — results equal per-query search, and the
    phrase constraints resolve through ONE phrase_match_counts table."""
    from dts.parser import search_batch

    toks0 = tokenize_text(corpus_pd["content"].iloc[0])
    toks3 = tokenize_text(corpus_pd["content"].iloc[3])
    toks7 = tokenize_text(corpus_pd["content"].iloc[7])
    qs = [
        f"{toks0[0]} {toks0[1]}",
        f'{toks0[0]} "{toks3[1]} {toks3[2]}"',
        f'{toks0[0]} -"{toks7[0]} {toks7[1]}"',
        f'"{toks3[1]} {toks3[2]}" +{toks0[0]}',
    ]
    import pandas as pd

    for mode in ("filter", "scored"):
        batch = (
            search_batch(spark, p_index, qs, k=10, phrase_mode=mode)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        singles = []
        for i, s in enumerate(qs):
            one = search(spark, p_index, s, k=10, phrase_mode=mode).toPandas()
            one["query_id"] = i
            singles.append(one)
        want = (
            pd.concat(singles, ignore_index=True)
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        cols = ["query_id", "doc_id", "rank"]
        assert batch[cols].values.tolist() == want[cols].values.tolist(), mode
        assert np.allclose(
            batch["score"], want["score"], rtol=0, atol=0
        ), mode


def test_search_batch_phrases_bucket_distribute_identical(
    spark, p_index, corpus_pd, force_distribute
):
    """Synthetic phrase clause rows under the 'bucket' distribution: the
    per-(query, shard) kernels must see exactly their shards' phrase
    arrays (same colocation contract as tombstones), making local top-k
    exact — rank- and score-identical to 'query'. Small indexes get
    'query' from the engine, so force both."""
    import pandas as pd

    from dts.parser import search_batch

    toks0 = tokenize_text(corpus_pd["content"].iloc[0])
    toks3 = tokenize_text(corpus_pd["content"].iloc[3])
    toks7 = tokenize_text(corpus_pd["content"].iloc[7])
    qs = [
        f"{toks0[0]} {toks0[1]}",
        f'{toks0[0]} "{toks3[1]} {toks3[2]}"',
        f'{toks0[0]} -"{toks7[0]} {toks7[1]}"',
        f'"{toks3[1]} {toks3[2]}" +{toks0[0]}',
    ]
    for mode in ("filter", "scored"):
        frames = {}
        for dist in ("query", "bucket"):
            force_distribute(dist)
            frames[dist] = (
                search_batch(spark, p_index, qs, k=10, phrase_mode=mode)
                .toPandas()
                .sort_values(["query_id", "rank"])
                .reset_index(drop=True)
            )
        cols = ["query_id", "doc_id", "rank"]
        assert (
            frames["query"][cols].values.tolist()
            == frames["bucket"][cols].values.tolist()
        ), mode
        assert np.allclose(
            frames["query"]["score"], frames["bucket"]["score"],
            rtol=0, atol=0,
        ), mode


def test_parse_boost_grammar():
    q = parse_query('fast^2 +join^0.5 quer*^3 fuzz~1^2 "a b"~2^1.5 -slow^9')
    assert q.score_terms == ["fast"] and q.boost_of("score_terms") == [2.0]
    assert q.must == ["join"] and q.boost_of("must") == [0.5]
    assert q.wildcards == ["quer*"] and q.boost_of("wildcards") == [3.0]
    assert q.fuzzy == [("fuzz", 1)] and q.boost_of("fuzzy") == [2.0]
    assert q.phrases == ["a b"] and q.phrase_slops == [2]
    assert q.boost_of("phrases") == [1.5]
    # boost on a negated atom is parsed away (never scores)
    assert q.must_not == ["slow"]
    # unboosted elements read 1.0, and hand-built queries stay valid
    q2 = parse_query("fast join")
    assert q2.boost_of("score_terms") == [1.0, 1.0]
    from dts.parser import ParsedQuery

    q3 = ParsedQuery(score_terms=["x", "y"])
    assert q3.boost_of("score_terms") == [1.0, 1.0]


def test_boost_scales_scores(spark, p_index):
    a = search(spark, p_index, "fast", k=8).toPandas().sort_values("doc_id")
    b = (
        search(spark, p_index, "fast^2.5", k=8)
        .toPandas()
        .sort_values("doc_id")
    )
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert np.allclose(b["score"].to_numpy(), 2.5 * a["score"].to_numpy())


def test_boost_changes_ranking_and_keeps_must(spark, p_index, corpus_pd):
    toks = tokenize_text(corpus_pd["content"].iloc[0])[:2]
    t0, t1 = toks[0], toks[1]
    u = search(spark, p_index, f"{t0} {t1}", k=10**6).toPandas()
    v = search(spark, p_index, f"{t0}^8 {t1}", k=10**6).toPandas()
    # same eligible set (boost never changes matching), order may differ
    assert set(u["doc_id"]) == set(v["doc_id"])
    # a required boosted atom still filters
    w = search(spark, p_index, f"+{t0}^8 {t1}", k=10**6).toPandas()
    oracle_allow = {
        int(r.doc_id)
        for r in corpus_pd.itertuples()
        if t0 in tokenize_text(r.content)
    }
    assert set(w["doc_id"].astype(int)) <= oracle_allow


def test_boost_bmw_equals_taat(spark, p_index):
    """Boost folds into the cursor weight, keeping block-max bounds
    sound: BMW and TAAT agree on boosted multi-term rewrites."""
    from dts.score_index import score_expanded_terms

    qt_rows = [(0, -1, 0, "fast", 4.0), (0, -1, 0, "join", 1.0)]
    qt = spark.createDataFrame(
        qt_rows,
        "query_id long, clause int, role int, term string, boost double",
    )
    t = score_expanded_terms(spark, p_index, qt, 1, k=10, strategy="taat")
    w = score_expanded_terms(spark, p_index, qt, 1, k=10, strategy="bmw")
    tp, wp = t.toPandas(), w.toPandas()
    assert list(tp["doc_id"]) == list(wp["doc_id"])
    assert np.allclose(tp["score"].to_numpy(), wp["score"].to_numpy())


def test_scored_phrase_boost(spark, p_index, corpus_pd):
    from dts.parser import search_batch

    ph = " ".join(tokenize_text(corpus_pd["content"].iloc[3])[:2])
    p1 = (
        search_batch(spark, p_index, [f'"{ph}"'], k=6, phrase_mode="scored")
        .toPandas()
        .sort_values("doc_id")
    )
    p2 = (
        search_batch(
            spark, p_index, [f'"{ph}"^3'], k=6, phrase_mode="scored"
        )
        .toPandas()
        .sort_values("doc_id")
    )
    assert list(p1["doc_id"]) == list(p2["doc_id"])
    assert np.allclose(p2["score"].to_numpy(), 3 * p1["score"].to_numpy())
