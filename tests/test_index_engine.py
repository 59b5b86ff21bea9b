"""End-to-end differential tests of the indexed engine vs the oracle —
the analogue of the reference's test_generation.py loop (engine vs apm1,
exact equality, src/test_generation.py:147-178)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from dts.fuzzy import banded_lev_batch
from dts.index_build import build_index
from dts.oracle import OracleIndex, banded_levenshtein
from dts.score_index import bm25_topk_indexed, match_counts_indexed


@pytest.fixture(scope="module")
def index_dir(spark, docs_sdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    # Small bucket_size so multi-bucket posting lists actually occur.
    meta = build_index(spark, docs_sdf, d, bucket_size=64, block_size=16)
    assert meta["n_docs"] == docs_sdf.count()
    return d


@pytest.fixture(scope="module")
def oracle(corpus_pd):
    return OracleIndex(list(zip(corpus_pd["doc_id"], corpus_pd["content"])))


def _assert_identical(got_rows, oracle_index, queries, tag):
    want = {}
    for q in queries.itertuples():
        for rank, doc_id, score in oracle_index.score_query(
            q.text, int(q.fuzzy_k), 10
        ):
            want[(q.query_id, rank)] = (doc_id, score)
    got_keys = {(r["query_id"], r["rank"]) for r in got_rows}
    assert got_keys == set(want), f"{tag}: membership diff"
    for r in got_rows:
        doc_id, score = want[(r["query_id"], r["rank"])]
        assert r["doc_id"] == doc_id, (tag, r["query_id"], r["rank"], r["doc_id"], doc_id)
        assert math.isclose(r["score"], score, rel_tol=1e-9), (tag, r)
        # Fixed summation order ⇒ expect BIT identity, not just closeness.
        assert r["score"] == score, (tag, "bit identity", r["score"], score)


@pytest.mark.parametrize("strategy", ["taat", "bmw"])
def test_rank_identity_indexed(spark, index_dir, oracle, queries_pd, strategy):
    queries_sdf = spark.createDataFrame(
        queries_pd[["query_id", "text", "fuzzy_k"]]
    )
    got = (
        bm25_topk_indexed(spark, index_dir, queries_sdf, k=10, strategy=strategy)
        .orderBy("query_id", "rank")
        .collect()
    )
    _assert_identical(got, oracle, queries_pd, strategy)


@pytest.mark.parametrize("strategy", ["taat", "bmw"])
def test_bucket_distribution_rank_identity(
    spark, index_dir, oracle, queries_pd, strategy, force_distribute
):
    """The cluster-scale (query, bucket) scoring path with global top-k
    merge returns exactly what per-query scoring returns (and the oracle)."""
    force_distribute("bucket")
    queries_sdf = spark.createDataFrame(
        queries_pd[["query_id", "text", "fuzzy_k"]]
    )
    got = (
        bm25_topk_indexed(
            spark, index_dir, queries_sdf, k=10, strategy=strategy,
        )
        .orderBy("query_id", "rank")
        .collect()
    )
    _assert_identical(got, oracle, queries_pd, f"bucket-{strategy}")


def test_match_counts_vs_oracle(spark, index_dir, oracle, queries_pd):
    """n_matches per query == oracle position counts (exact int equality,
    the reference's own acceptance criterion)."""
    queries_sdf = spark.createDataFrame(
        queries_pd[["query_id", "text", "fuzzy_k"]]
    )
    got = {
        r["query_id"]: r["n_matches"]
        for r in match_counts_indexed(spark, index_dir, queries_sdf).collect()
    }
    from dts.tokenizer import tokenize_text

    for q in queries_pd.itertuples():
        want = 0
        for qt in tokenize_text(q.text):
            want += sum(oracle.match_counts(qt, int(q.fuzzy_k)).values())
        assert got[q.query_id] == want, (q.query_id, q.text, got[q.query_id], want)


def test_banded_lev_batch_vs_oracle():
    rng = np.random.RandomState(11)
    alphabet = "abcdef"
    pairs, ks = [], []
    for _ in range(500):
        a = "".join(rng.choice(list(alphabet), rng.randint(0, 12)))
        b = "".join(rng.choice(list(alphabet), rng.randint(0, 12)))
        pairs.append((a, b))
        ks.append(int(rng.randint(0, 5)))
    got = banded_lev_batch(
        np.array([p[0] for p in pairs], dtype=object),
        np.array([p[1] for p in pairs], dtype=object),
        np.array(ks),
    )
    for (a, b), k, g in zip(pairs, ks, got):
        assert g == banded_levenshtein(a, b, k), (a, b, k, g)


def test_banded_lev_matches_true_levenshtein():
    """banded(k) ≤ k  ⟺  true distance ≤ k (Ukkonen band property)."""

    def lev(a, b):
        la, lb = len(a), len(b)
        d = np.zeros((la + 1, lb + 1), dtype=int)
        d[:, 0] = np.arange(la + 1)
        d[0, :] = np.arange(lb + 1)
        for i in range(1, la + 1):
            for j in range(1, lb + 1):
                d[i, j] = min(
                    d[i - 1, j] + 1,
                    d[i, j - 1] + 1,
                    d[i - 1, j - 1] + (a[i - 1] != b[j - 1]),
                )
        return d[la, lb]

    rng = np.random.RandomState(5)
    for _ in range(300):
        a = "".join(rng.choice(list("abc"), rng.randint(0, 9)))
        b = "".join(rng.choice(list("abc"), rng.randint(0, 9)))
        k = int(rng.randint(0, 4))
        banded = banded_levenshtein(a, b, k)
        true = lev(a, b)
        assert (banded <= k) == (true <= k), (a, b, k, banded, true)
        if true <= k:
            assert banded == true


def test_expand_term_prefilter_completeness():
    """Regression (round-2 ADVICE): the trigram prefilter must not drop
    terms with REPEATED trigrams. Sound distinct-world bound:
    shared ≥ max(1, |distinct_tri(q)| - 3k). Oracle expansion must equal
    brute-force banded verification over the whole vocab."""
    from dts.oracle import OracleIndex

    vocab_terms = [
        "abababab", "ababababa", "abababab".replace("ab", "ba", 1),
        "aaaa", "aaab", "abcabcabc", "zzzz", "ababab",
    ]
    docs = [(i, t) for i, t in enumerate(vocab_terms)]
    oi = OracleIndex(docs)
    for q in ["abababab", "aaaa", "abcabcabc", "bababa"]:
        for k in (1, 2):
            got = set(oi.expand_term(q, k))
            want = {
                t for t in oi.vocab if banded_levenshtein(q, t, k) <= k
            }
            assert got == want, (q, k, got, want)
    # The ADVICE repro: exact term (dist 0) must survive its own expansion.
    assert "abababab" in oi.expand_term("abababab", 1)


def test_expand_fuzzy_terms_spark_repeated_trigrams(spark):
    """Spark path agrees with the fixed oracle on repeated-trigram terms."""
    from dts.fuzzy import expand_fuzzy_terms

    vocab = spark.createDataFrame(
        [("abababab",), ("ababababa",), ("aaaa",), ("zzzz",)], "term string"
    )
    fq = spark.createDataFrame(
        [(0, "abababab", 1), (1, "aaaa", 1)],
        "query_id long, qterm string, fuzzy_k int",
    )
    got = {
        (r["query_id"], r["term"])
        for r in expand_fuzzy_terms(fq, vocab).collect()
    }
    assert got == {
        (0, "abababab"), (0, "ababababa"), (1, "aaaa"),
    }, got


def test_byte_match_counts_vs_oracle(spark, corpus_pd):
    """Byte-granularity sliding-window counting (dts.bytematch) equals the
    single-process reference — including the prefix-truncation positions
    at document end (src/apm1.c:263-270 semantics)."""
    from dts.bytematch import byte_match_counts, byte_match_totals
    from dts.oracle import byte_match_count

    sub = corpus_pd.head(40)
    docs = spark.createDataFrame(sub[["doc_id", "content"]])
    pats = [(0, "def", 1), (1, "import ", 2), (2, "zzqx", 1), (3, "a", 0)]
    pat_sdf = spark.createDataFrame(pats, "pat_id long, pattern string, k int")
    got = {
        (r["pat_id"], r["doc_id"]): r["n_matches"]
        for r in byte_match_counts(docs, pat_sdf, text_col="content").collect()
    }
    for pid, p, k in pats:
        for row in sub.itertuples():
            want = byte_match_count(row.content, p, k)
            assert got[(pid, row.doc_id)] == want, (p, k, row.doc_id)
    totals = {
        r["pat_id"]: r["n_matches"]
        for r in byte_match_totals(docs, pat_sdf, text_col="content").collect()
    }
    for pid, p, k in pats:
        assert totals[pid] == sum(
            byte_match_count(row.content, p, k) for row in sub.itertuples()
        )
    # truncation sanity: pattern longer than the doc tail still counts when
    # the truncated PREFIX-vs-window pair is within k (src/apm1.c:263-270)
    tiny = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
    one = spark.createDataFrame([(0, "abcd", 1)], "pat_id long, pattern string, k int")
    n = byte_match_counts(tiny, one).collect()[0]["n_matches"]
    # j=1: 'abc' vs 'abc' (both truncated to size 3, dist 0) ✓;
    # j=2: 'ab' vs 'bc' dist 2 ✗; j=3: 'a' vs 'c' dist 1 ✓ → 2
    assert n == 2


def test_byte_match_binary_vs_byte_oracle(spark, corpus_pd):
    """Round-4: the BYTE-exact variant equals the byte-level reference
    spec on ASCII (where it must also equal the codepoint variant) AND on
    multi-byte UTF-8 — with a pinned non-ASCII regression where byte and
    codepoint counts DIFFER, i.e. the case apm1 computes differently from
    Spark's codepoint semantics."""
    from dts.bytematch import byte_match_counts, byte_match_counts_binary
    from dts.oracle import byte_match_count, byte_match_count_bytes

    # ASCII: binary == codepoint == both oracles
    sub = corpus_pd.head(15)
    docs = spark.createDataFrame(sub[["doc_id", "content"]])
    pats = [(0, "def", 1), (1, "a", 0)]
    pat_sdf = spark.createDataFrame(pats, "pat_id long, pattern string, k int")
    got_b = {
        (r["pat_id"], r["doc_id"]): r["n_matches"]
        for r in byte_match_counts_binary(
            docs, pat_sdf, text_col="content"
        ).collect()
    }
    got_c = {
        (r["pat_id"], r["doc_id"]): r["n_matches"]
        for r in byte_match_counts(docs, pat_sdf, text_col="content").collect()
    }
    assert got_b == got_c
    for pid, p, k in pats:
        for row in sub.itertuples():
            assert got_b[(pid, row.doc_id)] == byte_match_count_bytes(
                row.content, p, k
            )

    # Non-ASCII: pinned case where the two granularities disagree.
    # text 'café mérge' = 12 bytes / 10 codepoints; 'é' = 2 bytes.
    # 'ééé' is 3 codepoints / 6 bytes: a k=1 single-char pattern matches
    # at EVERY position, so the counts are 3 (codepoint) vs 6 (byte) —
    # exactly the apm1-vs-Spark gap. 'axb' vs pattern 'aéb' (k=1): one
    # codepoint substitution but TWO byte substitutions, so j=0 matches
    # only at codepoint granularity (2 vs 1 total).
    nat = [(0, "café mérge"), (1, "ééé"), (2, "axb")]
    nat_sdf = spark.createDataFrame(nat, "doc_id long, text string")
    npats = [(0, "fé", 0), (1, "x", 1), (2, "aéb", 1), (3, "é", 0)]
    np_sdf = spark.createDataFrame(npats, "pat_id long, pattern string, k int")
    bin_got = {
        (r["pat_id"], r["doc_id"]): r["n_matches"]
        for r in byte_match_counts_binary(nat_sdf, np_sdf).collect()
    }
    cp_got = {
        (r["pat_id"], r["doc_id"]): r["n_matches"]
        for r in byte_match_counts(nat_sdf, np_sdf).collect()
    }
    diffs = 0
    for pid, p, k in npats:
        for did, t in nat:
            want_b = byte_match_count_bytes(t, p, k)
            want_c = byte_match_count(t, p, k)
            assert bin_got[(pid, did)] == want_b, (p, k, t, "byte")
            assert cp_got[(pid, did)] == want_c, (p, k, t, "codepoint")
            diffs += want_b != want_c
    assert diffs > 0, "regression must exercise a byte-vs-codepoint gap"


def test_byte_match_prefix_truncation_regressions(spark):
    """Pinned inputs where the reference's prefix-truncation semantics
    (apm1.c runs BOTH DP loops to size = min(m, n-j); src/apm1.c:82-105,
    :263-270) differs from full-pattern-vs-truncated-window semantics.
    Engine and Python oracle must both implement the former."""
    from dts.bytematch import byte_match_counts
    from dts.oracle import byte_match_count

    # (text, pattern, k, expected). Expectations verified against an
    # unbanded full-DP re-implementation of the apm1.c kernel.
    cases = [
        ("xmer", "merge", 0, 1),        # j=1: 'mer' vs 'mer' — old semantics: 0
        ("hello fast", "fastt", 1, 2),  # tail prefix match — old semantics: 1
        ("a", "merge", 3, 1),           # 1-char doc: 'm' vs 'a' dist 1 — old: 0
        ("a", "merge", 4, 1),           # SURVEY §2.1 item 5: k ≥ len(p)-1
        ("", "x", 2, 0),                # empty doc: no positions
        ("abc", "a", 0, 1),             # pattern shorter than doc: no truncation
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, (t, _, _, _) in enumerate(cases)],
        "doc_id long, text string",
    )
    pats = spark.createDataFrame(
        [(i, p, k) for i, (_, p, k, _) in enumerate(cases)],
        "pat_id long, pattern string, k int",
    )
    got = {
        (r["pat_id"], r["doc_id"]): r["n_matches"]
        for r in byte_match_counts(docs, pats).collect()
    }
    for i, (t, p, k, want) in enumerate(cases):
        assert byte_match_count(t, p, k) == want, ("oracle", t, p, k)
        assert got[(i, i)] == want, ("engine", t, p, k)


def test_isin_cap_semi_join_fallback(spark, index_dir, oracle, queries_pd):
    """Above the IN-list cap the term filter becomes a broadcast left-semi
    join; results are identical to the pushdown path (rank identity holds).
    max_isin_terms=1 forces the fallback on every multi-term batch."""
    queries_sdf = spark.createDataFrame(
        queries_pd[["query_id", "text", "fuzzy_k"]].head(8)
    )
    fast = (
        bm25_topk_indexed(spark, index_dir, queries_sdf, k=10)
        .orderBy("query_id", "rank")
        .collect()
    )
    fb = (
        bm25_topk_indexed(
            spark, index_dir, queries_sdf, k=10, max_isin_terms=1
        )
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [(r.query_id, r.rank, r.doc_id, r.score) for r in fast] == [
        (r.query_id, r.rank, r.doc_id, r.score) for r in fb
    ]
    assert len(fb) > 0


def test_persisted_trigram_table(spark, index_dir, oracle):
    """build_index persists trigrams/ (tri-sorted); fuzzy expansion through
    it equals the on-the-fly path and the oracle."""
    import os

    from dts.fuzzy import expand_fuzzy_terms
    from dts.score_index import load_index

    assert os.path.isdir(f"{index_dir}/trigrams")
    idx = load_index(spark, index_dir)
    assert idx["trigrams"] is not None
    fq = spark.createDataFrame(
        [(0, "improt", 1), (1, "funciton", 2), (2, "abababab", 1)],
        "query_id long, qterm string, fuzzy_k int",
    )
    vocab = idx["term_stats"].select("term")
    via_table = {
        (r["query_id"], r["term"])
        for r in expand_fuzzy_terms(fq, vocab, idx["trigrams"]).collect()
    }
    on_the_fly = {
        (r["query_id"], r["term"])
        for r in expand_fuzzy_terms(fq, vocab).collect()
    }
    assert via_table == on_the_fly
    for qid, q, k in [(0, "improt", 1), (1, "funciton", 2), (2, "abababab", 1)]:
        assert {t for i, t in via_table if i == qid} == set(
            oracle.expand_term(q, k)
        )


def test_auto_distribute_rule_and_rank_identity(
    spark, oracle, queries_pd, docs_sdf, tmp_path, force_distribute
):
    """auto_distribute picks bucket only for small batches over many-bucket
    indexes; the auto path stays rank-identical when it picks bucket."""
    from dts.score_index import auto_distribute

    assert auto_distribute(1, 118) == "query"    # merge stage for nothing
    assert auto_distribute(4, 118) == "bucket"   # measured 1.2-1.4x win
    assert auto_distribute(16, 118) == "bucket"
    assert auto_distribute(60, 118) == "query"   # group overhead dominates
    assert auto_distribute(960, 118) == "query"
    assert auto_distribute(4, 2) == "query"      # nothing to shard
    assert auto_distribute(4, 50) == "bucket"    # the index below

    d = str(tmp_path / "many_bucket_idx")
    build_index(spark, docs_sdf, d, bucket_size=4, block_size=16)  # 50 buckets
    q4 = spark.createDataFrame(queries_pd[["query_id", "text", "fuzzy_k"]].head(4))
    got_auto = (
        bm25_topk_indexed(spark, d, q4, k=10)  # auto → bucket
        .orderBy("query_id", "rank").collect()
    )
    force_distribute("query")
    got_query = (
        bm25_topk_indexed(spark, d, q4, k=10)
        .orderBy("query_id", "rank").collect()
    )
    assert [(r.query_id, r.rank, r.doc_id, r.score) for r in got_auto] == [
        (r.query_id, r.rank, r.doc_id, r.score) for r in got_query
    ]
    assert len(got_auto) > 0


def test_local_and_distributed_expansion_paths_agree(
    spark, index_dir, oracle, queries_pd, monkeypatch
):
    """The driver-side (small-vocab) query-term path and the distributed
    path produce identical top-k results; both match the oracle."""
    import dts.score_index as si

    queries_sdf = spark.createDataFrame(
        queries_pd[["query_id", "text", "fuzzy_k"]].head(12)
    )
    local = (
        bm25_topk_indexed(spark, index_dir, queries_sdf, k=10)
        .orderBy("query_id", "rank").collect()
    )
    monkeypatch.setattr(si, "DRIVER_EXPAND_VOCAB_CAP", -1)
    dist = (
        bm25_topk_indexed(spark, index_dir, queries_sdf, k=10)
        .orderBy("query_id", "rank").collect()
    )
    assert [(r.query_id, r.rank, r.doc_id, r.score) for r in local] == [
        (r.query_id, r.rank, r.doc_id, r.score) for r in dist
    ]
    assert len(local) > 0


def test_index_handle_cache_and_invalidation(spark, docs_sdf, corpus_pd, tmp_path):
    """load_index reuses the handle for an unchanged index and
    self-invalidates when meta.json is rewritten (merge/compact)."""
    import time as _time

    from dts.index_build import merge_index
    from dts.score_index import load_index

    d = str(tmp_path / "cache_idx")
    build_index(spark, docs_sdf, d, bucket_size=64)
    h1 = load_index(spark, d)
    h2 = load_index(spark, d)
    assert h1 is h2
    _time.sleep(0.01)
    merge_index(
        spark, d, spark.createDataFrame(corpus_pd.head(10).drop(columns=["doc_id"]))
    )
    h3 = load_index(spark, d)
    assert h3 is not h1
    assert h3["meta"]["n_docs"] == h1["meta"]["n_docs"] + 10


def test_non_varint_codec_rejected(spark, index_dir, tmp_path):
    """Delta+varint is the only posting format: an index whose meta names
    another codec fails at load with a rebuild hint instead of being
    varint-decoded into garbage, and a posting list tagged with another
    codec cannot be constructed."""
    import json
    import shutil

    from dts.codec import PackedPostings
    from dts.score_index import load_index

    d = str(tmp_path / "packed_meta_idx")
    shutil.copytree(index_dir, d)
    with open(f"{d}/meta.json") as f:
        meta = json.load(f)
    assert meta["codec"] == "varint"
    meta["codec"] = "packed"
    with open(f"{d}/meta.json", "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="'packed'.*rebuild the index"):
        load_index(spark, d)

    none = np.zeros(0, dtype=np.int64)
    with pytest.raises(ValueError, match="'packed'.*rebuild the index"):
        PackedPostings(
            n=0, doc_blob=b"", tf_blob=b"", dl_blob=b"",
            block_last_doc=none, block_max_impact=none.astype(np.float64),
            doc_offs=none, tf_offs=none, dl_offs=none, codec="packed",
        )


def test_build_pool_failure_propagates_and_unpersists(
    spark, corpus_pd, tmp_path, monkeypatch
):
    """A failed pooled write job fails build_index with its own error, and
    the cached tf frame is released all the same."""
    import dts.index_build as ib

    def fail(spark, index_dir):
        raise RuntimeError("trigram write failed")

    monkeypatch.setattr(ib, "write_trigrams", fail)
    docs = spark.createDataFrame(corpus_pd.head(50))
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="trigram write failed"):
        ib.build_index(spark, docs, str(tmp_path / "failed_idx"), bucket_size=64)
    assert jsc.getPersistentRDDs().size() == before


def test_build_index_jobs_stay_in_caller_group(
    spark, corpus_pd, tmp_path, count_jobs
):
    """Every job build_index launches, pooled writes included, carries the
    caller's job group: no ungrouped job appears during the call."""
    from dts.index_build import build_index

    docs = spark.createDataFrame(corpus_pd.head(50))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    _, n_jobs = count_jobs(
        lambda: build_index(spark, docs, str(tmp_path / "grp_idx"), bucket_size=64)
    )
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert n_jobs > 0


def test_search_after_pagination(spark, index_dir, queries_pd, force_distribute):
    """search_after page p == rows (p-1)k+1..pk of one deep top-(p·k)
    query, ranks restarting at 1 — across both distributions."""
    from dts.score_index import bm25_topk_indexed

    qdf = spark.createDataFrame(queries_pd.iloc[:4][["query_id", "text"]])
    k = 5
    deep = (
        bm25_topk_indexed(spark, index_dir, qdf, k=3 * k)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    for dist in ("query", "bucket"):
        force_distribute(dist)
        cursor = {}
        for qid, g in deep.groupby("query_id"):
            if len(g) > k:
                row = g.iloc[k - 1]
                cursor[int(qid)] = (float(row["score"]), int(row["doc_id"]))
        page2 = (
            bm25_topk_indexed(
                spark, index_dir, qdf, k=k, search_after=cursor,
            )
            .toPandas()
            .sort_values(["query_id", "rank"])
        )
        for qid, g in deep.groupby("query_id"):
            want = g.iloc[k : 2 * k]
            got = page2[page2["query_id"] == qid]
            if int(qid) not in cursor:
                continue
            assert list(got["doc_id"]) == list(want["doc_id"]), (dist, qid)
            assert list(got["rank"]) == list(range(1, len(want) + 1))
            assert np.allclose(got["score"].to_numpy(), want["score"].to_numpy())
    # a cursor past the last hit yields an empty page
    tail_cursor = {
        int(qid): (float(g.iloc[-1]["score"]), int(g.iloc[-1]["doc_id"]))
        for qid, g in deep.groupby("query_id")
        if len(g) < 3 * k  # exhausted result sets only
    }
    if tail_cursor:
        empty = bm25_topk_indexed(
            spark, index_dir, qdf.filter(
                F.col("query_id").isin(list(tail_cursor))
            ), k=k, search_after=tail_cursor,
        )
        assert empty.count() == 0
    with pytest.raises(ValueError, match="search_after"):
        bm25_topk_indexed(
            spark, index_dir, qdf, k=k, strategy="bmw", search_after={0: (1.0, 0)}
        )


def test_single_index_job_counts(
    spark, docs_sdf, queries_pd, tmp_path, count_jobs
):
    """Per-call Spark job counts of the single-index hot paths on a warm
    second call (the first call of a process also reads index schemas and
    the vocabulary): TAAT and block-max WAND scoring, phrase matching and
    a tombstone-applying compaction."""
    from dts.delete import delete_docs
    from dts.index_build import compact_index
    from dts.phrase import phrase_match_counts

    d = str(tmp_path / "jobs_idx")
    build_index(
        spark, docs_sdf, d, bucket_size=64, block_size=16, positions=True
    )
    q = spark.createDataFrame(queries_pd[["query_id", "text", "fuzzy_k"]])
    ph = spark.createDataFrame(
        [(0, queries_pd["text"].iloc[0]), (1, queries_pd["text"].iloc[1])],
        "phrase_id long, text string",
    )
    jobs = {}
    for _ in range(2):
        for strategy in ("taat", "bmw"):
            _, jobs[strategy] = count_jobs(
                lambda: bm25_topk_indexed(
                    spark, d, q, k=10, strategy=strategy
                ).collect()
            )
        _, jobs["phrase"] = count_jobs(
            lambda: phrase_match_counts(spark, d, ph).collect()
        )
    for dead in ([1, 2, 3], [70, 71]):
        delete_docs(spark, d, dead)
        _, jobs["compact"] = count_jobs(lambda: compact_index(spark, d))
    assert jobs == {"taat": 4, "bmw": 4, "phrase": 4, "compact": 36}, jobs
