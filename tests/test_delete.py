"""Deletion lifecycle: tombstone masking on every query path (stale
stats, Lucene semantics), physical apply + exact stat recompute at
compaction, validation."""

from __future__ import annotations

import numpy as np
import pytest

from dts.boolquery import boolean_match_docs
from dts.delete import delete_docs, has_deletes
from dts.index_build import build_index, compact_index, load_meta
from dts.oracle import OracleIndex
from dts.phrase import phrase_match_counts
from dts.score_index import bm25_topk_indexed, load_index
from dts.tokenizer import tokenize_text

DELETED = set(range(3, 200, 5))  # doc_id % 5 == 3


@pytest.fixture()
def del_index(spark, docs_sdf, tmp_path):
    """Fresh positional index with DELETED tombstoned (function-scoped:
    compaction mutates)."""
    d = str(tmp_path / "didx")
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16, positions=True)
    delete_docs(spark, d, sorted(DELETED))
    return d


@pytest.fixture(scope="module")
def oracle_live(corpus_pd) -> OracleIndex:
    """Oracle over LIVE docs only, keeping original doc_ids — the
    post-compaction spec (exact stats over live corpus)."""
    live = corpus_pd[~corpus_pd["doc_id"].isin(DELETED)]
    return OracleIndex(list(zip(live["doc_id"].astype(int), live["content"])))


@pytest.fixture(scope="module")
def oracle_full(corpus_pd) -> OracleIndex:
    return OracleIndex(
        list(zip(corpus_pd["doc_id"].astype(int), corpus_pd["content"]))
    )


def _queries(spark, corpus_pd, n=6):
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
def test_tombstone_masks_topk(
    spark, del_index, corpus_pd, oracle_full, strategy, distribute,
    force_distribute,
):
    """Tombstone phase: deleted docs never appear, ranks re-close over
    live docs, scores keep FULL-corpus stats (bit-identical to the oracle
    scored on all docs then filtered before truncation)."""
    force_distribute(distribute)
    texts, q = _queries(spark, corpus_pd)
    got = bm25_topk_indexed(
        spark, del_index, q, k=10, strategy=strategy
    ).toPandas()
    assert not set(got["doc_id"].astype(int)) & DELETED
    for i, text in enumerate(texts):
        want = [
            (d, s)
            for _, d, s in oracle_full.score_query(text, topk=10**6)
            if d not in DELETED
        ][:10]
        g = got[got["query_id"] == i].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == [d for d, _ in want], text
        assert np.array_equal(
            g["score"].to_numpy(), np.array([s for _, s in want])
        ), text


def test_tombstone_masks_phrase_and_boolean(spark, del_index, corpus_pd):
    phr = spark.createDataFrame(
        [(0, " ".join(tokenize_text(corpus_pd["content"].iloc[3])[:2]))],
        "phrase_id long, text string",
    )
    pm = phrase_match_counts(spark, del_index, phr).toPandas()
    assert not set(pm["doc_id"].astype(int)) & DELETED

    toks = tokenize_text(corpus_pd["content"].iloc[0])[:2]
    bq = spark.createDataFrame(
        [(0, " ".join(toks), "")], "bq_id long, must string, must_not string"
    )
    bm = boolean_match_docs(spark, del_index, bq).toPandas()
    assert not set(bm["doc_id"].astype(int)) & DELETED


def test_compact_applies_deletes(spark, del_index, corpus_pd, oracle_live):
    meta = compact_index(spark, del_index)
    assert meta["n_docs"] == len(corpus_pd) - len(DELETED)
    assert "n_deleted" not in meta
    assert abs(meta["avgdl"] - oracle_live.avgdl) < 1e-9
    assert meta["vocab_size"] == len(oracle_live.vocab)
    assert meta["bmw_safe"]
    # postings contain no tombstoned doc — and stats are exact: scores
    # equal a fresh build over the live corpus, bit-identically.
    assert not has_deletes(del_index)
    texts, q = _queries(spark, corpus_pd)
    got = bm25_topk_indexed(spark, del_index, q, k=10, strategy="bmw").toPandas()
    for i, text in enumerate(texts):
        want = oracle_live.score_query(text, topk=10)
        g = got[got["query_id"] == i].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == [d for _, d, _ in want], text
        assert np.array_equal(
            g["score"].to_numpy(), np.array([s for *_, s in want])
        ), text
    # term_stats df/cf match the live oracle exactly
    idx = load_index(spark, del_index, use_cache=False)
    stats = {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in idx["term_stats"].collect()
    }
    want_stats = {
        t: (
            len(oracle_live.tf[t]),
            sum(oracle_live.tf[t].values()),
        )
        for t in oracle_live.vocab
    }
    assert stats == want_stats


def test_phrase_survives_compaction(spark, del_index, corpus_pd):
    from dts.oracle import phrase_count

    compact_index(spark, del_index)
    phrase = " ".join(tokenize_text(corpus_pd["content"].iloc[10])[:2])
    phr = spark.createDataFrame([(0, phrase)], "phrase_id long, text string")
    got = {
        int(r["doc_id"]): int(r["n_matches"])
        for r in phrase_match_counts(spark, del_index, phr).collect()
    }
    want = {}
    for _, r in corpus_pd.iterrows():
        if int(r["doc_id"]) in DELETED:
            continue
        c = phrase_count(r["content"], phrase.split(" "))
        if c:
            want[int(r["doc_id"])] = c
    assert got == want


def test_delete_validation(spark, del_index):
    with pytest.raises(ValueError, match="refusing"):
        delete_docs(spark, del_index, [10**9])
    meta0 = load_meta(del_index)
    meta1 = delete_docs(spark, del_index, sorted(DELETED))  # idempotent
    assert meta1["n_deleted"] == meta0["n_deleted"] == len(DELETED)


def test_merge_after_delete_compact_keeps_ids_stable(
    spark, del_index, corpus_pd
):
    """The id-watermark invariant: deletion-applying compaction shrinks
    n_docs (live stats) but NOT next_doc_id — a later merge must append
    at fresh ids, never reuse a live one."""
    import pandas as pd

    from dts.index_build import merge_index
    from dts.score_index import bm25_topk_indexed

    compact_index(spark, del_index)
    meta = load_meta(del_index)
    watermark = meta["next_doc_id"]
    assert watermark == len(corpus_pd)  # ids are stable: watermark unmoved
    assert meta["n_docs"] == len(corpus_pd) - len(DELETED)

    extra = corpus_pd.head(15).drop(columns=["doc_id"])
    merge_index(spark, del_index, spark.createDataFrame(extra))
    meta2 = load_meta(del_index)
    assert meta2["next_doc_id"] == watermark + 15
    assert meta2["n_docs"] == len(corpus_pd) - len(DELETED) + 15
    ds = spark.read.parquet(f"{del_index}/doc_stats").toPandas()
    assert ds["doc_id"].is_unique
    assert set(range(watermark, watermark + 15)) <= set(ds["doc_id"].astype(int))

    # end-to-end: scores equal the oracle over live-old + appended docs
    live = corpus_pd[~corpus_pd["doc_id"].isin(DELETED)]
    appended = extra.assign(
        doc_id=np.arange(watermark, watermark + 15, dtype="int64")
    )
    oracle = OracleIndex(
        [
            (int(r["doc_id"]), r["content"])
            for _, r in pd.concat([live, appended]).iterrows()
        ]
    )
    texts, q = _queries(spark, corpus_pd, n=4)
    got = bm25_topk_indexed(spark, del_index, q, k=10).toPandas()
    for i, text in enumerate(texts):
        want = oracle.score_query(text, topk=10)
        g = got[got["query_id"] == i].sort_values("rank")
        assert list(g["doc_id"].astype(int)) == [d for _, d, _ in want], text
        assert np.array_equal(
            g["score"].to_numpy(), np.array([s for *_, s in want])
        ), text


def test_mass_delete_queries_without_compaction(
    spark, docs_sdf, corpus_pd, oracle_full, tmp_path, force_distribute
):
    """Round-4: tombstones are colocated by bucket — no driver cap, so an
    index can carry an arbitrarily large tombstone set (here 60% of the
    corpus) and every query path still masks correctly WITHOUT compaction."""
    d = str(tmp_path / "didx_mass")
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16)
    dead = set(range(0, len(corpus_pd), 5)) | set(range(1, len(corpus_pd), 5)) | set(
        range(2, len(corpus_pd), 5)
    )
    delete_docs(spark, d, sorted(dead))
    texts, q = _queries(spark, corpus_pd, n=4)
    for strategy, distribute in [("taat", "query"), ("taat", "bucket"), ("bmw", "query")]:
        force_distribute(distribute)
        got = bm25_topk_indexed(spark, d, q, k=10, strategy=strategy).toPandas()
        assert not set(got["doc_id"].astype(int)) & dead, (strategy, distribute)
        for i, text in enumerate(texts):
            want = [
                (dd, s)
                for _, dd, s in oracle_full.score_query(text, topk=10**6)
                if dd not in dead
            ][:10]
            g = got[got["query_id"] == i].sort_values("rank")
            assert list(g["doc_id"].astype(int)) == [dd for dd, _ in want], (
                strategy, distribute, text,
            )


def test_stale_meta_never_resurrects_deletes(spark, del_index, corpus_pd):
    """Round-4 ADVICE: a crash between the deletes append and the meta
    write leaves n_deleted stale — masking must derive from the deletes
    directory, not the counter."""
    import json

    from dts.index_build import load_meta, save_meta

    meta = load_meta(del_index)
    meta["n_deleted"] = 0  # simulate the crash-window state
    save_meta(del_index, meta)
    texts, q = _queries(spark, corpus_pd, n=3)
    got = bm25_topk_indexed(spark, del_index, q, k=10).toPandas()
    assert not set(got["doc_id"].astype(int)) & DELETED
    # row-shaped paths too
    phr = spark.createDataFrame(
        [(0, " ".join(tokenize_text(corpus_pd["content"].iloc[3])[:2]))],
        "phrase_id long, text string",
    )
    pm = phrase_match_counts(spark, del_index, phr).toPandas()
    assert not set(pm["doc_id"].astype(int)) & DELETED


def test_delete_append_survives_midswap_crash(spark, docs_sdf, tmp_path):
    """Round-5 ADVICE (medium): a crash between rmtree(deletes/) and
    os.replace leaves ONLY deletes_new/. The next delete_docs must
    read-repair (promote deletes_new -> deletes) before unioning — without
    it, Spark rejects overwriting the path it is reading and tombstone
    appends stay blocked until a compact."""
    import os

    d = str(tmp_path / "didx_crash")
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16)
    delete_docs(spark, d, [1, 2, 3])
    # Simulate the crash window: committed store gone, pending store
    # (which holds the full union) left behind.
    os.replace(f"{d}/deletes", f"{d}/deletes_new")
    assert has_deletes(d)  # fallback read still sees the tombstones
    meta = delete_docs(spark, d, [7, 8])  # must NOT raise
    assert meta["n_deleted"] == 5
    assert os.path.isdir(f"{d}/deletes")
    assert not os.path.isdir(f"{d}/deletes_new")
    from dts.delete import deletes_df

    got = sorted(r["doc_id"] for r in deletes_df(spark, d).collect())
    assert got == [1, 2, 3, 7, 8]


def test_meta_revision_monotonic(spark, docs_sdf, tmp_path):
    """Every mutation bumps meta.revision (cache keys depend on it — the
    1s-mtime-granularity race from round-4 ADVICE)."""
    from dts.index_build import load_meta

    d = str(tmp_path / "didx_rev")
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16)
    r0 = load_meta(d)["revision"]
    delete_docs(spark, d, [1])
    r1 = load_meta(d)["revision"]
    compact_index(spark, d)
    r2 = load_meta(d)["revision"]
    assert r0 < r1 < r2


def test_delete_validate_false_skips_jobs(spark, docs_sdf, tmp_path):
    """validate=False is the bulk path: no validation jobs, same tombstone
    effect."""
    from dts.index_build import build_index

    d = str(tmp_path / "didx_nv")
    build_index(spark, docs_sdf, d, bucket_size=64, block_size=16)
    meta = delete_docs(spark, d, [1, 2], validate=False)
    assert meta["n_deleted"] == 2


def test_delete_dead_id_rejected(spark, del_index):
    """An id physically removed by compaction is no longer deletable."""
    compact_index(spark, del_index)
    with pytest.raises(ValueError, match="not live"):
        delete_docs(spark, del_index, [3])  # 3 ∈ DELETED, now gone
