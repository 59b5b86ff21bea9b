import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from dts.codec import (
    POSTING_COLS,
    PackedPostings,
    bm25_impact,
    decode_block,
    decode_postings,
    encode_bucket_vectorized,
    encode_postings,
    packed_rows,
    varint_decode,
    varint_encode,
)


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500)
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    got = varint_decode(varint_encode(arr))
    assert got.tolist() == [v % 2**64 for v in vals]


def test_varint_known_bytes():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert varint_encode(np.zeros(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").tolist() == []


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**12),  # doc gap
            st.integers(min_value=1, max_value=1000),  # tf
            st.integers(min_value=1, max_value=100000),  # dl
        ),
        min_size=0,
        max_size=1500,
    ),
    st.sampled_from([4, 128, 256]),
)
@settings(max_examples=60, deadline=None)
def test_postings_roundtrip(entries, block_size):
    gaps = np.array([e[0] for e in entries], dtype=np.int64)
    doc_ids = np.cumsum(gaps)
    tfs = np.array([e[1] for e in entries], dtype=np.int64)
    dls = np.array([e[2] for e in entries], dtype=np.int64)
    p = encode_postings(doc_ids, tfs, dls, avgdl=50.0, block_size=block_size)
    d, t, l = decode_postings(p)
    assert d.tolist() == doc_ids.tolist()
    assert t.tolist() == tfs.tolist()
    assert l.tolist() == dls.tolist()
    # Per-block independent decode agrees with the full decode.
    n_blocks = len(p.block_last_doc)
    for bi in range(n_blocks):
        bd, bt, bl = decode_block(p, bi)
        s, e = bi * block_size, min(len(entries), (bi + 1) * block_size)
        assert bd.tolist() == doc_ids[s:e].tolist()
        assert bt.tolist() == tfs[s:e].tolist()
        assert bl.tolist() == dls[s:e].tolist()
        assert p.block_last_doc[bi] == doc_ids[e - 1]
        imp = bm25_impact(tfs[s:e], dls[s:e], 50.0)
        assert p.block_max_impact[bi] == imp.max()


def test_block_max_is_upper_bound():
    rng = np.random.RandomState(7)
    doc_ids = np.cumsum(rng.randint(1, 50, size=1000).astype(np.int64))
    tfs = rng.randint(1, 30, size=1000)
    dls = rng.randint(5, 500, size=1000)
    p = encode_postings(doc_ids, tfs, dls, avgdl=80.0)
    imp = bm25_impact(tfs, dls, 80.0)
    for bi in range(len(p.block_last_doc)):
        s, e = bi * 128, min(1000, (bi + 1) * 128)
        assert (imp[s:e] <= p.block_max_impact[bi]).all()


import pytest


@pytest.mark.parametrize("codec", ["varint"])
def test_bucket_vectorized_equals_per_term_encode(codec):
    from dts.codec import encode_bucket_vectorized

    rng = np.random.RandomState(21)
    rows = []
    for t in range(40):  # 40 terms, varied df incl. 1 and multi-block
        df_t = int(rng.choice([1, 2, 7, 128, 129, 300]))
        docs = np.cumsum(rng.randint(1, 9, size=df_t).astype(np.int64))
        for d in docs:
            rows.append((f"term{t:03d}", d, int(rng.randint(1, 9)), int(rng.randint(5, 99))))
    rows.sort()
    terms = np.array([r[0] for r in rows])
    doc_ids = np.array([r[1] for r in rows], dtype=np.int64)
    tfs = np.array([r[2] for r in rows], dtype=np.int64)
    dls = np.array([r[3] for r in rows], dtype=np.int64)
    uniq, starts = np.unique(terms, return_index=True)
    bounds = np.append(starts, len(terms))
    got = encode_bucket_vectorized(
        doc_ids, tfs, dls, bounds, avgdl=42.0, block_size=128
    )
    assert len(got) == len(uniq)
    for ti in range(len(uniq)):
        s, e = bounds[ti], bounds[ti + 1]
        want = encode_postings(doc_ids[s:e], tfs[s:e], dls[s:e], 42.0, 128)
        assert want.codec == codec
        g = got[ti]
        assert g["n"] == want.n
        assert g["doc_blob"] == want.doc_blob
        assert g["tf_blob"] == want.tf_blob
        assert g["dl_blob"] == want.dl_blob
        assert g["block_last_doc"] == want.block_last_doc.tolist()
        assert g["block_max_impact"] == want.block_max_impact.tolist()
        assert g["doc_offs"] == want.doc_offs.tolist()
        assert g["tf_offs"] == want.tf_offs.tolist()
        assert g["dl_offs"] == want.dl_offs.tolist()


def test_compression_ratio_dense_lists():
    # Dense ascending docs (gap 1-3) should take ~1-2 bytes/doc vs 8 raw.
    rng = np.random.RandomState(3)
    doc_ids = np.cumsum(rng.randint(1, 4, size=100000).astype(np.int64))
    tfs = rng.randint(1, 5, size=100000)
    dls = rng.randint(10, 127, size=100000)
    p = encode_postings(doc_ids, tfs, dls, avgdl=60.0)
    assert len(p.doc_blob) < 2 * 100000
    assert len(p.tf_blob) == 100000
    assert len(p.dl_blob) == 100000


def test_packed_rows_equals_per_row_construction():
    """packed_rows over an Arrow-converted posting frame equals building
    each row's PackedPostings by hand: multi-block rows, a single-block
    row, and a null-blob synthetic clause row (-> None)."""
    import pyarrow as pa

    block_size = 4
    rng = np.random.RandomState(5)
    counts = [1, 9, 4, 13]  # one single-entry row, multi- and exact-block rows
    bounds = np.concatenate(([0], np.cumsum(counts)))
    doc_ids = np.concatenate(
        [np.cumsum(rng.randint(1, 20, size=c)) for c in counts]
    ).astype(np.int64)
    tfs = rng.randint(1, 9, size=bounds[-1])
    dls = rng.randint(5, 99, size=bounds[-1])
    rows = encode_bucket_vectorized(doc_ids, tfs, dls, bounds, 30.0, block_size)
    for t, r in enumerate(rows):
        r.update(term=f"t{t}", bucket=0)
    rows.insert(2, {"term": "\uffff\uffffsyn", "bucket": 0, "n": 3})
    frame = pa.Table.from_pylist(rows).select(list(POSTING_COLS)).to_pandas()

    got = packed_rows(frame, block_size)

    assert got[2] is None
    for i in (0, 1, 3, 4):
        want = PackedPostings(
            n=int(frame["n"].iat[i]),
            doc_blob=bytes(frame["doc_blob"].iat[i]),
            tf_blob=bytes(frame["tf_blob"].iat[i]),
            dl_blob=bytes(frame["dl_blob"].iat[i]),
            block_last_doc=np.asarray(frame["block_last_doc"].iat[i], dtype=np.int64),
            block_max_impact=np.asarray(frame["block_max_impact"].iat[i], dtype=np.float64),
            doc_offs=np.asarray(frame["doc_offs"].iat[i], dtype=np.int32),
            tf_offs=np.asarray(frame["tf_offs"].iat[i], dtype=np.int32),
            dl_offs=np.asarray(frame["dl_offs"].iat[i], dtype=np.int32),
            block_size=block_size,
        )
        p = got[i]
        assert (p.n, p.doc_blob, p.tf_blob, p.dl_blob, p.block_size) == (
            want.n, want.doc_blob, want.tf_blob, want.dl_blob, want.block_size
        )
        for f in ("block_last_doc", "block_max_impact", "doc_offs", "tf_offs", "dl_offs"):
            a, b = getattr(p, f), getattr(want, f)
            assert a.dtype == b.dtype and a.tolist() == b.tolist(), f
        for a, b in zip(decode_postings(p), decode_postings(want)):
            assert a.tolist() == b.tolist()
    assert [len(got[i].block_last_doc) for i in (0, 1, 3, 4)] == [1, 3, 1, 4]
