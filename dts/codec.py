"""Delta+varint block codec for posting lists — pure numpy (O22).

The reference keeps raw bytes in memory (no encoding, src/apm1.c:212-232);
the north rule mandates docID-sorted, delta-encoded block-compressed
posting lists. Everything here is vectorized numpy byte-twiddling — no
per-element Python in encode or decode hot paths. This module is the only
one that knows the wire format: the posting-row columns and their types
(``POSTING_FIELDS``/``POSTING_COLS``, from which the index's parquet schema
and every posting scan's projection are built), the row writer
(``encode_posting_rows``, used by build and compaction) and the one frame
reader that turns posting rows back into ``PackedPostings``
(``packed_rows``; every kernel that decodes postings goes through it).

Wire format (one posting list = one `PackedPostings`):
- postings are split into blocks of ``BLOCK_SIZE`` entries;
- per block, doc_ids are delta-encoded (first entry ABSOLUTE, so any block
  decodes independently — that is what makes block skipping possible),
  tfs and dls raw; all three streams are LEB128 varints (little-endian
  7-bit groups, MSB = continuation). meta.json records the format as
  ``"codec": "varint"``; ``check_codec`` rejects any other value, so an
  index written in another format fails at load and must be rebuilt;
- per-block metadata kept as plain arrays (parquet columns):
  ``last_doc`` (skip pointer), ``max_impact`` (block-max BM25 impact,
  float64 upper bound — exact, not quantized, so WAND pruning is safe),
  byte offsets of each block in each stream.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

BLOCK_SIZE = 128
K1 = 1.2
B = 0.75


def varint_encode_with_lens(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode an array of non-negative ints; also return the byte
    length of each value (for offset computation). Vectorized: fixed loop
    over ≤10 byte positions, all-array ops inside."""
    v = np.ascontiguousarray(values, dtype=np.uint64).copy()
    n = len(v)
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    out = np.zeros((n, 10), dtype=np.uint8)
    lens = np.zeros(n, dtype=np.int64)
    alive = np.ones(n, dtype=bool)
    for i in range(10):
        byte = (v & np.uint64(0x7F)).astype(np.uint8)
        v >>= np.uint64(7)
        cont = v != 0
        out[:, i] = np.where(alive, byte | (cont.astype(np.uint8) << 7), 0)
        lens += alive
        alive = alive & cont
        if not alive.any():
            break
    mask = np.arange(10) < lens[:, None]
    return out[mask].tobytes(), lens


def varint_encode(values: np.ndarray) -> bytes:
    return varint_encode_with_lens(values)[0]


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes back to uint64. Vectorized via reduceat."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if len(arr) == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = arr < 128
    starts = np.flatnonzero(np.concatenate(([True], ends[:-1])))
    group_len = np.diff(np.concatenate((starts, [len(arr)])))
    pos = np.arange(len(arr)) - np.repeat(starts, group_len)
    shifted = (arr & 0x7F).astype(np.uint64) << (7 * pos).astype(np.uint64)
    vals = np.add.reduceat(shifted, starts)
    if count is not None:
        assert len(vals) == count, f"decoded {len(vals)} != expected {count}"
    return vals


def bm25_impact(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """(k1+1)*tf / (tf + k1*(1-b+b*dl/avgdl)) — float64, shared formula."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def bm25_idf(n_docs: float, df: np.ndarray) -> np.ndarray:
    """log(1 + (N - df + 0.5) / (df + 0.5)) — float64, shared formula."""
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


CODEC = "varint"  # the one posting wire format; meta.json's "codec" tag


def check_codec(codec: str, where: str = "posting list") -> None:
    """Raise ``ValueError`` unless ``codec`` is the varint wire format."""
    if codec != CODEC:
        raise ValueError(
            f"{where}: posting codec {codec!r} is not supported (only "
            f"{CODEC!r}); rebuild the index"
        )


@dataclass
class PackedPostings:
    """One encoded posting list (or one bucket of one)."""

    n: int
    doc_blob: bytes
    tf_blob: bytes
    dl_blob: bytes
    block_last_doc: np.ndarray  # int64 per block
    block_max_impact: np.ndarray  # float64 per block
    doc_offs: np.ndarray  # int32 per block: start offset into doc_blob
    tf_offs: np.ndarray
    dl_offs: np.ndarray
    block_size: int = BLOCK_SIZE
    codec: str = CODEC  # format tag only, checked

    def __post_init__(self) -> None:
        check_codec(self.codec)


# One posting row per (term, bucket): the row key, then the nine encoded
# fields of its ``PackedPostings`` (Spark DDL types, parquet column order).
_PACKED_FIELDS = (
    ("n", "long"),
    ("doc_blob", "binary"),
    ("tf_blob", "binary"),
    ("dl_blob", "binary"),
    ("block_last_doc", "array<long>"),
    ("block_max_impact", "array<double>"),
    ("doc_offs", "array<int>"),
    ("tf_offs", "array<int>"),
    ("dl_offs", "array<int>"),
)
POSTING_FIELDS = (("term", "string"), ("bucket", "long")) + _PACKED_FIELDS
POSTING_COLS = tuple(c for c, _ in POSTING_FIELDS)


def packed_rows(
    frame: pd.DataFrame, block_size: int = BLOCK_SIZE
) -> list[PackedPostings | None]:
    """The posting rows of ``frame`` as ``PackedPostings``, in row order.

    Each of the nine encoded columns is pulled out of the frame once:
    nine ``frame[col].iat[i]`` lookups per row cost several times the
    rest of the row's construction. Rows whose ``doc_blob`` is null — the synthetic
    ``_syn_*`` clause rows, which carry decoded arrays instead — map to
    ``None``."""
    n, doc, tf, dl, last, imp, doff, toff, loff = (
        frame[c].tolist() for c, _ in _PACKED_FIELDS
    )
    null = frame["doc_blob"].isna().tolist()
    return [
        None
        if null[i]
        else PackedPostings(
            n=int(n[i]),
            doc_blob=bytes(doc[i]),
            tf_blob=bytes(tf[i]),
            dl_blob=bytes(dl[i]),
            block_last_doc=np.asarray(last[i], dtype=np.int64),
            block_max_impact=np.asarray(imp[i], dtype=np.float64),
            doc_offs=np.asarray(doff[i], dtype=np.int32),
            tf_offs=np.asarray(toff[i], dtype=np.int32),
            dl_offs=np.asarray(loff[i], dtype=np.int32),
            block_size=block_size,
        )
        for i in range(len(frame))
    ]


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
) -> PackedPostings:
    """Encode one docID-sorted posting list into independent blocks."""
    n = len(doc_ids)
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    assert n == 0 or (np.diff(doc_ids) > 0).all(), "doc_ids must be strictly ascending"
    starts = np.arange(0, n, block_size)
    bounds = np.append(starts, n)

    # Delta within blocks, absolute first entry per block.
    deltas = np.diff(doc_ids, prepend=0)
    deltas[starts] = doc_ids[starts]

    def stream(values: np.ndarray) -> tuple[bytes, np.ndarray]:
        blob, lens = varint_encode_with_lens(values)
        return blob, np.concatenate(([0], np.cumsum(lens)))[starts].astype(np.int32)

    doc_blob, doc_o = stream(deltas)
    tf_blob, tf_o = stream(np.asarray(tfs))
    dl_blob, dl_o = stream(np.asarray(dls))
    impacts = bm25_impact(np.asarray(tfs), np.asarray(dls), avgdl) if n else np.zeros(0)
    max_imp = np.maximum.reduceat(impacts, starts) if n else np.zeros(0)
    return PackedPostings(
        n=n,
        doc_blob=doc_blob,
        tf_blob=tf_blob,
        dl_blob=dl_blob,
        block_last_doc=doc_ids[bounds[1:] - 1],
        block_max_impact=max_imp.astype(np.float64),
        doc_offs=doc_o,
        tf_offs=tf_o,
        dl_offs=dl_o,
        block_size=block_size,
    )


def encode_bucket_vectorized(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    term_bounds: np.ndarray,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
) -> list[dict]:
    """Encode ALL posting lists of one bucket in one vectorized pass.

    Inputs are the bucket's postings sorted by (term, doc_id);
    ``term_bounds`` = start indices per term plus a trailing n (len T+1).
    Semantically identical to calling encode_postings per term (tested),
    but every numpy op runs once over the whole bucket: deltas with resets
    at term/block starts, one varint pass per stream, reduceat block
    maxima. The only per-term Python is output-row slicing.

    Returns a list of dicts (one per term, in term_bounds order) with the
    same fields as the postings schema (minus the term itself).
    """
    n = len(doc_ids)
    T = len(term_bounds) - 1
    if n == 0:
        return []
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    counts = np.diff(term_bounds)
    # Position of each posting within its term → block starts.
    pos_in_term = np.arange(n) - np.repeat(term_bounds[:-1], counts)
    is_block_start = (pos_in_term % block_size) == 0
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = doc_ids[0]
    deltas[1:] = np.diff(doc_ids)
    deltas[is_block_start] = doc_ids[is_block_start]

    block_starts = np.flatnonzero(is_block_start)  # global posting idx
    block_ends = np.concatenate((block_starts[1:], [n]))
    impacts = bm25_impact(np.asarray(tfs), np.asarray(dls), avgdl)
    block_max = np.maximum.reduceat(impacts, block_starts)
    block_last = doc_ids[block_ends - 1]
    blocks_per_term = -(-counts // block_size)
    tb = np.concatenate(([0], np.cumsum(blocks_per_term)))  # term→block range

    doc_blob, doc_lens = varint_encode_with_lens(deltas)
    tf_blob, tf_lens = varint_encode_with_lens(np.asarray(tfs))
    dl_blob, dl_lens = varint_encode_with_lens(np.asarray(dls))
    doc_off = np.concatenate(([0], np.cumsum(doc_lens)))
    tf_off = np.concatenate(([0], np.cumsum(tf_lens)))
    dl_off = np.concatenate(([0], np.cumsum(dl_lens)))

    out = []
    for t in range(T):
        s, e = term_bounds[t], term_bounds[t + 1]
        b0, b1 = tb[t], tb[t + 1]
        bs = block_starts[b0:b1]
        out.append(
            {
                "n": int(e - s),
                "doc_blob": doc_blob[doc_off[s] : doc_off[e]],
                "tf_blob": tf_blob[tf_off[s] : tf_off[e]],
                "dl_blob": dl_blob[dl_off[s] : dl_off[e]],
                "block_last_doc": block_last[b0:b1].tolist(),
                "block_max_impact": block_max[b0:b1].tolist(),
                "doc_offs": (doc_off[bs] - doc_off[s]).astype(np.int32).tolist(),
                "tf_offs": (tf_off[bs] - tf_off[s]).astype(np.int32).tolist(),
                "dl_offs": (dl_off[bs] - dl_off[s]).astype(np.int32).tolist(),
            }
        )
    return out


def encode_posting_rows(
    terms: np.ndarray,
    bucket: int,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    term_bounds: np.ndarray,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    positions: np.ndarray | None = None,
) -> pd.DataFrame:
    """The posting rows of one bucket, in ``POSTING_COLS`` order: one row
    per term of ``terms``, encoded by ``encode_bucket_vectorized`` from the
    (term, doc_id)-sorted postings. With ``positions`` (every posting's
    token offsets back to back) each row also carries its ``pos_blob``."""
    out = pd.DataFrame(
        encode_bucket_vectorized(doc_ids, tfs, dls, term_bounds, avgdl, block_size)
    )
    out.insert(0, "term", terms)
    out.insert(1, "bucket", bucket)
    if positions is not None:
        # One delta+varint stream over the bucket, sliced per term row via
        # the per-posting byte offsets.
        blob, byte_offs = encode_positions(positions, tfs)
        out["pos_blob"] = [
            blob[byte_offs[s] : byte_offs[e]]
            for s, e in zip(term_bounds[:-1], term_bounds[1:])
        ]
    return out


def encode_positions(flat: np.ndarray, counts: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Delta+varint encode concatenated per-posting token-position lists.

    ``flat``: all positions of all postings back to back (each posting's
    list ascending); ``counts``: positions per posting (== tf). First
    position of each posting is ABSOLUTE, the rest are deltas — every
    posting decodes independently. Returns (blob, byte_offsets[n_postings+1])
    so callers can slice per-posting or per-term byte ranges.
    """
    n = len(flat)
    bounds = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
    if n == 0:
        return b"", np.zeros(len(counts) + 1, dtype=np.int64)
    flat = np.ascontiguousarray(flat, dtype=np.int64)
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = flat[0]
    deltas[1:] = np.diff(flat)
    posting_starts = bounds[:-1][counts > 0]
    deltas[posting_starts] = flat[posting_starts]
    blob, lens = varint_encode_with_lens(deltas)
    byte_cum = np.concatenate(([0], np.cumsum(lens)))
    return blob, byte_cum[bounds]


def decode_positions(blob: bytes, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_positions: (flat positions int64, bounds[n+1])."""
    total = int(np.sum(counts))
    bounds = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
    deltas = varint_decode(blob, total).astype(np.int64)
    if total == 0:
        return deltas, bounds
    orig = np.cumsum(deltas)
    starts = bounds[:-1][np.asarray(counts) > 0]
    # Undo cumsum carry-in at each posting start (first entry absolute).
    inner = starts[starts > 0]
    if len(inner):
        carries = orig[inner - 1].copy()
        seg_end = np.concatenate((inner[1:], [total]))
        sub = np.zeros(total, dtype=np.int64)
        sub[inner[0] :] = np.repeat(carries, seg_end - inner)
        orig = orig - sub
    return orig, bounds


def decode_postings(p: PackedPostings) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full decode → (doc_ids int64 ascending, tfs uint64, dls uint64)."""
    deltas = varint_decode(p.doc_blob, p.n).astype(np.int64)
    orig = np.cumsum(deltas)
    doc_ids = orig
    # Undo cumsum across block boundaries: the first entry of each block is
    # absolute, so the carry-in at block bi is the ORIGINAL cumsum just
    # before its start (= sum of all earlier deltas). Vectorized subtract.
    bs = p.block_size
    if p.n > bs:
        starts = np.arange(bs, p.n, bs)
        carries = orig[starts - 1].copy()
        lens = np.minimum(starts + bs, p.n) - starts
        sub = np.zeros(p.n, dtype=np.int64)
        sub[bs:] = np.repeat(carries, lens)
        doc_ids = orig - sub
    tfs = varint_decode(p.tf_blob, p.n)
    dls = varint_decode(p.dl_blob, p.n)
    return doc_ids, tfs, dls


def decode_block(
    p: PackedPostings, bi: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode ONE block independently (the skip path for WAND)."""
    n_blocks = len(p.block_last_doc)
    cnt = min(p.n, (bi + 1) * p.block_size) - bi * p.block_size
    last = bi + 1 >= n_blocks

    def stream(blob: bytes, offs: np.ndarray) -> np.ndarray:
        end = len(blob) if last else offs[bi + 1]
        return varint_decode(blob[offs[bi] : end], cnt)

    doc_ids = np.cumsum(stream(p.doc_blob, p.doc_offs).astype(np.int64))
    return doc_ids, stream(p.tf_blob, p.tf_offs), stream(p.dl_blob, p.dl_offs)
