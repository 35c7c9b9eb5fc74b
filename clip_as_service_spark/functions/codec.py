"""Posting-block codec: delta-gap + varint (vByte) — numpy-vectorized.

The index analog of the reference's low-precision/size engineering
(SURVEY.md §4 O6): posting lists are stored as fixed-size blocks
(BLOCK_SIZE docs) of vByte-encoded doc-id gaps + vByte tf + vByte dl,
with per-block metadata (first/last doc id, max impact weight) enabling
block-max WAND skipping (O8 analog).

All encode/decode is numpy array code over whole blocks — these functions
run inside Arrow-batched pandas UDFs (applyInPandas), never per-row Python
in Spark's loop.

vByte: little-endian base-128; 7 payload bits per byte, high bit set on all
but the terminal byte of each value (classic format, e.g. Scholer et al.,
"Compression of inverted indexes for fast query evaluation", SIGIR 2002).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

# Block format v2: docs are delta-gap + vByte; tf and dl are vByte (~1-2
# bytes each) and the impact weight w = tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
# is RECOMPUTED at query time by the same vectorized float64 impact_weights
# the build uses for max_w — bit-identical, and ~60% less payload than the
# v1 raw-float64 w column (8 B/posting): at 6.4M docs a Zipf-head query
# fetched ~100 MB of w bytes, dominating interactive fetch latency. Every
# index records it as ``version`` in _meta.json; both readers check it.
BLOCK_FORMAT = 2

# the blocks table as the build writes it, ``shard`` last: the order in
# which the partition column reads back. max_w per block is the WAND /
# early-stop bound; idf is denormalized per term. Given to the Spark reader
# so search_topk starts no schema-inference job (one per call otherwise).
BLOCKS_SCHEMA = (
    "term string, salt int, block_id int, n int, first_doc long, "
    "last_doc long, max_w double, idf double, bytes int, docs binary, "
    "tfs binary, dls binary, shard int"
)


def check_block_format(meta: dict, root: str) -> None:
    """Raise unless the index at ``root`` was written in BLOCK_FORMAT — an
    older payload layout would decode into garbage scores."""
    if meta.get("version") != BLOCK_FORMAT:
        raise ValueError(
            f"index at {root} has block format v{meta.get('version')}; "
            f"this reader needs v{BLOCK_FORMAT} (vByte tf/dl payloads) — "
            "rebuild the index"
        )


def bm25_params(meta: dict) -> tuple[float, float, float]:
    """(avgdl, k1, b) of an index — the arguments of impact_weights."""
    return float(meta["avgdl"]), float(meta["k1"]), float(meta["b"])


def dense_ids(meta: dict) -> bool:
    """True when the index's doc ids are exactly 1..N: the build asserts
    it, and the scorers then use a direct N-slot score array."""
    return meta.get("doc_id_method") in ("dense", "dense_sorted", "row_number")


def _vbyte_lengths(v: np.ndarray) -> np.ndarray:
    """Bytes per uint64 value: ceil(bitlen/7), at least 1."""
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp = tmp >> np.uint64(7)
    return np.maximum(nbits, 1)


def _vbyte_pack(v: np.ndarray, nbytes: np.ndarray) -> bytes:
    """Scatter the payload bytes of uint64 values ``v`` by offset, given
    their byte lengths."""
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    shifted = v.copy()
    for byte_i in range(int(nbytes.max())):
        mask = nbytes > byte_i
        idx = offsets[mask] + byte_i
        payload = (shifted[mask] & np.uint64(0x7F)).astype(np.uint8)
        is_last = nbytes[mask] == byte_i + 1
        out[idx] = payload | np.where(is_last, 0, 0x80).astype(np.uint8)
        shifted = shifted >> np.uint64(7)
    return out.tobytes()


def vbyte_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative int64 array. Vectorized: compute per-value byte
    lengths, scatter payload bytes by offset."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    return _vbyte_pack(v, _vbyte_lengths(v))


def vbyte_decode(data: bytes, n: int) -> np.ndarray:
    """Decode exactly n values → int64 array. Vectorized: group bytes by
    value id (cumsum over terminal-byte markers). Fast path: an all-terminal
    buffer (every value < 128 — the common case for dense doc-gap lists)
    decodes with a single mask."""
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    raw = np.frombuffer(data, dtype=np.uint8)
    if len(raw) == n:  # every byte terminal ⇒ all values single-byte
        return (raw & np.uint8(0x7F)).astype(np.int64)
    is_terminal = (raw & 0x80) == 0
    # value id of each byte = count of terminals strictly before it
    value_id = np.concatenate(([0], np.cumsum(is_terminal)[:-1]))
    # byte position within its value
    starts = np.concatenate(([0], np.flatnonzero(is_terminal)[:-1] + 1))
    pos_in_value = np.arange(raw.size) - starts[value_id]
    out = np.zeros(n, dtype=np.uint64)
    # np.add.at scatter: measured FASTER on numpy 2.x than per-byte-position
    # fancy-index accumulation (1.6s vs 3.6s per 12M 2-byte values) — the
    # ufunc.at path was vectorized upstream in numpy 1.24+
    np.add.at(
        out,
        value_id,
        (raw & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * pos_in_value.astype(np.uint64)),
    )
    return out.astype(np.int64)


def encode_posting_block(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray
) -> tuple[bytes, bytes, bytes]:
    """One block (≤BLOCK_SIZE docs, doc_ids sorted ascending) →
    (docs_vbyte_of_gaps, tfs_vbyte, dls_vbyte).

    Gap convention: first value is the raw doc_id, subsequent are deltas to
    the previous id (so blocks are independently decodable)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    gaps = np.empty_like(doc_ids)
    gaps[0] = doc_ids[0]
    gaps[1:] = np.diff(doc_ids)
    return (
        vbyte_encode(gaps),
        vbyte_encode(np.asarray(tfs, dtype=np.int64)),
        vbyte_encode(np.asarray(dls, dtype=np.int64)),
    )


def _block_gaps(doc_ids: np.ndarray, block_size: int):
    """Doc-id gaps of a sorted list, reset to the raw id at every block
    start (blocks stay independently decodable) → (gaps, block starts)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    starts = np.arange(0, len(doc_ids), block_size)
    gaps = np.empty_like(doc_ids)
    gaps[0] = doc_ids[0]
    gaps[1:] = np.diff(doc_ids)
    gaps[starts] = doc_ids[starts]
    return gaps, starts


def _encode_split(
    values: np.ndarray, starts: np.ndarray, block_size: int
) -> list[bytes]:
    """vByte-encode ``values`` in one pass, then slice the buffer into the
    per-block payloads at the blocks' byte offsets."""
    v = np.asarray(values, dtype=np.int64).astype(np.uint64)
    nbytes = _vbyte_lengths(v)
    buf = _vbyte_pack(v, nbytes)
    ends = np.cumsum(nbytes)
    bounds = [0] + ends[np.minimum(starts + block_size, len(v)) - 1].tolist()
    return [buf[bounds[i] : bounds[i + 1]] for i in range(len(starts))]


def encode_doc_gap_blocks(
    doc_ids: np.ndarray, block_size: int = BLOCK_SIZE
) -> list[bytes]:
    """Delta-gap + vByte encode a sorted doc-id list into per-block buffers,
    one vectorized pass (block-local gap restart; see encode_posting_blocks)."""
    gaps, starts = _block_gaps(doc_ids, block_size)
    return _encode_split(gaps, starts, block_size)


def encode_posting_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> tuple[list[bytes], list[bytes], list[bytes]]:
    """Encode a whole posting list into blocks in ONE vectorized pass per
    payload (vs per-block calls): gaps are computed globally with a reset to
    the raw doc id at each block start (blocks stay independently
    decodable), then per-value byte lengths give the slice offsets.

    Equivalent to [encode_posting_block(chunk) for chunk in chunks] — pinned
    by tests — but ~block_count× fewer numpy dispatches (head terms at
    10^12 docs have millions of blocks)."""
    gaps, starts = _block_gaps(doc_ids, block_size)
    return (
        _encode_split(gaps, starts, block_size),
        _encode_split(tfs, starts, block_size),
        _encode_split(dls, starts, block_size),
    )


def decode_posting_blocks_batch(
    docs_bufs: list[bytes],
    tfs_bufs: list[bytes],
    dls_bufs: list[bytes],
    ns: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY blocks of one posting list in ONE vectorized pass.

    Blocks are independently decodable (each starts with a raw doc id, not a
    delta), so the concatenated gap stream cumsums with a per-block carry
    correction instead of per-block Python loops — turns 10k tiny decodes
    (overhead-bound) into ~6 numpy ops."""
    ns = np.asarray(ns, dtype=np.int64)
    total = int(ns.sum())
    gaps = vbyte_decode(b"".join(docs_bufs), total)
    run = np.cumsum(gaps)
    starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    # carry = running cumsum just before each block; block-local first value
    # is raw, so subtract the carry across its whole block
    carry = np.zeros(len(ns), dtype=np.int64)
    carry[1:] = run[starts[1:] - 1]
    docs = run - np.repeat(carry, ns)
    tfs = vbyte_decode(b"".join(tfs_bufs), total)
    dls = vbyte_decode(b"".join(dls_bufs), total)
    return docs, tfs, dls


def decode_posting_block(
    docs_b: bytes, tfs_b: bytes, dls_b: bytes, n: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    gaps = vbyte_decode(docs_b, n)
    return np.cumsum(gaps), vbyte_decode(tfs_b, n), vbyte_decode(dls_b, n)


def impact_weights(
    tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float, b: float
) -> np.ndarray:
    """BM25 tf-normalized impact w = tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).

    Elementwise float64 — bit-identical to the scalar oracle arithmetic
    (same left-assoc op order). score(q,d) = Σ_t idf(t)·w(t,d)."""
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
