"""Posting-block codec: delta-gap + varint (vByte) — numpy-vectorized.

The index analog of the reference's low-precision/size engineering
(SURVEY.md §4 O6): posting lists are stored as fixed-size blocks
(BLOCK_SIZE docs) of vByte-encoded doc-id gaps + vByte tf + vByte dl,
with per-block metadata (first/last doc id, max impact weight) enabling
block-max WAND skipping (O8 analog).

All encode/decode is numpy array code over whole blocks, never per-row
Python in Spark's loop: the build's mapInArrow pack hands
encode_posting_groups the flattened posting lists of a whole Arrow batch of
groups, and the readers decode many blocks per call.

vByte: little-endian base-128; 7 payload bits per byte, high bit set on all
but the terminal byte of each value (classic format, e.g. Scholer et al.,
"Compression of inverted indexes for fast query evaluation", SIGIR 2002).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128

# Block format v2: docs are delta-gap + vByte; tf and dl are vByte (~1-2
# bytes each) and the impact weight w = tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
# is RECOMPUTED at query time by the same vectorized float64 impact_weights
# the build uses for max_w — bit-identical, and ~60% less payload than the
# v1 raw-float64 w column (8 B/posting): at 6.4M docs a Zipf-head query
# fetched ~100 MB of w bytes, dominating interactive fetch latency. Every
# index records it as ``version`` in _meta.json; both readers check it.
BLOCK_FORMAT = 2

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


# smallest uint64 value needing 2, 3, ... 10 vByte bytes
_VBYTE_BOUNDS = np.array([1 << (7 * i) for i in range(1, 10)], dtype=np.uint64)


def _vbyte_lengths(v: np.ndarray) -> np.ndarray:
    """Bytes per uint64 value: ceil(bitlen/7), at least 1."""
    nbytes = np.ones(len(v), dtype=np.int64)
    for bound in _VBYTE_BOUNDS:
        more = v >= bound
        if not more.any():
            break
        nbytes += more
    return nbytes


def _vbyte_pack(v: np.ndarray, nbytes: np.ndarray) -> np.ndarray:
    """Scatter the payload bytes of uint64 values ``v`` by offset, given
    their byte lengths → uint8 array. Each pass writes the next byte of the
    values not yet finished, so the work is the output size."""
    out = np.empty(int(nbytes.sum()), dtype=np.uint8)
    at = np.cumsum(nbytes) - nbytes
    left = nbytes
    while len(v):
        more = left > 1
        out[at] = (v & np.uint64(0x7F)).astype(np.uint8) | (more.astype(np.uint8) << 7)
        v, at, left = v[more] >> np.uint64(7), at[more] + 1, left[more] - 1
    return out


def vbyte_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative int64 array. Vectorized: compute per-value byte
    lengths, scatter payload bytes by offset."""
    v = np.asarray(values, dtype=np.uint64)
    return _vbyte_pack(v, _vbyte_lengths(v)).tobytes()


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


class EncodedBlocks(NamedTuple):
    """Blocks of many posting lists, in input group order and block_id
    order within a group."""

    group: np.ndarray
    block_id: np.ndarray
    n: np.ndarray
    first_doc: np.ndarray
    last_doc: np.ndarray
    max_w: np.ndarray
    docs: pa.BinaryArray
    tfs: pa.BinaryArray
    dls: pa.BinaryArray


def _encode_payloads(columns: list[np.ndarray], cuts: np.ndarray):
    """vByte-encode equal-length ``columns`` in ONE pass over their
    concatenation → one Arrow binary array per column, with one element
    per block [cuts[i], cuts[i+1])."""
    n = len(columns[0])
    v = np.concatenate(columns).astype(np.uint64)
    nbytes = _vbyte_lengths(v)
    ends = np.concatenate(([0], np.cumsum(nbytes)))
    if ends[-1] > 2**31 - 1:
        raise ValueError("payload exceeds one Arrow binary array (2 GiB)")
    data = pa.py_buffer(_vbyte_pack(v, nbytes))
    arrays = []
    for i in range(len(columns)):
        b = ends[cuts + i * n]
        # each array gets its own slice of the buffer, offsets from 0: Spark
        # mis-reads a binary array whose offsets start past 0
        arrays.append(pa.BinaryArray.from_buffers(
            pa.binary(), len(cuts) - 1,
            [None, pa.py_buffer((b - b[0]).astype(np.int32)), data.slice(b[0], b[-1] - b[0])],
        ))
    return arrays


def encode_posting_groups(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    group_starts: np.ndarray,
    bm25: tuple[float, float, float],
) -> EncodedBlocks:
    """Encode MANY posting lists into blocks, one vectorized pass per
    payload. The lists arrive concatenated, group g being
    ``[group_starts[g], group_starts[g+1])``, doc ids in any order within a
    group. One lexsort orders every group by doc id; a block starts at each
    group start and every BLOCK_SIZE postings within a group, so none
    crosses a group, and its doc gaps restart from the raw id (blocks stay
    independently decodable). ``max_w`` is the block max of impact_weights
    under ``bm25`` = (avgdl, k1, b). Equal to encode_posting_block over
    each sorted BLOCK_SIZE chunk of each group — pinned by tests."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    n = len(doc_ids)
    group_starts = np.asarray(group_starts, dtype=np.int64)
    gid = np.repeat(np.arange(len(group_starts)), np.diff(group_starts, append=n))
    order = np.lexsort((doc_ids, gid))
    doc_ids = doc_ids[order]
    tfs = np.asarray(tfs, dtype=np.int64)[order]
    dls = np.asarray(dls, dtype=np.int64)[order]

    rank = np.arange(n) - group_starts[gid]  # position within its group
    starts = np.flatnonzero(rank % BLOCK_SIZE == 0)
    cuts = np.append(starts, n)  # blocks tile the postings
    gaps = np.diff(doc_ids, prepend=0)
    gaps[starts] = doc_ids[starts]
    w = impact_weights(tfs, dls, *bm25)
    payloads = _encode_payloads([gaps, tfs, dls], cuts)
    return EncodedBlocks(
        gid[starts],
        (rank[starts] // BLOCK_SIZE).astype(np.int32),
        np.diff(cuts).astype(np.int32),
        doc_ids[starts],
        doc_ids[cuts[1:] - 1],
        np.maximum.reduceat(w, starts) if n else w,
        *payloads,
    )


def encode_posting_blocks(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray
) -> tuple[list[bytes], list[bytes], list[bytes]]:
    """Encode one posting list into per-block (docs, tfs, dls) payloads —
    the one-group call of encode_posting_groups (its max_w, computed under
    placeholder BM25 parameters, is dropped)."""
    enc = encode_posting_groups(doc_ids, tfs, dls, [0], (1.0, 1.0, 1.0))
    return enc.docs.to_pylist(), enc.tfs.to_pylist(), enc.dls.to_pylist()


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
