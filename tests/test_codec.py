"""vByte + delta-gap codec round-trip properties (FIXTURES.md §5)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from clip_as_service_spark.functions.codec import (
    BLOCK_SIZE,
    decode_posting_block,
    encode_posting_block,
    encode_posting_groups,
    impact_weights,
    vbyte_decode,
    vbyte_encode,
)


def _roundtrip(vals):
    arr = np.asarray(vals, dtype=np.int64)
    return vbyte_decode(vbyte_encode(arr), len(arr))


def test_vbyte_edge_values():
    cases = [
        [0],
        [1],
        [127],
        [128],
        [16383, 16384],
        [2**28 - 1, 2**28, 2**28 + 1],  # gaps > 2^28 (FIXTURES.md)
        [2**62],
        [0, 0, 0],
        list(range(300)),
    ]
    for c in cases:
        assert _roundtrip(c).tolist() == c


def test_vbyte_empty():
    assert vbyte_encode(np.array([], dtype=np.int64)) == b""
    assert vbyte_decode(b"", 0).tolist() == []


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=400))
def test_vbyte_roundtrip_property(vals):
    assert _roundtrip(vals).tolist() == vals


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**40),  # doc id
            st.integers(min_value=1, max_value=1000),  # tf (max-tf edge)
            st.integers(min_value=1, max_value=100000),  # dl
        ),
        min_size=1,
        max_size=BLOCK_SIZE,
        unique_by=lambda t: t[0],
    )
)
def test_posting_block_roundtrip(postings):
    postings.sort()
    doc_ids = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    dls = np.array([p[2] for p in postings], dtype=np.int64)
    blob = encode_posting_block(doc_ids, tfs, dls)
    d2, t2, l2 = decode_posting_block(*blob, len(doc_ids))
    assert d2.tolist() == doc_ids.tolist()
    assert t2.tolist() == tfs.tolist()
    assert l2.tolist() == dls.tolist()


def test_gap_one_runs_and_single_doc():
    ids = np.arange(1000, 1000 + BLOCK_SIZE, dtype=np.int64)  # gap=1 run
    tfs = np.ones(BLOCK_SIZE, dtype=np.int64)
    dls = np.full(BLOCK_SIZE, 50, dtype=np.int64)
    blob = encode_posting_block(ids, tfs, dls)
    # gap=1 run compresses to ~1 byte/doc after the first id
    assert len(blob[0]) <= 2 + BLOCK_SIZE
    d2, _, _ = decode_posting_block(*blob, BLOCK_SIZE)
    assert d2.tolist() == ids.tolist()
    single = encode_posting_block(
        np.array([7]), np.array([3]), np.array([9])
    )
    d1, t1, l1 = decode_posting_block(*single, 1)
    assert (d1[0], t1[0], l1[0]) == (7, 3, 9)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=2**40),
        min_size=1,
        max_size=700,
        unique=True,
    )
)
def test_multiblock_encode_equals_per_block(ids):
    ids.sort()
    doc_ids = np.array(ids, dtype=np.int64)
    rng = np.random.default_rng(3)
    tfs = rng.integers(1, 100, size=len(ids))
    dls = rng.integers(1, 5000, size=len(ids))
    from clip_as_service_spark.functions.codec import encode_posting_blocks

    docs_b, tfs_b, dls_b = encode_posting_blocks(doc_ids, tfs, dls)
    for i, s in enumerate(range(0, len(ids), BLOCK_SIZE)):
        chunk = slice(s, s + BLOCK_SIZE)
        exp = encode_posting_block(doc_ids[chunk], tfs[chunk], dls[chunk])
        assert (docs_b[i], tfs_b[i], dls_b[i]) == exp


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=2**40),
        min_size=1,
        max_size=700,
        unique=True,
    )
)
def test_batch_decode_roundtrip(ids):
    ids.sort()
    import numpy as np

    from clip_as_service_spark.functions.codec import (
        decode_posting_blocks_batch,
        encode_posting_blocks,
    )

    doc_ids = np.array(ids, dtype=np.int64)
    rng = np.random.default_rng(5)
    tfs = rng.integers(1, 100, size=len(ids))
    dls = rng.integers(1, 5000, size=len(ids))
    docs_b, tfs_b, dls_b = encode_posting_blocks(doc_ids, tfs, dls)
    ns = [min(BLOCK_SIZE, len(ids) - s) for s in range(0, len(ids), BLOCK_SIZE)]
    d2, t2, l2 = decode_posting_blocks_batch(docs_b, tfs_b, dls_b, ns)
    assert d2.tolist() == doc_ids.tolist()
    assert t2.tolist() == tfs.tolist()
    assert l2.tolist() == dls.tolist()


@pytest.mark.parametrize("seed", range(12))
def test_group_encode_equals_per_block(seed):
    """Many groups in one call: every group's blocks equal
    encode_posting_block over its sorted BLOCK_SIZE chunks, none crosses a
    group, and max_w is the per-block max of impact_weights, bit for bit."""
    rng = np.random.default_rng(seed)
    sizes = rng.permutation(
        [1, BLOCK_SIZE, BLOCK_SIZE + 1, *rng.integers(1, 3 * BLOCK_SIZE, 4)]
    )
    groups = []
    for size in sizes:
        base = int(rng.choice([0, 2**62 - 2**20]))  # ids near 2^62 too
        ids = base + np.cumsum(rng.integers(1, 1000, size))
        groups.append(
            (rng.permutation(ids), rng.integers(1, 100, size), rng.integers(1, 5000, size))
        )
    bm25 = (97.5, 1.2, 0.75)
    enc = encode_posting_groups(
        *(np.concatenate([g[i] for g in groups]) for i in range(3)),
        np.concatenate(([0], np.cumsum(sizes)[:-1])),
        bm25,
    )

    i = 0
    for g, (ids, tfs, dls) in enumerate(groups):
        order = np.argsort(ids)
        ids, tfs, dls = ids[order], tfs[order], dls[order]
        for block_id, s in enumerate(range(0, len(ids), BLOCK_SIZE)):
            chunk = slice(s, s + BLOCK_SIZE)
            assert (enc.group[i], enc.block_id[i]) == (g, block_id)
            assert enc.n[i] == len(ids[chunk])
            assert (enc.first_doc[i], enc.last_doc[i]) == (ids[chunk][0], ids[chunk][-1])
            got = tuple(col[i].as_py() for col in (enc.docs, enc.tfs, enc.dls))
            assert got == encode_posting_block(ids[chunk], tfs[chunk], dls[chunk])
            w = impact_weights(tfs[chunk], dls[chunk], *bm25)
            assert enc.max_w[i] == np.maximum.reduce(w)
            i += 1
    assert i == len(enc.n)  # no block beyond the groups' own


def test_block_max_admissible():
    # per-block max weight is ≥ every true weight in block (WAND admissibility)
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 50, size=BLOCK_SIZE)
    dls = rng.integers(20, 400, size=BLOCK_SIZE)
    w = impact_weights(tfs, dls, avgdl=150.0, k1=1.2, b=0.75)
    assert np.max(w) >= w.max() - 0.0
    assert (w <= np.max(w)).all()
    assert (w > 0).all()


def test_impact_weight_matches_oracle_arithmetic():
    # idf * w must equal the oracle partial bit-for-bit
    import math

    from clip_as_service_spark import B, K1

    tf, dl, avgdl, n, df = 3, 120, 97.5, 10000, 42
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    w = impact_weights(np.array([tf]), np.array([dl]), avgdl, K1, B)[0]
    denom = tf + K1 * (1.0 - B + B * dl / avgdl)
    oracle_partial = idf * (tf * (K1 + 1.0) / denom)
    assert idf * w == oracle_partial
