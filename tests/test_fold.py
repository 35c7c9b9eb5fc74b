"""``wand._fold``, the one exact fold, against a plain-Python reference:
per doc a dict sum ``0.0 + p1 + p2 + …`` over the lists in ascending-term
order, tombstones and non-candidates left out, sorted by (-score, doc).
Scores must be bit-equal, on both accumulators (the direct array over
the doc span and the distinct docs) and with a candidate set. Also: the
fold's memory follows its postings, not the doc span they lie in, and
``wand._top`` keeps every tie at the kth score whether its sampled floor
is above 0 or not. No Spark."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest

from clip_as_service_spark.operators import wand

K = 10


def _reference(decoded, k, cand=None, deleted=()):
    acc: dict[int, float] = {}
    for docs, w in decoded:  # ascending-term order
        for d, x in zip(docs.tolist(), w.tolist()):
            if cand is None or d in cand:
                acc[d] = acc.get(d, 0.0) + x
    dead = set(deleted)
    hits = sorted((-s, d) for d, s in acc.items() if d not in dead and s > 0.0)
    return [(r, d, -s) for r, (s, d) in enumerate(hits[:k], 1)]


def _lists(rng, n_lists, postings, lo, hi, weights=None):
    """``n_lists`` (sorted distinct docs in [lo, hi), partials) pairs; the
    partials drawn from ``weights`` when given, so sums tie."""
    out = []
    for _ in range(n_lists):
        docs = np.sort(rng.choice(hi - lo, postings, replace=False)) + lo
        w = rng.choice(weights, postings) if weights is not None else rng.random(postings) + 0.05
        out.append((docs, np.asarray(w, dtype=np.float64)))
    return out


def _check(decoded, k, universe, deleted=None):
    cand = set(universe.tolist()) if isinstance(universe, np.ndarray) else None
    dead = np.unique(np.asarray(deleted, dtype=np.int64)) if deleted is not None else None
    got = wand._fold(decoded, k, universe, deleted=dead)
    want = _reference(decoded, k, cand, [] if dead is None else dead.tolist())
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want]
    # bit-equal: == on floats, and the same sign and payload
    assert [s for _, _, s in got] == [s for _, _, s in want]
    assert all(isinstance(d, int) and isinstance(s, float) for _, d, s in got)
    return got


def test_fold_memory_is_sized_by_the_postings():
    """Two ~100-posting lists spread over a 12.8M-id span, given as the
    (lo, hi) universe a memoized fold passes: the fold allocates by its
    200 postings, not one 8-byte slot per id of the span (100 MB)."""
    rng = np.random.default_rng(3)
    span = 12_800_000
    docs = rng.choice(span, 160, replace=False)  # 40 docs in both lists
    decoded = [(np.sort(d), rng.random(100) + 0.05) for d in (docs[:100], docs[60:])]
    tracemalloc.start()
    try:
        got = wand._fold(decoded, K, (0, span))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak
    assert got == _reference(decoded, K)


TIES = (0.25, 0.5, 0.75, 1.0)


@pytest.mark.parametrize("case", [
    # direct array: the span holds ~1 slot per posting
    dict(n=3, postings=400, lo=1000, hi=2200),
    # distinct docs: ~10^4 ids per posting
    dict(n=3, postings=60, lo=5, hi=2_000_005),
    # partials from four values: ties at the kth on both accumulators
    dict(n=4, postings=300, lo=0, hi=600, weights=TIES),
    dict(n=2, postings=50, lo=0, hi=10**7, weights=TIES),
    # one list: its partials are its scores
    dict(n=1, postings=500, lo=0, hi=900),
    dict(n=1, postings=80, lo=0, hi=10**8, weights=TIES),
    # a direct array of mostly empty slots (32 per posting): the sampled
    # floor is 0, and fewer than k docs tie at 1.0
    dict(n=2, postings=20, lo=0, hi=1280, weights=(1.0,)),
])
@pytest.mark.parametrize("k", [K, 1, 1000])
@pytest.mark.parametrize("tombstones", [False, True])
def test_fold_equals_the_reference(case, k, tombstones):
    rng = np.random.default_rng([case["postings"], case["hi"], k])
    lo, hi = case["lo"], case["hi"]
    decoded = _lists(rng, case["n"], case["postings"], lo, hi, case.get("weights"))
    deleted = None
    if tombstones:  # below, inside and above the span: a doc of every list too
        deleted = [lo - 1, hi, hi + 7, *(int(d[len(d) // 2]) for d, _ in decoded),
                   *rng.integers(lo, hi, 20).tolist()]
    for universe in ((lo, hi), None):
        _check(decoded, k, universe, deleted)


@pytest.mark.parametrize("hi", [3000, 10**9])
def test_fold_over_a_candidate_subset(hi):
    """The candidate set keeps only its own docs: members with and without
    postings, and postings of non-members dropped before the fold."""
    rng = np.random.default_rng(hi % 1000)
    decoded = _lists(rng, 3, 200, 0, hi, TIES)
    docs = np.unique(np.concatenate([d for d, _ in decoded]))
    cand = np.unique(np.concatenate((rng.choice(docs, 60), rng.integers(0, hi, 30))))
    _check(decoded, K, cand)
    _check(decoded, K, cand, deleted=cand[::3].tolist())
    _check(decoded, 500, cand)


def test_fold_empty_results():
    rng = np.random.default_rng(11)
    decoded = _lists(rng, 2, 30, 0, 100)
    every = np.unique(np.concatenate([d for d, _ in decoded]))
    assert _check(decoded, K, (0, 100), deleted=every.tolist()) == []
    assert _check(decoded, K, None, deleted=every.tolist()) == []
    assert _check(decoded, K, np.array([], dtype=np.int64)) == []
    assert _check(decoded, K, np.setdiff1d(np.arange(100), every)) == []


@pytest.mark.parametrize("universe", [(0, 8), (0, 10**9), None])
def test_fold_sums_in_ascending_term_order(universe):
    """Three partials whose float64 sum depends on their order: in term
    order 0.0 + 1.0 + 2^-53 + 2^-53 rounds to 1.0 at each step, while
    the last two added first would give 1 + 2^-52."""
    tiny = 2.0 ** -53
    assert (tiny + tiny) + 1.0 != 1.0 + tiny + tiny
    doc = np.array([5], dtype=np.int64)
    decoded = [
        (np.array([1, 5], dtype=np.int64), np.array([0.5, 1.0])),
        (doc, np.array([tiny])), (doc, np.array([tiny])),
    ]
    got = _check(decoded, K, universe)
    assert got[0] == (1, 5, 1.0)
    flipped = [decoded[1], decoded[2], decoded[0]]
    assert wand._fold(flipped, K, universe)[0] == (1, 5, 1.0 + 2 * tiny)


@pytest.mark.parametrize("n, positive, k", [
    (5000, 5000, 10), (5000, 600, 10), (5000, 7, 10), (37, 37, 10),
    (100_000, 100_000, 1), (4000, 3000, 64),
])
def test_top_keeps_every_tie_at_the_kth(n, positive, k):
    """``_top`` returns the exact kth largest score > 0 (0.0 when fewer
    than k are > 0) and every position > 0 at or above it, for arrays
    whose samples give a floor above 0 (all slots filled) and at 0
    (mostly empty slots), with many ties."""
    rng = np.random.default_rng(n + positive + k)
    scores = np.zeros(n)
    scores[rng.choice(n, positive, replace=False)] = rng.choice(TIES, positive)
    kth, at = wand._top(scores, k)
    pos = np.sort(scores[scores > 0])[::-1]
    want_kth = pos[k - 1] if len(pos) >= k else 0.0
    assert kth == want_kth
    want_at = np.flatnonzero((scores > 0) & (scores >= want_kth))
    assert np.array_equal(np.sort(at), want_at)
