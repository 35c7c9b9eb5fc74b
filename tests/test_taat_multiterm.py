"""Multi-term block-max early stop (taat_topk's _taat_stop): rank- and
score-identity against the oracle and the full-decode fold, including
tombstone masking and the small-pool / small-candidate-cap loops.

The production threshold (MULTI_TAAT_EARLY_MIN_POSTINGS) keeps the stop
off at fixture scale, and a reader runs it only on queries with more
blocks than one decode chunk, so every test here forces them via
monkeypatch and reads the kernel that ran from taat_topk's log."""

from __future__ import annotations

from unittest import mock

import numpy as np
import pytest

from clip_as_service_spark import fixtures
from clip_as_service_spark.operators import index_build, wand
from clip_as_service_spark.oracle import BM25Oracle
from clip_as_service_spark.textnorm import tokenize_words

N_PAGES = 200
K = 10
SALT_KW = dict(
    salt_cutoff=30, target_sublist=20, n_shards=4, doc_id_method="dense_sorted"
)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_mt") / "index")
    pages = fixtures.pages_spark_df(spark, N_PAGES, partitions=6)
    index_build.build_index(spark, pages, out, **SALT_KW)
    return out


@pytest.fixture(scope="module")
def oracle():
    return BM25Oracle.from_pages(fixtures.make_pages(N_PAGES))


def _multi_term_queries():
    return [
        q
        for q in fixtures.make_queries()
        if len(set(tokenize_words(q["text"]))) > 1
    ][:20]


def _full_decode_topk(reader, terms, k, deleted=None):
    """taat_topk's full decode: the multi-term fixture queries stay below
    MULTI_TAAT_EARLY_MIN_POSTINGS and DECODE_MAX_POSTINGS."""
    fetched = reader._fetch_rows(terms)
    assert len(fetched) > 1
    log: dict = {}
    got = wand.taat_topk(fetched, k, reader._bm25, deleted=deleted, log=log)
    assert log["kernel"] == "fold", log
    return got


def _early_stop_topk(reader, terms, k, deleted=None):
    """taat_topk with the multi-term stop's postings threshold forced to 0
    (the stop also needs more blocks than one chunk: callers force small
    chunks)."""
    fetched = reader._fetch_rows(terms)
    assert len(fetched) > 1
    log: dict = {}
    with mock.patch.object(wand, "MULTI_TAAT_EARLY_MIN_POSTINGS", 0):
        got = wand.taat_topk(fetched, k, reader._bm25, deleted=deleted, log=log)
    assert log["kernel"] in ("stop", "stop_open"), log
    return got


def test_multi_term_early_stop_matches_oracle(index_dir, oracle, monkeypatch):
    """One-block chunks maximize stop-check rounds; ranks AND scores must be
    identical to the oracle (phase-2 re-scores with the ascending-term
    float64 fold, so scores are bit-equal to the full decode)."""
    monkeypatch.setattr(wand, "_DECODE_CHUNK_BLOCKS", 1)
    reader = wand.IndexReader(None, index_dir)
    ran = 0
    for q in _multi_term_queries():
        terms = sorted(set(tokenize_words(q["text"])))
        hit = [t for t in terms if reader._fetch_rows([t])]
        if len(hit) < 2:
            continue
        got = _early_stop_topk(reader, hit, K)
        expected = oracle.topk(q["text"], k=K)
        assert [(r, d) for r, d, _ in got] == [
            (r, d) for r, d, _ in expected
        ], q
        full = _full_decode_topk(reader, hit, K)
        assert got == full  # bit-identical scores, not approx
        ran += 1
    assert ran >= 5


def test_multi_term_early_stop_with_deletes(index_dir, oracle, monkeypatch):
    """Tombstoning each query's top-2 docs must promote the next live docs
    exactly (mask applied before the θ̃ bound — a dead doc must not stop
    the decode early)."""
    monkeypatch.setattr(wand, "_DECODE_CHUNK_BLOCKS", 1)
    reader = wand.IndexReader(None, index_dir)
    ran = 0
    for q in _multi_term_queries()[:8]:
        terms = sorted(set(tokenize_words(q["text"])))
        hit = [t for t in terms if reader._fetch_rows([t])]
        if len(hit) < 2:
            continue
        base = _full_decode_topk(reader, hit, K)
        if len(base) < 3:
            continue
        deleted = np.array(sorted(d for _r, d, _s in base[:2]), dtype=np.int64)
        got = _early_stop_topk(reader, hit, K, deleted=deleted)
        full = _full_decode_topk(reader, hit, K, deleted=deleted)
        assert got == full
        assert not {d for _r, d, _s in got} & set(deleted.tolist())
        ran += 1
    assert ran >= 3


def test_multi_term_early_stop_tiny_pool_and_cand_cap(
    index_dir, oracle, monkeypatch
):
    """A 1-doc-sized pool bound and a tiny candidate cap force the
    keep-decoding loop (cand > cap → shrink rem first); exactness must
    hold through both degenerate settings."""
    monkeypatch.setattr(wand, "_TAAT_POOL_MAX", 32)
    monkeypatch.setattr(wand, "_TAAT_CAND_MAX", 8)
    monkeypatch.setattr(wand, "_DECODE_CHUNK_BLOCKS", 2)
    reader = wand.IndexReader(None, index_dir)
    ran = 0
    for q in _multi_term_queries()[:10]:
        terms = sorted(set(tokenize_words(q["text"])))
        hit = [t for t in terms if reader._fetch_rows([t])]
        if len(hit) < 2:
            continue
        got = _early_stop_topk(reader, hit, K)
        full = _full_decode_topk(reader, hit, K)
        assert got == full
        ran += 1
    assert ran >= 3


def test_taat_topk_routes_multi_term_early_stop(index_dir, oracle, monkeypatch):
    """taat_topk engages the multi-term stop past the postings threshold
    and one chunk of blocks (and IndexReader.search inherits it); forced
    thresholds must keep every fixture query oracle-exact through the
    public entry point. An empty tombstone array answers as None does,
    whichever kernel runs: the multi-term stop, the windows (bound 8) or
    the single-term stop (the first term alone)."""
    monkeypatch.setattr(wand, "MULTI_TAAT_EARLY_MIN_POSTINGS", 0)
    monkeypatch.setattr(wand, "_DECODE_CHUNK_BLOCKS", 1)
    real_bound = wand.DECODE_MAX_POSTINGS
    reader = wand.IndexReader(None, index_dir)
    empty = np.empty(0, dtype=np.int64)
    stops = 0
    for q in _multi_term_queries():
        terms = sorted(set(tokenize_words(q["text"])))
        rows = reader._fetch_rows(terms)
        if not rows:
            continue
        log: dict = {}
        got = wand.taat_topk(rows, K, reader._bm25, log=log)
        stops += len(rows) > 1 and log["kernel"] in ("stop", "stop_open")
        expected = oracle.topk(q["text"], k=K)
        assert [(r, d) for r, d, _ in got] == [
            (r, d) for r, d, _ in expected
        ], q
        for (_, _, se), (_, _, sg) in zip(expected, got):
            assert sg == pytest.approx(se, rel=1e-12)
        for part, bound in ((rows, real_bound), (rows, 8), (rows[:1], real_bound)):
            monkeypatch.setattr(wand, "DECODE_MAX_POSTINGS", bound)
            assert wand.taat_topk(
                part, K, reader._bm25, deleted=empty
            ) == wand.taat_topk(part, K, reader._bm25), q
        monkeypatch.setattr(wand, "DECODE_MAX_POSTINGS", real_bound)
    assert stops >= 5


def test_reader_search_uses_early_stop_when_heavy(index_dir, oracle, monkeypatch):
    """End-to-end: with the thresholds forced, IndexReader.search's cold
    multi-term queries route through the early stop (its query_log says
    so) and stay oracle-exact; warm repeats answer the same."""
    monkeypatch.setattr(wand, "MULTI_TAAT_EARLY_MIN_POSTINGS", 0)
    monkeypatch.setattr(wand, "_DECODE_CHUNK_BLOCKS", 1)
    reader = wand.IndexReader(None, index_dir)
    stops = 0
    for q in _multi_term_queries()[:10]:
        expected = oracle.topk(q["text"], k=K)
        got_cold = reader.search(q["text"], k=K)
        stops += reader.query_log[-1]["kernel"] in ("stop", "stop_open")
        got_warm = reader.search(q["text"], k=K)
        assert [(r, d) for r, d, _ in got_cold] == [
            (r, d) for r, d, _ in expected
        ], q
        assert got_cold == got_warm
    assert stops >= 5


def test_multi_term_early_stop_nonpositive_threshold_masks_deletes(
    index_dir, monkeypatch
):
    """The phase-1 candidate threshold θ̃/s - rem·s can be ≤ 0 when θ̃ sits
    just above rem·s. Every doc then enters the candidate set, tombstoned
    ones (accumulator 0) included, and phase 2 re-scores them. The margin s
    only widens the set, so exactness must not depend on it: a wide margin
    opens that window on most stop checks."""
    monkeypatch.setattr(wand, "_UB_SAFETY", 2.0)
    monkeypatch.setattr(wand, "_DECODE_CHUNK_BLOCKS", 1)
    reader = wand.IndexReader(None, index_dir)
    ran = 0
    for q in _multi_term_queries()[:8]:
        terms = sorted(set(tokenize_words(q["text"])))
        hit = [t for t in terms if reader._fetch_rows([t])]
        if len(hit) < 2:
            continue
        base = _full_decode_topk(reader, hit, K)
        if len(base) < 3:
            continue
        deleted = np.array(sorted(d for _r, d, _s in base[:2]), dtype=np.int64)
        got = _early_stop_topk(reader, hit, K, deleted=deleted)
        assert not {d for _r, d, _s in got} & set(deleted.tolist()), q
        assert got == _full_decode_topk(reader, hit, K, deleted=deleted)
        ran += 1
    assert ran >= 3


def test_decode_blocks_in_any_block_order(index_dir):
    """The early stops pick blocks in impact order, not file order, so a
    selection can permute a run of blocks or have a gap between ends that
    look like a run. Decoding it, alone or beside another term's, must
    equal decoding its blocks one at a time in the selection's order. The
    fixture's salted blocks differ in length, so blocks read as the wrong
    run would decode with the wrong carry boundaries."""
    reader = wand.IndexReader(None, index_dir)
    t, u = sorted(
        reader._fetch_rows(["hello", "kuni", "luco", "world"]),
        key=lambda t: -len(t.n),
    )[:2]
    assert len(t.n) >= 8 and len(set(t.n[:4].tolist())) > 1
    last = len(t.n) - 1
    sels = [
        [0, 2, 1, 3], [1, 6, 3], [3, 2, 1, 0], [2, 3, 4, 5], [last, 0],
        list(range(last, -1, -1)),
    ]

    def one_by_one(picks):
        parts = [
            wand._decode_blocks([(term, np.array([b]))], reader._bm25)
            for term, sel in picks for b in sel
        ]
        return tuple(np.concatenate(p) for p in zip(*parts))

    for picks in [[(t, s)] for s in sels] + [[(t, [4, 0, 2]), (u, [2, 0, 1])]]:
        picks = [(term, np.array(sel)) for term, sel in picks]
        got = wand._decode_blocks(picks, reader._bm25)
        want = one_by_one(picks)
        for g, w in zip(got, want):
            np.testing.assert_array_equal(g, w, err_msg=str(picks))


@pytest.mark.parametrize("chunk", [3, 5])
def test_early_stops_exact_with_multi_block_chunks(
    index_dir, oracle, monkeypatch, chunk
):
    """Chunks of several blocks hand the decoder each chunk's blocks in
    impact order, several terms' in one call. The early stop (taat_topk
    runs it on any one term of more blocks than a chunk) must stay
    bit-equal to the oracle on each multi-term query and on each of its
    terms alone."""
    monkeypatch.setattr(wand, "_DECODE_CHUNK_BLOCKS", chunk)
    reader = wand.IndexReader(None, index_dir)
    ran = single = 0
    for q in _multi_term_queries():
        fetched = reader._fetch_rows(sorted(set(tokenize_words(q["text"]))))
        for t in fetched:
            log: dict = {}
            got = wand.taat_topk([t], K, reader._bm25, log=log)
            assert got == oracle.topk(t.term, k=K), t.term
            stop = len(t.n) > chunk
            assert (log["kernel"] in ("stop", "stop_open")) == stop, t.term
            single += stop
        if len(fetched) > 1 and sum(len(t.n) for t in fetched) > chunk:
            got = _early_stop_topk(reader, [t.term for t in fetched], K)
            assert got == oracle.topk(q["text"], k=K), q
            ran += 1
    assert ran >= 5 and single >= 5
