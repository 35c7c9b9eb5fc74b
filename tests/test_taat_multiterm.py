"""Multi-term block-max early-stop TAAT (_taat_multi_term): rank- and
score-identity against the oracle and the full-decode scorer, including
tombstone masking and the small-pool / small-candidate-cap loops.

The production threshold (MULTI_TAAT_EARLY_MIN_POSTINGS) keeps the path off
at fixture scale, so every test here forces it via monkeypatch."""

from __future__ import annotations

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
    rows = reader._fetch_rows(terms)
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    decoded = []
    for t in sorted(by_term):
        blks = by_term[t]
        docs, w = wand._decode_block_group(blks, reader._bm25)
        decoded.append((t, docs, blks[0].idf * w))
    return wand.taat_topk_decoded(
        decoded, k, n_docs=reader.meta["n_docs"], deleted=deleted
    )


def _early_stop_topk(reader, terms, k, chunk_blocks=1, deleted=None):
    rows = reader._fetch_rows(terms)
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    assert len(by_term) > 1
    return wand._taat_multi_term(
        by_term, k, reader._bm25, reader.meta["n_docs"],
        chunk_blocks, deleted=deleted,
    )


def test_multi_term_early_stop_matches_oracle(index_dir, oracle):
    """chunk_blocks=1 maximizes stop-check rounds; ranks AND scores must be
    identical to the oracle (phase-2 re-scores with the ascending-term
    float64 fold, so scores are bit-equal to the full decode)."""
    reader = wand.IndexReader(None, index_dir, engine="pyarrow")
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


def test_multi_term_early_stop_with_deletes(index_dir, oracle):
    """Tombstoning each query's top-2 docs must promote the next live docs
    exactly (mask applied before the θ̃ bound — a dead doc must not stop
    the decode early)."""
    reader = wand.IndexReader(None, index_dir, engine="pyarrow")
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
    reader = wand.IndexReader(None, index_dir, engine="pyarrow")
    ran = 0
    for q in _multi_term_queries()[:10]:
        terms = sorted(set(tokenize_words(q["text"])))
        hit = [t for t in terms if reader._fetch_rows([t])]
        if len(hit) < 2:
            continue
        got = _early_stop_topk(reader, hit, K, chunk_blocks=2)
        full = _full_decode_topk(reader, hit, K)
        assert got == full
        ran += 1
    assert ran >= 3


def test_taat_topk_routes_multi_term_early_stop(index_dir, oracle, monkeypatch):
    """taat_topk engages _taat_multi_term past the postings threshold (and
    the reader's auto strategy inherits it); forced threshold 0 must keep
    every fixture query oracle-exact through the public entry point."""
    monkeypatch.setattr(wand, "MULTI_TAAT_EARLY_MIN_POSTINGS", 0)
    reader = wand.IndexReader(None, index_dir, engine="pyarrow")
    for q in _multi_term_queries():
        terms = sorted(set(tokenize_words(q["text"])))
        rows = reader._fetch_rows(terms)
        if not rows:
            continue
        got = wand.taat_topk(
            rows, K, reader._bm25, n_docs=reader.meta["n_docs"]
        )
        expected = oracle.topk(q["text"], k=K)
        assert [(r, d) for r, d, _ in got] == [
            (r, d) for r, d, _ in expected
        ], q
        for (_, _, se), (_, _, sg) in zip(expected, got):
            assert sg == pytest.approx(se, rel=1e-12)


def test_reader_search_uses_early_stop_when_heavy(index_dir, oracle, monkeypatch):
    """End-to-end: with the threshold forced to 0, IndexReader.search's
    cold multi-term branch routes through the early-stop scorer and stays
    oracle-exact (warm repeats take the memo path — also exact)."""
    monkeypatch.setattr(wand, "MULTI_TAAT_EARLY_MIN_POSTINGS", 0)
    reader = wand.IndexReader(None, index_dir, engine="pyarrow")
    for q in _multi_term_queries()[:10]:
        expected = oracle.topk(q["text"], k=K)
        got_cold = reader.search(q["text"], k=K)
        got_warm = reader.search(q["text"], k=K)
        assert [(r, d) for r, d, _ in got_cold] == [
            (r, d) for r, d, _ in expected
        ], q
        assert got_cold == got_warm


def test_multi_term_early_stop_nonpositive_threshold_masks_deletes(
    index_dir, monkeypatch
):
    """The phase-1 candidate threshold θ̃/s - rem·s can be ≤ 0 when θ̃ sits
    just above rem·s. Every doc then enters the candidate set, tombstoned
    ones (accumulator 0) included, and phase 2 re-scores them. The margin s
    only widens the set, so exactness must not depend on it: a wide margin
    opens that window on most stop checks."""
    monkeypatch.setattr(wand, "_UB_SAFETY", 2.0)
    reader = wand.IndexReader(None, index_dir, engine="pyarrow")
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
