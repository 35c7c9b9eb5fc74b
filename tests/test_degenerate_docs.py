"""Degenerate-document regression tests (web corpora guarantee these):
empty text, whitespace-only text, and sub-shingle-length docs must flow
through the index build, BM25 stats, and every dedup operator without
crashing or skewing corpus statistics."""

from __future__ import annotations

import pytest

from clip_as_service_spark import fixtures
from clip_as_service_spark.operators import dedup, index_build, wand
from clip_as_service_spark.oracle import BM25Oracle
from clip_as_service_spark.sources.tables import IndexStorage


def test_shingles_short_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "a b c d")],
        "id long, text string",
    )
    got = dedup.shingles(df, "id", "text", k=3).collect()
    # sub-k docs produce zero shingles (no crash, no descending-sequence rows)
    assert {r["id"] for r in got} == {4}
    assert {r["shingle"] for r in got} == {"a b c", "b c d"}


_DEGENERATE_ROWS = [
    (0, ""),
    (1, "x"),
    (2, "  "),
    (3, "the quick brown fox jumps over the lazy dog"),
    (4, "the quick brown fox jumps over the lazy cat"),
    (5, "totally different content about spark engines and parquet files"),
]


def test_minhash_lsh_tolerates_degenerate_docs(spark):
    df = spark.createDataFrame(_DEGENERATE_ROWS, "id long, text string")
    pairs = dedup.lsh_candidate_pairs(
        df, "id", "text", k=3, n_hashes=16, n_bands=8
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (3, 4) in got  # the true near-dup pair survives
    ver = dedup.ngram_jaccard_pairs(
        df, "id", "text", k=3, threshold=0.5,
        candidates=dedup.lsh_candidate_pairs(df, "id", "text", k=3),
    ).collect()
    assert all(r["jaccard"] >= 0.5 for r in ver)


def test_simhash_tolerates_degenerate_docs(spark):
    df = spark.createDataFrame(_DEGENERATE_ROWS, "id long, text string")
    fps = dedup.simhash_fingerprints(df, "id", "text").collect()
    assert len(fps) == len(_DEGENERATE_ROWS)


def test_zero_token_docs_counted_in_stats(spark, tmp_path):
    """ADVICE r01 repro: 1 empty doc of 30 → engine must report n_docs=30
    (not 29) and the oracle's avgdl, and dense-id TAAT must not IndexError
    on a query matching the max-id doc."""
    pages = fixtures.make_pages(30)
    pages[7]["text"] = ""
    pages[7]["html"] = b"<html><body></body></html>"
    pages[19]["text"] = "   \t  "
    df = spark.createDataFrame(
        pages,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "idx_degen")
    index_build.build_index(
        spark, df, out, n_shards=4, doc_id_method="dense_sorted"
    )
    meta = IndexStorage(out).read_meta()
    oracle = BM25Oracle.from_pages(pages)
    assert meta["n_docs"] == 30 == oracle.n_docs
    # the count-pass anchor for the dense-id triple invariant
    assert meta["n_pages_input"] == 30
    assert meta["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)

    reader = wand.IndexReader(None, out)
    # query with a term that appears in the LAST doc by url order (max id)
    last_url = max(p["url"] for p in pages if p["text"].strip())
    last_text = next(p["text"] for p in pages if p["url"] == last_url)
    term = last_text.split()[0]
    got = reader.search(term, k=5)
    expected = oracle.topk(term, k=5)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in expected]
