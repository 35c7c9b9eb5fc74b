"""End-to-end rank-identity: Spark BM25 top-k ≡ single-node oracle
(SURVEY.md §7 M1; invariants from FIXTURES.md §6), through the corpus
stats and the batch search over an index of the same pages
(``wand.search_topk``).

Pass criterion (FIXTURES.md §3): same docIDs in same order per query,
scores bit-close (≤1e-12 relative; the pipeline is built to be bit-identical
— ordered float64 folds + Python math.log on both sides).
"""

from __future__ import annotations

import pytest

from clip_as_service_spark import fixtures
from clip_as_service_spark.operators import index_build, tokenize, wand
from clip_as_service_spark.oracle import BM25Oracle

N_PAGES = 200
K = 10


@pytest.fixture(scope="module")
def built(spark):
    pages = fixtures.pages_spark_df(spark, N_PAGES, partitions=6)
    # url-ordered ids to match BM25Oracle.from_pages
    with_ids = tokenize.assign_doc_ids(pages, method="row_number")
    postings = tokenize.build_postings(with_ids).cache()
    stats = tokenize.corpus_stats(postings)
    tdf = tokenize.term_df(postings)
    return postings, stats, tdf


@pytest.fixture(scope="module")
def oracle():
    return BM25Oracle.from_pages(fixtures.make_pages(N_PAGES))


@pytest.fixture(scope="module")
def spark_topk(spark, tmp_path_factory):
    index = str(tmp_path_factory.mktemp("bm25_e2e") / "index")
    pages = fixtures.pages_spark_df(spark, N_PAGES, partitions=6)
    index_build.build_index(spark, pages, index, doc_id_method="dense_sorted")
    out = wand.search_topk(spark, index, fixtures.queries_spark_df(spark), k=K)
    rows = out.collect()
    result: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        result.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    return result


def test_corpus_stats_match(built, oracle):
    _, stats, _ = built
    assert stats["n_docs"] == oracle.n_docs
    assert stats["avgdl"] == pytest.approx(oracle.avgdl, rel=0, abs=0)


def test_rank_identity_all_queries(spark_topk, oracle):
    queries = fixtures.make_queries()
    checked_nonempty = 0
    for q in queries:
        expected = oracle.topk(q["text"], k=K)
        got = spark_topk.get(q["query_id"], [])
        exp_ids = [(rank, doc_id) for rank, doc_id, _ in expected]
        got_ids = [(rank, doc_id) for rank, doc_id, _ in got]
        assert got_ids == exp_ids, f"rank mismatch for query {q}"
        for (_, _, se), (_, _, sg) in zip(expected, got):
            assert sg == pytest.approx(se, rel=1e-12)
        if expected:
            checked_nonempty += 1
    assert checked_nonempty >= 40  # the fixture queries overwhelmingly hit docs


def test_exactly_k_results(spark_topk):
    # reference invariant: exactly `limit` matches (tests/test_search.py:41-44)
    sizes = {len(v) for v in spark_topk.values()}
    assert max(sizes) == K


def test_descending_order_with_tiebreak(spark_topk):
    # reference invariant: scores sorted descending (tests/test_ranker.py:34-35)
    for qid, rows in spark_topk.items():
        for (r1, d1, s1), (r2, d2, s2) in zip(rows, rows[1:]):
            assert r2 == r1 + 1
            assert (s1 > s2) or (s1 == s2 and d1 < d2)


def test_empty_and_oov_queries_absent(spark_topk):
    # empty input → empty output, no error (tests/test_client.py:83-98)
    queries = fixtures.make_queries()
    oov_qid = queries[-2]["query_id"]
    empty_qid = queries[-1]["query_id"]
    assert oov_qid not in spark_topk
    assert empty_qid not in spark_topk
