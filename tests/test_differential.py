"""Differential test of the query paths against oracle.BM25Oracle: one
seeded corpus with salted head terms, built with dense and with hash doc
ids, and merged (merge_indexes) from two hash-id halves of it, searched
with and without tombstones taken from the top-k. Every path must return
the oracle's doc ids in the oracle's order with bit-equal float64 scores:

- IndexReader.search, cold and then warm (decoded-term memo);
- the same with ``DECODE_MAX_POSTINGS`` forced below the doc span the
  queries touch, so multi-term queries take the windowed fold and the
  sparse fold;
- the same with the multi-term early stop forced on and decoding one
  block per chunk;
- search_topk, one Spark call per index.

Purge, stream compaction and BPE indexes have their own tests."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from clip_as_service_spark import fixtures
from clip_as_service_spark.operators import index_build, wand
from clip_as_service_spark.oracle import BM25Oracle

N_PAGES = 200
K = 10
BUILD_KW = dict(salt_cutoff=30, target_sublist=20, n_shards=4)
# below both the 200-doc span and most multi-term queries' postings
FORCED_BOUND = 64
PATHS = {
    "default": {},
    "forced_bound": {"DECODE_MAX_POSTINGS": FORCED_BOUND},
    "multi_term_stop": {
        "MULTI_TAAT_EARLY_MIN_POSTINGS": 0, "_DECODE_CHUNK_BLOCKS": 1,
    },
}
ID_METHODS = ("dense_sorted", "hash")
INDEXES = ID_METHODS + ("merged",)


def _oracle(spark, pages, ids: str) -> BM25Oracle:
    if ids == "dense_sorted":  # doc_id = row_number over url
        return BM25Oracle.from_pages(fixtures.make_pages(N_PAGES))
    rows = pages.select(F.xxhash64("url").alias("doc_id"), "text").collect()
    return BM25Oracle([(int(r["doc_id"]), r["text"]) for r in rows])


def _live_topk(oracle: BM25Oracle, text: str, deleted: set) -> list:
    """The oracle's top-K over the docs not in ``deleted``; scores keep
    the full corpus's stats, as they do until a purge."""
    live = [
        (d, s)
        for _r, d, s in oracle.topk(text, k=K + len(deleted))
        if d not in deleted
    ][:K]
    return [(r, d, s) for r, (d, s) in enumerate(live, 1)]


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory) -> dict:
    """{index: [(index_dir, {query_id: expected top-K})]}: the plain
    index, then a copy with each query's top doc tombstoned."""
    root = tmp_path_factory.mktemp("differential")
    pages = fixtures.pages_spark_df(spark, N_PAGES, partitions=6).cache()
    queries = fixtures.make_queries()
    out = {}
    for ids in INDEXES:
        idx = str(root / ids)
        if ids == "merged":
            halves = [str(root / f"half{h}") for h in range(2)]
            for h, half in enumerate(halves):
                index_build.build_index(
                    spark, pages.filter(F.pmod(F.xxhash64("url"), 2) == h),
                    half, doc_id_method="hash", **BUILD_KW,
                )
            index_build.merge_indexes(spark, halves, idx, **BUILD_KW)
        else:
            index_build.build_index(
                spark, pages, idx, doc_id_method=ids, **BUILD_KW
            )
        oracle = _oracle(spark, pages, ids)
        victims = {
            top[0][1] for q in queries if (top := oracle.topk(q["text"], k=1))
        }
        deleted = idx + "_deleted"
        shutil.copytree(idx, deleted)
        index_build.delete_docs(spark, deleted, sorted(victims))
        out[ids] = [
            (idx, {q["query_id"]: _live_topk(oracle, q["text"], set())
                   for q in queries}),
            (deleted, {q["query_id"]: _live_topk(oracle, q["text"], victims)
                       for q in queries}),
        ]
    pages.unpersist()
    return out


def _assert_exact(got: list, expected: list, what: str) -> None:
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in expected], what
    assert [s for _, _, s in got] == [s for _, _, s in expected], what


@pytest.mark.parametrize("path", sorted(PATHS))
@pytest.mark.parametrize("ids", INDEXES)
def test_reader_matches_oracle(indexes, ids, path, monkeypatch):
    for name, value in PATHS[path].items():
        monkeypatch.setattr(wand, name, value)
    texts = {q["query_id"]: q["text"] for q in fixtures.make_queries()}
    for idx, want in indexes[ids]:
        reader = wand.IndexReader(None, idx)
        for state in ("cold", "warm"):
            for qid, text in texts.items():
                _assert_exact(
                    reader.search(text, k=K), want[qid], f"{state} {idx} {text!r}"
                )


@pytest.mark.parametrize("ids", INDEXES)
def test_search_topk_matches_oracle(spark, indexes, ids):
    qdf = fixtures.queries_spark_df(spark)
    for idx, want in indexes[ids]:
        got: dict = {}
        rows = wand.search_topk(spark, idx, qdf, k=K).collect()
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"])
            )
        for qid, expected in want.items():
            _assert_exact(got.get(qid, []), expected, f"{idx} query {qid}")
