"""Differential test of the query paths against oracle.BM25Oracle: one
seeded corpus with salted head terms, built with dense and with hash doc
ids, merged (merge_indexes) from two hash-id halves of it, purged
(purge_deleted_docs) of docs spread over its dense id range, and built
with a BPE vocabulary (term_mode='bpe'), each searched with and without
tombstones taken from the top-k. Every path must return the oracle's doc
ids in the oracle's order with bit-equal float64 scores:

- IndexReader.search, cold and then warm (decoded-term memo);
- the same with ``DECODE_MAX_POSTINGS`` forced below the doc span the
  queries touch, so multi-term queries take the windowed fold and the
  sparse fold;
- the same with the early stop forced on (its postings threshold at 0)
  and decoding three blocks per chunk, so one decode call takes several
  terms' blocks out of file order;
- search_topk, one Spark call per index.

A tombstone-heavy case deletes ids drawn over the whole corpus in many
delete_docs calls and checks a held reader refreshed after each call
(warm) and, every third call, a new reader (cold) and search_topk's task
body, on every path above, against the oracle minus the deleted ids.

Stream compaction has its own tests."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from clip_as_service_spark import fixtures
from clip_as_service_spark.operators import index_build, wand
from clip_as_service_spark.oracle import BM25Oracle
from clip_as_service_spark.textnorm import get_bpe, tokenize_bpe_terms

N_PAGES = 200
K = 10
BUILD_KW = dict(salt_cutoff=30, target_sublist=20, n_shards=4)
# below both the 200-doc span and most multi-term queries' postings
FORCED_BOUND = 64
PATHS = {
    "default": {},
    "forced_bound": {"DECODE_MAX_POSTINGS": FORCED_BOUND},
    "multi_term_stop": {
        "MULTI_TAAT_EARLY_MIN_POSTINGS": 0, "_DECODE_CHUNK_BLOCKS": 3,
    },
}
ID_METHODS = ("dense_sorted", "hash")
INDEXES = ID_METHODS + ("merged", "purged", "bpe")
# the dense ids the purged index drops: spread over the id range, both
# ends included
PURGED = frozenset(range(1, N_PAGES + 1, 9)) | {N_PAGES}


def _oracle(spark, pages, ids: str) -> BM25Oracle:
    if ids == "dense_sorted":  # doc_id = row_number over url
        return BM25Oracle.from_pages(fixtures.make_pages(N_PAGES))
    if ids == "purged":  # the dense ids of the surviving pages, gaps kept
        by_url = sorted(fixtures.make_pages(N_PAGES), key=lambda r: r["url"])
        return BM25Oracle([
            (i, r["text"]) for i, r in enumerate(by_url, 1) if i not in PURGED
        ])
    if ids == "bpe":
        bpe = get_bpe(None)
        return BM25Oracle.from_pages(
            fixtures.make_pages(N_PAGES),
            tokenizer=lambda t: tokenize_bpe_terms(t, bpe),
        )
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
    """{index: (oracle, [(index_dir, {query_id: expected top-K})])}: the
    plain index, then a copy with each query's top doc tombstoned."""
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
        elif ids == "purged":  # from the dense_sorted index, built first
            src = str(root / "purge_src")
            shutil.copytree(str(root / "dense_sorted"), src)
            index_build.delete_docs(spark, src, sorted(PURGED))
            index_build.purge_deleted_docs(spark, src, idx)
        elif ids == "bpe":
            index_build.build_index(
                spark, pages, idx, doc_id_method="dense_sorted",
                term_mode="bpe", **BUILD_KW,
            )
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
        out[ids] = (oracle, [
            (idx, {q["query_id"]: _live_topk(oracle, q["text"], set())
                   for q in queries}),
            (deleted, {q["query_id"]: _live_topk(oracle, q["text"], victims)
                       for q in queries}),
        ])
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
    for idx, want in indexes[ids][1]:
        reader = wand.IndexReader(None, idx)
        for state in ("cold", "warm"):
            for qid, text in texts.items():
                _assert_exact(
                    reader.search(text, k=K), want[qid], f"{state} {idx} {text!r}"
                )
        if path == "multi_term_stop":
            assert _multi_term_stops(reader), idx


def _multi_term_stops(reader) -> int:
    """How many of ``reader``'s searches of several terms ran the stop."""
    return sum(
        e["n_terms"] > 1 and e["kernel"] in ("stop", "stop_open")
        for e in reader.query_log
    )


@pytest.mark.parametrize("ids", INDEXES)
def test_search_topk_matches_oracle(spark, indexes, ids):
    qdf = fixtures.queries_spark_df(spark)
    for idx, want in indexes[ids][1]:
        got: dict = {}
        rows = wand.search_topk(spark, idx, qdf, k=K).collect()
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"])
            )
        for qid, expected in want.items():
            _assert_exact(got.get(qid, []), expected, f"{idx} query {qid}")


# the tombstone-heavy case: this many delete_docs calls of this many ids
DELETE_CALLS = 30
DELETE_PER_CALL = 3


def _query_batch(queries: list):
    import pyarrow as pa

    schema = pa.schema([("query_id", pa.int32()), ("text", pa.string())])
    return pa.RecordBatch.from_pylist(queries, schema=schema)


@pytest.mark.parametrize("path", sorted(PATHS))
@pytest.mark.parametrize("ids", ID_METHODS)
def test_many_deletes_match_oracle(spark, indexes, ids, path, tmp_path, monkeypatch):
    """DELETE_CALLS delete_docs calls, each of ids drawn over the whole
    corpus (every fifth also repeats a deleted id and adds an absent one).
    After each call one held reader, refreshed, answers warm; after every
    third, also a new reader, cold, and search_topk's task body with the
    worker's reader. Each equals the oracle's ranking of the survivors, bit
    for bit."""
    for name, value in PATHS[path].items():
        monkeypatch.setattr(wand, name, value)
    monkeypatch.setattr(wand, "_task_reader", None)
    oracle, [(plain, _want), _deleted] = indexes[ids]
    idx = str(tmp_path / "idx")
    shutil.copytree(plain, idx)
    queries = fixtures.make_queries()
    docs = sorted(oracle.doc_ids)
    order = np.random.default_rng(7).permutation(docs).tolist()
    absent = min(set(range(1, len(docs) + 2)) - set(docs))
    held = wand.IndexReader(None, idx)
    deleted: set = set()
    for c in range(DELETE_CALLS):
        batch = order[c * DELETE_PER_CALL : (c + 1) * DELETE_PER_CALL]
        extra = [order[0], absent] if c % 5 == 4 else []
        index_build.delete_docs(spark, idx, batch + extra)
        deleted |= set(batch)
        held.refresh()
        got = {"warm": {q["query_id"]: held.search(q["text"], k=K) for q in queries}}
        if c % 3 == 2:
            cold = wand.IndexReader(None, idx)
            got["cold"] = {q["query_id"]: cold.search(q["text"], k=K) for q in queries}
            got["task"] = task = {}
            for b in wand._search_batches(
                [_query_batch(queries)], index_dir=idx, k=K,
            ):
                for r in b.to_pylist():
                    task.setdefault(r["query_id"], []).append(
                        (r["rank"], r["doc_id"], r["score"])
                    )
        for q in queries:
            want = _live_topk(oracle, q["text"], deleted)
            for reader, answers in got.items():
                _assert_exact(
                    answers.get(q["query_id"], []), want,
                    f"{reader} after call {c}: {q['text']!r}",
                )
    assert len(deleted) == DELETE_CALLS * DELETE_PER_CALL
    if path == "multi_term_stop":
        assert _multi_term_stops(held)
