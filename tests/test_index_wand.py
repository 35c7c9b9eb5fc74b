"""M2/M3/M4 tests: compressed index build, WAND exactness, resume, and
partition-invariance (SURVEY.md §7 hard parts 1-4)."""

from __future__ import annotations

import hashlib
import os

import pytest

from clip_as_service_spark import fixtures
from clip_as_service_spark.operators import index_build, wand
from clip_as_service_spark.oracle import BM25Oracle
from clip_as_service_spark.sources.tables import IndexStorage

N_PAGES = 200
K = 10
# tiny thresholds so the salting path is exercised at fixture scale.
# doc_id_method: the oracle keys docs by row_number over url, so tests use
# dense_sorted (url-ordered, scale-safe — no single-partition window); the
# build default is input-order `dense`.
SALT_KW = dict(
    salt_cutoff=30, target_sublist=20, n_shards=4, doc_id_method="dense_sorted"
)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "index")
    pages = fixtures.pages_spark_df(spark, N_PAGES, partitions=6)
    index_build.build_index(spark, pages, out, **SALT_KW)
    return out


@pytest.fixture(scope="module")
def oracle():
    return BM25Oracle.from_pages(fixtures.make_pages(N_PAGES))


def _collect_topk(df):
    out = {}
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return out


def _assert_matches_oracle(got, oracle):
    for q in fixtures.make_queries():
        expected = oracle.topk(q["text"], k=K)
        g = got.get(q["query_id"], [])
        assert [(r, d) for r, d, _ in g] == [(r, d) for r, d, _ in expected], (
            f"mismatch for {q}"
        )
        for (_, _, se), (_, _, sg) in zip(expected, g):
            assert sg == pytest.approx(se, rel=1e-12)


def test_wand_exact_topk(spark, index_dir, oracle):
    queries = fixtures.queries_spark_df(spark)
    got = _collect_topk(wand.search_topk(spark, index_dir, queries, k=K))
    _assert_matches_oracle(got, oracle)


# a memory bound of a few hundred postings: every multi-term fixture query
# then folds several doc-id windows instead of one full decode
FORCED_BOUND = 300


def _assert_equals_oracle_exactly(got, expected):
    """Same ids, same order, bit-equal scores."""
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in expected]
    assert [s for _, _, s in got] == [s for _, _, s in expected]


def _deleted_copy(spark, index_dir, oracle, dst):
    """A copy of the index with each query's top doc tombstoned → (copy,
    {query_id: expected top-K over the survivors}) from the oracle (corpus
    stats stay stale after a delete, so survivors keep their scores)."""
    import shutil

    shutil.copytree(index_dir, dst)
    queries = fixtures.make_queries()
    victims = {
        top[0][1] for q in queries if (top := oracle.topk(q["text"], k=1))
    }
    index_build.delete_docs(spark, dst, sorted(victims))
    want = {}
    for q in queries:
        live = [
            (d, s)
            for _r, d, s in oracle.topk(q["text"], k=K + len(victims))
            if d not in victims
        ][:K]
        want[q["query_id"]] = [(r, d, s) for r, (d, s) in enumerate(live, 1)]
    return dst, want


def _query_batch(queries):
    import pyarrow as pa

    schema = pa.schema([("query_id", pa.int32()), ("text", pa.string())])
    return pa.RecordBatch.from_pylist(queries, schema=schema)


def _batch_topk(batches) -> dict:
    out: dict = {}
    for b in batches:
        for r in b.to_pylist():
            out.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"])
            )
    return out


def test_batch_task_applies_the_driver_bound(index_dir, oracle, monkeypatch):
    """search_topk's task body, run in-process under a forced memory bound
    (a Spark worker imports the module afresh, so the bound is forced
    where the body runs): the kernels read the bound in force when they
    are called, so every multi-term query holding more postings than the
    bound takes the windowed fold, and the rows stay oracle-exact."""
    monkeypatch.setattr(wand, "DECODE_MAX_POSTINGS", FORCED_BOUND)
    monkeypatch.setattr(wand, "_task_reader", None)
    queries = fixtures.make_queries()
    got = _batch_topk(wand._search_batches(
        [_query_batch(queries)], index_dir=index_dir, k=K,
    ))
    for q in queries:
        _assert_equals_oracle_exactly(
            got.get(q["query_id"], []), oracle.topk(q["text"], k=K)
        )
    over = [
        e for e in wand._task_reader.query_log
        if e["n_terms"] > 1 and e["n_postings"] > FORCED_BOUND
    ]
    assert len(over) >= 5
    assert all(e["kernel"] == "windows" for e in over)


def test_forced_bound_batch_exact(spark, index_dir, oracle, tmp_path, monkeypatch):
    """search_topk's task body, run in-process under a forced memory bound
    over a copy with tombstones that would otherwise sit in the top-k,
    stays oracle-exact (the untombstoned index under the same bound is
    test_batch_task_applies_the_driver_bound)."""
    monkeypatch.setattr(wand, "DECODE_MAX_POSTINGS", FORCED_BOUND)
    monkeypatch.setattr(wand, "_task_reader", None)
    idx, want = _deleted_copy(spark, index_dir, oracle, str(tmp_path / "del"))
    got = _batch_topk(wand._search_batches(
        [_query_batch(fixtures.make_queries())], index_dir=idx, k=K,
    ))
    for qid, expected in want.items():
        _assert_equals_oracle_exactly(got.get(qid, []), expected)


def test_batch_task_fetches_terms_per_chunk(index_dir, oracle, monkeypatch):
    """search_topk's task body fetches the terms of each chunk of queries
    together: a new reader over make_queries() in chunks of 16 reads each
    blocks file at most once per chunk (once per query would read it far
    more often), and the rows stay oracle-exact."""
    import glob

    import pyarrow.parquet as pq

    monkeypatch.setattr(wand, "_task_reader", None)
    monkeypatch.setattr(wand, "FETCH_CHUNK_QUERIES", 16)
    reads = []
    real_read = pq.ParquetFile.read_row_groups

    def counting_read(self, *args, **kw):
        reads.append(self)
        return real_read(self, *args, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", counting_read)
    queries = fixtures.make_queries()
    got = _batch_topk(wand._search_batches(
        [_query_batch(queries)], index_dir=index_dir, k=K,
    ))
    for q in queries:
        _assert_equals_oracle_exactly(
            got.get(q["query_id"], []), oracle.topk(q["text"], k=K)
        )
    n_files = len(glob.glob(
        os.path.join(IndexStorage(index_dir).path("blocks"), "*", "*.parquet")
    ))
    n_chunks = -(-len(queries) // 16)
    assert 0 < len(reads) <= n_files * n_chunks


def test_search_topk_sees_an_in_place_rebuild(
    spark, index_dir, tmp_path, monkeypatch
):
    """A worker's cached reader reloads when the index it holds is rebuilt
    in place: search_topk on the same directory, and the task body run
    twice in one process, return the rebuilt index's answers."""
    import shutil

    idx = str(tmp_path / "idx")
    shutil.copytree(index_dir, idx)
    queries = fixtures.make_queries()
    qdf = fixtures.queries_spark_df(spark)
    monkeypatch.setattr(wand, "_task_reader", None)

    def in_process():
        return _batch_topk(wand._search_batches(
            [_query_batch(queries)], index_dir=idx, k=K,
        ))

    assert _collect_topk(wand.search_topk(spark, idx, qdf, k=K)) == in_process()
    shutil.rmtree(idx)
    small = N_PAGES // 2
    index_build.build_index(
        spark, fixtures.pages_spark_df(spark, small, partitions=3), idx, **SALT_KW
    )
    rebuilt = BM25Oracle.from_pages(fixtures.make_pages(small))
    batch = _collect_topk(wand.search_topk(spark, idx, qdf, k=K))
    for got in (batch, in_process()):
        for q in queries:
            _assert_equals_oracle_exactly(
                got.get(q["query_id"], []), rebuilt.topk(q["text"], k=K)
            )


def test_null_query_text_gives_no_rows(spark, index_dir, oracle):
    """A query row whose text is null returns no rows and raises nothing;
    the other rows are answered as usual."""
    text = fixtures.make_queries()[0]["text"]
    qdf = spark.createDataFrame(
        [(1, None), (2, text)], "query_id int, text string"
    )
    got = _collect_topk(wand.search_topk(spark, index_dir, qdf, k=K))
    assert list(got) == [2]
    _assert_equals_oracle_exactly(got[2], oracle.topk(text, k=K))
    assert wand.query_routing(spark, index_dir, qdf) == {2: "wand"}


def test_forced_bound_reader_exact(spark, index_dir, oracle, tmp_path, monkeypatch):
    """IndexReader.search under a forced memory bound (every query over it
    takes the windowed fold, not the decoded-term memo) stays oracle-exact, cold
    and warm, with and without tombstones."""
    monkeypatch.setattr(wand, "DECODE_MAX_POSTINGS", FORCED_BOUND)
    reader = wand.IndexReader(None, index_dir)
    for q in fixtures.make_queries():
        expected = oracle.topk(q["text"], k=K)
        _assert_equals_oracle_exactly(reader.search(q["text"], k=K), expected)
        _assert_equals_oracle_exactly(reader.search(q["text"], k=K), expected)
    assert {e["strategy"] for e in reader.query_log} <= {"taat", None}
    idx, want = _deleted_copy(spark, index_dir, oracle, str(tmp_path / "del"))
    reader = wand.IndexReader(None, idx)
    for q in fixtures.make_queries():
        _assert_equals_oracle_exactly(
            reader.search(q["text"], k=K), want[q["query_id"]]
        )


def test_windowed_fold_decode_stays_bounded(index_dir, oracle, monkeypatch):
    """No decode of the windowed fold holds more than the bound plus one
    block per posting list (a window is never cut finer than one gap
    between block boundaries, where each list has at most one block)."""
    import pyarrow.compute as pc

    from clip_as_service_spark.textnorm import tokenize_words

    monkeypatch.setattr(wand, "DECODE_MAX_POSTINGS", FORCED_BOUND)
    reader = wand.IndexReader(None, index_dir)
    blocks = IndexStorage(index_dir).dataset("blocks")
    calls = []
    real = wand._decode_blocks

    def counting(picks, bm25):
        calls.append(sum(int(t.n[sel].sum()) for t, sel in picks))
        return real(picks, bm25)

    monkeypatch.setattr(wand, "_decode_blocks", counting)
    windowed = 0
    for q in fixtures.make_queries():
        terms = sorted(set(tokenize_words(q["text"])))
        fetched = reader._fetch_rows(terms) if terms else []
        if len(fetched) < 2:
            continue
        max_block: dict[tuple, int] = {}
        for r in blocks.to_table(
            columns=["term", "salt", "n"], filter=pc.field("term").isin(terms)
        ).to_pylist():
            key = (r["term"], r["salt"])
            max_block[key] = max(max_block.get(key, 0), r["n"])
        calls.clear()
        got = wand.taat_topk(fetched, K, reader._bm25)
        _assert_equals_oracle_exactly(got, oracle.topk(q["text"], k=K))
        assert max(calls) <= FORCED_BOUND + sum(max_block.values()), q
        if sum(int(t.n.sum()) for t in fetched) > FORCED_BOUND:
            assert len(calls) > 1, q
            windowed += 1
    assert windowed >= 5


class _ZerosSizes:
    """Stands in for numpy in wand: records the length of every array
    ``zeros`` allocates, passes everything else through."""

    def __init__(self):
        import numpy

        self._np = numpy
        self.sizes: list[int] = []

    def __getattr__(self, name):
        return getattr(self._np, name)

    def zeros(self, shape, *args, **kw):
        self.sizes.append(int(self._np.prod(shape)))
        return self._np.zeros(shape, *args, **kw)


def test_score_arrays_stay_within_the_bound(index_dir, oracle, monkeypatch):
    """With DECODE_MAX_POSTINGS forced below the 200-doc span, no score
    array wand allocates has more slots than the bound: reader searches,
    cold and warm, and taat_topk with the multi-term early stop forced on.
    Every answer stays oracle-exact."""
    from clip_as_service_spark.textnorm import tokenize_words

    bound = 100
    arrays = _ZerosSizes()
    monkeypatch.setattr(wand, "DECODE_MAX_POSTINGS", bound)
    monkeypatch.setattr(wand, "np", arrays)
    queries = fixtures.make_queries()
    reader = wand.IndexReader(None, index_dir)
    for q in queries + queries:  # cold, then warm
        _assert_equals_oracle_exactly(
            reader.search(q["text"], k=K), oracle.topk(q["text"], k=K)
        )
    monkeypatch.setattr(wand, "MULTI_TAAT_EARLY_MIN_POSTINGS", 0)
    for q in queries:
        terms = sorted(set(tokenize_words(q["text"])))
        rows = reader._fetch_rows(terms) if terms else []
        _assert_equals_oracle_exactly(
            wand.taat_topk(rows, K, reader._bm25), oracle.topk(q["text"], k=K)
        )
    assert arrays.sizes
    assert max(arrays.sizes) <= bound


def test_index_reader_interactive_exact(spark, index_dir, oracle):
    reader = wand.IndexReader(None, index_dir)
    for q in fixtures.make_queries()[:20]:
        expected = oracle.topk(q["text"], k=K)
        got = reader.search(q["text"], k=K)
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in expected]
        for (_, _, se), (_, _, sg) in zip(expected, got):
            assert sg == pytest.approx(se, rel=1e-12)
    # memoized term cursors answer repeat queries identically
    q0 = fixtures.make_queries()[0]
    assert reader.search(q0["text"], k=K) == reader.search(q0["text"], k=K)


def test_single_term_query_is_memoized(index_dir, oracle):
    """A single-term query whose list fits one decode chunk is decoded
    whole and memoized: searched again, it decodes nothing and folds the
    memo, with the same exact answer."""
    reader = wand.IndexReader(None, index_dir)
    for term in ("hello", "world", "kuni"):
        first = reader.search(term, k=K)
        assert reader.query_log[-1]["kernel"] == "fold", term
        assert reader.query_log[-1]["decoded_blocks"] > 1, term
        _assert_equals_oracle_exactly(first, oracle.topk(term, k=K))
        assert reader.search(term, k=K) == first
        assert reader.query_log[-1]["kernel"] == "memo", term
        assert reader.query_log[-1]["decoded_blocks"] == 0, term


def test_cli_search_equals_reader(index_dir, capsys, monkeypatch):
    """CLI `search` prints IndexReader.search's results as JSON lines, then
    the profile line — without starting Spark."""
    import json

    from clip_as_service_spark import __main__ as cli

    def _no_spark(_args):
        raise AssertionError("search must not start Spark")

    monkeypatch.setattr(cli, "_spark", _no_spark)
    text = fixtures.make_queries()[0]["text"]
    assert cli.main(
        ["search", "--index", index_dir, "--query", text, "-k", str(K), "--profile"]
    ) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    want = wand.IndexReader(None, index_dir).search(text, k=K)
    assert want
    assert lines[:-1] == [
        {"query": "q0", "rank": r, "doc_id": d, "score": s} for r, d, s in want
    ]
    assert lines[-1]["profile"]["n_queries"] == 1


def test_fetch_joins_a_term_split_over_files(index_dir, oracle, tmp_path):
    """A term whose blocks sit in two files of its shard, each file read
    as its own part, is fetched whole: the fetch joins its runs of rows
    into one _Term equal to the unsplit one, and searches stay
    oracle-exact."""
    import glob
    import shutil

    import numpy as np
    import pyarrow.parquet as pq

    idx = str(tmp_path / "idx")
    shutil.copytree(index_dir, idx)
    path = max(
        glob.glob(os.path.join(idx, "blocks", "*", "*.parquet")),
        key=os.path.getsize,
    )
    tbl = pq.read_table(path)
    terms = tbl["term"].to_pylist()
    cut = next(i for i in range(1, len(terms)) if terms[i] == terms[i - 1])
    os.remove(path)  # the later rows sort first: the runs arrive reversed
    pq.write_table(tbl.slice(cut), path.replace(".parquet", "-0.parquet"))
    pq.write_table(tbl.slice(0, cut), path.replace(".parquet", "-1.parquet"))
    (split,) = wand.IndexReader(None, idx)._fetch_rows([terms[cut]])
    (whole,) = wand.IndexReader(None, index_dir)._fetch_rows([terms[cut]])
    order = np.argsort(split.first_doc)
    assert np.array_equal(split.first_doc[order], np.sort(whole.first_doc))
    assert split.docs.take(order).equals(whole.docs.take(np.argsort(whole.first_doc)))
    assert len(split.n) == terms.count(terms[cut]) and split.idf == whole.idf
    reader = wand.IndexReader(None, idx)
    for q in fixtures.make_queries():
        _assert_equals_oracle_exactly(
            reader.search(q["text"], k=K), oracle.topk(q["text"], k=K)
        )


def test_taat_early_stop_chunked_exact(spark, index_dir, oracle, monkeypatch):
    """One-block chunks force the early-stop machinery through many rounds
    (bound re-checks, mid-stream stop, phase-B decode of skipped blocks) —
    results must stay rank- and score-identical to the oracle."""
    from clip_as_service_spark.operators.wand import taat_topk
    from clip_as_service_spark.textnorm import tokenize_words

    monkeypatch.setattr(wand, "_DECODE_CHUNK_BLOCKS", 1)
    reader = wand.IndexReader(None, index_dir)
    for q in fixtures.make_queries()[:25]:
        terms = sorted(set(tokenize_words(q["text"])))
        rows = reader._fetch_rows(terms) if terms else []
        if not rows:
            continue
        got = taat_topk(rows, K, reader._bm25)
        expected = oracle.topk(q["text"], k=K)
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in expected], q
        for (_, _, se), (_, _, sg) in zip(expected, got):
            assert sg == pytest.approx(se, rel=1e-12)


def test_reader_caches_byte_bounded(spark, index_dir, oracle):
    """A long-lived reader over a broad query stream must keep BOTH caches
    (raw block rows + decoded terms) within their byte budgets and rotate
    the query log — while results stay exact after evictions."""
    # budgets are constructor-sizable (deployments size them to the shard's
    # head-term working set); tiny values force constant eviction here
    reader = wand.IndexReader(
        None, index_dir,
        raw_cache_bytes=4096, decoded_cache_bytes=4096,
    )
    assert reader.RAW_CACHE_MAX_BYTES == 4096
    assert reader.DECODED_CACHE_MAX_BYTES == 4096
    reader.QUERY_LOG_MAX = 5
    queries = fixtures.make_queries()
    vocab = sorted(
        {t for q in queries for t in q["text"].split()}
    )
    for t in vocab:  # one-term queries: many distinct terms through search
        reader.search(t, k=K)
    for cache, budget in (
        (reader._decoded_cache, reader.DECODED_CACHE_MAX_BYTES),
        (reader._term_rows_cache, reader.RAW_CACHE_MAX_BYTES),
    ):
        assert cache.nbytes <= budget
        assert len(cache) < len(vocab)  # eviction happened
        assert sum(cache._sizes.values()) == cache.nbytes
        assert set(cache._sizes) == set(cache)
    assert len(reader.query_log) == 5  # rotated, oldest dropped
    # correctness after heavy eviction: full oracle rank+score identity
    for q in queries[:10]:
        got = reader.search(q["text"], k=K)
        expected = oracle.topk(q["text"], k=K)
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in expected]
        for (_, _, se), (_, _, sg) in zip(expected, got):
            assert sg == pytest.approx(se, rel=1e-12)


def test_reader_oversize_entry_never_sticks(spark, index_dir, oracle):
    """An entry whose size ALONE exceeds the cache budget must not be left
    resident after its query (r03 advisory: the while-loop emptied the cache
    then inserted it anyway, pinning the cache over budget). With a 1-byte
    budget EVERY entry is oversize: results stay exact, and both caches are
    empty between queries."""
    reader = wand.IndexReader(
        None, index_dir,
        raw_cache_bytes=1, decoded_cache_bytes=1,
    )
    for q in fixtures.make_queries()[:10]:
        got = reader.search(q["text"], k=K)
        expected = oracle.topk(q["text"], k=K)
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in expected]
        assert reader._decoded_cache.nbytes == 0 and not reader._decoded_cache
        # zero-byte entries (terms with no postings) may stay — they cost
        # nothing; everything with actual payload must be gone
        assert reader._term_rows_cache.nbytes == 0
        assert all(not rows for rows in reader._term_rows_cache.values())


def test_reader_rejects_v1_index(spark, index_dir, tmp_path):
    """A v1 (raw-weight payload) index must be rejected loudly, not decoded
    into garbage scores — by the interactive reader and by search_topk,
    before it returns a plan."""
    import json
    import os
    import shutil

    old = str(tmp_path / "idx_v1")
    shutil.copytree(index_dir, old)
    meta_path = os.path.join(old, "_meta.json")
    meta = json.load(open(meta_path))
    meta["version"] = 1
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(ValueError, match="block format"):
        wand.IndexReader(None, old)
    with pytest.raises(ValueError, match="block format"):
        wand.search_topk(spark, old, fixtures.queries_spark_df(spark), k=K)


def test_salting_created_sublists(spark, index_dir):
    blocks = IndexStorage(index_dir).read(spark, "blocks")
    n_salted = blocks.filter("salt > 0").count()
    assert n_salted > 0, "salt_cutoff should have split head terms"


def test_build_log_lineage(spark, index_dir):
    rows = index_build.iter_build_log(spark, IndexStorage(index_dir))
    stages = {r["stage"] for r in rows}
    assert {"postings", "stats", "termdf", "blocks"} <= stages
    block_rows = [r for r in rows if r["stage"] == "blocks"]
    assert all(r["bytes"] is not None and r["bytes"] > 0 for r in block_rows)
    assert all(r["wall_ms"] >= 0 for r in rows)


def test_build_log_schema_and_row_counts(spark, index_dir):
    """build_log keeps its schema, and its rows (per shard, with the
    summed ``bytes``, for blocks) equal each table's own counts."""
    from pyspark.sql import functions as F

    store = IndexStorage(index_dir)
    log = store.dataset("build_log").to_table()
    assert log.schema == index_build.BUILD_LOG_SCHEMA
    rows = log.to_pylist()
    for stage in ("postings", "stats", "termdf"):
        (row,) = [r for r in rows if r["stage"] == stage]
        assert (row["shard"], row["bytes"]) == (-1, None)
        assert row["rows"] == store.read(spark, stage).count()
    per_shard = {
        r["shard"]: (r["rows"], r["bytes"]) for r in rows if r["stage"] == "blocks"
    }
    want = {
        r["shard"]: (r["rows"], r["bytes"])
        for r in store.read(spark, "blocks")
        .groupBy("shard")
        .agg(F.count("*").alias("rows"), F.sum("bytes").alias("bytes"))
        .collect()
    }
    assert per_shard == want


def test_log_and_stats_read_start_no_job(index_dir, tmp_path, jobs_started):
    import shutil
    import time

    idx = str(tmp_path / "idx")
    shutil.copytree(index_dir, idx)
    store = IndexStorage(idx)
    t0 = time.perf_counter()
    assert jobs_started(lambda: index_build._read_stats(store)) == 0
    assert jobs_started(lambda: index_build._log(store, "termdf", t0)) == 0
    assert jobs_started(lambda: index_build._log(store, "blocks", t0, per_shard=True)) == 0


# Spark jobs of a build_index of the test corpus, in a warm session, from a
# pages DataFrame not yet executed (its sort range-partitioners sample once)
WARM_BUILD_JOBS = 21


def test_warm_build_job_count(spark, tmp_path, index_dir, jobs_started):
    """The build runs no job beyond its stages' own: _log, the stats read
    and the pack's bookkeeping add none."""
    pages = fixtures.pages_spark_df(spark, N_PAGES, partitions=6)
    out = str(tmp_path / "idx")
    n = jobs_started(lambda: index_build.build_index(spark, pages, out, **SALT_KW))
    assert n <= WARM_BUILD_JOBS


def test_build_read_schemas_match_the_written_tables(spark, index_dir):
    """The schemas the build reads postings and termdf with (to skip
    schema inference) are the ones those tables are written with."""
    store = IndexStorage(index_dir)
    for table, schema in (
        ("postings", index_build.POSTINGS_SCHEMA),
        ("termdf", index_build.TERMDF_SCHEMA),
    ):
        inferred = store.read(spark, table).schema.simpleString()
        assert store.read(spark, table, schema).schema.simpleString() == inferred


def _pack_batch(sizes):
    """An Arrow batch shaped like stage 4's grouped input: one
    (tid, salt, doc_ids, tfs_a, dls_a) row per group, ids unsorted."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(0)
    lists = {"doc_ids": [], "tfs_a": [], "dls_a": []}
    for size in sizes:
        lists["doc_ids"].append(rng.permutation(size * 3)[:size] + 1)
        lists["tfs_a"].append(rng.integers(1, 20, size))
        lists["dls_a"].append(rng.integers(1, 400, size))
    return pa.RecordBatch.from_pydict({
        "tid": pa.array(rng.integers(-(2**62), 2**62, len(sizes)), pa.int64()),
        "salt": pa.array(rng.integers(0, 3, len(sizes)), pa.int32()),
        **{k: pa.array([v.tolist() for v in vs], pa.list_(pa.int64()))
           for k, vs in lists.items()},
    })


def test_pack_slices_stay_within_bound(monkeypatch):
    """_pack_blocks cuts each batch at group boundaries: every encoder call
    holds at most max_postings postings or is one group, and the output
    equals one call over the whole batch — also from sliced batches."""
    import pyarrow as pa

    from clip_as_service_spark import B, K1

    batch = _pack_batch([1, 3, 40, 7, 300, 2, 5, 33, 128, 129])
    calls = []
    encode = index_build.encode_posting_groups

    def spy(doc_ids, tfs, dls, group_starts, bm25):
        calls.append((len(doc_ids), len(group_starts)))
        return encode(doc_ids, tfs, dls, group_starts, bm25)

    monkeypatch.setattr(index_build, "encode_posting_groups", spy)
    bm25 = (50.0, K1, B)

    def pack(batches, limit):
        calls.clear()
        return pa.Table.from_batches(
            index_build._pack_blocks(batches, bm25, limit), index_build._PACK_SCHEMA
        )

    whole = pack([batch], 1 << 20)
    assert len(calls) == 1
    small = pack([batch.slice(0, 4), batch.slice(4)], 45)
    assert len(calls) > 2
    assert all(n <= 45 or groups == 1 for n, groups in calls)
    assert (300, 1) in calls
    assert small.equals(whole)


def test_small_pack_bound_build_is_byte_equal(spark, tmp_path, index_dir, monkeypatch):
    """A build whose pack slices every batch into many encoder calls writes
    the same blocks table as the fixture build."""
    monkeypatch.setattr(index_build, "PACK_MAX_POSTINGS", 50)
    out = str(tmp_path / "idx")
    pages = fixtures.pages_spark_df(spark, N_PAGES, partitions=6)
    index_build.build_index(spark, pages, out, **SALT_KW)

    def blocks(d):
        keys = [(k, "ascending") for k in ("term", "salt", "block_id")]
        return IndexStorage(d).dataset("blocks").to_table().sort_by(keys)

    assert blocks(out).equals(blocks(index_dir))


def test_resume_after_kill(spark, tmp_path, oracle, monkeypatch):
    """Kill during stage 3 (termdf) → resume → identical results, earlier
    stages not rebuilt (north rule resumability)."""
    out = str(tmp_path / "idx_resume")
    pages = fixtures.pages_spark_df(spark, N_PAGES, partitions=6)

    original_write = IndexStorage.write

    def failing_write(self, df, table, partition_by=None):
        if table == "termdf":
            raise RuntimeError("simulated mid-build kill")
        return original_write(self, df, table, partition_by)

    monkeypatch.setattr(IndexStorage, "write", failing_write)
    with pytest.raises(RuntimeError, match="simulated"):
        index_build.build_index(spark, pages, out, **SALT_KW)
    monkeypatch.setattr(IndexStorage, "write", original_write)

    store = IndexStorage(out)
    assert store.exists("postings") and store.exists("stats")
    assert not store.exists("termdf")
    import os

    postings_mtime = os.path.getmtime(
        os.path.join(store.path("postings"), "_SUCCESS")
    )
    index_build.build_index(spark, pages, out, **SALT_KW)
    # stage 1 was NOT rebuilt on resume
    assert postings_mtime == os.path.getmtime(
        os.path.join(store.path("postings"), "_SUCCESS")
    )
    queries = fixtures.queries_spark_df(spark)
    got = _collect_topk(wand.search_topk(spark, out, queries, k=K))
    _assert_matches_oracle(got, oracle)


def test_dense_ids_equal_row_number(spark):
    from clip_as_service_spark.operators.tokenize import assign_doc_ids

    pages = fixtures.pages_spark_df(spark, 300, partitions=5)
    dense_sorted = {
        r["url"]: r["doc_id"]
        for r in assign_doc_ids(pages, "dense_sorted").select("url", "doc_id").collect()
    }
    rn = {
        r["url"]: r["doc_id"]
        for r in assign_doc_ids(pages, "row_number").select("url", "doc_id").collect()
    }
    assert dense_sorted == rn
    assert sorted(dense_sorted.values()) == list(range(1, 301))
    # input-order dense: a permutation of 1..N, stable across repeat runs
    d1 = {
        r["url"]: r["doc_id"]
        for r in assign_doc_ids(pages, "dense").select("url", "doc_id").collect()
    }
    d2 = {
        r["url"]: r["doc_id"]
        for r in assign_doc_ids(pages, "dense").select("url", "doc_id").collect()
    }
    assert sorted(d1.values()) == list(range(1, 301))
    assert d1 == d2


def test_scale_safe_id_plans(spark):
    """Default + dense_sorted id assignment must contain NO global window and
    NO single-partition exchange (the row_number scale-killer)."""
    import inspect

    from clip_as_service_spark.operators.tokenize import assign_doc_ids

    sig = inspect.signature(index_build.build_index)
    assert sig.parameters["doc_id_method"].default == "dense"

    pages = fixtures.pages_spark_df(spark, 50, partitions=4)
    for method in ("dense", "dense_sorted"):
        plan = (
            assign_doc_ids(pages, method)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan, method
        assert "SinglePartition" not in plan, method


def test_hierarchical_merge_equals_single_build(spark, tmp_path):
    """Two partial builds merged ≡ one build over the union (hash doc ids)."""
    pages = fixtures.make_pages(N_PAGES)
    half = N_PAGES // 2

    def build(rows, out):
        df = spark.createDataFrame(
            rows,
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        kw = {**SALT_KW, "doc_id_method": "hash"}
        index_build.build_index(spark, df, out, **kw)
        return out

    a = build(pages[:half], str(tmp_path / "part_a"))
    b = build(pages[half:], str(tmp_path / "part_b"))
    full = build(pages, str(tmp_path / "full"))
    merged = str(tmp_path / "merged")
    merge_kw = {k: v for k, v in SALT_KW.items() if k != "doc_id_method"}
    index_build.merge_indexes(spark, [a, b], merged, **merge_kw)

    queries = fixtures.queries_spark_df(spark)
    got_m = _collect_topk(wand.search_topk(spark, merged, queries, k=K))
    got_f = _collect_topk(wand.search_topk(spark, full, queries, k=K))
    assert got_m == got_f
    assert len(got_f) > 20


def test_merge_carries_and_validates_term_mode(spark, tmp_path):
    """Merging BPE-term partial indexes must produce a BPE-term merged index
    (term_mode rides the meta — a word-tokenizing query path against BPE
    terms would silently miss everything); mixing vocabularies must raise."""
    pages = fixtures.make_pages(40)
    half = 20

    def build(rows, out, **extra):
        df = spark.createDataFrame(
            rows,
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        kw = {**SALT_KW, "doc_id_method": "hash", **extra}
        index_build.build_index(spark, df, out, **kw)
        return out

    a = build(pages[:half], str(tmp_path / "bpe_a"), term_mode="bpe")
    b = build(pages[half:], str(tmp_path / "bpe_b"), term_mode="bpe")
    w = build(pages[half:], str(tmp_path / "word_b"))  # word-mode part

    merged = str(tmp_path / "bpe_merged")
    merge_kw = {k: v for k, v in SALT_KW.items() if k != "doc_id_method"}
    index_build.merge_indexes(spark, [a, b], merged, **merge_kw)
    meta = IndexStorage(merged).read_meta()
    assert meta["term_mode"] == "bpe"

    # merged BPE index ≡ one BPE build over the union (reader tokenizes BPE
    # on both sides because term_mode rode the meta)
    full = build(pages, str(tmp_path / "bpe_full"), term_mode="bpe")
    r_merged = wand.IndexReader(None, merged)
    r_full = wand.IndexReader(None, full)
    hits = 0
    for q in fixtures.make_queries()[:6]:
        got = r_merged.search(q["text"], k=5)
        assert got == r_full.search(q["text"], k=5), q
        hits += len(got)
    assert hits > 0

    with pytest.raises(ValueError, match="term_mode"):
        index_build.merge_indexes(
            spark, [a, w], str(tmp_path / "bad_merge"), **merge_kw
        )


def test_index_bitwise_partition_invariance(spark, tmp_path, index_dir):
    """Same input at different parallelism → bit-identical index content."""
    out2 = str(tmp_path / "idx_p2")
    pages = fixtures.pages_spark_df(spark, N_PAGES, partitions=2)
    index_build.build_index(spark, pages, out2, **SALT_KW)

    def digest(d):
        blocks = IndexStorage(d).read(spark, "blocks")
        rows = sorted(
            (
                r["term"], r["salt"], r["block_id"], r["n"], r["first_doc"],
                r["last_doc"], repr(r["max_w"]), repr(r["idf"]),
                bytes(r["docs"]).hex(), bytes(r["tfs"]).hex(),
                bytes(r["dls"]).hex(),
            )
            for r in blocks.collect()
        )
        h = hashlib.sha256()
        for row in rows:
            h.update(repr(row).encode())
        return h.hexdigest()

    assert digest(index_dir) == digest(out2)
