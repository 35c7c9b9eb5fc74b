"""Postings-side document delete (index_build.delete_docs) — the block
index's merge-on-read twin of the ANN tombstones.

Contract pinned here (Lucene's live-docs posture): a deleted doc
disappears from EVERY query surface immediately (search_topk,
IndexReader search + phrase, phrase_search_indexed) with NO rewrite;
surviving docs keep their exact pre-delete scores (corpus stats
stay stale by design); purge_deleted_docs rebuilds without the dead docs
and is indistinguishable from a fresh build over the survivors (stats
refresh there)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clip_as_service_spark import fixtures
from clip_as_service_spark.operators import index_build, phrase, wand
from clip_as_service_spark.oracle import BM25Oracle

N_PAGES = 120
K_ALL = 500  # > corpus: the full ranking, so page-boundary churn can't hide rows


@pytest.fixture(scope="module")
def pages(spark):
    return fixtures.pages_spark_df(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def built(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("docdel") / "idx")
    index_build.build_index(
        spark, pages, out, n_shards=4, salt_cutoff=30, target_sublist=20,
        doc_id_method="hash", positions=True,
    )
    return out


@pytest.fixture(scope="module")
def oracle(pages):
    """BM25 over the build's hash ids, doc_id = xxhash64(url)."""
    rows = pages.select(F.xxhash64("url").alias("doc_id"), "text").collect()
    return BM25Oracle([(int(r["doc_id"]), r["text"]) for r in rows])


@pytest.fixture(scope="module")
def queries(spark, pages):
    rows = pages.orderBy("url").limit(3).collect()
    q = [
        (i, " ".join((r["text"] or "").split()[:4]))
        for i, r in enumerate(rows)
    ]
    return spark.createDataFrame(q, "query_id int, text string")


def _rows(df):
    return {
        (r["query_id"], int(r["doc_id"])): (r["rank"], round(r["score"], 12))
        for r in df.collect()
    }


def _reranked(before: dict, deleted: set) -> dict:
    """Expected post-delete ranking: before's rows minus deleted docs,
    ranks recomputed per query, scores UNCHANGED (stale-stats contract)."""
    by_q: dict[int, list] = {}
    for (qid, did), (rank, score) in before.items():
        if did not in deleted:
            by_q.setdefault(qid, []).append((rank, did, score))
    out = {}
    for qid, lst in by_q.items():
        lst.sort()
        for new_rank, (_r, did, score) in enumerate(lst, 1):
            out[(qid, did)] = (new_rank, score)
    return out


def _oracle_live(oracle, text: str, k: int, deleted: set) -> list:
    """The oracle's top-k over the surviving docs: tombstoned ids removed,
    ranks recomputed, scores UNCHANGED (stale-stats contract)."""
    live = [
        (d, s)
        for _r, d, s in oracle.topk(text, k=oracle.n_docs)
        if d not in deleted
    ][:k]
    return [(r, d, s) for r, (d, s) in enumerate(live, 1)]


def test_delete_hides_doc_from_every_surface(spark, pages, built, queries):
    import shutil

    idx = built + "_del"
    shutil.copytree(built, idx)
    before = _rows(wand.search_topk(spark, idx, queries, k=K_ALL))
    assert before
    # delete each query's current top doc — the strongest presence — plus
    # one mid-ranked doc, by URL for one and by id for the others
    top_docs = {
        qid: did for (qid, did), (rank, _s) in before.items() if rank == 1
    }
    victims = set(top_docs.values())
    assert victims
    n = index_build.delete_docs(spark, idx, sorted(victims))
    assert n == len(victims)

    want = _reranked(before, victims)
    # batch search
    assert _rows(wand.search_topk(spark, idx, queries, k=K_ALL)) == want
    # interactive reader
    reader = wand.IndexReader(None, idx)
    for q in queries.collect():
        got_q = {
            did: (rank, round(score, 12))
            for rank, did, score in reader.search(q["text"], k=K_ALL)
        }
        want_q = {
            did: v for (qid, did), v in want.items() if qid == q["query_id"]
        }
        assert got_q == want_q, q["text"]
    # phrase surfaces: a phrase unique to a deleted doc returns nothing
    victim_text = (
        pages.withColumn("doc_id", F.xxhash64("url"))
        .filter(F.col("doc_id").isin(sorted(victims)))
        .select("text").first()["text"]
    )
    probe = " ".join(victim_text.split()[:3])
    hits = phrase.phrase_search_indexed(spark, idx, probe).collect()
    assert all(int(r["id"]) not in victims for r in hits)
    rd_hits = wand.IndexReader(None, idx).phrase(probe)
    assert all(d not in victims for d, _p in rd_hits)


def test_single_term_early_stop_stays_exact_under_delete(
    spark, built, queries, oracle
):
    """The single-term block-max early stop must mask deleted docs BEFORE
    taking the kth-score threshold: delete the term's best doc and the
    cold-cache single-term TAAT page must equal the oracle's ranking of
    the survivors — same ids, same order, bit-equal scores."""
    import shutil

    idx = built + "_single"
    shutil.copytree(built, idx)
    # the most selective single term of the first query
    term = queries.collect()[0]["text"].split()[0]
    top = oracle.topk(term, k=1)[0][1]
    index_build.delete_docs(spark, idx, [top])
    reader = wand.IndexReader(None, idx)  # cold caches
    assert reader.search(term, k=5) == _oracle_live(oracle, term, 5, {top})


def test_forced_bound_exact_under_delete(
    spark, built, queries, oracle, monkeypatch
):
    """Hash ids, with each query's top-2 docs tombstoned: under a forced
    memory bound of a few hundred postings (windowed fold), the reader and
    search_topk return the oracle's ranking of the survivors — same ids,
    same order, bit-equal scores."""
    import shutil

    idx = built + "_bound"
    shutil.copytree(built, idx)
    k = 20
    qs = queries.collect()
    victims = {d for q in qs for _r, d, _s in oracle.topk(q["text"], k=2)}
    index_build.delete_docs(spark, idx, sorted(victims))

    def ranked(df):
        out: dict[int, list] = {}
        for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(r["query_id"], []).append(
                (r["rank"], int(r["doc_id"]), r["score"])
            )
        return out

    want = {q["query_id"]: _oracle_live(oracle, q["text"], k, victims) for q in qs}
    assert all(want.values())
    monkeypatch.setattr(wand, "DECODE_MAX_POSTINGS", 300)
    assert ranked(wand.search_topk(spark, idx, queries, k=k)) == want
    reader = wand.IndexReader(None, idx)
    for q in qs:
        assert reader.search(q["text"], k=k) == want[q["query_id"]], q["text"]
    assert any(e["n_postings"] > 300 for e in reader.query_log)


def test_search_topk_plan_starts_no_job(
    spark, built, queries, tmp_path, jobs_started, job_stages
):
    """Building the search_topk plan starts no Spark job, with and without
    a tombstone table: tombstones and blocks are read by the tasks. Its
    collect is one job of one stage — no exchange."""
    import shutil

    idx = str(tmp_path / "idx")
    shutil.copytree(built, idx)

    def plan():
        return wand.search_topk(spark, idx, queries, k=5)

    assert jobs_started(plan) == 0
    top = wand.IndexReader(None, idx).search(queries.first()["text"], k=1)[0][1]
    index_build.delete_docs(spark, idx, [top])
    assert jobs_started(plan) == 0
    assert job_stages(plan().collect) == [1]


def test_reader_refresh_picks_up_deletes(spark, pages, built, queries):
    """A held IndexReader must see delete_docs after refresh() — the
    contract HybridReader.refresh relies on for its lexical arm."""
    import shutil

    idx = built + "_refresh"
    shutil.copytree(built, idx)
    reader = wand.IndexReader(None, idx)
    q = queries.collect()[0]
    before = reader.search(q["text"], k=K_ALL)
    assert before
    top = before[0][1]
    index_build.delete_docs(spark, idx, [top])
    # held handle: snapshot semantics — still serves the old view
    assert reader.search(q["text"], k=K_ALL)[0][1] == top
    reader.refresh()
    after = reader.search(q["text"], k=K_ALL)
    assert all(did != top for _r, did, _s in after)
    # scores of survivors unchanged (stale-stats contract)
    want = {d: s for _r, d, s in before if d != top}
    assert {d: s for _r, d, s in after} == want


def test_delete_urls_requires_hash_ids_and_maps(spark, pages, built):
    import shutil

    idx = built + "_url"
    shutil.copytree(built, idx)
    url = pages.orderBy("url").first()["url"]
    n = index_build.delete_urls(spark, idx, [url])
    assert n == 1
    did = pages.filter(F.col("url") == url).select(
        F.xxhash64("url").alias("d")
    ).first()["d"]
    from clip_as_service_spark.sources.tables import IndexStorage

    got = {
        int(r["doc_id"])
        for r in IndexStorage(idx).read(spark, "deleted_docs").collect()
    }
    assert got == {int(did)}


def test_purge_equals_fresh_build_over_survivors(
    spark, pages, built, queries, tmp_path
):
    import shutil

    idx = str(tmp_path / "idx")
    shutil.copytree(built, idx)
    before = _rows(wand.search_topk(spark, idx, queries, k=K_ALL))
    victims = sorted(
        did for (_q, did), (rank, _s) in before.items() if rank <= 2
    )
    index_build.delete_docs(spark, idx, victims)
    purged = str(tmp_path / "purged")
    index_build.purge_deleted_docs(spark, idx, purged)

    fresh = str(tmp_path / "fresh")
    survivors = pages.withColumn("doc_id", F.xxhash64("url")).filter(
        ~F.col("doc_id").isin(victims)
    ).drop("doc_id")
    index_build.build_index(
        spark, survivors, fresh, n_shards=4, salt_cutoff=30,
        target_sublist=20, doc_id_method="hash", positions=True,
    )
    got = _rows(wand.search_topk(spark, purged, queries, k=K_ALL))
    want = _rows(wand.search_topk(spark, fresh, queries, k=K_ALL))
    assert got == want and got
    # stats refreshed: purged scores differ from the stale-stats serving
    # view for at least one surviving doc (idf/avgdl moved)
    stale = _rows(wand.search_topk(spark, idx, queries, k=K_ALL))
    assert got != stale
    from clip_as_service_spark.sources.tables import IndexStorage

    st = IndexStorage(purged)
    assert not st.exists("deleted_docs")
    assert st.read_meta()["purged_from"] == idx
    # positional table purged too: the phrase surface serves from it
    assert st.exists("positions")
    n_pos_docs = (
        st.read(spark, "positions").select("doc_id").distinct().count()
    )
    assert n_pos_docs == IndexStorage(fresh).read(
        spark, "positions"
    ).select("doc_id").distinct().count()


def test_delete_only_refresh_keeps_caches(spark, pages, built, queries):
    """A refresh after delete_docs alone keeps the reader warm: the same
    file handles, meta and cache entries (tombstones are masked at use),
    and the new tombstones are masked all the same."""
    import shutil

    idx = built + "_warm"
    shutil.copytree(built, idx)
    reader = wand.IndexReader(None, idx)
    texts = [q["text"] for q in queries.collect()]
    before = {t: reader.search(t, k=K_ALL) for t in texts}
    assert reader._term_rows_cache and reader._decoded_cache
    raw, decoded = dict(reader._term_rows_cache), dict(reader._decoded_cache)
    handles, meta = reader._pq_files, reader.meta
    top = before[texts[0]][0][1]
    index_build.delete_docs(spark, idx, [top])
    reader.refresh()
    assert reader._pq_files is handles and reader.meta is meta
    assert reader._term_rows_cache.keys() == raw.keys()
    assert all(reader._term_rows_cache[t] is v for t, v in raw.items())
    assert reader._decoded_cache.keys() == decoded.keys()
    assert all(reader._decoded_cache[t] is v for t, v in decoded.items())
    fresh = wand.IndexReader(None, idx)
    for t in texts:
        got = reader.search(t, k=K_ALL)
        assert top not in {d for _r, d, _s in got}
        assert {d: s for _r, d, s in got} == {
            d: s for _r, d, s in before[t] if d != top
        }
        assert got == fresh.search(t, k=K_ALL)


def test_refresh_after_rebuild_in_place_reloads(spark, built, queries):
    """Rebuilding the index in place under a held reader (another corpus,
    so avgdl moves): refresh() must drop the caches and the old meta and
    answer exactly like a fresh reader."""
    import shutil

    idx = built + "_rebuilt"
    shutil.copytree(built, idx)
    reader = wand.IndexReader(None, idx)
    texts = [q["text"] for q in queries.collect()]
    for t in texts:
        reader.search(t, k=K_ALL)
    old_avgdl = reader.meta["avgdl"]
    shutil.rmtree(idx)
    index_build.build_index(
        spark, fixtures.pages_spark_df(spark, N_PAGES // 2), idx, n_shards=4,
        salt_cutoff=30, target_sublist=20, doc_id_method="hash",
    )
    reader.refresh()
    assert not reader._term_rows_cache and not reader._decoded_cache
    assert reader.meta["avgdl"] != old_avgdl
    fresh = wand.IndexReader(None, idx)
    assert reader.meta == fresh.meta
    answers = [reader.search(t, k=K_ALL) for t in texts]
    assert any(answers)
    assert answers == [fresh.search(t, k=K_ALL) for t in texts]


def _tomb_files(idx):
    import glob
    import os

    return glob.glob(os.path.join(idx, "deleted_docs", "*.parquet"))


def test_delete_docs_list_and_dataframe_write_one_file(spark, built):
    """List and DataFrame inputs write the same tombstone set, one parquet
    file per call; an empty input writes no table at all."""
    import shutil

    from clip_as_service_spark.sources.tables import IndexStorage

    ids = [7, 3, 7, 11]
    by_list, by_df = built + "_bylist", built + "_bydf"
    for d in (by_list, by_df):
        shutil.copytree(built, d)
    assert index_build.delete_docs(spark, by_list, ids) == 3
    assert index_build.delete_docs(
        spark, by_df, spark.createDataFrame([(i,) for i in ids], "doc_id int")
    ) == 3
    sets = []
    for d in (by_list, by_df):
        assert len(_tomb_files(d)) == 1
        sets.append({
            int(r["doc_id"])
            for r in IndexStorage(d).read(spark, "deleted_docs").collect()
        })
    assert sets[0] == sets[1] == {3, 7, 11}
    assert index_build.delete_docs(spark, by_list, [5]) == 1
    assert len(_tomb_files(by_list)) == 2

    empty = built + "_empty"
    shutil.copytree(built, empty)
    assert index_build.delete_docs(spark, empty, []) == 0
    assert index_build.delete_docs(
        spark, empty, spark.createDataFrame([], "doc_id long")
    ) == 0
    assert not IndexStorage(empty).exists("deleted_docs")
    assert not _tomb_files(empty)


def test_stray_tmp_tombstone_file_is_ignored(spark, built, queries, tmp_path):
    """A ``.tmp-*`` file left in deleted_docs/ by a crashed delete_docs (a
    torn one, or a whole one never renamed into place) is invisible to
    every reader of the tombstones."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    idx = str(tmp_path / "idx")
    shutil.copytree(built, idx)
    q = queries.collect()[0]
    ranked = wand.IndexReader(None, idx).search(q["text"], k=K_ALL)
    dead, unrenamed = ranked[0][1], ranked[1][1]
    index_build.delete_docs(spark, idx, [dead])
    tomb_dir = os.path.join(idx, "deleted_docs")
    pq.write_table(
        pa.table({"doc_id": pa.array([unrenamed], pa.int64())}),
        os.path.join(tomb_dir, ".tmp-whole"),
    )
    with open(os.path.join(tomb_dir, ".tmp-torn"), "wb") as fh:
        fh.write(b"PAR1\x00torn")

    reader = wand.IndexReader(None, idx)
    got = {d for _r, d, _s in reader.search(q["text"], k=K_ALL)}
    assert dead not in got and unrenamed in got
    qdf = spark.createDataFrame([(0, q["text"])], "query_id int, text string")
    got = {did for _q, did in _rows(wand.search_topk(spark, idx, qdf, k=K_ALL))}
    assert dead not in got and unrenamed in got
    probe = " ".join(q["text"].split()[:2])
    hits = phrase.phrase_search_indexed(spark, idx, probe).collect()
    assert dead not in {int(r["id"]) for r in hits}
    purged = str(tmp_path / "purged")
    index_build.purge_deleted_docs(spark, idx, purged)
    from clip_as_service_spark.sources.tables import IndexStorage

    live = {
        int(r["doc_id"])
        for r in IndexStorage(purged).read(spark, "postings")
        .select("doc_id").distinct().collect()
    }
    assert dead not in live and unrenamed in live
