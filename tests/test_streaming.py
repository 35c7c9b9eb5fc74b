"""Streaming extension tests: incremental postings ≡ batch postings, and
watermarked windowed aggregation over a file-backed event stream."""

from __future__ import annotations

import pytest

from clip_as_service_spark import fixtures
from clip_as_service_spark.operators.tokenize import build_postings
from clip_as_service_spark.streaming import incremental
from pyspark.sql import functions as F


def _write_chunk(spark, rows, path):
    from clip_as_service_spark.fixtures import pages_spark_df

    df = spark.createDataFrame(rows, incremental.PAGES_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


def _postings_set(df):
    return {
        (r["term"], r["doc_id"], r["tf"], r["dl"])
        for r in df.collect()
    }


def test_incremental_postings_match_batch(spark, tmp_path):
    pages = fixtures.make_pages(120)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")

    # micro-batch 1: first 80 pages
    _write_chunk(spark, pages[:80], in_dir)
    q = incremental.start_postings_stream(spark, in_dir, out_dir, cp_dir)
    q.awaitTermination(120)

    # micro-batch 2: remaining 40 pages, resume from checkpoint
    _write_chunk(spark, pages[80:], in_dir)
    q = incremental.start_postings_stream(spark, in_dir, out_dir, cp_dir)
    q.awaitTermination(120)

    batch = build_postings(
        spark.createDataFrame(pages, incremental.PAGES_SCHEMA).withColumn(
            "doc_id", F.xxhash64("url")
        )
    )
    assert _postings_set(spark.read.parquet(out_dir)) == _postings_set(batch)


def test_stream_compaction_converges_to_batch_build(spark, tmp_path):
    """Stream 3 micro-batches — including a RE-CRAWLED url whose later
    version must win — then compact: the compacted block index must be
    rank- and score-identical to a batch build over the union with only the
    latest crawl of each url (the log-structured-merge convergence the
    module promises)."""
    from datetime import timedelta

    from clip_as_service_spark.operators import index_build, wand

    pages = fixtures.make_pages(90)
    recrawl = dict(pages[5])
    recrawl["warc_ts"] = recrawl["warc_ts"] + timedelta(days=2)
    recrawl["text"] = (pages[5]["text"] or "fresh") + " freshly recrawled zz"
    batches = [pages[:30], pages[30:60], pages[60:] + [recrawl]]

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "posts")
    cp_dir = str(tmp_path / "cp")
    for chunk in batches:
        _write_chunk(spark, chunk, in_dir)
        q = incremental.start_postings_stream(
            spark, in_dir, out_dir, cp_dir, carry_ts=True
        )
        q.awaitTermination(120)

    compacted = str(tmp_path / "compacted")
    incremental.compact_streamed_index(
        spark, out_dir, compacted, n_shards=4,
        salt_cutoff=30, target_sublist=20,
    )

    # batch truth: union with ONLY the latest crawl of the re-crawled url
    batch_pages = pages[:5] + [recrawl] + pages[6:]
    batch_dir = str(tmp_path / "batch_idx")
    index_build.build_index(
        spark,
        spark.createDataFrame(batch_pages, incremental.PAGES_SCHEMA),
        batch_dir,
        n_shards=4, salt_cutoff=30, target_sublist=20,
        doc_id_method="hash",
    )
    queries = fixtures.queries_spark_df(spark)
    got_c = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
        for r in wand.search_topk(spark, compacted, queries, k=10).collect()
    }
    got_b = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
        for r in wand.search_topk(spark, batch_dir, queries, k=10).collect()
    }
    assert got_c == got_b
    assert len(got_b) > 20
    # the recrawled doc carries its NEW content: the unique token added by
    # the recrawl is findable, under the SAME doc_id as the original url
    reader = wand.IndexReader(None, compacted)
    hits = reader.search("zz", k=5)
    assert len(hits) == 1
    # compaction logs the same build stages as the batch build
    from clip_as_service_spark.sources.tables import IndexStorage

    def stages(d):
        return {
            r["stage"]
            for r in index_build.iter_build_log(spark, IndexStorage(d))
        }

    assert stages(compacted) == stages(batch_dir)


def test_stream_compaction_ts_tie_conflict_raises(spark, tmp_path):
    """Two different generations of a url sharing the SAME max warc_ts are
    unorderable — compaction must raise, never mix their postings
    arbitrarily. Identical re-deliveries (at-least-once writes) of the SAME
    generation must still compact fine."""
    import pytest as _pytest

    pages = fixtures.make_pages(10)
    clash = dict(pages[0])
    clash["text"] = "entirely different text for the same crawl instant"
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "posts")
    cp_dir = str(tmp_path / "cp")
    _write_chunk(spark, pages, in_dir)
    q = incremental.start_postings_stream(
        spark, in_dir, out_dir, cp_dir, carry_ts=True
    )
    q.awaitTermination(120)
    # redelivery of an IDENTICAL generation → fine
    _write_chunk(spark, pages[:1], in_dir)
    q = incremental.start_postings_stream(
        spark, in_dir, out_dir, cp_dir, carry_ts=True
    )
    q.awaitTermination(120)
    ok = str(tmp_path / "ok_idx")
    incremental.compact_streamed_index(
        spark, out_dir, ok, n_shards=4, salt_cutoff=30, target_sublist=20
    )
    # now a CONFLICTING generation at the same warc_ts → loud failure
    _write_chunk(spark, [clash], in_dir)
    q = incremental.start_postings_stream(
        spark, in_dir, out_dir, cp_dir, carry_ts=True
    )
    q.awaitTermination(120)
    with _pytest.raises(ValueError, match="conflicting posting generations"):
        incremental.compact_streamed_index(
            spark, out_dir, str(tmp_path / "bad_idx"),
            n_shards=4, salt_cutoff=30, target_sublist=20,
        )


def test_windowed_event_counts_stream(spark, tmp_path):
    ev_dir = str(tmp_path / "events")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.coalesce(1).write.mode("append").parquet(ev_dir)

    stream = (
        spark.readStream.schema(events.schema).parquet(ev_dir)
    )
    out = incremental.windowed_event_counts(stream, window="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["value_sum"], 6))
        for r in spark.sql("select * from win_counts").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["value_sum"], 6))
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("value_sum"))
        .collect()
    }
    # append mode with availableNow emits only watermark-closed windows;
    # every emitted window must match the batch aggregate exactly
    assert len(got) > 0
    for key, val in got.items():
        assert expected[key] == val


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization across MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over time-ordered files): every emitted (closed)
    session must equal the batch sessionizer's output; the per-user OPEN
    tail session is the only difference (a stream never sees the end)."""
    ev_dir = str(tmp_path / "ev_sess")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "ts", "user_id", "value"
    )
    # three time-ordered files -> three micro-batches; cross-batch sessions
    # exercise the carried state (continue, close, splice)
    rows = sorted(events.collect(), key=lambda r: (r["ts"], r["event_id"]))
    n = len(rows)
    for i, chunk in enumerate([rows[: n // 3], rows[n // 3 : 2 * n // 3], rows[2 * n // 3 :]]):
        spark.createDataFrame(chunk, events.schema).coalesce(1).write.mode(
            "append"
        ).parquet(ev_dir)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ev_dir)
    )
    out = incremental.sessionize_stream(stream, gap_sec=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_id"]): (r["n_events"], round(r["value_sum"], 6))
        for r in spark.sql("select * from sessions").collect()
    }

    from clip_as_service_spark.plans.driver_queries import q_events_sessionize

    batch = {}
    last_sid = {}
    for r in q_events_sessionize(spark, "/root/testdata/sf0.001").collect():
        batch[(r["user_id"], r["session_id"])] = (
            r["n_events"], round(r["value_sum"], 6),
        )
        last_sid[r["user_id"]] = max(last_sid.get(r["user_id"], 0), r["session_id"])

    expected_closed = {
        k: v for k, v in batch.items() if k[1] != last_sid[k[0]]
    }
    # every event-closed session emitted exactly; tail sessions MAY also be
    # emitted when the watermark passed their timeout mid-stream (event-time
    # timeout) — any emitted session must match the batch values exactly
    assert set(expected_closed) <= set(got)
    for k, v in got.items():
        assert batch[k] == v
    extras = set(got) - set(expected_closed)
    assert all(k[1] == last_sid[k[0]] for k in extras)  # extras are tails only
    assert len(got) > 0


def _run_session_stream(spark, ev_dir, name, gap_sec=1800, watermark_delay="1 hour"):
    from clip_as_service_spark.streaming import incremental

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(ev_dir)
    )
    out = incremental.sessionize_stream(
        stream, gap_sec=gap_sec, watermark_delay=watermark_delay
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def test_sessionize_stream_timeout_emits_idle_session(spark, tmp_path):
    """A user who stops sending events must still get their final session
    emitted once the watermark (driven by OTHER users' events) passes
    last_ts + gap — and their state must not linger forever (ADVICE r02)."""
    from datetime import datetime

    ev_dir = str(tmp_path / "ev_idle")
    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = datetime(2026, 1, 1, 10, 0, 0)

    def _ts(sec):
        from datetime import timedelta

        return t0 + timedelta(seconds=sec)

    # batch 1: user 1 sends two events then goes idle; user 2 active
    b1 = [(1, _ts(0), 1, 1.0), (2, _ts(10), 1, 2.0), (3, _ts(20), 2, 5.0)]
    # batch 2: only user 2, far in the future — watermark sails past
    # user 1's (last_ts + gap)
    b2 = [(4, _ts(4 * 3600), 2, 7.0)]
    # batch 3: watermark from batch 2 now triggers user 1's timeout
    b3 = [(5, _ts(5 * 3600), 2, 9.0)]
    # batch 4: user 1 RETURNS after their session was timeout-emitted —
    # the tombstone must number this session 2, never a duplicate (1, 1)
    b4 = [(6, _ts(6 * 3600), 1, 4.0)]
    # batch 5: user 2 far ahead again → watermark closes user 1's session 2
    b5 = [(7, _ts(12 * 3600), 2, 1.0), (8, _ts(13 * 3600), 2, 1.0)]
    for chunk in (b1, b2, b3, b4, b5):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ev_dir)

    rows = _run_session_stream(
        spark, ev_dir, "idle_sessions", gap_sec=1800, watermark_delay="0 seconds"
    )
    got = {}
    for r in rows:
        key = (r["user_id"], r["session_id"])
        assert key not in got, f"duplicate emitted session key {key}"
        got[key] = (r["n_events"], r["value_sum"])
    # user 1's idle session emitted BY TIMEOUT (no closing event ever came)
    assert got.get((1, 1)) == (2, 3.0)
    # the returning user's next session continues the numbering
    assert got.get((1, 2)) == (1, 4.0)


def test_sessionize_stream_tombstone_ttl_expiry_restarts_numbering(spark, tmp_path):
    """After tombstone_ttl_sec of event time the per-user counter state is
    dropped (bounded state), and numbering restarts at 1 — the documented
    trade; before the TTL the counter survives (previous test)."""
    from datetime import datetime, timedelta

    from clip_as_service_spark.streaming import incremental

    ev_dir = str(tmp_path / "ev_ttl")
    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = datetime(2026, 1, 1, 10, 0, 0)

    def _ts(sec):
        return t0 + timedelta(seconds=sec)

    day = 86400
    b1 = [(1, _ts(0), 1, 1.0)]                      # user 1 session 1
    b2 = [(2, _ts(1 * day), 2, 5.0)]                # wm → 1d
    b3 = [(3, _ts(3 * day), 2, 5.0)]                # wm 1d fires session timeout → tombstone (ttl to ~1.02d)
    b3b = [(9, _ts(3 * day + 1), 2, 5.0)]           # wm 3d > ttl → tombstone dropped (user 1 quiet)
    b4 = [(4, _ts(4 * day), 1, 7.0)]                # user 1 returns: restarts at 1
    b5 = [(5, _ts(8 * day), 2, 5.0)]                # close user 1's new session
    for chunk in (b1, b2, b3, b3b, b4, b5):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ev_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ev_dir)
    )
    out = incremental.sessionize_stream(
        stream, gap_sec=1800, watermark_delay="0 seconds",
        tombstone_ttl_sec=day,  # short TTL so the fixture can cross it
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ttl_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    u1 = [
        (r["session_id"], r["n_events"], r["value_sum"])
        for r in spark.sql(
            "select * from ttl_sessions where user_id = 1 order by session_id"
        ).collect()
    ]
    # both of user 1's sessions emitted as session_id 1 — numbering restarted
    # AFTER the tombstone TTL elapsed (values distinguish them)
    assert (1, 1, 1.0) in u1 and (1, 1, 7.0) in u1


def test_sessionize_stream_out_of_order_fails_fast(spark, tmp_path):
    """A cross-batch event-time regression (inside the watermark tolerance)
    must raise the ordered-ingest contract error, not mis-sessionize."""
    from datetime import datetime, timedelta

    import pytest as _pytest

    ev_dir = str(tmp_path / "ev_ooo")
    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = datetime(2026, 1, 1, 10, 0, 0)
    b1 = [(1, t0, 1, 1.0), (2, t0 + timedelta(seconds=60), 1, 2.0)]
    # regressed event: older than the user's state, but NOT watermark-late
    # (delay below is generous), so it reaches the stateful function
    b2 = [(3, t0 + timedelta(seconds=30), 1, 9.0)]
    for chunk in (b1, b2):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ev_dir)

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with _pytest.raises(StreamingQueryException) as ei:
        _run_session_stream(
            spark, ev_dir, "ooo_sessions", watermark_delay="2 hours"
        )
    assert "ordered-ingest contract violated" in str(ei.value)


def test_stream_compaction_disjoint_equal_dl_rewrite_raises(spark, tmp_path):
    """The residual blind spot r04 documented: a same-ts rewrite with a
    DISJOINT vocabulary but the SAME token count slips past the dl and
    duplicate-row checks — the Σtf == dl invariant (dl IS the generation's
    token count) must catch it."""
    import pytest as _pytest

    from clip_as_service_spark.textnorm import tokenize_words

    pages = fixtures.make_pages(6)
    n_tokens = len(tokenize_words(pages[0]["text"]))
    assert n_tokens > 0
    rewrite = dict(pages[0])
    # same token count, fully disjoint vocabulary, same warc_ts
    # pure-letter tokens (the tokenizer splits letter/digit boundaries)
    rewrite["text"] = " ".join(
        "qxzz" + chr(ord("a") + i // 26) + chr(ord("a") + i % 26)
        for i in range(n_tokens)
    )
    assert set(tokenize_words(rewrite["text"])).isdisjoint(
        tokenize_words(pages[0]["text"])
    )
    assert len(tokenize_words(rewrite["text"])) == n_tokens

    in_dir, out_dir, cp_dir = (
        str(tmp_path / d) for d in ("in", "posts", "cp")
    )
    _write_chunk(spark, pages, in_dir)
    q = incremental.start_postings_stream(
        spark, in_dir, out_dir, cp_dir, carry_ts=True
    )
    q.awaitTermination(120)
    _write_chunk(spark, [rewrite], in_dir)
    q = incremental.start_postings_stream(
        spark, in_dir, out_dir, cp_dir, carry_ts=True
    )
    q.awaitTermination(120)
    with _pytest.raises(ValueError, match="conflicting posting generations"):
        incremental.compact_streamed_index(
            spark, out_dir, str(tmp_path / "bad_idx"),
            n_shards=4, salt_cutoff=30, target_sublist=20,
        )


def test_embeddings_stream_ingest_converges(spark, tmp_path):
    """Embedding-side incremental ingest (§2.9 symmetry with the postings
    stream): chunks staged through the exactly-once parquet sink, folded
    with ingest_staged_vectors — results must equal a full-payload build
    over the union, the fold must be idempotent (re-run ingests 0), and a
    simulated crash-mid-append (half the new ids already landed) must
    CONVERGE on re-run instead of raising."""
    from clip_as_service_spark.operators import ann_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("embedding"))
    first = emb.filter(F.col("vec_id") % 3 == 0)
    later = emb.filter(F.col("vec_id") % 3 != 0)

    idx = str(tmp_path / "ann_idx")
    ann_index.build_ann_index(
        spark, first, idx, dim=64, rh_n_bits=6, rh_n_tables=4,
        ivf_k=8, ivf_n_iter=2,
    )

    in_dir, staging, cp = (str(tmp_path / d) for d in ("in", "staging", "cp"))
    later.coalesce(1).write.mode("append").parquet(in_dir)
    q = incremental.start_embeddings_stream(spark, in_dir, staging, cp)
    q.awaitTermination(120)

    n = incremental.ingest_staged_vectors(spark, staging, idx)
    assert n == later.count()
    # idempotent: nothing new on re-run
    assert incremental.ingest_staged_vectors(spark, staging, idx) == 0

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = ann_index.rh_topk_stored(spark, idx, queries, k=10)
    from clip_as_service_spark.operators import similarity as sim

    want = sim.rh_bucketed_topk(emb, queries, k=10, n_bits=6, dim=64, n_tables=4)
    rows = lambda df: sorted(
        (r["query_id"], r["rank"], r["vec_id"], round(r["cosine"], 9))
        for r in df.collect()
    )
    assert rows(got) == rows(want) and rows(got)

    # crash-mid-append convergence: a second wave, half landed manually
    # (simulating a crash after some appends), then the fold re-runs
    idx2 = str(tmp_path / "ann_idx2")
    ann_index.build_ann_index(
        spark, first, idx2, dim=64, rh_n_bits=6, rh_n_tables=4,
        ivf_k=8, ivf_n_iter=2,
    )
    half_new = later.filter(F.col("vec_id") % 2 == 0)
    ann_index.append_ann_vectors(spark, idx2, half_new)
    n2 = incremental.ingest_staged_vectors(spark, staging, idx2)
    assert n2 == later.count() - half_new.count()
    got2 = ann_index.rh_topk_stored(spark, idx2, queries, k=10)
    assert rows(got2) == rows(want)


def test_stream_ingest_with_deletes_converges(spark, tmp_path):
    """Delete-during-ingest ordering (VERDICT r05 #7): tombstones written
    between folds must (a) hide streamed AND batch-built ids from probes,
    (b) NOT be resurrected by an idempotent re-fold while their physical
    rows exist, (c) compact down to exactly the survivor set — and the
    documented resurrection hazard (a re-fold AFTER compact re-ingests a
    deleted id that still sits in staging, because both its physical rows
    and its tombstone are gone) is pinned as stated, with re-delete +
    re-compact converging again."""
    from clip_as_service_spark.operators import ann_index, similarity as sim
    from clip_as_service_spark.sources.tables import IndexStorage

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("embedding"))
    first = emb.filter(F.col("vec_id") % 3 == 0)
    later = emb.filter(F.col("vec_id") % 3 != 0)

    idx = str(tmp_path / "ann_idx")
    ann_index.build_ann_index(
        spark, first, idx, dim=64, rh_n_bits=6, rh_n_tables=4,
        ivf_k=8, ivf_n_iter=2,
    )
    in_dir, staging, cp = (str(tmp_path / d) for d in ("in", "staging", "cp"))
    later.coalesce(1).write.mode("append").parquet(in_dir)
    incremental.start_embeddings_stream(
        spark, in_dir, staging, cp
    ).awaitTermination(120)
    assert incremental.ingest_staged_vectors(spark, staging, idx) == later.count()

    victims = [0, 1, 3]  # 0,3 batch-built (÷3); 1 streamed
    ann_index.delete_ann_vectors(spark, idx, victims)
    # (b) tombstoned ids do NOT resurrect through a re-fold: their
    # physical rows still exist, so the idempotence anti-join skips them
    assert incremental.ingest_staged_vectors(spark, staging, idx) == 0

    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    survivors = emb.filter(~F.col("vec_id").isin(victims))
    rows = lambda df: sorted(
        (r["query_id"], r["rank"], r["vec_id"], round(r["cosine"], 9))
        for r in df.collect()
    )
    want = rows(sim.rh_bucketed_topk(
        survivors, queries, k=10, n_bits=6, dim=64, n_tables=4
    ))
    assert rows(ann_index.rh_topk_stored(spark, idx, queries, k=10)) == want

    # (c) compact physically converges to the survivor set
    ann_index.compact_ann_index(spark, idx)
    store = IndexStorage(idx)
    assert store.read(spark, "ivf_cells").count() == survivors.count()
    assert rows(ann_index.rh_topk_stored(spark, idx, queries, k=10)) == want

    # the documented post-compact hazard: staging still holds the deleted
    # streamed id (1), so a re-fold re-ingests exactly it — not the
    # batch-built victims (0,3 never entered staging)
    assert incremental.ingest_staged_vectors(spark, staging, idx) == 1
    resurrected = rows(ann_index.rh_topk_stored(spark, idx, queries, k=10))
    assert any(vid == 1 for (_, _, vid, _) in resurrected)
    # re-delete + compact converges back to the survivor set
    ann_index.delete_ann_vectors(spark, idx, [1])
    ann_index.compact_ann_index(spark, idx)
    assert rows(ann_index.rh_topk_stored(spark, idx, queries, k=10)) == want
