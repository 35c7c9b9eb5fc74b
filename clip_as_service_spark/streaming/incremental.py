"""Structured Streaming extension (SURVEY.md §2.9/§7): incremental page
ingest → postings appends, plus event-time windowed aggregation with
watermarks.

The reference's streaming is transport-level (bounded in-flight request
batches, client.py:305 `prefetch`); its *index* lifecycle is append-only —
`/index` adds docs to AnnLite shards incrementally (retriever.md:54-62).
This module is the table-level re-expression: a stream of new pages appends
(term, doc_id, tf, dl) rows; the block build (index_build stage 4) runs as a
periodic compaction over the accumulated postings — the classic
log-structured / merge-on-read index pattern.

Backpressure analog of `prefetch`: `maxFilesPerTrigger` bounds each
micro-batch. doc_id must be assigned content-deterministically (xxhash64 of
url) — a global row_number doesn't exist in a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.tokenize import build_postings

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_postings(
    pages_stream: DataFrame,
    dedup_urls: bool = True,
    watermark: str = "1 hour",
    term_mode: str = "word",
    bpe_path: str | None = None,
    carry_ts: bool = False,
) -> DataFrame:
    """pages stream → postings rows; optional stateful URL dedup.

    dropDuplicates on url with a warc_ts watermark = the stream analog of
    the build's unique-doc assumption (state is bounded by the watermark).
    term_mode must match the batch index these appends will compact into.

    carry_ts=True rides ``warc_ts`` onto every posting row: the compactor
    (compact_streamed_index) uses it to tombstone RE-CRAWLED urls —
    watermarked dedup only bounds duplicates WITHIN the watermark; a url
    re-crawled a week later is a new micro-batch's rows, and only
    compaction-time latest-crawl-wins can resolve it."""
    s = pages_stream
    if dedup_urls:
        s = s.withWatermark("warc_ts", watermark).dropDuplicates(["url"])
    with_ids = s.withColumn("doc_id", F.xxhash64(F.col("url")))
    return build_postings(
        with_ids,
        term_mode=term_mode,
        bpe_path=bpe_path,
        carry_cols=("warc_ts",) if carry_ts else (),
    )


def start_postings_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    carry_ts: bool = False,
):
    """incremental pages → append-only postings parquet. Returns the query."""
    postings = stream_postings(
        read_pages_stream(spark, input_dir, max_files_per_trigger),
        dedup_urls=False,  # file-source batches are already unique in tests
        carry_ts=carry_ts,
    )
    writer = (
        postings.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_streamed_index(
    spark: SparkSession,
    postings_dir: str,
    out_dir: str,
    n_shards: int = 16,
    salt_cutoff: int = 50_000,
    target_sublist: int = 50_000,
    term_mode: str = "word",
    bpe_path: str | None = None,
):
    """Compact the append-only streamed postings into a FULL block index —
    the log-structured merge this module's docstring promises: the stream
    appends cheap narrow rows; compaction periodically rebuilds the
    BM25-global stages (stats, idf, blocks) over everything accumulated, so
    the streamed index CONVERGES to the batch build over the same pages
    (bit-identical blocks — test-pinned).

    Re-crawl tombstoning: when the stream carried ``warc_ts``
    (carry_ts=True), a url crawled twice has two posting-row generations
    under ONE doc_id (xxhash64(url)); the dedup survivor policy here is
    latest-crawl-wins — per doc_id only rows of the max warc_ts survive
    into the compacted index. Without the column, duplicate generations
    are the caller's contract (as merge_indexes documents for urls).

    Scale shape: one groupBy(doc_id).max join (hash-keyed, no skew — doc_id
    is a hash), then index_build._index_from_postings — the resumable path
    every index takes from its postings checkpoint to blocks. The output is
    a normal IndexStorage: mergeable with batch-built partial indexes via
    merge_indexes (both use doc_id_method='hash')."""
    from ..operators.index_build import _index_from_postings

    posts = spark.read.parquet(postings_dir)
    if "warc_ts" in posts.columns:
        latest = posts.groupBy("doc_id").agg(
            F.max("warc_ts").alias("_latest_ts")
        )
        posts = (
            posts.join(latest, "doc_id")
            .filter(
                F.col("warc_ts").eqNullSafe(F.col("_latest_ts"))
            )
            .drop("warc_ts", "_latest_ts")
            # identical re-deliveries (at-least-once stream writes) collapse
            # to one row; what must NOT be collapsed silently is two
            # DIFFERENT generations sharing the max warc_ts — an arbitrary
            # pick would build a doc mixing old and new content
            .dropDuplicates()
        )
        # two generations are detectable by a duplicate (doc_id, term) row,
        # >1 distinct dl per doc (dl is a per-generation constant), or —
        # the case that closes the disjoint-equal-dl blind spot — sum(tf)
        # != dl: dl IS the generation's token count (build_postings), so a
        # clean doc always satisfies Σtf == dl, while any silently merged
        # second generation inflates Σtf past it (disjoint vocabularies:
        # Σtf = dl_a + dl_b; partial overlap is caught by the duplicate-row
        # check first). Zero-token sentinels (tf NULL, dl 0) coalesce to 0.
        conflict = (
            posts.groupBy("doc_id")
            .agg(
                F.count_distinct("dl").alias("ndl"),
                F.count("term").alias("nt"),
                F.count_distinct("term").alias("ndt"),
                F.coalesce(F.sum("tf"), F.lit(0)).alias("stf"),
                F.max("dl").alias("mdl"),
            )
            .filter(
                (F.col("ndl") > 1)
                | (F.col("nt") > F.col("ndt"))
                | (F.col("stf") != F.col("mdl"))
            )
            .limit(1)
            .count()
        )
        if conflict:
            raise ValueError(
                "compact_streamed_index: conflicting posting generations "
                "share one (doc_id, max warc_ts) — two crawls of a url "
                "landed with the same timestamp but different content. "
                "Latest-crawl-wins cannot order them; give crawls distinct "
                "warc_ts (or dedupe upstream) and re-compact."
            )
    return _index_from_postings(
        spark, out_dir, lambda: posts,
        n_shards=n_shards, salt_cutoff=salt_cutoff,
        target_sublist=target_sublist, doc_id_method="hash",
        term_mode=term_mode, bpe_path=bpe_path, compacted_from=postings_dir,
    )


EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(DoubleType()), True),
    ]
)


def start_embeddings_stream(
    spark: SparkSession,
    input_dir: str,
    staging_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Incremental EMBEDDING ingest, stage 1 of 2: file-stream new
    (vec_id, embedding) rows into a staging parquet sink — the embedding
    twin of start_postings_stream (reference analog: repeated `/index`
    calls adding vectors to the resident AnnLite index,
    retriever.md:54-62). The parquet streaming sink's manifest log gives
    exactly-once staging across restarts; folding staged rows into the
    ANN index is stage 2 (ingest_staged_vectors), kept OUT of the stream
    so a crashed fold can always be re-run to convergence."""
    reader = spark.readStream.schema(EMBEDDINGS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = (
        reader.parquet(input_dir)
        .writeStream.format("parquet")
        .option("path", staging_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_staged_vectors(
    spark: SparkSession,
    staging_dir: str,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Stage 2: fold staged embeddings into the persisted ANN index —
    IDEMPOTENT and crash-convergent. ids already in the index are
    anti-joined away, so a re-run after ANY partial failure (including a
    crash mid-append that landed some of the batch) ingests exactly the
    remainder of IDS; a completed ingest re-run ingests nothing. One
    asymmetry, stated: the fold appends rh_buckets before ivf_cells while
    the anti-join checks ivf_cells (the authoritative copy) — a crash in
    between makes the re-run re-append those rh rows, so rh_buckets can
    carry full-row duplicates until the next ann-compact (which dedupes
    them); probes are unaffected (they dedupe per query). The reverse
    order would be worse: ids present in cells but missing from
    rh_buckets would be SILENTLY unfindable by RH probes forever.
    Contract is
    insert-only, same as append_ann_vectors: a re-encoded id is SKIPPED
    (the stored vector wins) — re-encoded corpora need a rebuild, exactly
    like re-crawled urls need compaction on the postings side. Streams
    never (re)train the quantizer/codebooks; periodic `ann-compact
    --retrain` heals drift. Returns the number of vectors ingested.

    DELETE interplay, stated: the idempotence anti-join checks PHYSICAL
    presence in ivf_cells, so a tombstoned (delete_ann_vectors) id is not
    re-ingested while its dead rows exist — but after a compact removes
    them AND clears its tombstone, a re-fold re-ingests the id if it still
    sits in the staging dir (staging is part of the corpus of record). To
    delete a streamed vector permanently, remove it from staging too, or
    re-delete after the next fold. Pinned by
    test_stream_ingest_with_deletes_converges."""
    from ..operators.ann_index import append_ann_vectors
    from ..sources.tables import IndexStorage

    from pyspark import StorageLevel

    staged = (
        spark.read.parquet(staging_dir)
        .select(F.col(id_col).alias("vec_id"), F.col(vec_col))
        .dropDuplicates()  # exact re-deliveries collapse
    )
    existing = IndexStorage(index_dir).read(spark, "ivf_cells").select("vec_id")
    # persist the fold set across the count + the two append jobs (rh +
    # ivf): the staging dedup + anti-join would otherwise re-execute three
    # times — and, worse, a non-deterministic re-execution between the rh
    # and ivf appends could hand the two tables different row sets
    new = staged.join(existing, "vec_id", "left_anti").persist(
        StorageLevel.DISK_ONLY
    )
    try:
        # one materialization: the count both short-circuits the empty
        # case and is the return contract. validate_ids still runs the
        # batch-dup check (two staged rows sharing an id with DIFFERENT
        # vectors raise).
        n_new = new.count()
        if n_new == 0:
            return 0
        append_ann_vectors(
            spark, index_dir, new, id_col="vec_id", vec_col=vec_col,
            validate_ids=True,
        )
        return n_new
    finally:
        new.unpersist()


SESSION_OUT_SCHEMA = (
    "user_id long, session_id int, n_events long, value_sum double"
)
_SESSION_STATE_SCHEMA = (
    "session_id int, last_ts long, n_events long, value_sum double"
)


def sessionize_stream(
    events_stream: DataFrame,
    gap_sec: int = 1800,
    watermark_delay: str = "1 hour",
    tombstone_ttl_sec: int = 30 * 86400,
) -> DataFrame:
    """CUSTOM STATEFUL operator via applyInPandasWithState: per-user
    inactivity-gap sessionization over an event stream — the streaming form
    of the batch `events_sessionize` query (lag+cumsum windows).

    State per user = the OPEN session (id, last event second, aggregates);
    a batch CLOSES a session when an event arrives > gap_sec after it, and
    closed sessions are emitted append-mode. The open tail additionally
    closes by EVENT-TIME TIMEOUT: when the stream's watermark passes
    last_ts + gap_sec the carried session is emitted — a user who stops
    sending events neither holds state forever nor swallows their final
    session (r02 used NoTimeout and did both). After a timeout the state
    becomes a TOMBSTONE (session counter + last_ts, zero aggregates) so a
    returning user's next session gets the NEXT id — not a duplicate
    (user_id, session_id) key in the append stream; the tombstone itself
    expires after ``tombstone_ttl_sec`` of event time (the only case where
    numbering restarts, documented and TTL-bounded — per-user counters are
    the irreducible state of stable session numbering).

    Out-of-order input, explicitly: events later than ``watermark_delay``
    are dropped by Spark at the watermark boundary (the declared lateness
    contract); an event that passes the watermark but regresses behind its
    user's state (cross-batch disorder) FAILS FAST with a contract error
    rather than silently mis-sessionizing — an already-emitted session can
    never be amended under append semantics, so the only honest outcomes
    are batch-equivalent output or a loud error.

    Gap arithmetic uses whole epoch seconds (unix_timestamp semantics) so
    stream and batch agree bit-for-bit on boundaries. In-batch work is
    vectorized (numpy diff + pandas groupby); only the state splice is
    scalar."""
    import numpy as np
    import pandas as pd

    cols = ["user_id", "session_id", "n_events", "value_sum"]

    def _fn(key, pdfs, state):
        user_id = int(key[0])
        if state.hasTimedOut:
            sid0, last_ts, n0, v0 = state.get
            out0 = []
            if n0:
                # watermark passed last_ts + gap: the open session is closed
                # by time itself — emit it, leave a tombstone so the user's
                # NEXT session gets sid0+1 (not a duplicate key)
                out0.append((user_id, int(sid0), int(n0), float(v0)))
                tomb_to = (int(last_ts) + gap_sec + tombstone_ttl_sec) * 1000
                if tomb_to > state.getCurrentWatermarkMs():
                    state.update((int(sid0), int(last_ts), 0, 0.0))
                    state.setTimeoutTimestamp(tomb_to)
                else:
                    state.remove()
            else:
                state.remove()  # the tombstone itself expired
            yield pd.DataFrame(out0, columns=cols)
            return
        rows = pd.concat(list(pdfs))
        if rows.empty:
            yield pd.DataFrame(columns=cols)
            return
        rows = rows.sort_values(["ts", "event_id"])
        ts = rows["ts"].values.astype("datetime64[s]").astype(np.int64)
        vals = rows["value"].to_numpy(dtype=np.float64)
        if state.exists:
            sid0, last_ts, n0, v0 = state.get
        else:
            sid0, last_ts, n0, v0 = 0, None, 0, 0.0
        if last_ts is not None and int(ts[0]) < int(last_ts):
            raise ValueError(
                "sessionize_stream ordered-ingest contract violated for "
                f"user {user_id}: event time {int(ts[0])} regresses behind "
                f"the open session's last event {int(last_ts)} across "
                "micro-batches. Sessions already emitted cannot be amended "
                "(append mode); feed each user's events in event-time order "
                "(e.g. kafka partition-by-user), or widen watermark_delay "
                "so Spark drops such events as late."
            )
        prev = np.empty_like(ts)
        prev[0] = last_ts if last_ts is not None else np.iinfo(np.int64).min
        prev[1:] = ts[:-1]
        new_s = (ts - prev) > gap_sec
        if last_ts is None:
            new_s[0] = True
        elif n0 == 0:
            # tombstone: session sid0 was already emitted by timeout — new
            # events ALWAYS open sid0+1, even if delivered within gap_sec of
            # the old last_ts by a generous watermark delay (an emitted
            # append-mode session can never be amended)
            new_s[0] = True
        sid = sid0 + np.cumsum(new_s.astype(np.int64))
        df = pd.DataFrame({"sid": sid, "v": vals})
        agg = df.groupby("sid", sort=True).agg(
            n=("v", "size"), vsum=("v", "sum")
        )
        # splice the carried open session into its continuation (same sid)
        if n0 and sid0 in agg.index:
            agg.loc[sid0, "n"] += n0
            agg.loc[sid0, "vsum"] += v0
            n0 = 0
        out = []
        if n0:  # carried session closed by this batch's first event
            out.append((user_id, int(sid0), int(n0), float(v0)))
        last_sid = int(sid[-1])
        for s, row in agg.iterrows():
            if int(s) != last_sid:
                out.append((user_id, int(s), int(row["n"]), float(row["vsum"])))
        open_row = agg.loc[last_sid]
        open_state = (
            last_sid, int(ts[-1]), int(open_row["n"]), float(open_row["vsum"])
        )
        timeout_ms = (int(ts[-1]) + gap_sec) * 1000 + 1
        if state.getCurrentWatermarkMs() >= timeout_ms:
            # another key already pushed the watermark past this session's
            # close: it is closed on arrival — emit it, and leave the SAME
            # tombstone the hasTimedOut path leaves. This branch is reachable
            # for a session that was NOT dropped as late (Spark filters rows
            # with the PREVIOUS watermark while getCurrentWatermarkMs returns
            # the eviction watermark, which can run ahead by one batch), so
            # removing state here would restart a returning user at session 1
            # and duplicate (user_id, session_id) keys in the append stream.
            out.append((user_id, open_state[0], open_state[2], open_state[3]))
            tomb_to = (int(ts[-1]) + gap_sec + tombstone_ttl_sec) * 1000
            if tomb_to > state.getCurrentWatermarkMs():
                state.update((open_state[0], int(ts[-1]), 0, 0.0))
                state.setTimeoutTimestamp(tomb_to)
            elif state.exists:
                state.remove()
        else:
            state.update(open_state)
            state.setTimeoutTimestamp(timeout_ms)
        yield pd.DataFrame(out, columns=cols)

    from pyspark.sql.streaming.state import GroupStateTimeout

    events_stream = events_stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withWatermark("ts", watermark_delay)
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _fn,
        SESSION_OUT_SCHEMA,
        _SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """event-time tumbling window counts with late-data handling."""
    # watermarks require session-tz TIMESTAMP; parquet NTZ timestamps cast
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("value_sum"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
