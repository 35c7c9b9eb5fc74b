"""Index build: pages → sharded, block-compressed posting lists — the
*index* verb of the reference (client.py:541-713, AnnLite persist) as a
resumable multi-stage Spark job (SURVEY.md §7 M2/M4).

Stages (each a durable, idempotent parquet write; `_SUCCESS` = checkpoint):
  1. postings — tokenize + groupBy(term, doc_id) [the one Python crossing]
  2. stats    — exact N, Σdl, avgdl
  3. termdf   — (term, df, idf); idf via Python math.log (bit-identity)
  4. blocks   — per-(term, salt) doc lists → a mapInArrow pack, one Arrow
                batch of groups per encoder call: BLOCK_SIZE-doc blocks,
                delta-gap + vByte docs/tfs/dls, per-block (first/last doc,
                max impact weight) → partitioned by shard=pmod(xxhash64(term))

Skew handling (SURVEY.md §7 hard part 3): head terms (df > salt_cutoff,
detected EXACTLY from the termdf stage — at 100 TB this would be the sampled
histogram, but termdf is already materialized here so exact df is free) are
salted by pmod(xxhash64(doc_id), n_salts(df)), splitting a Zipf-head posting
list into bounded sub-lists built by independent tasks. Sub-lists are
disjoint-by-doc and individually sorted; the query path treats each as its
own cursor, so exactness is unaffected.

Scale shape: the groupBy(term, salt) shuffle is the build's only big shuffle
after the postings agg; its key space is uniform *after* salting. Blocks are
written partitioned by shard so query-time term lookups prune directories.

One path makes every index: build_index, merge_indexes,
purge_deleted_docs and compact_streamed_index all write _meta.json with
_write_meta and run stages 2-4 with _postings_to_blocks (the last three
through _index_from_postings, which also writes their postings table).

Lineage (north rule): every stage appends (stage, shard, rows, bytes,
wall_ms) rows to build_log, counted from the parquet footers on the driver
(no Spark job); restart skips completed stages, and a restarted build keeps
the _meta.json it first wrote.
"""

from __future__ import annotations

import functools
import time
from collections import Counter
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .. import B, K1
from ..functions.codec import (
    BLOCK_FORMAT,
    BLOCK_SIZE,
    dense_ids,
    encode_posting_groups,
)
from ..sources.tables import IndexStorage
from . import tokenize as tok
from .bm25 import _idf_udf

# Postings per encoder call in the stage-4 pack: an Arrow batch of up to
# maxRecordsPerBatch groups is cut at group boundaries so the pack's numpy
# working set (~100 B/posting) and each output batch's binary columns (int32
# offsets, ≤10 B/posting) stay bounded. A larger group goes alone.
PACK_MAX_POSTINGS = 1 << 20

# the pack's output: block rows keyed by tid (term and idf attach after)
_PACK_SCHEMA = pa.schema([
    ("tid", pa.int64()), ("salt", pa.int32()), ("block_id", pa.int32()),
    ("n", pa.int32()), ("first_doc", pa.int64()), ("last_doc", pa.int64()),
    ("max_w", pa.float64()), ("docs", pa.binary()), ("tfs", pa.binary()),
    ("dls", pa.binary()),
])

# the postings and termdf tables as the build writes them: read with these,
# they start no schema-inference job
POSTINGS_SCHEMA = "term string, doc_id long, tf int, dl int"
TERMDF_SCHEMA = "term string, df long, idf double"

BUILD_LOG_SCHEMA = pa.schema([
    ("stage", pa.string()), ("shard", pa.int32()), ("rows", pa.int64()),
    ("bytes", pa.int64()), ("wall_ms", pa.int32()),
])


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_shards: int = 16,
    salt_cutoff: int = 50_000,
    target_sublist: int = 50_000,
    doc_id_method: str = "dense",
    text_col: str = "text",
    term_mode: str = "word",
    bpe_path: str | None = None,
    positions: bool = False,
) -> IndexStorage:
    """Run all build stages, skipping any whose checkpoint already exists.

    term_mode='bpe' indexes BPE ids (string terms) instead of word tokens;
    the mode and merges path persist in _meta.json so every query path
    tokenizes with the vocabulary the index was built with.

    positions=True additionally persists a term-sharded positional table
    (phrase.build_positions_index) enabling indexed phrase queries; it adds
    a second tokenize pass over the pages (positions don't survive the tf
    aggregation of stage 1), so it's opt-in. When both stages run in one
    call the id'd pages are persisted (StorageLevel DISK_ONLY) across the
    two jobs so a non-deterministic source plan cannot hand the positional
    table different doc_ids than the postings got; on RESUME (postings exist
    but positions don't) ids must be re-derivable, so doc_id_method='dense'
    raises — use 'hash' or 'dense_sorted'. A post-build cross-check asserts
    the positional table's (n_docs, max_doc_id) equal the stats stage's."""
    store = IndexStorage(out_dir)
    meta = _write_meta(
        store, n_shards=n_shards, salt_cutoff=salt_cutoff,
        target_sublist=target_sublist, doc_id_method=doc_id_method,
        term_mode=term_mode, bpe_path=bpe_path, positions=positions,
    )
    n_shards = meta["n_shards"]
    if not store.exists("postings") and meta.get("term_mode", "word") != term_mode:
        # the param only drives stage 1; a mismatch before stage 1 means the
        # caller expects a different vocabulary than this index records
        raise ValueError(
            f"index at {out_dir} has term_mode={meta.get('term_mode')!r} "
            f"but build was called with term_mode={term_mode!r}"
        )

    # -- stage 1: postings checkpoint --------------------------------------
    with_ids = None
    if not store.exists("postings"):
        t0 = time.perf_counter()
        # the tokenizer is CPU-bound Python: make sure the scan fans out to
        # every core even when the input is a handful of parquet splits
        # (maxPartitionBytes would otherwise coalesce a small corpus into
        # fewer tasks than cores; at 100 TB the file count dominates and
        # this repartition is a no-op branch)
        target_par = spark.sparkContext.defaultParallelism * 2
        pruned = pages.select("url", F.col(text_col))  # shed html before any shuffle
        # dense id assignment range-partitions by url itself — don't add a
        # redundant round-robin shuffle in front of it
        if (
            meta["doc_id_method"] != "dense"
            and pruned.rdd.getNumPartitions() < target_par
        ):
            pruned = pruned.repartition(target_par)
        id_counts: dict = {}
        with_ids = tok.assign_doc_ids(
            pruned, method=meta["doc_id_method"], counts_out=id_counts
        )
        if positions or meta.get("positions"):
            # the positional stage re-reads with_ids as a SECOND physical
            # job; persist so both jobs see one id assignment even when the
            # source scan is non-deterministic (DISK_ONLY: the id'd corpus
            # can exceed executor memory; a local spill is the cheap option)
            from pyspark import StorageLevel

            with_ids = with_ids.persist(StorageLevel.DISK_ONLY)
        postings = tok.build_postings(
            with_ids,
            text_col=text_col,
            term_mode=meta.get("term_mode", "word"),
            bpe_path=meta.get("bpe_path"),
        )
        store.write(postings, "postings")  # narrow plan: scan→UDF→explode→write
        if "n_pages" in id_counts:
            # the count pass's true page total — stage 2 compares it to the
            # id pass's outcome (max/distinct alone can miss a duplicate id
            # under compensating partition drift between the two scans)
            meta["n_pages_input"] = int(id_counts["n_pages"])
            store.write_meta(meta)
        _log(store, "postings", t0)

    # -- optional stage 1b: positional table (indexed phrase search) --------
    if positions and not meta.get("positions"):
        meta["positions"] = True  # enabling on resume is allowed
        store.write_meta(meta)
    if meta.get("positions") and not store.exists("positions"):
        t0 = time.perf_counter()
        if with_ids is None:
            # resume path: ids must be RE-DERIVED from pages. 'dense' ids
            # depend on the physical scan order of the original postings
            # job, which no longer exists — a silent mismatch would give the
            # positional table doc_ids that disagree with the postings
            if meta["doc_id_method"] == "dense":
                raise ValueError(
                    "cannot resume a positions build with doc_id_method="
                    "'dense': the postings' id assignment is scan-order-"
                    "dependent and unrecoverable. Rebuild with 'hash' or "
                    "'dense_sorted' (content-deterministic)."
                )
            with_ids = tok.assign_doc_ids(
                pages.select("url", F.col(text_col)),
                method=meta["doc_id_method"],
            )
        from . import phrase as _phrase

        _phrase.build_positions_index(
            spark, with_ids, store, n_shards, text_col=text_col
        )
        _log(store, "positions", t0)
    if with_ids is not None and hasattr(with_ids, "unpersist"):
        with_ids.unpersist()

    return _postings_to_blocks(spark, store)


def _write_meta(store: IndexStorage, **fields) -> dict:
    """The one writer of a new index's _meta.json: the caller's ``fields``
    plus the block format's own (block_size, k1, b, version). An existing
    meta (a resumed build) is kept as written. → the meta on disk."""
    if not store.has_meta():
        store.write_meta(
            dict(fields, block_size=BLOCK_SIZE, k1=K1, b=B, version=BLOCK_FORMAT)
        )
    return store.read_meta()


def _checkpoint(
    store: IndexStorage,
    table: str,
    make_df: Callable[[], DataFrame],
    partition_by: list[str] | None = None,
) -> None:
    """Write ``table`` from the DataFrame ``make_df()`` returns and log it to
    build_log — unless the table's checkpoint already exists."""
    if store.exists(table):
        return
    t0 = time.perf_counter()
    store.write(make_df(), table, partition_by=partition_by)
    _log(store, table, t0)


def _index_from_postings(
    spark: SparkSession,
    out_dir: str,
    postings: Callable[[], DataFrame],
    **fields,
) -> IndexStorage:
    """Make an index at ``out_dir`` from an existing postings table — the
    shared path of merge_indexes, purge_deleted_docs and
    compact_streamed_index: write the meta (``fields``, see _write_meta),
    write the stage-1 ``postings`` checkpoint from the ``postings()``
    DataFrame if it is missing, then run stages 2-4. Resumable like
    build_index: every step skips what an earlier call completed."""
    store = IndexStorage(out_dir)
    _write_meta(store, **fields)
    _checkpoint(store, "postings", postings)
    return _postings_to_blocks(spark, store)


def _postings_to_blocks(spark: SparkSession, store: IndexStorage) -> IndexStorage:
    """Stages 2-4 over the index's postings checkpoint, each skipped when
    its own checkpoint exists."""
    meta = store.read_meta()
    n_shards = meta["n_shards"]
    postings = store.read(spark, "postings", POSTINGS_SCHEMA)

    # -- stage 2: corpus stats — ONE job over postings (the per-doc group
    # and the global fold fuse into a two-level aggregate; a separate
    # doclens checkpoint would cost a full extra write+scan of an N-row
    # table for a single downstream row) -------------------------------------
    _checkpoint(
        store, "stats",
        lambda: postings.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").alias("total_dl"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .withColumn("avgdl", F.col("total_dl") / F.col("n_docs")),
    )

    stats_row = _read_stats(store)
    n_docs, avgdl = int(stats_row["n_docs"]), float(stats_row["avgdl"])
    if dense_ids(meta):
        # dense ids must be exactly 1..N — catches a non-deterministic source
        # plan between _dense_ids' count pass and id pass (the double-scan
        # hazard) before any downstream stage trusts the ids
        max_id = int(stats_row["max_doc_id"] or 0)
        n_pages = meta.get("n_pages_input")
        if max_id != n_docs or (n_pages is not None and n_docs != n_pages):
            raise AssertionError(
                f"dense doc_id invariant violated: max(doc_id)={max_id}, "
                f"distinct ids={n_docs}, count-pass pages={n_pages}; all "
                "three must agree (a duplicate id under compensating "
                "partition drift shrinks max AND distinct together, so the "
                "count-pass total is the anchor). Source plan is not "
                "deterministic across the id-assignment double scan — "
                "persist the input or use doc_id_method='hash'."
            )
    if meta.get("positions") and not meta.get("positions_checked") and n_docs:
        # cross-check the positional table's id space against the postings'
        # (stage 2's triple invariant only sees the postings scan): a
        # doc-count or max-id disagreement means the two tokenize passes saw
        # different id assignments and every phrase result would be garbage.
        # Compare against NON-EMPTY docs (term IS NOT NULL): zero-token docs
        # carry a sentinel postings row but legitimately have no positions.
        pos_row = (
            store.read(spark, "positions")
            .agg(
                F.count_distinct("doc_id").alias("n"),
                F.max("doc_id").alias("mx"),
            )
            .collect()[0]
        )
        ne_row = (
            postings.filter(F.col("term").isNotNull())
            .agg(
                F.count_distinct("doc_id").alias("n"),
                F.max("doc_id").alias("mx"),
            )
            .collect()[0]
        )
        if int(pos_row["n"] or 0) != int(ne_row["n"] or 0) or int(
            pos_row["mx"] or 0
        ) != int(ne_row["mx"] or 0):
            raise AssertionError(
                "positional table doc_ids disagree with postings: positions "
                f"has {int(pos_row['n'] or 0)} docs (max id "
                f"{int(pos_row['mx'] or 0)}) vs postings' non-empty "
                f"{int(ne_row['n'] or 0)} (max id {int(ne_row['mx'] or 0)}). "
                "The two tokenize passes saw different id assignments — "
                "rebuild with a content-deterministic doc_id_method ('hash')."
            )
        meta["positions_checked"] = True
        store.write_meta(meta)
    if "n_docs" not in meta:
        # denormalize corpus stats into _meta.json: the query driver then
        # needs NO stats read (single-job interactive search)
        meta.update({"n_docs": n_docs, "avgdl": avgdl})
        store.write_meta(meta)

    # -- stage 3: term dictionary (df + idf) --------------------------------
    _checkpoint(
        store, "termdf",
        lambda: tok.term_df(postings).withColumn(
            "idf", _idf_udf(F.col("df"), F.lit(n_docs))
        ),
    )

    # -- stage 4: compressed block build ------------------------------------
    if not store.exists("blocks"):
        t0 = time.perf_counter()
        # finer input splits for this stage: the pack UDF wants ≥2×cores
        # partitions, and postings parquet compresses ~10:1 so the default
        # 128 MB split (≈1 GB in-memory per task) starves cores
        prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        try:
            _build_blocks_stage(spark, store, meta, postings, avgdl, n_shards)
        finally:
            # restore even on failure: the override must not leak into the
            # caller's session when the blocks write aborts
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
        _log(store, "blocks", t0, per_shard=True)

    return store


def _build_blocks_stage(
    spark: SparkSession,
    store: IndexStorage,
    meta: dict,
    postings: DataFrame,
    avgdl: float,
    n_shards: int,
) -> None:
    """Stage 4 body: salted groupBy → Arrow-batch pack → partitioned write."""
    tdf = store.read(spark, "termdf", TERMDF_SCHEMA)
    salt_cutoff = meta["salt_cutoff"]
    target = meta["target_sublist"]
    # The ENTIRE heavy path below is keyed on tid = xxhash64(term), not
    # the term string: Spark 4 string-key hash joins measured ~16×
    # slower than long-key joins on this corpus (collation-aware string
    # handling); term/idf strings re-attach via a long-key join on the
    # ~1000× smaller block-row table at the end.
    tdf_tid = tdf.select(
        F.xxhash64("term").alias("tid"), "term", "idf", "df"
    )
    # a 64-bit tid collision would silently merge two terms' postings —
    # at the 10^9-term scale the birthday probability is a few percent,
    # so DETECT it on the (small) dictionary and fail the build loudly;
    # the fix when it fires is widening to a two-seed key
    coll = tdf_tid.agg(
        F.count_distinct("term").alias("nt"),
        F.count_distinct("tid").alias("nh"),
        F.sum("df").alias("total_postings"),
    ).collect()[0]
    if coll["nt"] != coll["nh"]:
        raise AssertionError(
            f"xxhash64(term) collision: {coll['nt']} terms -> "
            f"{coll['nh']} tids; widen the block key to two hash seeds"
        )
    total_postings = int(coll["total_postings"] or 0)
    # n_salts per term: 1 for the tail, ceil(df/target) for the Zipf head
    salted_terms = tdf_tid.filter(F.col("df") > salt_cutoff).select(
        "tid",
        F.ceil(F.col("df") / F.lit(target)).cast("int").alias("n_salts"),
    )
    p = postings.filter(F.col("term").isNotNull()).select(
        F.xxhash64("term").alias("tid"), "doc_id", "tf", "dl"
    )
    p = p.join(F.broadcast(salted_terms), "tid", "left").withColumn(
        "salt",
        F.when(
            F.col("n_salts").isNotNull(),
            F.pmod(F.xxhash64("doc_id"), F.col("n_salts")).cast("int"),
        ).otherwise(F.lit(0)),
    )

    # hierarchical merge: the grouping happens entirely JVM-SIDE (groupBy +
    # collect_list with map-side partial aggregation); Python sees ONE ARROW
    # BATCH of (tid, salt) groups at a time, as flat list buffers, and
    # encodes it in one numpy pass per payload. Each crossing into Python
    # has a fixed cost — ~30 µs per row (a noop mapInPandas over 110M rows =
    # 105 s on 32 cores), ~0.6 ms per group for a per-group encode plus
    # pandas frame — so neither posting rows nor groups cross one at a
    # time. Salting caps every (tid, salt) group at ~target_sublist postings.
    grouped = p.groupBy("tid", "salt").agg(
        F.collect_list("doc_id").alias("doc_ids"),
        F.collect_list("tf").alias("tfs_a"),
        F.collect_list("dl").alias("dls_a"),
    )
    merged = grouped.mapInArrow(
        functools.partial(
            _pack_blocks, bm25=(avgdl, K1, B), max_postings=PACK_MAX_POSTINGS
        ),
        from_arrow_schema(_PACK_SCHEMA),
    )
    # re-attach term string + idf via a LONG-key broadcast join on the
    # ~1000× smaller block-row table; shard derives from the term
    blocks = merged.join(
        F.broadcast(tdf_tid.select("tid", "term", "idf")), "tid"
    ).select(
        "term",
        F.pmod(F.xxhash64("term"), F.lit(n_shards)).cast("int").alias("shard"),
        "salt", "block_id", "n", "first_doc", "last_doc", "max_w", "idf",
        (F.length("docs") + F.length("tfs") + F.length("dls")).alias("bytes"),
        "docs", "tfs", "dls",
    )
    # co-locate shards before the partitioned write, but DECOUPLE write
    # parallelism from n_shards: repartitioning on shard alone caps the
    # final sort+write at n_shards tasks, and each task then sorts a whole
    # shard in 1/cores of the JVM execution-memory pool — measured at 1.6M
    # docs: the 32-task write chain ran 2× SLOWER on 32 cores than on 8
    # (spill-bound anti-scaling), and splitting the same data into 128
    # smaller sort tasks cut it 69s → 18s. Each shard is sub-split by a
    # term hash, so write tasks ≈ 2×cores regardless of shard count, a
    # term's blocks stay within one file, and the within-file
    # (shard, term, salt, block_id) sort keeps parquet row-group min-max
    # stats on `term` selective for query-time skipping. Dynamic-partition
    # fan-out stays bounded: each task holds a few (shard, sub) groups, not
    # every shard.
    # ... and SIZE-ADAPTIVE (guide §2: derive partitioning from input size,
    # not a core-count constant): ~24 B/posting in the sort buffers and a
    # ~32 MB in-memory target per sort task gives tasks ≈ postings/1.4M —
    # 143 at the 1.6M-doc corpus where 128 tasks measured 69 s → 18 s, and
    # the n_shards floor at a 5k-doc corpus, where a 64-task dynamic-
    # partition write was pure scheduling overhead (anti-scaling both ways).
    # total_postings is exact, read off the already-materialized termdf.
    size_tasks = -(-total_postings * 24 // (32 << 20))  # ceil
    target_write_tasks = int(max(n_shards, size_tasks))
    splits = max(1, -(-target_write_tasks // n_shards))  # ceil
    blocks = blocks.repartition(
        target_write_tasks,
        F.col("shard"),
        F.pmod(F.xxhash64("term"), F.lit(splits)),
    ).sortWithinPartitions("shard", "term", "salt", "block_id")
    store.write(blocks, "blocks", partition_by=["shard"])


def _pack_blocks(batches, bm25: tuple[float, float, float], max_postings: int):
    """mapInArrow body of stage 4: Arrow batches of (tid, salt, doc_ids,
    tfs_a, dls_a) groups → block rows (_PACK_SCHEMA), one encoder call and
    output batch per slice of ≤ ``max_postings`` postings (or one larger
    group). List columns are read zero-copy: flat values plus offsets."""
    for batch in batches:
        if not batch.num_rows:
            continue
        lists = batch.column("doc_ids")
        offsets = np.asarray(lists.offsets, dtype=np.int64)
        offsets -= offsets[0]
        doc_ids = lists.flatten().to_numpy()
        tfs = batch.column("tfs_a").flatten().to_numpy()
        dls = batch.column("dls_a").flatten().to_numpy()
        tids = batch.column("tid").to_numpy()
        salts = batch.column("salt").to_numpy()
        g0 = 0
        while g0 < batch.num_rows:
            g1 = int(np.searchsorted(offsets, offsets[g0] + max_postings, "right"))
            g1 = max(g1 - 1, g0 + 1)
            lo, hi = offsets[g0], offsets[g1]
            enc = encode_posting_groups(
                doc_ids[lo:hi], tfs[lo:hi], dls[lo:hi], offsets[g0:g1] - lo, bm25
            )
            group = enc.group + g0
            yield pa.RecordBatch.from_arrays(
                [tids[group], salts[group], *enc[1:]], schema=_PACK_SCHEMA
            )
            g0 = g1


def _read_stats(store: IndexStorage) -> dict:
    """The stats row, read with pyarrow: no Spark job."""
    return store.dataset("stats").to_table().to_pylist()[0]


def _log(store: IndexStorage, stage: str, t0: float, per_shard: bool = False):
    """Append a stage's lineage rows to build_log (BUILD_LOG_SCHEMA): one
    (stage, -1, rows, null, wall_ms) row, or per shard with the summed
    ``bytes`` (blocks). Read on the driver with pyarrow — rows from the
    parquet footers, bytes from the small int column, never the payloads —
    and written with append_local: no Spark job."""
    wall_ms = int((time.perf_counter() - t0) * 1000)
    ds = store.dataset(stage)
    if per_shard:
        rows, nbytes = Counter(), Counter()
        for frag in ds.get_fragments():
            shard = pads.get_partition_keys(frag.partition_expression)["shard"]
            rows[shard] += frag.count_rows()
            col = frag.to_table(columns=["bytes"])["bytes"]
            nbytes[shard] += pc.sum(col, min_count=0).as_py()
        shards = sorted(rows)
        log = {"shard": shards, "rows": [rows[i] for i in shards],
               "bytes": [nbytes[i] for i in shards]}
    else:
        log = {"shard": [-1], "rows": [ds.count_rows()], "bytes": [None]}
    n = len(log["shard"])
    store.append_local(
        pa.table({"stage": [stage] * n, **log, "wall_ms": [wall_ms] * n},
                 schema=BUILD_LOG_SCHEMA),
        "build_log",
    )


def iter_build_log(spark: SparkSession, store: IndexStorage):
    return store.read(spark, "build_log").collect()


def merge_indexes(
    spark: SparkSession,
    input_dirs: list[str],
    out_dir: str,
    n_shards: int = 16,
    salt_cutoff: int = 50_000,
    target_sublist: int = 50_000,
) -> IndexStorage:
    """Hierarchical merge: N partial indexes → one index (north rule).

    Partial builds (e.g. per ingest batch, per corpus partition) each carry a
    durable stage-1 postings checkpoint; merging unions those WITHOUT
    re-tokenizing (the expensive Python stage) and re-derives the global
    stages — corpus stats, idf, and re-blocked posting lists — because BM25
    weights depend on corpus-wide N/avgdl/df. unionByName is the shard-merge
    op (SURVEY.md §2.7); the union becomes the postings checkpoint of
    _index_from_postings, the path every index takes to its blocks, so the
    merged index is bit-identical to a from-scratch build over the union of
    pages (asserted in tests).

    doc_ids must be content-derived (doc_id_method='hash') for merge to be
    meaningful across partial builds; duplicate urls across parts are the
    caller's contract (streaming dedup handles the ingest case)."""
    parts = [IndexStorage(d) for d in input_dirs]
    metas = [p.read_meta() for p in parts]
    if any(m["doc_id_method"] != "hash" for m in metas):
        raise ValueError("merge requires content-derived doc ids (hash)")
    # every part must share ONE vocabulary: merging a BPE-term index with a
    # word-term index (or two different merge tables) would interleave
    # incompatible term spaces silently
    modes = {(m.get("term_mode", "word"), m.get("bpe_path")) for m in metas}
    if len(modes) > 1:
        raise ValueError(
            f"merge requires identical term_mode/bpe_path across parts; got {sorted(modes)}"
        )
    (term_mode, bpe_path), = modes
    return _index_from_postings(
        spark, out_dir,
        lambda: functools.reduce(
            DataFrame.unionByName,
            [p.read(spark, "postings", POSTINGS_SCHEMA) for p in parts],
        ),
        n_shards=n_shards, salt_cutoff=salt_cutoff,
        target_sublist=target_sublist, doc_id_method="hash",
        term_mode=term_mode, bpe_path=bpe_path,
        merged_from=[p.root for p in parts],
    )


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> int:
    """DELETE documents from a block index — merge-on-read tombstones,
    the postings-side twin of ann_index.delete_ann_vectors (and Lucene's
    live-docs posture). The distinct ids are collected on the driver and
    appended to ``deleted_docs`` as ONE parquet file per call
    (IndexStorage.append_local: no Spark write job, published whole by a
    rename, so a reader never lists a partial file); every query path
    (search_topk, IndexReader.search/phrase, phrase_search_indexed)
    masks tombstoned docs BEFORE ranking — snippets
    inherit via the masked results page. Nothing is rewritten. Collecting
    adds no memory bound: every reader gathers the whole tombstone set on
    the driver anyway.

    Stats semantics, stated: idf/avgdl/N stay those of the FULL corpus
    until purge_deleted_docs — surviving docs keep their exact pre-delete
    scores (test-pinned), exactly like Lucene between delete and merge.
    No generation column is needed (unlike the ANN side): the block index
    has no per-doc re-add path — re-crawls enter through the streaming
    side and a compact/purge, which clears tombstones.

    ``doc_ids``: iterable of ints or a DataFrame with a doc_id column (one
    collect job; the list path runs no Spark job at all). Idempotent;
    absent ids are no-op tombstones. An empty input writes nothing (mirror
    of delete_ann_vectors: a zero-row tombstone table would make every
    later query pay the tombstone load for nothing, and purge runnable on
    an index with no deletes). Returns tombstones written."""
    if isinstance(doc_ids, DataFrame):
        doc_ids = [
            r[0]
            for r in doc_ids.select(F.col("doc_id").cast("long"))
            .distinct()
            .collect()
        ]
    vals = sorted({int(i) for i in doc_ids})
    if not vals:
        return 0
    IndexStorage(index_dir).append_local(
        pa.table({"doc_id": pa.array(vals, pa.int64())}), "deleted_docs"
    )
    return len(vals)


def delete_urls(spark: SparkSession, index_dir: str, urls) -> int:
    """Delete by URL — maps urls to doc_ids under the index's own id
    scheme and tombstones them. Only content-derived ids
    (doc_id_method='hash', doc_id = xxhash64(url)) support this; dense
    ids carry no url linkage at rest."""
    store = IndexStorage(index_dir)
    meta = store.read_meta()
    if meta.get("doc_id_method") != "hash":
        raise ValueError(
            "delete_urls needs doc_id_method='hash' (content-derived ids); "
            f"this index uses {meta.get('doc_id_method')!r} — delete by "
            "doc_id instead."
        )
    if isinstance(urls, DataFrame):
        ids = urls.select(F.xxhash64("url").alias("doc_id"))
    else:
        urls = list(urls)
        if not urls:
            return 0
        ids = spark.createDataFrame(
            [(u,) for u in urls], "url string"
        ).select(F.xxhash64("url").alias("doc_id"))
    return delete_docs(spark, index_dir, ids)


def purge_deleted_docs(
    spark: SparkSession, index_dir: str, out_dir: str
) -> IndexStorage:
    """Physically rebuild an index WITHOUT its tombstoned docs — the merge
    step of the merge-on-read delete story. The stage-1 postings
    checkpoint (and the positional table, if built) is anti-joined against
    deleted_docs and written into ``out_dir``; _index_from_postings, the
    path every index takes to its blocks, re-derives corpus stats, idf,
    and blocks over the survivors (stages 2-4) — so N/avgdl/df
    REFRESH here (scores shift to their true post-delete values), the
    tokenize stage never re-runs, and the result is bit-identical to a
    fresh build over the surviving pages (test-pinned). The built-in
    positions↔stats cross-check validates the purge for free.

    Same out-of-place posture as compact_streamed_index: the source index
    keeps serving (with tombstone masking) until the caller swaps dirs."""
    src = IndexStorage(index_dir)
    meta = src.read_meta()
    if not src.exists("deleted_docs"):
        raise ValueError(f"index at {index_dir} has no deleted_docs table")
    tomb = src.read(spark, "deleted_docs").select("doc_id").distinct()

    def live(table: str) -> Callable[[], DataFrame]:
        return lambda: src.read(spark, table).join(
            F.broadcast(tomb), "doc_id", "left_anti"
        )

    if meta.get("positions"):
        _checkpoint(
            IndexStorage(out_dir), "positions", live("positions"),
            partition_by=["shard"],
        )
    return _index_from_postings(
        spark, out_dir, live("postings"),
        n_shards=meta["n_shards"], salt_cutoff=meta["salt_cutoff"],
        target_sublist=meta["target_sublist"],
        doc_id_method=meta["doc_id_method"],
        term_mode=meta.get("term_mode", "word"),
        bpe_path=meta.get("bpe_path"),
        positions=bool(meta.get("positions")), purged_from=src.root,
    )
