"""Index build: pages → sharded, block-compressed posting lists — the
*index* verb of the reference (client.py:541-713, AnnLite persist) as a
resumable multi-stage Spark job (SURVEY.md §7 M2/M4).

Stages (each a durable, idempotent parquet write; `_SUCCESS` = checkpoint):
  1. postings — tokenize + groupBy(term, doc_id) [the one Python crossing]
  2. stats    — exact N, Σdl, avgdl
  3. termdf   — (term, df, idf); idf via Python math.log (bit-identity)
  4. blocks   — per-(term, salt) sorted doc lists → BLOCK_SIZE-doc blocks,
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

Lineage (north rule): every stage appends (stage, shard, rows, bytes,
wall_ms) rows to build_log; restart skips completed stages.
"""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import B, K1
from ..functions.codec import BLOCK_SIZE, encode_posting_blocks, impact_weights
from ..sources.tables import IndexStorage
from . import tokenize as tok
from .bm25 import _idf_udf

# Block layout (format v2): docs are delta-gap + vByte; tf and dl are vByte
# (~1-2 bytes each) and the impact weight w = tf·(k1+1)/(tf + k1·(1−b+b·dl/
# avgdl)) is RECOMPUTED at query time by the same vectorized float64
# impact_weights the build uses for max_w — bit-identical, and ~60% less
# payload than the v1 raw-float64 w column (8 B/posting): at 6.4M docs a
# Zipf-head query fetched ~100 MB of w bytes, dominating interactive fetch
# latency. max_w per block is the WAND/early-stop bound; idf is denormalized
# per term.
BLOCKS_SCHEMA = (
    "term string, shard int, salt int, block_id int, n int, "
    "first_doc long, last_doc long, max_w double, idf double, "
    "bytes int, docs binary, tfs binary, dls binary"
)


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
    if not store.has_meta():
        store.write_meta(
            {
                "n_shards": n_shards,
                "block_size": BLOCK_SIZE,
                "k1": K1,
                "b": B,
                "salt_cutoff": salt_cutoff,
                "target_sublist": target_sublist,
                "doc_id_method": doc_id_method,
                "term_mode": term_mode,
                "bpe_path": bpe_path,
                "positions": positions,
                "version": 2,  # block format v2: vByte tf+dl payloads, w recomputed
            }
        )
    meta = store.read_meta()
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
        _log(spark, store, "postings", t0)

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
        _log(spark, store, "positions", t0)
    if with_ids is not None and hasattr(with_ids, "unpersist"):
        with_ids.unpersist()

    postings = store.read(spark, "postings")

    # -- stage 2: corpus stats — ONE job over postings (the per-doc group
    # and the global fold fuse into a two-level aggregate; a separate
    # doclens checkpoint would cost a full extra write+scan of an N-row
    # table for a single downstream row) -------------------------------------
    if not store.exists("stats"):
        t0 = time.perf_counter()
        stats = (
            postings.groupBy("doc_id")
            .agg(F.first("dl").alias("dl"))
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("dl").alias("total_dl"),
                F.max("doc_id").alias("max_doc_id"),
            )
            .withColumn("avgdl", F.col("total_dl") / F.col("n_docs"))
        )
        store.write(stats, "stats")
        _log(spark, store, "stats", t0)

    stats_row = store.read(spark, "stats").collect()[0]
    n_docs, avgdl = int(stats_row["n_docs"]), float(stats_row["avgdl"])
    if meta["doc_id_method"] in ("dense", "dense_sorted", "row_number"):
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
    if not store.exists("termdf"):
        t0 = time.perf_counter()
        tdf = tok.term_df(postings).withColumn(
            "idf", _idf_udf(F.col("df"), F.lit(n_docs))
        )
        store.write(tdf, "termdf")
        _log(spark, store, "termdf", t0)

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
        _log(spark, store, "blocks", t0, per_shard=True)

    return store


def _build_blocks_stage(
    spark: SparkSession,
    store: IndexStorage,
    meta: dict,
    postings: DataFrame,
    avgdl: float,
    n_shards: int,
) -> None:
    """Stage 4 body: salted groupBy → JVM-side packing → partitioned write."""
    tdf = store.read(spark, "termdf")
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

    # hierarchical merge: the grouping/packing happens entirely JVM-SIDE
    # (groupBy + collect_list with map-side partial aggregation); Python
    # sees ONE ROW PER (tid, salt) GROUP with the posting arrays as bulk
    # Arrow buffers. Rationale: the JVM→Python row boundary costs ~30 µs
    # per row in this runtime (measured: a noop mapInPandas over 110M
    # rows = 105 s on 32 cores), so the 10^8 posting rows must never
    # individually cross into Python — only the ~10^4 group rows do.
    # Group sizes are bounded by construction: salting caps every
    # (tid, salt) sub-list at ~target_sublist postings.
    grouped = p.groupBy("tid", "salt").agg(
        F.collect_list("doc_id").alias("doc_ids"),
        F.collect_list("tf").alias("tfs_a"),
        F.collect_list("dl").alias("dls_a"),
    )

    def _build_blocks(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                yield _encode_group(row)

    def _encode_group(row) -> pd.DataFrame:
        tid = int(row.tid)
        salt = int(row.salt)
        doc_ids = np.asarray(row.doc_ids, dtype=np.int64)
        tfs = np.asarray(row.tfs_a, dtype=np.int64)
        dls = np.asarray(row.dls_a, dtype=np.int64)
        order = np.argsort(doc_ids, kind="stable")
        doc_ids = doc_ids[order]
        tfs = tfs[order]
        dls = dls[order]
        n = len(doc_ids)
        docs_b, tfs_b, dls_b = encode_posting_blocks(doc_ids, tfs, dls)
        w = impact_weights(tfs, dls, avgdl, K1, B)
        starts = np.arange(0, n, BLOCK_SIZE)
        ends = np.minimum(starts + BLOCK_SIZE, n)
        max_w = np.maximum.reduceat(w, starts)
        return pd.DataFrame(
            {
                "tid": np.full(len(starts), tid, dtype=np.int64),
                "salt": np.full(len(starts), salt, dtype=np.int32),
                "block_id": np.arange(len(starts), dtype=np.int32),
                "n": (ends - starts).astype(np.int32),
                "first_doc": doc_ids[starts],
                "last_doc": doc_ids[ends - 1],
                "max_w": max_w,
                "bytes": np.array(
                    [len(a) + len(b) + len(c) for a, b, c in zip(docs_b, tfs_b, dls_b)],
                    dtype=np.int32,
                ),
                "docs": docs_b,
                "tfs": tfs_b,
                "dls": dls_b,
            }
        )

    merged = grouped.mapInPandas(
        _build_blocks,
        schema=(
            "tid long, salt int, block_id int, n int, first_doc long, "
            "last_doc long, max_w double, bytes int, docs binary, "
            "tfs binary, dls binary"
        ),
    )
    # re-attach term string + idf via a LONG-key broadcast join on the
    # ~1000× smaller block-row table; shard derives from the term
    blocks = merged.join(
        F.broadcast(tdf_tid.select("tid", "term", "idf")), "tid"
    ).select(
        "term",
        F.pmod(F.xxhash64("term"), F.lit(n_shards)).cast("int").alias("shard"),
        "salt", "block_id", "n", "first_doc", "last_doc", "max_w",
        "idf", "bytes", "docs", "tfs", "dls",
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


def _log(
    spark: SparkSession,
    store: IndexStorage,
    stage: str,
    t0: float,
    per_shard: bool = False,
):
    """Append per-stage (and for blocks, per-shard) lineage + metrics rows."""
    wall_ms = int((time.perf_counter() - t0) * 1000)
    df = store.read(spark, stage)
    if per_shard and "shard" in df.columns:
        # `bytes` is a plain int column written by the block builder, so the
        # metrics pass reads two small columns — never the binary payloads
        sizes = df.groupBy("shard").agg(
            F.count("*").alias("rows"), F.sum("bytes").alias("bytes")
        )
        log = sizes.select(
            F.lit(stage).alias("stage"),
            F.col("shard").cast("int").alias("shard"),
            F.col("rows").cast("long").alias("rows"),
            F.col("bytes").cast("long").alias("bytes"),
            F.lit(wall_ms).alias("wall_ms"),
        )
    else:
        log = df.agg(F.count("*").alias("rows")).select(
            F.lit(stage).alias("stage"),
            F.lit(-1).cast("int").alias("shard"),
            F.col("rows").cast("long").alias("rows"),
            F.lit(None).cast("long").alias("bytes"),
            F.lit(wall_ms).alias("wall_ms"),
        )
    store.append(log, "build_log")


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
    op (SURVEY.md §2.7); everything downstream reuses the single-build path,
    so the merged index is bit-identical to a from-scratch build over the
    union of pages (asserted in tests).

    doc_ids must be content-derived (doc_id_method='hash') for merge to be
    meaningful across partial builds; duplicate urls across parts are the
    caller's contract (streaming dedup handles the ingest case)."""
    store = IndexStorage(out_dir)
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
    if not store.has_meta():
        store.write_meta(
            {
                "n_shards": n_shards,
                "block_size": BLOCK_SIZE,
                "k1": K1,
                "b": B,
                "salt_cutoff": salt_cutoff,
                "target_sublist": target_sublist,
                "doc_id_method": "hash",
                "term_mode": term_mode,
                "bpe_path": bpe_path,
                "merged_from": [p.root for p in parts],
                "version": 2,  # block format v2: vByte tf+dl payloads, w recomputed
            }
        )
    if not store.exists("postings"):
        t0 = time.perf_counter()
        merged = None
        for p in parts:
            df = p.read(spark, "postings")
            merged = df if merged is None else merged.unionByName(df)
        store.write(merged, "postings")
        _log(spark, store, "postings", t0)
    # stages 2-4 re-derive global stats/idf/blocks over the merged postings;
    # build_index skips stage 1 because its checkpoint now exists
    return _resume_from_postings(spark, store)


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
    import pyarrow as pa

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
    deleted_docs and written into ``out_dir``; stages 2-4 re-derive
    corpus stats, idf, and blocks over the survivors — so N/avgdl/df
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
    store = IndexStorage(out_dir)
    if not store.has_meta():
        store.write_meta(
            {
                "n_shards": meta["n_shards"],
                "block_size": meta.get("block_size", BLOCK_SIZE),
                "k1": meta.get("k1", K1),
                "b": meta.get("b", B),
                "salt_cutoff": meta["salt_cutoff"],
                "target_sublist": meta["target_sublist"],
                "doc_id_method": meta["doc_id_method"],
                "term_mode": meta.get("term_mode", "word"),
                "bpe_path": meta.get("bpe_path"),
                "positions": bool(meta.get("positions")),
                "purged_from": src.root,
                "version": 2,
            }
        )
    tomb = src.read(spark, "deleted_docs").select("doc_id").distinct()
    if not store.exists("postings"):
        t0 = time.perf_counter()
        live = src.read(spark, "postings").join(
            F.broadcast(tomb), "doc_id", "left_anti"
        )
        store.write(live, "postings")
        _log(spark, store, "postings", t0)
    if meta.get("positions") and not store.exists("positions"):
        t0 = time.perf_counter()
        live_pos = src.read(spark, "positions").join(
            F.broadcast(tomb), "doc_id", "left_anti"
        )
        store.write(live_pos, "positions", partition_by=["shard"])
        _log(spark, store, "positions", t0)
    return _resume_from_postings(spark, store)


def _resume_from_postings(spark: SparkSession, store: IndexStorage) -> IndexStorage:
    """Run stages 1b-4 for an index whose postings checkpoint exists."""

    class _NoPages:
        def __getattr__(self, item):  # pragma: no cover - must never be touched
            raise AssertionError("pages must not be read when postings exist")

    return build_index(
        spark,
        _NoPages(),  # type: ignore[arg-type]
        store.root,
        n_shards=store.read_meta()["n_shards"],
    )
