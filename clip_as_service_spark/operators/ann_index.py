"""Persisted embedding-side ANN index — the at-rest form of the similarity
operators (VERDICT r03 #1).

The reference STORES its ANN structure: AnnLite persists cell tables + HNSW
under `workspace` and serves queries from the resident index
(docs/user-guides/retriever.md:54-62,117-136). Until this module, our LSH
and IVF paths recomputed bucket/cell assignment on every query job — an
O(N) corpus scan (plus O(N·C) compares for IVF) per query batch. Here the
assignment becomes a one-time build artifact in the same ``IndexStorage``
layout as the block index:

  <root>/_meta.json       — dim, RH plane config, IVF config (seeds included,
                            so query-side bucketing is bit-identical)
  <root>/rh_buckets/      — (vec_id, bucket, embedding) per LSH table,
                            partitioned by tbl, bucket-sorted within files
  <root>/ivf_centroids/   — (cell_id, centroid) coarse quantizer
  <root>/ivf_cells/       — (vec_id, embedding) partitioned by cell_id
  <root>/deleted_ids/     — (vec_id, gen) tombstones (delete_ann_vectors);
                            merge-on-read: probes drop rows with
                            gen <= tombstone gen, compact reclaims bytes

A probe then reads ONLY its buckets/cells: `tbl` and `cell_id` are hive
partition columns (directory pruning) and `bucket` is the within-file sort
key (parquet row-group min/max skipping) — the same two-level pruning the
posting-block table gets. Storage trade, stated: rh_buckets materializes
n_tables copies of each vector (the standard L-table LSH trade; at 10^9+
vectors store PQ codes or bare ids per table instead — the layout and the
probe plan don't change, only the payload column).

Both stored query paths compute candidates from the SAME expressions as the
recompute paths (similarity._table_bucket / similarity._nearest_cells), so
stored and recomputed results are identical — pinned by tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import IndexStorage
from . import similarity as sim

# version 2 adds the row-generation column (`gen`) to rh_buckets/ivf_cells
# and with it delete/update support (tombstone merge-on-read, below).
# Version-1 indexes keep working read-only+append; delete raises with a
# rebuild message (their rows carry no gen to compare tombstones against).
ANN_VERSION = 2


def _gen_enabled(meta: dict) -> bool:
    return int(meta.get("version", 1)) >= 2


def _tombstones(spark: SparkSession, store: IndexStorage) -> DataFrame | None:
    """(vec_id, gen) — the max tombstone generation per deleted id, or None
    when nothing was ever deleted (the common case: zero overhead). A row
    is DEAD iff a tombstone exists for its vec_id with tombstone.gen >=
    row.gen — so an update's re-appended row (stamped a LATER gen than the
    delete that preceded it) stays live while every earlier physical row
    of the same id is dead. The table is delete-sized, never corpus-sized:
    always broadcast."""
    if not store.exists("deleted_ids"):
        return None
    return (
        store.read(spark, "deleted_ids")
        .groupBy("vec_id")
        .agg(F.max("gen").alias("gen"))
    )


def _filter_dead(df: DataFrame, ts: DataFrame | None) -> DataFrame:
    """Drop tombstoned rows from an index-table scan (merge-on-read).
    MUST run BEFORE any per-query dedup (dropDuplicates / np.unique picks
    an arbitrary row — after an update that could be the superseded
    vector). Broadcast anti-join: vec_id equi-key + gen inequality rides
    as the extra join condition, so this stays a BroadcastHashJoin."""
    if ts is None:
        return df
    t = ts.select(
        F.col("vec_id").alias("_ts_vid"), F.col("gen").alias("_ts_gen")
    )
    return df.join(
        F.broadcast(t),
        (F.col("vec_id") == F.col("_ts_vid"))
        & (F.col("gen") <= F.col("_ts_gen")),
        "left_anti",
    )


def _next_gen(store: IndexStorage, meta: dict) -> int:
    """Generation stamp for the NEXT mutation (append or delete): one past
    everything any existing tombstone could reference — max(persisted
    watermark, max tombstone gen) + 1. Derived from the tables themselves
    (plus the compact-maintained watermark in _meta.json), so no counter
    file can drift from the data; the single-writer posture of every other
    mutating verb (append/ingest/compact) is assumed here too."""
    base = int(meta.get("gen_watermark", 0))
    if store.exists("deleted_ids"):
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        tbl = pads.dataset(
            store.path("deleted_ids"), format="parquet"
        ).to_table(columns=["gen"])
        if tbl.num_rows:
            base = max(base, int(pc.max(tbl.column("gen")).as_py()))
    return base + 1


def auto_ivf_k(n_vectors: int, max_k: int = 65536) -> int:
    """Corpus-sized IVF cell count: ~⌈√N⌉, the standard coarse-quantizer
    rule (cells ≈ per-cell rows ≈ √N balances probe reads against centroid
    compares). Clamped to [1, max_k] — a coarse quantizer stays coarse
    (≤ ~10^5 centroids live broadcast/driver-side). A FIXED k stops pruning
    as N grows: 16 cells at 10^9 vectors reads N/16 rows per probe; √N
    keeps a probe at ~nprobe·√N rows at every scale."""
    import math

    if n_vectors <= 0:
        return 1
    return max(1, min(max_k, math.isqrt(n_vectors - 1) + 1))


def build_ann_index(
    spark: SparkSession,
    embeddings: DataFrame,
    out_dir: str,
    dim: int,
    rh_n_bits: int | None = None,
    rh_n_tables: int = 1,
    rh_seed: int = 42,
    sign_round_dp: int | None = None,
    ivf_centroids: DataFrame | None = None,
    ivf_k: int | None = None,
    ivf_n_iter: int = 5,
    ivf_train_sample: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
    store_vectors: bool = True,
    pq: bool = False,
    pq_m: int = 8,
    pq_codes: int = 256,
    pq_n_iter: int = 5,
    pq_train_sample: float | None = None,
) -> IndexStorage:
    """Build (resumably) the persisted ANN structures over an embedding
    table. Each stage is a durable idempotent parquet write (`_SUCCESS` =
    checkpoint), mirroring index_build.

    ``store_vectors=False`` — COMPACT PAYLOAD: rh_buckets stores
    (vec_id, *meta_cols, tbl, bucket) only, instead of materializing
    n_tables full copies of every vector (client default rh_n_tables=8 →
    an 8×-the-corpus index). ivf_cells keeps the ONE authoritative vector
    copy; the RH probe then re-ranks by fetching candidate vectors from it
    with one keyed join (rh_topk_stored) / a vec_id-filtered pyarrow read
    (AnnReader). Trade, stated: the id-only probe adds that fetch join per
    query batch — right at 10^8+ vectors where index bytes dominate; the
    full-payload default stays right when storage is cheap and probe
    latency is king. Bytes-on-disk for both are reported in BENCH.

    ``pq=True`` — PRODUCT-QUANTIZED PAYLOAD (implies id-only; mutually
    exclusive with store_vectors=True): per-subspace codebooks are trained
    (operators/pq, deterministic) and rh_buckets stores ``pq_m`` smallint
    codes per vector instead of the vector. Probes score candidates by ADC
    lookup (m table adds per candidate, no vector fetch), keep the
    per-query top-``rerank`` by approximate cosine, and exact-re-rank only
    those against ivf_cells — the FAISS IVF-PQ serving shape. With
    rerank=None (fetch every candidate) results are bit-identical to the
    full-payload index (exact scoring over the same candidate set); a
    bounded rerank trades recall for fetch volume.

    SIZING: ``rh_n_bits=None`` / ``ivf_k=None`` (the defaults) size the
    index FROM THE CORPUS with one count job at build time —
    ``auto_n_bits(N)`` (the same rule rh_cosine_pairs applies; AnnLite
    likewise sizes its cell table with the corpus, retriever.md:161-168)
    and ``auto_ivf_k(N)`` ≈ ⌈√N⌉. The chosen values are persisted in
    ``_meta.json`` (plus ``n_at_build``), so every query path and append
    uses exactly the built geometry. Explicit values skip the count
    (cross-engine oracles pass them for a deterministic plan).

    RESUME: when ``_meta.json`` already exists the stored config WINS (the
    cells on disk were assigned under it) — but a re-call whose explicit
    arguments CONTRADICT it raises ValueError instead of silently building
    under the old geometry. Pass the same arguments (or the None autos) to
    resume.

    ``ivf_centroids``: pass a pre-trained (cell_id, centroid) quantizer, or
    leave None to train a sampled deterministic k-means (kmeans_centroids)
    with ``ivf_k`` cells. The quantizer is persisted either way — query
    time must probe with EXACTLY the centroids the cells were assigned to.

    ``meta_cols``: metadata columns stored ALONGSIDE the vectors in both
    tables — the reference's AnnLite "columns used for filtering"
    (retriever.md:161-165): a filtered search (`where=` on the stored query
    paths) then evaluates the predicate inside the already-pruned scan,
    parquet-pushed, instead of joining a side table per query.
    """
    if pq:
        if store_vectors:
            raise ValueError(
                "build_ann_index: pq=True stores codes INSTEAD of vectors "
                "— pass store_vectors=False (ivf_cells keeps the exact "
                "copy for the re-rank)."
            )
        from . import pq as _pq_mod

        _pq_mod._validate(dim, pq_m, pq_codes)
    store = IndexStorage(out_dir)
    if not store.has_meta():
        n_at_build = None
        if rh_n_bits is None:
            n_at_build = embeddings.count()
            rh_n_bits = sim.auto_n_bits(n_at_build)
        if ivf_k is None:
            if ivf_centroids is not None:
                # a pre-trained quantizer fixes the cell count itself
                ivf_k = ivf_centroids.count()
            else:
                if n_at_build is None:
                    n_at_build = embeddings.count()
                ivf_k = auto_ivf_k(n_at_build)
        store.write_meta(
            {
                "kind": "ann",
                "dim": dim,
                "rh_n_bits": rh_n_bits,
                "rh_n_tables": rh_n_tables,
                "rh_seed": rh_seed,
                "sign_round_dp": sign_round_dp,
                "ivf_k": ivf_k,
                "ivf_n_iter": ivf_n_iter,
                "ivf_train_sample": ivf_train_sample,
                "meta_cols": list(meta_cols),
                "rh_store_vectors": store_vectors,
                "pq": pq,
                "pq_m": pq_m,
                "pq_codes": pq_codes,
                "pq_n_iter": pq_n_iter,
                "pq_train_sample": pq_train_sample,
                "n_at_build": n_at_build,
                "gen_watermark": 0,
                "version": ANN_VERSION,
            }
        )
    meta = store.read_meta()
    _check_build_config(
        meta,
        {
            "dim": dim,
            "rh_n_bits": rh_n_bits,
            "rh_n_tables": rh_n_tables,
            "rh_seed": rh_seed,
            "sign_round_dp": sign_round_dp,
            "ivf_k": ivf_k,
            "ivf_n_iter": ivf_n_iter,
            "ivf_train_sample": ivf_train_sample,
            "meta_cols": list(meta_cols),
            "rh_store_vectors": store_vectors,
            "pq": pq,
            "pq_m": pq_m,
            "pq_codes": pq_codes,
            "pq_n_iter": pq_n_iter,
            "pq_train_sample": pq_train_sample,
        },
    )
    mcols = tuple(meta.get("meta_cols", ()))
    target = spark.sparkContext.defaultParallelism * 2

    # -- PQ codebooks (trained BEFORE the bucket table needs the codes) -----
    if meta.get("pq") and not store.exists("pq_codebooks"):
        from . import pq as _pq

        cb = _pq.train_pq_codebooks(
            embeddings, meta["dim"], m=meta["pq_m"], n_codes=meta["pq_codes"],
            n_iter=meta["pq_n_iter"], id_col=id_col, vec_col=vec_col,
            sample=meta["pq_train_sample"],
        )
        store.write(cb, "pq_codebooks")

    # -- RH bucket tables ---------------------------------------------------
    if not store.exists("rh_buckets"):
        codebooks = (
            store.read(spark, "pq_codebooks") if meta.get("pq") else None
        )
        rows = _rh_rows(embeddings, meta, id_col, vec_col, codebooks=codebooks)
        # write granularity: partition dirs = n_tables only (2^n_bits bucket
        # dirs would explode the namespace at 20+ bits); bucket prunes via
        # the within-file sort instead. Sub-split each table by a bucket
        # hash so write tasks ≈ 2×cores regardless of n_tables.
        splits = max(1, -(-target // max(meta["rh_n_tables"], 1)))
        rows = rows.repartition(
            target, F.col("tbl"), F.pmod(F.col("bucket"), F.lit(splits))
        ).sortWithinPartitions("tbl", "bucket", "vec_id")
        store.write(rows, "rh_buckets", partition_by=["tbl"])

    # -- IVF quantizer + cell-partitioned vectors ---------------------------
    if not store.exists("ivf_centroids"):
        cents = (
            ivf_centroids
            if ivf_centroids is not None
            else sim.kmeans_centroids(
                embeddings, k=meta["ivf_k"], n_iter=meta["ivf_n_iter"],
                id_col=id_col, vec_col=vec_col,
                sample=meta["ivf_train_sample"],
            )
        )
        store.write(
            cents.select(
                F.col("cell_id").cast("long").alias("cell_id"), "centroid"
            ),
            "ivf_centroids",
        )
    if not store.exists("ivf_cells"):
        cents = store.read(spark, "ivf_centroids")
        cb = store.read(spark, "pq_codebooks") if meta.get("pq") else None
        cells = _ivf_rows(
            embeddings, cents, meta, id_col, vec_col, codebooks=cb
        )
        # cell count is quantizer-bounded (≤ ~10^5 by definition of a
        # coarse quantizer) so cell_id is safe as a partition dir; sub-split
        # for write parallelism like the block build
        n_cells = max(int(meta["ivf_k"]), 1)
        splits = max(1, -(-target // n_cells))
        cells = cells.repartition(
            target, F.col("cell_id"), F.pmod(F.col("vec_id"), F.lit(splits))
        ).sortWithinPartitions("cell_id", "vec_id")
        store.write(cells, "ivf_cells", partition_by=["cell_id"])
    return store


def _check_build_config(meta: dict, passed: dict) -> None:
    """Resume guard: a re-call of build_ann_index whose EXPLICIT arguments
    contradict the persisted config raises — the stored geometry always
    wins (rows on disk were bucketed/assigned under it), and silently
    serving under a different config than the caller asked for is the
    failure mode this blocks. ``rh_n_bits``/``ivf_k`` passed as None mean
    "defer to stored" (the auto-sizing defaults) and are never compared;
    ``sign_round_dp``/``ivf_train_sample`` None is a real value (no
    rounding / full-corpus training) and IS compared."""
    # keys absent in metas written before the option existed
    defaults = {
        "rh_store_vectors": True,
        "pq": False,
        "pq_m": 8,
        "pq_codes": 256,
        "pq_n_iter": 5,
        "pq_train_sample": None,
    }
    mismatches = {
        k: (meta.get(k, defaults.get(k)), v)
        for k, v in passed.items()
        if not (k in ("rh_n_bits", "ivf_k") and v is None)
        and meta.get(k, defaults.get(k)) != v
    }
    if mismatches:
        detail = ", ".join(
            f"{k}: stored={s!r} passed={p!r}"
            for k, (s, p) in sorted(mismatches.items())
        )
        raise ValueError(
            "build_ann_index: index at this path was built under a "
            f"different config ({detail}). Resume with the same arguments, "
            "or rebuild into a fresh directory."
        )


def _stamp_gen(
    embeddings: DataFrame, meta: dict, gen: int | None
) -> tuple[DataFrame, list[str]]:
    """Normalize the row-generation column for an index write: v2 metas
    stamp ``gen`` (build=0, append=_next_gen) or pass an existing per-row
    column through unchanged (gen=None — compaction, which must PRESERVE
    generations so stale tombstones keep referencing only removed rows);
    v1 metas emit nothing (schema stability for pre-delete indexes)."""
    if not _gen_enabled(meta):
        return embeddings, []
    if gen is None:
        if "gen" not in embeddings.columns:
            raise ValueError(
                "_stamp_gen: gen=None passes the existing per-row gen "
                "column through, but the input has none"
            )
        return embeddings, ["gen"]
    return (
        embeddings.withColumn("gen", F.lit(int(gen)).cast("long")),
        ["gen"],
    )


def _rh_rows(
    embeddings: DataFrame,
    meta: dict,
    id_col: str,
    vec_col: str,
    codebooks: DataFrame | None = None,
    gen: int | None = 0,
) -> DataFrame:
    """(vec_id[, embedding | pq_code], *meta_cols, gen, tbl, bucket) rows
    under the index's OWN plane config — the ONE bucketing used by build
    and append (a divergence between the two would silently split the
    bucket space). Payload column by meta: full → the vector; pq → the
    m-smallint PQ code (encoded under the GIVEN stored codebooks — required
    then); ids → neither (vectors fetched from ivf_cells at probe time)."""
    mcols = tuple(meta.get("meta_cols", ()))
    embeddings, gcols = _stamp_gen(embeddings, meta, gen)
    with_vec = meta.get("rh_store_vectors", True)
    with_pq = bool(meta.get("pq"))
    if with_pq:
        if codebooks is None:
            raise ValueError("_rh_rows: pq index needs the stored codebooks")
        from . import pq as _pq

        codes = _pq.pq_encode(
            embeddings, codebooks, meta["dim"], meta["pq_m"], id_col, vec_col
        )
        embeddings = embeddings.join(codes, id_col)
    n_bits, n_tables = meta["rh_n_bits"], meta["rh_n_tables"]
    payload = []
    if with_vec:
        payload.append(F.col(vec_col).alias("embedding"))
    if with_pq:
        payload.append(F.col("pq_code"))
    extra_in = ["pq_code"] if with_pq else []
    # buckets via the vectorized Arrow kernel (one matmul per batch) — the
    # same numpy dot AnnReader probes with, so stored/probe agree
    tb = sim.rh_buckets_udf(
        meta["dim"], n_bits, n_tables, meta["rh_seed"], meta["sign_round_dp"]
    )
    return embeddings.select(
        id_col, vec_col, *extra_in, *mcols, *gcols,
        F.posexplode(tb(F.col(vec_col))).alias("tbl", "bucket"),
    ).select(
        F.col(id_col).alias("vec_id"),
        *payload,
        *mcols,
        *gcols,
        "tbl",
        "bucket",
    )


def _ivf_rows(
    embeddings: DataFrame,
    centroids: DataFrame,
    meta: dict,
    id_col: str,
    vec_col: str,
    codebooks: DataFrame | None = None,
    gen: int | None = 0,
) -> DataFrame:
    """(vec_id, embedding[, pq_code], *meta_cols, gen, cell_id) rows assigned
    under the GIVEN (stored) quantizer — shared by build and append. A PQ
    index stores the codes HERE too (+~2% bytes): an IVF probe can then
    scan only the narrow (vec_id, pq_code) columns for ADC scoring and
    read the wide embedding column for just the re-rank survivors —
    dim·8/m× less scan IO per probe (ivf_topk_stored(rerank=…))."""
    mcols = tuple(meta.get("meta_cols", ()))
    embeddings, gcols = _stamp_gen(embeddings, meta, gen)
    code_cols = []
    if meta.get("pq"):
        if codebooks is None:
            raise ValueError("_ivf_rows: pq index needs the stored codebooks")
        from . import pq as _pq

        codes = _pq.pq_encode(
            embeddings, codebooks, meta["dim"], meta["pq_m"], id_col, vec_col
        )
        embeddings = embeddings.join(codes, id_col)
        code_cols = ["pq_code"]
    assign = sim._nearest_cells(
        embeddings.select(id_col, vec_col, *code_cols, *mcols, *gcols),
        centroids, 1, id_col, vec_col, "cell_id", "centroid", "_r",
    )
    return assign.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        *code_cols,
        *mcols,
        *gcols,
        "cell_id",
    )


def append_ann_vectors(
    spark: SparkSession,
    index_dir: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate_ids: bool = True,
) -> None:
    """INCREMENTAL index: append new vectors to a persisted ANN index —
    the reference's `/index` adds docs to the resident AnnLite index the
    same way (retriever.md:54-62). New rows are bucketed with the index's
    OWN plane config and assigned with its STORED quantizer (never
    retrained — cell geometry must stay what the existing rows were
    assigned under), then parquet-appended into the same partition layout,
    so every stored query path sees old+new with no rebuild.

    Contract: vec_ids must be NEW among the LIVE rows (a previously
    DELETED id may be re-appended — that is exactly what
    update_ann_vectors does). validate_ids (default on) ENFORCES it with
    one bare-id semi-join against the existing live index before writing —
    a colliding live id would otherwise make every query path's dedup pick
    an arbitrary one of two different vectors, silently. Pass False only
    when ids are provably disjoint (e.g. monotonic allocation) and the
    extra scan matters. Drift note: a quantizer trained long ago may
    assign new data badly — recall SLOWLY degrades, queries stay correct;
    periodically rebuild (the same compaction posture as the block
    index)."""
    store = IndexStorage(index_dir)
    _check_compact_marker(store)
    meta = store.read_meta()
    ts = _tombstones(spark, store)
    # stamp appended rows one generation past every existing tombstone:
    # a delete-then-reappend (update) leaves the new row live while the
    # tombstone keeps killing the superseded physical rows
    gen = _next_gen(store, meta) if _gen_enabled(meta) else None
    if validate_ids:
        # the batch itself must be id-unique too — .distinct() below would
        # otherwise HIDE two new rows sharing an id (appending both
        # recreates the arbitrary-dedup-pick hazard this check exists for)
        batch_dup = (
            new_embeddings.groupBy(F.col(id_col).alias("vec_id"))
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if batch_dup:
            raise ValueError(
                f"append_ann_vectors: vec_id {batch_dup[0]['vec_id']} "
                "appears more than once IN THE APPEND BATCH — ids must be "
                "unique within the batch as well as against the index."
            )
        new_ids = new_embeddings.select(F.col(id_col).alias("vec_id")).distinct()
        existing = store.read(new_embeddings.sparkSession, "ivf_cells")
        cols = ["vec_id", "gen"] if _gen_enabled(meta) else ["vec_id"]
        # clash = an id that is still LIVE: tombstoned rows don't count (a
        # re-append after delete is the supported update flow)
        clash = (
            _filter_dead(existing.select(*cols), ts)
            .join(new_ids, "vec_id", "left_semi")
            .limit(1)
            .collect()
        )
        if clash:
            raise ValueError(
                f"append_ann_vectors: vec_id {clash[0]['vec_id']} is live "
                "in the index — appended ids must be NEW (query-path "
                "dedup would pick an arbitrary one of two vectors). "
                "Re-encoded docs: update_ann_vectors / delete first; "
                "or offset new ids (e.g. client.encode(texts, "
                "id_offset=...))."
            )
    codebooks = (
        store.read(spark, "pq_codebooks") if meta.get("pq") else None
    )
    rows = _rh_rows(
        new_embeddings, meta, id_col, vec_col, codebooks=codebooks, gen=gen
    ).sortWithinPartitions("tbl", "bucket", "vec_id")
    store.append(rows, "rh_buckets", partition_by=["tbl"])

    cents = store.read(spark, "ivf_centroids")
    cells = _ivf_rows(
        new_embeddings, cents, meta, id_col, vec_col, codebooks=codebooks,
        gen=gen,
    ).sortWithinPartitions("cell_id", "vec_id")
    store.append(cells, "ivf_cells", partition_by=["cell_id"])


def delete_ann_vectors(
    spark: SparkSession,
    index_dir: str,
    ids,
) -> int:
    """DELETE vectors from a persisted ANN index — merge-on-read
    tombstones, the reference's `/delete` endpoint over its resident index
    (docs/user-guides/retriever.md:203-204,225). Nothing is rewritten:
    one (vec_id, gen) tombstone row per id is appended to ``deleted_ids``,
    stamped one generation past every prior mutation; EVERY probe path
    (rh/ivf stored paths, AnnReader, hybrid serving) then drops index rows
    with gen <= their id's tombstone gen before any per-query dedup. The
    bytes heal at the next compact_ann_index, which physically removes
    dead rows and clears the tombstones (same merge-on-read posture as
    compact_streamed_index's latest-crawl-wins).

    ``ids``: iterable of ints or a DataFrame with a ``vec_id`` column.
    Deleting an absent id is a no-op tombstone (idempotent; swept by
    compact). Returns the number of tombstones written."""
    store = IndexStorage(index_dir)
    _check_compact_marker(store)
    meta = store.read_meta()
    if not _gen_enabled(meta):
        raise ValueError(
            "delete_ann_vectors: this index was built before delete "
            "support (version < 2 — its rows carry no generation column "
            "to compare tombstones against). Rebuild it to enable "
            "delete/update."
        )
    g = _next_gen(store, meta)
    if isinstance(ids, DataFrame):
        tomb = ids.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.lit(g).cast("long").alias("gen"),
        ).dropDuplicates(["vec_id"])
        n = tomb.count()
        if n == 0:
            # an empty batch must not materialize a zero-row deleted_ids
            # table — its mere existence makes every probe pay the
            # anti-join and gen read until the next compact
            return 0
    else:
        vals = sorted({int(i) for i in ids})
        n = len(vals)
        if n == 0:
            return 0
        tomb = spark.createDataFrame(
            [(v, g) for v in vals], "vec_id long, gen long"
        )
    store.append(tomb, "deleted_ids")
    return n


def update_ann_vectors(
    spark: SparkSession,
    index_dir: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """UPSERT re-encoded vectors — delete + append in one call, the
    reference's `/update` endpoint (retriever.md:203-204). The batch's ids
    are tombstoned at generation g (killing any existing physical rows),
    then the new rows are appended at g+1 — probes see exactly the new
    vector, compact physically reclaims the old one. Ids not previously
    indexed are fine (their tombstone kills nothing).

    Failure contract: the delete lands durably BEFORE the append, so a
    failed/crashed append leaves the batch ids dark (tombstoned, not yet
    re-added). The heal is RE-RUNNING THE SAME UPDATE: the rerun's fresh
    tombstone generation kills any partially appended rows and the
    append then completes — convergent from every crash point. The two
    foreseeable batch rejections (duplicate ids, wrong dimension) are
    checked here, before any tombstone is written."""
    store = IndexStorage(index_dir)
    _check_compact_marker(store)
    dim = int(store.read_meta()["dim"])
    # batch checks BEFORE the delete: append raising on a bad batch AFTER
    # the tombstones landed would leave ids deleted but never re-added
    dup = (
        new_embeddings.groupBy(F.col(id_col))
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"update_ann_vectors: {id_col} {dup[0][0]} appears more than "
            "once in the batch — refusing before any tombstone is written."
        )
    bad = (
        new_embeddings.filter(
            F.col(vec_col).isNull() | (F.size(vec_col) != dim)
        )
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"update_ann_vectors: {id_col} {bad[0][id_col]} has a vector "
            f"that is not {dim}-dimensional — refusing before any "
            "tombstone is written."
        )
    delete_ann_vectors(
        spark, index_dir, new_embeddings.select(F.col(id_col).alias("vec_id"))
    )
    append_ann_vectors(
        spark, index_dir, new_embeddings, id_col=id_col, vec_col=vec_col
    )


def compact_ann_index(
    spark: SparkSession, index_dir: str, retrain: bool = False
) -> None:
    """Compact a persisted ANN workspace — the ANN twin of the postings
    side's `compact` verb. append_ann_vectors parquet-appends one file set
    per call; a streaming ingest accumulates small files (scan-planning
    overhead) and, over time, quantizer drift (new data assigned under an
    old quantizer — recall slowly degrades). This rewrites both tables in
    the canonical build layout (repartition to ~2×cores tasks, bucket/cell
    sorted within files — the row-group-skipping the probes rely on), via
    tmp-dir + swap so the read and the rewrite never collide.

    ``retrain=True`` additionally retrains the coarse quantizer from the
    CURRENT vectors under the stored config (same k / n_iter / sample /
    deterministic init, so compact-with-retrain ≡ a fresh build over the
    union — test-pinned) and reassigns every vector; a PQ index also
    retrains its codebooks and re-encodes every code (the rh table is
    rebuilt from ivf_cells — the exact copy). RH buckets themselves never
    drift (planes are seed-deterministic), so without retrain the RH side
    only needs the layout rewrite."""
    import os as _os

    store = IndexStorage(index_dir)
    if (
        _os.path.exists(_os.path.join(store.root, _COMPACT_MARKER))
        and not retrain
    ):
        raise ValueError(
            "a compact-retrain swap is pending on this index — only "
            "compact_ann_index(retrain=True) can heal it (a layout-only "
            "compact would legitimize possibly-mismatched tables)."
        )
    meta = store.read_meta()
    mcols = tuple(meta.get("meta_cols", ()))
    gcols = ["gen"] if _gen_enabled(meta) else []
    target = spark.sparkContext.defaultParallelism * 2

    # merge-on-read heals HERE: tombstoned rows are dropped from both
    # rewrites; surviving rows KEEP their generations (resetting them
    # would let a stale tombstone — cleared only at the very end — kill a
    # survivor, so preservation is what makes the clear pure hygiene: a
    # crash at any point leaves tombstones that reference only rows this
    # compact already removed)
    # snapshot the tombstone FILE LIST before reading: the end-of-compact
    # cleanup removes exactly these files, so a delete_ann_vectors that
    # lands mid-compact (appending a new file) is NOT discarded — its rows
    # survived this compact and its tombstone keeps masking them (gens are
    # preserved, so it still wins). Globbing BEFORE the read errs safe: a
    # file appearing in the gap is compacted away but left on disk, a stale
    # tombstone referencing only removed rows — documented hygiene debt,
    # not resurrection. (Previously the whole dir was rmtree'd, silently
    # dropping any delete that raced a layout-only compact.)
    import glob as _glob

    snap_tomb_files = sorted(
        _glob.glob(_os.path.join(store.path("deleted_ids"), "*.parquet"))
    ) if store.exists("deleted_ids") else []
    ts = _tombstones(spark, store)
    new_watermark = _next_gen(store, meta) if ts is not None else None
    cells = _filter_dead(store.read(spark, "ivf_cells"), ts)
    # full-row dedup: a crash between ingest_staged_vectors' rh append and
    # its ivf append makes the re-run re-append the same rh rows (its
    # idempotence anti-join checks ivf_cells, the authoritative table) —
    # probes dedupe at query time; compaction is where the bytes heal
    rh_rows = _filter_dead(
        store.read(spark, "rh_buckets").dropDuplicates(), ts
    )
    cents_tmp = cb_tmp = None
    if retrain:
        vecs = cells.select("vec_id", "embedding", *mcols, *gcols)
        cents = sim.kmeans_centroids(
            vecs, k=meta["ivf_k"], n_iter=meta["ivf_n_iter"],
            id_col="vec_id", vec_col="embedding",
            sample=meta["ivf_train_sample"],
        )
        cents_tmp = store.write_tmp(
            cents.select(
                F.col("cell_id").cast("long").alias("cell_id"), "centroid"
            ),
            "ivf_centroids",
        )
        cb = None
        if meta.get("pq"):
            from . import pq as _pq

            cb = _pq.train_pq_codebooks(
                vecs, meta["dim"], m=meta["pq_m"],
                n_codes=meta["pq_codes"], n_iter=meta["pq_n_iter"],
                id_col="vec_id", vec_col="embedding",
                sample=meta["pq_train_sample"],
            )
            cb_tmp = store.write_tmp(cb, "pq_codebooks")
            rh_rows = _rh_rows(
                vecs, meta, "vec_id", "embedding", codebooks=cb,
                gen=None if gcols else 0,
            )
        cells = _ivf_rows(
            vecs, cents, meta, "vec_id", "embedding", codebooks=cb,
            gen=None if gcols else 0,
        )

    splits = max(1, -(-target // max(meta["rh_n_tables"], 1)))
    rh_rows = rh_rows.repartition(
        target, F.col("tbl"), F.pmod(F.col("bucket"), F.lit(splits))
    ).sortWithinPartitions("tbl", "bucket", "vec_id")
    n_cells = max(int(meta["ivf_k"]), 1)
    splits = max(1, -(-target // n_cells))
    cells = cells.repartition(
        target, F.col("cell_id"), F.pmod(F.col("vec_id"), F.lit(splits))
    ).sortWithinPartitions("cell_id", "vec_id")
    # run ALL rewrite jobs before swapping ANY table: quantizer + cell
    # assignments (and PQ codebooks + codes) must change together — a probe
    # against new centroids over old assignments returns wrong cells. The
    # swap sequence itself is milliseconds of renames but NOT atomic: a
    # retrain interrupted mid-sequence would leave a retrained quantizer
    # over old assignments with every _SUCCESS intact — so retrain fences
    # the sequence with a marker file that query paths REFUSE to serve
    # through. Healing is re-running this compact: everything above is
    # re-derived from the cells' (vec_id, embedding) rows, which no swap
    # order can lose, so the rerun converges whatever was swapped.
    rh_tmp = store.write_tmp(rh_rows, "rh_buckets", partition_by=["tbl"])
    cells_tmp = store.write_tmp(cells, "ivf_cells", partition_by=["cell_id"])
    if retrain:
        # abort-before-swap fence: the rewritten cell table must carry
        # EXACTLY the LIVE input rows — ivf_cells is the only exact vector
        # copy of id-only/PQ indexes, and a retrain that lost rows (e.g. a
        # degenerate quantizer assigning nothing) must never replace it.
        # Both counts are cheap scans; nothing has swapped yet.
        n_in = _filter_dead(store.read(spark, "ivf_cells"), ts).count()
        n_out = spark.read.parquet(store.path(cells_tmp)).count()
        if n_out != n_in:
            raise RuntimeError(
                f"compact_ann_index(retrain=True): reassignment produced "
                f"{n_out} rows from {n_in} input rows — aborting before any "
                "swap (the index on disk is untouched)."
            )
        _write_compact_marker(store)
    if cents_tmp is not None:
        store.swap("ivf_centroids", cents_tmp)
    if cb_tmp is not None:
        store.swap("pq_codebooks", cb_tmp)
    store.swap("rh_buckets", rh_tmp)
    store.swap("ivf_cells", cells_tmp)
    if ts is not None:
        # tombstones now reference only physically-removed rows (survivors
        # kept gens > their tombstone's), so clearing is hygiene, not
        # correctness. Watermark FIRST: future mutations must stamp past
        # the cleared tombstones' gens even after the table is gone — a
        # crash between the two steps leaves both sources present, and
        # _next_gen takes the max.
        meta2 = store.read_meta()
        meta2["gen_watermark"] = int(new_watermark)
        store.write_meta(meta2)
        import contextlib as _contextlib
        import shutil as _shutil

        # remove only the snapshot's files (see glob above); a tombstone
        # appended mid-compact survives and keeps masking its rows
        for f in snap_tomb_files:
            with _contextlib.suppress(FileNotFoundError):
                _os.remove(f)
        remaining = _glob.glob(
            _os.path.join(store.path("deleted_ids"), "*.parquet")
        )
        if not remaining:
            _shutil.rmtree(store.path("deleted_ids"), ignore_errors=True)
    _clear_compact_marker(store)


_COMPACT_MARKER = "_compact_pending"


def _write_compact_marker(store: IndexStorage) -> None:
    import os

    with open(os.path.join(store.root, _COMPACT_MARKER), "w") as fh:
        fh.write("retrain swap sequence in flight — rerun ann-compact "
                 "--retrain to heal if this file outlives the process\n")


def _clear_compact_marker(store: IndexStorage) -> None:
    import contextlib
    import os

    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(store.root, _COMPACT_MARKER))


def _check_compact_marker(store: IndexStorage) -> None:
    """Query-path fence: a present marker means a retrain swap is in
    flight or died mid-sequence — the tables may pair a new quantizer with
    old assignments (every _SUCCESS intact, so nothing else detects it)."""
    import os

    if os.path.exists(os.path.join(store.root, _COMPACT_MARKER)):
        raise ValueError(
            f"ANN index at {store.root} has a pending compact-retrain swap "
            "(_compact_pending) — a compact is running, or one crashed "
            "mid-swap. Re-run compact_ann_index(retrain=True) (CLI: "
            "ann-compact --retrain) to converge, then query again."
        )


class AnnReader:
    """Warm handle for LOW-LATENCY interactive ANN over a persisted index —
    the serving twin of wand.IndexReader, and the engine's analog of the
    reference's resident AnnLite retriever (queries served from the index
    in memory-mapped storage, retriever.md:117-136). Zero Spark jobs per
    query: probe buckets/cells are computed driver-side with numpy, the
    pyarrow dataset scan prunes to them (hive partition + row-group
    filters, C++), and the exact-cosine re-rank runs vectorized on the
    driver.

    Bucketing note: stored buckets came from Spark's sequential-fold dot
    products; the reader recomputes QUERY buckets with numpy (pairwise
    summation). A last-ulp sign flip on a plane boundary would probe a
    neighboring bucket — recall may differ infinitesimally from the Spark
    path, scores never (cosine is exact over whatever candidates are
    fetched). Build with sign_round_dp to pin boundaries — the reader
    replicates Spark's HALF_UP (round-half-away-from-zero) semantics, not
    numpy's half-to-even, so rounded signs agree exactly.

    Snapshot semantics: the pyarrow dataset lists files at construction.
    After append_ann_vectors, call ``refresh()`` (or build a new reader) —
    a held handle does NOT see appends, by design (a serving process swaps
    readers on a schedule, never mid-query)."""

    def __init__(self, index_dir: str):
        self.store = IndexStorage(index_dir)
        _check_compact_marker(self.store)
        self.meta = self.store.read_meta()
        nb, nt = self.meta["rh_n_bits"], self.meta["rh_n_tables"]
        self._planes = sim.rh_planes(
            self.meta["dim"], nb * nt, self.meta["rh_seed"]
        )
        self.refresh()

    def refresh(self) -> None:
        """Re-list index files (pick up append_ann_vectors output)."""
        import numpy as np
        import pyarrow.dataset as pads

        self._rh_ds = pads.dataset(
            self.store.path("rh_buckets"), format="parquet", partitioning="hive"
        )
        self._ivf_ds = (
            pads.dataset(
                self.store.path("ivf_cells"), format="parquet",
                partitioning="hive",
            )
            if self.store.exists("ivf_cells")
            else None
        )
        if self.store.exists("ivf_centroids"):
            tbl = pads.dataset(
                self.store.path("ivf_centroids"), format="parquet"
            ).to_table()
            cid = np.asarray(tbl.column("cell_id"), dtype=np.int64)
            cvecs = _list_col_to_2d(tbl.column("centroid"), self.meta["dim"])
            order = np.argsort(cid)
            self._cell_ids = cid[order]
            self._centroids = cvecs[order]
            self._cent_norms = np.linalg.norm(self._centroids, axis=1)
        else:
            self._cell_ids = None
        # tombstones (delete_ann_vectors): {vec_id: max gen killed}. A
        # scanned row is live iff its gen EXCEEDS its id's tombstone gen —
        # the same merge-on-read predicate the Spark paths anti-join with.
        # Empty dict (the common case) = zero per-query overhead and no
        # gen column read at all.
        self._ts: dict[int, int] = {}
        if self.store.exists("deleted_ids"):
            ttbl = pads.dataset(
                self.store.path("deleted_ids"), format="parquet"
            ).to_table()
            for v, g in zip(
                ttbl.column("vec_id").to_pylist(),
                ttbl.column("gen").to_pylist(),
            ):
                if g >= self._ts.get(v, -1):
                    self._ts[int(v)] = int(g)
        self._pq_cb = None
        if self.meta.get("pq") and self.store.exists("pq_codebooks"):
            m, dsub = self.meta["pq_m"], self.meta["dim"] // self.meta["pq_m"]
            tbl = pads.dataset(
                self.store.path("pq_codebooks"), format="parquet"
            ).to_table()
            ss = np.asarray(tbl.column("subspace"), dtype=np.int64)
            cc = np.asarray(tbl.column("code"), dtype=np.int64)
            cents = _list_col_to_2d(tbl.column("centroid"), dsub)
            n_codes = int(cc.max()) + 1 if len(cc) else 0
            cb = np.zeros((m, n_codes, dsub))
            cb[ss, cc] = cents
            self._pq_cb = cb
            self._pq_n2 = (cb * cb).sum(axis=2)  # (m, n_codes)

    def _cols(self, cols: list[str]) -> list[str]:
        """Scan column list — the gen column rides along only when there
        are tombstones to compare it against."""
        return cols + ["gen"] if self._ts else cols

    def _live_rows(self, tbl):
        """Drop tombstoned rows from a scanned Arrow table (before any
        dedup — np.unique would otherwise arbitrarily keep a superseded
        row of an updated id). No-op without tombstones."""
        import numpy as np
        import pyarrow as pa

        if not self._ts or tbl.num_rows == 0:
            return tbl
        ids = np.asarray(tbl.column("vec_id"), dtype=np.int64)
        gens = np.asarray(tbl.column("gen"), dtype=np.int64)
        ts = self._ts
        mask = np.fromiter(
            (ts.get(int(i), -1) < int(g) for i, g in zip(ids, gens)),
            dtype=bool,
            count=len(ids),
        )
        return tbl.filter(pa.array(mask))

    def _query_buckets(self, qvec, multi_probe: bool = True) -> list[tuple[int, int]]:
        import numpy as np

        nb, nt = self.meta["rh_n_bits"], self.meta["rh_n_tables"]
        dots = self._planes @ np.asarray(qvec, dtype=np.float64)
        dp = self.meta.get("sign_round_dp")
        if dp is not None:
            dots = _round_half_up(dots, dp)
        probes = []
        for t in range(nt):
            bits = (dots[t * nb : (t + 1) * nb] >= 0).astype(np.int64)
            b0 = int((bits << np.arange(nb)).sum())
            probes.append((t, b0))
            if multi_probe:
                probes += [(t, b0 ^ (1 << j)) for j in range(nb)]
        return probes

    def _rerank(self, ids, vecs, qvec, k: int):
        import numpy as np

        if len(ids) == 0:
            return []
        q = np.asarray(qvec, dtype=np.float64)
        V = np.asarray(vecs, dtype=np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = (V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
        # Spark's F.desc treats NaN as the LARGEST double (a zero-norm
        # vector's cosine ranks first there) — match, so reader ≡ stored
        sort_key = np.where(np.isnan(cos), -np.inf, -cos)
        order = np.lexsort((ids, sort_key))[:k]
        return [
            (rank + 1, int(ids[i]), float(cos[i]))
            for rank, i in enumerate(order)
        ]

    def search(
        self,
        qvec,
        k: int = 10,
        multi_probe: bool = True,
        where=None,
        rerank: int | None = None,
    ):
        """RH probe → [(rank, vec_id, cosine)] — one pruned pyarrow read
        (id-only indexes add a vec_id-filtered fetch from ivf_cells for the
        candidate vectors; PQ indexes ADC-score the codes first and fetch
        only the top-``rerank`` — None keeps every candidate, matching the
        full-payload result exactly).

        ``where``: optional pyarrow compute Expression over the stored
        meta_cols (e.g. ``pc.field("label") == "news"``) — the AnnLite
        filter-column shape, evaluated INSIDE the pruned scan, AND-composed
        with the bucket predicate. Parity with rh_topk_stored(where=...)
        is test-pinned."""
        import numpy as np
        import pyarrow.compute as pc

        probes = self._query_buckets(qvec, multi_probe)
        by_tbl: dict[int, list[int]] = {}
        for t, b in probes:
            by_tbl.setdefault(t, []).append(b)
        flt = None
        for t, bs in sorted(by_tbl.items()):
            p = (pc.field("tbl") == t) & pc.field("bucket").isin(sorted(set(bs)))
            flt = p if flt is None else (flt | p)
        if where is not None:
            flt = flt & where
        if self.meta.get("pq"):
            return self._search_pq(qvec, k, flt, rerank)
        if self.meta.get("rh_store_vectors", True):
            tbl = self._live_rows(
                self._rh_ds.to_table(
                    filter=flt, columns=self._cols(["vec_id", "embedding"])
                )
            )
            ids = np.asarray(tbl.column("vec_id"), dtype=np.int64)
            # candidates dedupe across tables before the re-rank
            ids, first = np.unique(ids, return_index=True)
            vecs = _list_col_to_2d(tbl.column("embedding"), self.meta["dim"])[
                first
            ]
        else:
            id_tbl = self._live_rows(
                self._rh_ds.to_table(filter=flt, columns=self._cols(["vec_id"]))
            )
            ids = np.unique(np.asarray(id_tbl.column("vec_id"), dtype=np.int64))
            if len(ids) == 0:
                return []
            ids, vecs = self._fetch_vectors(ids)
        return self._rerank(ids, vecs, qvec, k)

    def _fetch_vectors(self, ids):
        """ids → (sorted ids, vectors) fetched from ivf_cells (the one
        exact copy) via a vec_id-filtered pruned read."""
        import numpy as np
        import pyarrow.compute as pc

        fetched = self._live_rows(
            self._ivf_ds.to_table(
                filter=pc.field("vec_id").isin([int(i) for i in ids]),
                columns=self._cols(["vec_id", "embedding"]),
            )
        )
        fids = np.asarray(fetched.column("vec_id"), dtype=np.int64)
        order = np.argsort(fids)
        return fids[order], _list_col_to_2d(
            fetched.column("embedding"), self.meta["dim"]
        )[order]

    def _adc_select(self, ids, codes, qvec, rerank: int | None):
        """ONE ADC implementation for both reader paths (RH buckets and
        IVF cells): approximate cosines from the codes via the per-query
        lookup table, then the per-query top-``rerank`` ids (sorted) —
        ties broken exactly like the Spark path (approx desc, vec_id
        asc). A divergence between two copies of this math would make the
        RH and IVF readers silently disagree."""
        import numpy as np

        if rerank is None or rerank >= len(ids):
            # every candidate survives — skip the scoring entirely (the
            # exact re-rank downstream ignores approx scores anyway)
            return ids
        m = self.meta["pq_m"]
        q = np.asarray(qvec, dtype=np.float64)
        qsub = q.reshape(m, self.meta["dim"] // m)
        # (m, n_codes) partial dots: lut[s, c] = q_s · cb[s, c]
        lut = np.einsum("sd,skd->sk", qsub, self._pq_cb)
        srange = np.arange(m)
        dots = lut[srange, codes].sum(axis=1)
        n2 = self._pq_n2[srange, codes].sum(axis=1)
        qn = np.linalg.norm(q)
        with np.errstate(invalid="ignore", divide="ignore"):
            approx = np.where(
                (n2 > 0) & (qn > 0), dots / (qn * np.sqrt(n2)), -np.inf
            )
        sel = np.lexsort((ids, -approx))[:rerank]
        return np.sort(ids[sel])

    def _search_pq(self, qvec, k: int, flt, rerank: int | None):
        """ADC over the stored codes, exact re-rank of the survivors —
        the numpy twin of _pq_probe_topk."""
        import numpy as np

        m = self.meta["pq_m"]
        tbl = self._live_rows(
            self._rh_ds.to_table(
                filter=flt, columns=self._cols(["vec_id", "pq_code"])
            )
        )
        ids = np.asarray(tbl.column("vec_id"), dtype=np.int64)
        ids, first = np.unique(ids, return_index=True)
        if len(ids) == 0:
            return []
        codes = _list_col_to_2d(tbl.column("pq_code"), m).astype(np.int64)[
            first
        ]
        ids = self._adc_select(ids, codes, qvec, rerank)
        fids, vecs = self._fetch_vectors(ids)
        return self._rerank(fids, vecs, qvec, k)

    def search_ivf(
        self,
        qvec,
        k: int = 10,
        nprobe: int = 2,
        where=None,
        rerank: int | None = None,
    ):
        """IVF probe → [(rank, vec_id, cosine)] — reads nprobe cell dirs.

        ``where``: optional pyarrow Expression over stored meta_cols,
        AND-composed with the cell filter (see search). ``rerank`` (PQ
        indexes): read only (vec_id, pq_code) from the probed cells,
        ADC-score, fetch true vectors for the top-rerank only."""
        import numpy as np
        import pyarrow.compute as pc

        if self._cell_ids is None or self._ivf_ds is None:
            raise ValueError(
                "index has no IVF tables (ivf_centroids/ivf_cells) — "
                "incomplete or RH-only build"
            )
        q = np.asarray(qvec, dtype=np.float64)
        ccos = (self._centroids @ q) / (self._cent_norms * np.linalg.norm(q))
        # same tie rounding as _nearest_cells: Spark F.round is decimal
        # HALF_UP, numpy's np.round is half-to-even — an exact-half tie at
        # 9dp would otherwise probe different cells than the stored path
        ccos = _round_half_up(ccos, 9)
        order = np.lexsort((self._cell_ids, -ccos))[:nprobe]
        cells = sorted(int(self._cell_ids[i]) for i in order)
        flt = pc.field("cell_id").isin(cells)
        if where is not None:
            flt = flt & where
        if rerank is not None and self.meta.get("pq"):
            return self._search_pq_cells(qvec, k, flt, rerank)
        tbl = self._live_rows(
            self._ivf_ds.to_table(
                filter=flt, columns=self._cols(["vec_id", "embedding"])
            )
        )
        ids = np.asarray(tbl.column("vec_id"), dtype=np.int64)
        vecs = _list_col_to_2d(tbl.column("embedding"), self.meta["dim"])
        return self._rerank(ids, vecs, qvec, k)

    def _search_pq_cells(self, qvec, k: int, flt, rerank: int):
        """ADC over the probed cells' stored codes (narrow-column read),
        exact re-rank of the survivors — the cells twin of _search_pq
        (same _adc_select math; cells rows are already id-unique, so no
        cross-table dedupe)."""
        import numpy as np

        m = self.meta["pq_m"]
        tbl = self._live_rows(
            self._ivf_ds.to_table(
                filter=flt, columns=self._cols(["vec_id", "pq_code"])
            )
        )
        ids = np.asarray(tbl.column("vec_id"), dtype=np.int64)
        if len(ids) == 0:
            return []
        codes = _list_col_to_2d(tbl.column("pq_code"), m).astype(np.int64)
        ids = self._adc_select(ids, codes, qvec, rerank)
        fids, vecs = self._fetch_vectors(ids)
        return self._rerank(fids, vecs, qvec, k)


# ONE HALF_UP kernel for every numpy path (reader probes here, build-time
# assignment in similarity): two copies of this rounding would let a future
# tweak silently desync build-time cell assignment from the probe paths —
# the exact cross-path divergence the shared Lloyd kernel eliminates.
_round_half_up = sim._round_half_up_np


def _list_col_to_2d(col, dim: int):
    """Arrow list<double> column → (n, dim) float64 ndarray with NO
    per-element Python objects: flatten() respects list offsets/slices and
    exposes the child buffer; the reshape is valid because every index row
    stores exactly `dim` components."""
    import numpy as np

    flat = np.asarray(col.combine_chunks().flatten(), dtype=np.float64)
    return flat.reshape(-1, dim)


# Above the In-filter threshold Spark pushes a [min,max] RANGE filter to
# parquet instead of the In itself; below it, the In becomes a chain of
# OR'd equality predicates whose recursive evaluation is STACK-DEPTH-BOUND
# (measured on the default 1m thread stack: overflows from ~800 values,
# flaky from ~600 — the id-only fetch's ~1.6k-candidate isin hit it).
# session.get_spark raises -Xss to 16m (≈13k levels of headroom), but this
# RAISE can run under sessions built elsewhere (the driver's own harness,
# default 1m stacks) — so it must stay below the WORST-CASE measured
# overflow, not our own session's ceiling: 512 (500-value chains measured
# safe; failures start ~600-800). Bigger sets fall back to the range
# filter + the InSet data filter — still correct, still no corpus
# shuffle. Our own session's 4096 default relies on its own -Xss.
MAX_IN_PUSHDOWN = 512


def _ensure_in_filter_threshold(spark: SparkSession, needed: int) -> None:
    key = "spark.sql.parquet.pushdown.inFilterThreshold"
    needed = min(needed, MAX_IN_PUSHDOWN)
    try:
        cur = int(spark.conf.get(key))
    except Exception:
        cur = 10
    if cur < needed:
        spark.conf.set(key, str(needed))


def rh_topk_stored(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    multi_probe: bool = True,
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
    where=None,
    rerank: int | None = None,
) -> DataFrame:
    """approximate top-k via the PERSISTED RH tables: query buckets are
    computed on the (small) query set, collected driver-side, and pushed
    into the rh_buckets scan as (tbl, bucket) predicates — directory pruning
    on tbl, row-group skipping on the bucket sort. The corpus is never
    re-bucketed; the scan touches only the probed buckets' row groups.

    ``where``: optional predicate (SQL string or Column) over the stored
    meta_cols — AnnLite-style filtered search: evaluated inside the pruned
    scan (parquet-pushed), candidates are (bucket match) ∩ (filter), exact
    cosine over the survivors. Equivalent to pre-filtering the corpus
    (bucketing is per-vector), pinned by test.

    The driver-side collect is Q·L·(n_bits+1) probe rows — queries are
    interactive-scale by construction; a billion-query batch join belongs on
    rh_bucketed_topk over the same stored table (plain equi-join, no
    pushdown) instead."""
    store = IndexStorage(index_dir)
    _check_compact_marker(store)
    meta = store.read_meta()
    n_bits, n_tables = meta["rh_n_bits"], meta["rh_n_tables"]
    tb_udf = sim.rh_buckets_udf(
        meta["dim"], n_bits, n_tables, meta["rh_seed"], meta["sign_round_dp"]
    )
    q0 = queries.select(
        q_id_col, q_vec_col, F.posexplode(tb_udf(F.col(q_vec_col))).alias("tbl", "bucket")
    )
    if multi_probe:
        q = q0.select(
            q_id_col, q_vec_col, "tbl",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << j))
                        for j in range(n_bits)
                    ],
                )
            ).alias("bucket"),
        )
    else:
        q = q0
    # ONE evaluation of the query-side bucketing: collect the probe rows
    # (vectors included — Q·L·(n_bits+1) rows, interactive-scale) and
    # rebuild a local DataFrame for the join, so the bucketing UDF never
    # re-executes in the joined plan
    probe_rows = q.collect()
    by_tbl: dict[int, set[int]] = {}
    for r in probe_rows:
        by_tbl.setdefault(int(r["tbl"]), set()).add(int(r["bucket"]))
    if not by_tbl:
        return spark.createDataFrame(
            [], "query_id long, rank int, vec_id long, cosine double"
        )
    q_local = spark.createDataFrame(probe_rows, q.schema)
    # the probe set is hundreds of bucket values per table; below this
    # threshold Spark drops big In filters from parquet row-group
    # evaluation (measured 1.7× slower at 1M vectors). Session-level by
    # necessity — the conf is read at ACTION time, not here. Monotonic
    # raise only (never lowers a caller's setting).
    _ensure_in_filter_threshold(
        spark, sum(len(b) for b in by_tbl.values()) + 1
    )
    pred = None
    for t, buckets in sorted(by_tbl.items()):
        p = (F.col("tbl") == t) & F.col("bucket").isin(sorted(buckets))
        pred = p if pred is None else (pred | p)
    data = _filter_dead(
        store.read(spark, "rh_buckets").where(pred), _tombstones(spark, store)
    )
    if where is not None:
        data = data.where(where)
    joined = data.join(F.broadcast(q_local), ["tbl", "bucket"])
    cand = joined.dropDuplicates([q_id_col, "vec_id"])
    if meta.get("pq"):
        return _pq_probe_topk(
            spark, store, meta, cand, q_local, k, rerank, q_id_col, q_vec_col
        )
    if not meta.get("rh_store_vectors", True):
        # id-only index: fetch candidate vectors from ivf_cells (the ONE
        # stored copy) — pushed-down In filter on the vec_id sort when the
        # candidate set is interactive-sized, broadcast-id join past the
        # pushdown cutoff (_fetch_exact_vectors); the fetched vectors are
        # candidate-sized, so AQE broadcasts the attach join.
        vecs = _fetch_exact_vectors(spark, store, cand.select("vec_id"))
        cand = cand.join(vecs, "vec_id")
    scored = cand.select(
        F.col(q_id_col).alias("query_id"),
        "vec_id",
        sim.cosine_col(F.col("embedding"), F.col(q_vec_col)).alias("cosine"),
    )
    return sim._topk(scored, k)


def _fetch_exact_vectors(
    spark: SparkSession,
    store: IndexStorage,
    ids_df: DataFrame,
    max_pushdown: int = 20_000,
) -> DataFrame:
    """candidate ids → (vec_id, embedding) from ivf_cells (the one exact
    copy). Small id sets (interactive batches — the common case) collect
    and PUSH DOWN as an In filter: ivf_cells files are vec_id-sorted
    within each cell partition, so parquet row-group min/max stats skip
    most of the table instead of scanning it. Sets past ``max_pushdown``
    (planning cost of a giant In literal) fall back to broadcasting the
    COLLECTED ids as a local relation against the scan — still no corpus
    shuffle, but a full column read; bulk pipelines at that size should
    prefer rh_bucketed_topk-style joins anyway.

    Cost note: the id collect executes the candidate plan once, and the
    caller's final action executes it again (the fetch joins back to it)
    — 2× a PRUNED probe scan, accepted deliberately: persisting would
    leak cache entries out of this serving-path function (the returned
    DataFrame escapes), and the pushed id set is what turns the
    corpus-side read from a full column scan into skipped row groups."""
    ids = ids_df.select("vec_id").distinct()
    ts = _tombstones(spark, store)  # an updated id has a DEAD twin here
    head = ids.limit(max_pushdown + 1).collect()
    if len(head) <= max_pushdown:
        vals = sorted(int(r["vec_id"]) for r in head)
        if not vals:
            return spark.createDataFrame([], "vec_id long, embedding array<double>")
        _ensure_in_filter_threshold(spark, len(vals) + 1)
        return _filter_dead(
            store.read(spark, "ivf_cells").where(F.col("vec_id").isin(vals)),
            ts,
        ).select("vec_id", "embedding")
    # fallback: collect the BARE ids (longs — small even at 10^6
    # candidates) into a local relation, so the scan-side probe does not
    # re-execute the candidate plan a THIRD time inside the join
    local_ids = spark.createDataFrame(
        [(int(r["vec_id"]),) for r in ids.collect()], "vec_id long"
    )
    return _filter_dead(
        store.read(spark, "ivf_cells").join(F.broadcast(local_ids), "vec_id"),
        ts,
    ).select("vec_id", "embedding")


def _pq_probe_topk(
    spark: SparkSession,
    store: IndexStorage,
    meta: dict,
    cand: DataFrame,
    q_local: DataFrame,
    k: int,
    rerank: int | None,
    q_id_col: str,
    q_vec_col: str,
) -> DataFrame:
    """PQ-payload probe tail: ADC-score the bucket candidates from their
    stored codes (m lookup adds each — no vector fetch), keep the
    per-query top-``rerank`` by approximate cosine, and fetch ONLY the
    survivors' true vectors from ivf_cells for the exact re-rank. Fetch
    volume per query drops from |candidates| to rerank.

    rerank=None keeps EVERY candidate — bit-identical to a full-payload
    probe (exact scoring over the same candidate set), so the ADC stage
    is SKIPPED entirely: its scores would select nothing, and the final
    scoring is exact regardless."""
    from . import pq as _pq

    q_only = q_local.dropDuplicates([q_id_col]).select(q_id_col, q_vec_col)
    if rerank is None:
        surv = cand.select(q_id_col, "vec_id")
    else:
        cb = store.read(spark, "pq_codebooks")
        lut = _pq.pq_lut(
            q_only, cb, meta["dim"], meta["pq_m"], q_id_col, q_vec_col
        )
        q_norms = q_only.select(
            q_id_col,
            F.sqrt(_pq._dot(F.col(q_vec_col), F.col(q_vec_col))).alias(
                "_qnorm"
            ),
        )
        approx = _pq.pq_score(
            cand.select(q_id_col, "vec_id", "pq_code"), lut, q_norms, q_id_col
        )
        surv = sim.topk_rows(
            approx, q_id_col, [F.desc("approx_cos"), F.asc("vec_id")],
            rerank, "_pr",
        ).select(q_id_col, "vec_id")
    vecs = _fetch_exact_vectors(spark, store, surv)
    scored = (
        surv.join(F.broadcast(q_only), q_id_col)
        .join(vecs, "vec_id")
        .select(
            F.col(q_id_col).alias("query_id"),
            "vec_id",
            sim.cosine_col(F.col("embedding"), F.col(q_vec_col)).alias(
                "cosine"
            ),
        )
    )
    return sim._topk(scored, k)


def ivf_topk_stored(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
    where=None,
    rerank: int | None = None,
) -> DataFrame:
    """IVF top-k via the PERSISTED cell assignment: queries probe their
    nprobe nearest cells of the STORED quantizer; the ivf_cells scan prunes
    to exactly those cell_id partition directories (hive pruning — at
    10^12 vectors a probe reads nprobe/k of the corpus, not all of it).
    Assignment math is identical to ivf_topk's, so results match the
    recomputed path bit-for-bit.

    ``where``: optional predicate over stored meta_cols (AnnLite-style
    filtered search) — evaluated inside the cell-pruned scan; equivalent to
    pre-filtering the corpus (assignment is per-vector), pinned by test.

    ``rerank`` (PQ indexes only): scan just the NARROW (vec_id, pq_code)
    columns of the probed cells for ADC scoring — dim·8/m× less scan IO —
    and read the wide embedding column for only the per-query top-rerank
    survivors (exact re-rank). None keeps the exact full-column scan."""
    store = IndexStorage(index_dir)
    _check_compact_marker(store)
    meta = store.read_meta()
    cents = store.read(spark, "ivf_centroids")
    q_assign = sim._nearest_cells(
        queries, cents, nprobe, q_id_col, q_vec_col, "cell_id", "centroid",
        "probe_rank",
    )
    # one evaluation of the query×quantizer assignment (see rh_topk_stored)
    assign_rows = q_assign.collect()
    probed = sorted({int(r["cell_id"]) for r in assign_rows})
    if not probed:
        return spark.createDataFrame(
            [], "query_id long, rank int, vec_id long, cosine double"
        )
    q_local = spark.createDataFrame(assign_rows, q_assign.schema)
    cells = _filter_dead(
        store.read(spark, "ivf_cells").where(F.col("cell_id").isin(probed)),
        _tombstones(spark, store),
    )
    if where is not None:
        cells = cells.where(where)
    if rerank is not None and meta.get("pq"):
        cand = (
            cells.select("cell_id", "vec_id", "pq_code")
            .join(F.broadcast(q_local), "cell_id")
            .dropDuplicates([q_id_col, "vec_id"])
        )
        return _pq_probe_topk(
            spark, store, meta, cand, q_local, k, rerank, q_id_col, q_vec_col
        )
    joined = cells.join(F.broadcast(q_local), "cell_id")
    scored = joined.select(
        F.col(q_id_col).alias("query_id"),
        "vec_id",
        sim.cosine_col(F.col("embedding"), F.col(q_vec_col)).alias("cosine"),
    ).dropDuplicates(["query_id", "vec_id"])
    return sim._topk(scored, k)
