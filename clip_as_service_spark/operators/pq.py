"""Product quantization (PQ) — compact approximate vector codes for the
ANN index payload.

The public technique (Jégou, Douze, Schmid 2011; the FAISS IVF-PQ design;
the reference's AnnLite also names PQ as its compression option,
docs/user-guides/retriever.md): split each dim-D vector into ``m``
subvectors, k-means each subspace to ``n_codes`` centroids, store only the
m one-byte codes per vector. A query then scores candidates with
ASYMMETRIC DISTANCE COMPUTATION (ADC): one m×n_codes lookup table of
partial dot products per query, so scoring a candidate is m table adds —
no vector fetch at all. Exact re-rank fetches true vectors only for the
per-query survivors.

Cosine under ADC, with v̂ the PQ reconstruction of v:

    dot(q, v̂)  = Σ_s  q_s · cb[s, code_s]          (lut column ``pdot``)
    ‖v̂‖²       = Σ_s  ‖cb[s, code_s]‖²             (lut column ``pn2``)
    approx_cos = dot / (‖q‖ · sqrt(‖v̂‖²))

Scale shape: training runs the shared BLAS Lloyd kernel
(similarity._lloyd_train_arrow) with m subspaces and L2 assignment — one
zero-shuffle Arrow pass per iteration, each batch assigned with a matmul
and collapsed to per-(subspace, code) partial sums before anything leaves
the worker. Encoding (append_pq_codes) is one zero-shuffle Arrow map under
the broadcast codebooks — no compare rows ever exist, even map-side.
Codebooks are m·n_codes·(D/m) doubles — KBs; always broadcast, persisted
beside the index. Query-side ADC (pq_lut / pq_score — tiny, Q·m·n_codes
rows) stays in JVM built-ins."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CODEBOOK_SCHEMA = "subspace int, code int, centroid array<double>"


def _sub_slices(vec_col, dim: int, m: int) -> list:
    """m struct(subspace, subvec) expressions slicing a vector column."""
    dsub = dim // m
    return [
        F.struct(
            F.lit(s).alias("subspace"),
            F.slice(vec_col, s * dsub + 1, dsub).alias("subvec"),
        )
        for s in range(m)
    ]


def _dot(a, b) -> F.Column:
    """Σ a[i]·b[i] in the arrays' own element type. Not similarity._dot,
    which casts each element to double first: ann_index's query-norm
    call passes the caller's query vectors, array<float> in the test
    corpora, whose float products would then change and move the
    approximate scores that pick the rerank pool."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _validate(dim: int, m: int, n_codes: int) -> None:
    if m <= 0 or dim % m != 0:
        raise ValueError(f"pq: dim={dim} must be divisible by m={m}")
    if not 1 <= n_codes <= 32767:
        raise ValueError("pq: n_codes must fit a smallint code")


def collect_codebook_array(codebooks: DataFrame, m: int, dsub: int):
    """Codebook table → (m, n_codes, dsub) float64, code-dense (training
    emits the complete (subspace, code) grid; empty codes keep init)."""
    import numpy as np

    rows = codebooks.select("subspace", "code", "centroid").collect()
    if not rows:
        return np.zeros((m, 0, dsub))
    n_codes = max(int(r["code"]) for r in rows) + 1
    cb = np.zeros((m, n_codes, dsub))
    seen = np.zeros((m, n_codes), dtype=bool)
    for r in rows:
        cb[int(r["subspace"]), int(r["code"])] = [float(x) for x in r["centroid"]]
        seen[int(r["subspace"]), int(r["code"])] = True
    if not seen.all():
        raise ValueError(
            "pq codebook table is not a complete (subspace, code) grid — "
            "corrupted or partially-written codebooks"
        )
    return cb


def append_pq_codes(
    df: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Append every row's m-smallint PQ code — a ZERO-SHUFFLE Arrow map
    under the GIVEN (stored) codebooks, shared by build, append and
    compact. The codebook (m·n_codes·dsub doubles — KBs) is broadcast;
    each Arrow batch is encoded with one BLAS matmul per subspace
    (similarity._np_assign_l2: ties to the lowest code) and passes
    through with the code column appended — no explode, no join, no
    compare rows (the previous explode+min_by+join formulation shuffled
    N×m assignment rows and re-joined them to the corpus)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import ArrayType, ShortType, StructField, StructType

    from .similarity import _batch_vectors_np, _np_assign_l2

    _validate(dim, m, 32767)
    dsub = dim // m
    cb = collect_codebook_array(codebooks, m, dsub)
    if cb.shape[1] == 0:
        # empty codebooks (empty-corpus training): nothing is encodable —
        # the same empty result the retired inner join produced
        return df.filter(F.lit(False)).withColumn(
            out_col, F.lit(None).cast("array<smallint>")
        )
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(cb)
    vidx = df.columns.index(vec_col)
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(ShortType()), False)]
    )

    def fn(batches):
        cb_ = bc.value
        m_, _, dsub_ = cb_.shape
        for b in batches:
            V = _batch_vectors_np(b.column(vidx), dim)
            codes = np.empty((V.shape[0], m_), dtype=np.int16)
            for s in range(m_):
                codes[:, s] = _np_assign_l2(
                    V[:, s * dsub_ : (s + 1) * dsub_], cb_[s]
                )
            offsets = np.arange(V.shape[0] + 1, dtype=np.int32) * m_
            col = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.array(codes.reshape(-1), pa.int16()),
            )
            yield b.append_column(out_col, col)

    return df.mapInArrow(fn, out_schema)


def train_pq_codebooks(
    embeddings: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 256,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: float | None = None,
) -> DataFrame:
    """Train per-subspace codebooks → (subspace, code, centroid).

    Deterministic like kmeans_centroids: init = the n_codes lowest-id
    vectors' subvectors (fewer vectors than codes → fewer codes; PQ still
    works, codes just don't reach n_codes), assignment ties break to the
    lowest code, empty codes keep their previous centroid. ``sample``
    trains on a seeded fraction — PQ needs ~1k training points per code,
    not the corpus. Init is taken from the UNSAMPLED corpus: a sample that
    happens to come back empty must not silently produce empty codebooks
    (encoding under them would then drop every corpus row into an
    empty-but-'successful' index); with init from the corpus head, an
    empty sample degrades to init-only codebooks, never to data loss.

    Training runs the SAME Lloyd kernel as the IVF coarse quantizer
    (similarity._lloyd_train_arrow — one BLAS Arrow pass per iteration,
    partial sums folded driver-side in a fixed order), with m subspaces
    and L2 assignment instead of one space and rounded cosine."""
    import numpy as np

    from .similarity import _lloyd_train_arrow

    _validate(dim, m, n_codes)
    spark = embeddings.sparkSession
    init_rows = (
        embeddings.orderBy(id_col).select(vec_col).limit(n_codes).collect()
    )
    if not init_rows:
        return spark.createDataFrame([], CODEBOOK_SCHEMA)
    if sample is not None:
        embeddings = embeddings.sample(False, sample, seed=11)
    dsub = dim // m
    k = len(init_rows)
    cb0 = np.array(
        [
            [
                [float(x) for x in row[0][s * dsub : (s + 1) * dsub]]
                for row in init_rows
            ]
            for s in range(m)
        ],
        dtype=np.float64,
    )
    cb = _lloyd_train_arrow(embeddings, vec_col, dim, cb0, "l2", n_iter)
    return spark.createDataFrame(
        [
            (s, c, [float(x) for x in cb[s, c]])
            for s in range(m)
            for c in range(k)
        ],
        CODEBOOK_SCHEMA,
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (id_col, pq_code: array<smallint>) under the GIVEN (stored)
    codebooks — shared by build and append, like the IVF quantizer.
    One Arrow map (append_pq_codes) over the id-deduped input; empty
    codebooks (an empty-corpus training) yield the empty result the
    retired inner-join formulation produced. The dedup restores the
    retired groupBy(id)'s collapse: callers join the codes back by id
    (_rh_rows/_ivf_rows), and duplicate-id corpora (build performs no id
    validation) would otherwise amplify n dup rows into n² joined rows."""
    return append_pq_codes(
        embeddings.select(id_col, vec_col).dropDuplicates([id_col]),
        codebooks, dim, m, vec_col=vec_col,
    ).select(id_col, "pq_code")


def pq_lut(
    queries: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    q_id_col: str = "query_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """ADC lookup table → (query_id, subspace, code, pdot, pn2):
    Q × m × n_codes rows (KBs per query — always broadcast into the
    candidate scoring join)."""
    qsub = queries.select(
        q_id_col,
        F.explode(F.array(*_sub_slices(F.col(q_vec_col), dim, m))).alias("t"),
    ).select(q_id_col, "t.subspace", F.col("t.subvec").alias("qsub"))
    return qsub.join(F.broadcast(codebooks), "subspace").select(
        q_id_col,
        "subspace",
        "code",
        _dot(F.col("qsub"), F.col("centroid")).alias("pdot"),
        _dot(F.col("centroid"), F.col("centroid")).alias("pn2"),
    )


def pq_score(
    candidates: DataFrame,
    lut: DataFrame,
    q_norms: DataFrame,
    q_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, pq_code) × broadcast lut → (query_id, vec_id,
    approx_cos). Scoring a candidate is m lookup adds (the ADC promise);
    the groupBy collapses map-side. Zero-norm reconstructions rank last
    (-inf) — the exact re-rank never sees them unless nothing else
    survived."""
    exploded = candidates.select(
        q_id_col, "vec_id", F.posexplode("pq_code").alias("subspace", "code")
    ).withColumn("code", F.col("code").cast("int"))
    agg = (
        exploded.join(F.broadcast(lut), [q_id_col, "subspace", "code"])
        .groupBy(q_id_col, "vec_id")
        .agg(F.sum("pdot").alias("_dot"), F.sum("pn2").alias("_n2"))
    )
    return agg.join(F.broadcast(q_norms), q_id_col).select(
        q_id_col,
        "vec_id",
        F.when(
            (F.col("_n2") > 0) & (F.col("_qnorm") > 0),
            F.col("_dot") / (F.col("_qnorm") * F.sqrt(F.col("_n2"))),
        )
        .otherwise(F.lit(float("-inf")))
        .alias("approx_cos"),
    )
