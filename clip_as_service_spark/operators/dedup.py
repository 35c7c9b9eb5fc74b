"""Deduplication operators for training-data pipelines — first-class engine
components (the reference dedups nothing, but its scored-similarity semantics
— cosine matrix + threshold, executors/helper.py:93-105 — generalize to
near-duplicate detection over a corpus).

Every operator is pure DataFrame API (no Python UDFs): the hash family is
built on md5 hex (identical in Spark and ANSI SQL engines), so each operator
has a byte-equivalent SQL oracle.

- exact:        content-hash groupBy
- minhash_lsh:  k-shingles → n permutation-hash minima → b bands → bucket
                join → candidate pairs (classic MinHash+LSH, Broder 1997)
- simhash:      60-bit sign-of-weighted-bit-sums fingerprint (Charikar 2002)
- ngram_jaccard: exact pairwise Jaccard over shingle sets via equi-join on
                shingle (the verification stage after LSH, or standalone)

Scale notes: every shuffle key here is (doc, shingle) / (band, bucket) —
near-uniform. The LSH band join is the standard way to avoid the O(N²)
cross join at 10^12 docs; with candidates supplied, the Jaccard verifier's
COMPUTE (not just its output) is candidate-driven — the shingle self-join
never executes (candidate_intersections).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic permutation-hash constants (shared with the SQL oracles).
# MinHash permutations use a 40-bit base hash and a 31-bit Mersenne modulus
# so a*h+b stays far below 2^63 — Spark 4 runs ANSI mode (overflow throws)
# and DuckDB would silently promote to INT128 (diverging results).
MOD_P = (1 << 31) - 1
HASH_A = [3 + 8 * i for i in range(64)]  # odd multipliers
HASH_B = [1 + 7 * i for i in range(64)]
MINHASH_NIBBLES = 10  # 40-bit base hash for permutation arithmetic
FP_NIBBLES = 15  # 60-bit base hash for fingerprints/simhash (no arithmetic)


def base_hash_col(col, nibbles: int = FP_NIBBLES) -> F.Column:
    """Base hash identical in Spark and DuckDB: first `nibbles` hex chars of
    md5 → bigint (4·nibbles bits, positive)."""
    return F.conv(F.substring(F.md5(col), 1, nibbles), 16, 10).cast("long")


def _gram_arrays(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """→ (id, grams: array<string>) word k-grams IN-ROW (split on single
    space). Docs with <k tokens yield an empty array (an unguarded
    sequence(0, size-k) would DESCEND for sub-k docs — Spark sequence is
    bidirectional — and the resulting negative index crashes slice();
    short/empty docs are guaranteed in web corpora)."""
    tokens = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ").alias("toks"),
    )
    return tokens.select(
        "id",
        F.when(
            F.size("toks") >= k,
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - k),
                lambda i: F.concat_ws(" ", F.slice("toks", i + 1, k)),
            ),
        ).otherwise(F.array().cast("array<string>")).alias("grams"),
    )


def shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """→ (id, shingle) distinct word k-grams (split on single space)."""
    return (
        _gram_arrays(df, id_col, text_col, k)
        .select("id", F.explode("grams").alias("shingle"))
        .distinct()
    )


def minhash_signatures(
    sh: DataFrame, n_hashes: int = 16
) -> DataFrame:
    """→ (id, mh_0 .. mh_{n-1}) one row per doc."""
    h = sh.select("id", base_hash_col(F.col("shingle"), MINHASH_NIBBLES).alias("h"))
    aggs = [
        F.min((F.lit(HASH_A[i]) * F.col("h") + F.lit(HASH_B[i])) % F.lit(MOD_P)).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return h.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """→ (id_a, id_b) candidate near-dup pairs (id_a < id_b), distinct.

    Docs collide if any band (n_hashes/n_bands consecutive minima) matches
    exactly — the band value is md5 over the concatenated minima."""
    rows_per_band = n_hashes // n_bands
    # NOTE r07: an in-row signature variant (array_min over per-gram
    # permutation transforms — zero shuffle) was built and A/B-measured
    # NET-SLOWER (5.1-6.8s vs 4.8s at sf0.1): higher-order functions are
    # CodegenFallback, so 16 interpreted folds per doc lose to the
    # codegen'd explode + map-side-combined groupBy they would replace.
    sig = minhash_signatures(shingles(df, id_col, text_col, k), n_hashes)
    band_cols = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *[c.cast("string") for c in cols])).alias("bucket"),
            )
        )
    buckets = sig.select(
        "id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def candidate_intersections(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """→ (id_a, id_b, inter) shingle-intersection counts computed FROM the
    candidate pairs — the shingle self-join never executes.

    Plan shape: semi-join each side's shingles down to candidate doc ids,
    then route candidate pairs through (id_a)-shingles and equi-join on
    (id_b, shingle). Join work is Σ_pairs |shingles(a)| + an equi-join keyed
    on (id, shingle) — bounded by the candidate set, NOT by Σ df² (a single
    boilerplate shingle shared by 10⁶ docs contributes 10⁶ rows here, not
    5·10¹¹ self-join rows). Candidate pairs with an empty intersection drop
    out (they could never pass a positive Jaccard threshold).

    Caller-supplied pairs are NORMALIZED to the documented (id_a < id_b)
    orientation first (least/greatest + self-pair drop): a pair handed in as
    (b, a) would otherwise be scored and emitted reversed, breaking
    dedup_survivors' left-anti join on id_b."""
    cand = (
        cand.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh_c = sh.join(cand_ids, "id", "left_semi")
    sha = sh_c.select(F.col("id").alias("id_a"), "shingle")
    shb = sh_c.select(F.col("id").alias("id_b"), "shingle")
    return (
        cand.join(sha, "id_a")
        .join(shb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """→ (id_a, id_b, jaccard) exact shingle-set Jaccard ≥ threshold.

    Without `candidates`, pairs come from the shingle equi-join (docs sharing
    ≥1 shingle) — exact but O(Σ df²) in the worst case; small/oracle
    workloads only. With `candidates` the verify is CANDIDATE-DRIVEN: both
    compute and output are bounded by the candidate set (see
    candidate_intersections) — the only shape that exists at 10^12 docs."""
    sh = shingles(df, id_col, text_col, k)
    if candidates is not None:
        inter = candidate_intersections(sh, candidates)
        # sizes only needed for candidate docs — semi-join before the agg
        sizes = (
            sh.join(
                candidates.select(F.col("id_a").alias("id"))
                .union(candidates.select(F.col("id_b").alias("id")))
                .distinct(),
                "id",
                "left_semi",
            )
            .groupBy("id")
            .agg(F.count("*").alias("sz"))
        )
    else:
        sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, n_bits: int = 60
) -> DataFrame:
    """→ (id, simhash) tf-weighted 60-bit SimHash.

    bit_j(doc) = 1 if Σ_terms tf·(2·bit_j(h(term)) − 1) > 0. Built entirely
    from shifts/sums — identical SQL exists."""
    tokens = df.select(
        F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = tokens.groupBy("id", "term").agg(F.count("*").alias("tf"))
    h = tf.withColumn("h", base_hash_col(F.col("term")))
    bit_sums = h.groupBy("id").agg(
        *[
            F.sum(
                F.col("tf")
                * (F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s_{j}")
            for j in range(n_bits)
        ]
    )
    fp = bit_sums.select(
        "id",
        sum(
            [
                F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
                for j in range(n_bits)
            ],
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return fp


def near_dup_pipeline(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """THE scale-default near-dup path: LSH candidates bound the Jaccard
    verify → (id_a, id_b, jaccard ≥ threshold) verified pairs.

    Standalone ngram_jaccard_pairs is exact but O(Σ df²) on the shingle
    self-join — at web scale it must always be candidate-bounded, so this
    composite is the default entry point; the unbounded form stays available
    for small/oracle workloads. Greedy survivor policy: a downstream
    `drop = pairs.select(id_b).distinct()` keeps the lowest id of every
    duplicate cluster (transitively: any doc that is the higher id of some
    verified pair is dropped — the standard keep-first policy, no iterative
    connected components needed)."""
    cand = lsh_candidate_pairs(
        df, id_col, text_col, k=k, n_hashes=n_hashes, n_bands=n_bands
    )
    return ngram_jaccard_pairs(
        df, id_col, text_col, k=k, threshold=threshold, candidates=cand
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 60,
    n_bands: int = 4,
    max_hamming: int | None = None,
) -> DataFrame:
    """→ (id_a, id_b, hamming): SimHash near-dup pairs via banded
    Hamming-neighbor join — the same LSH trick as MinHash banding, applied
    to the fingerprint bits.

    The n_bits fingerprint is split into n_bands exact-match keys
    (band_bits = n_bits/n_bands each); two docs are CANDIDATES iff ≥1 band
    matches exactly. By pigeonhole, every pair within Hamming distance
    ≤ n_bands−1 is guaranteed to collide on some band (d differing bits can
    ruin at most d bands), so the default max_hamming = n_bands−1 is exact,
    not approximate. Candidates are verified with exact bit_count(xor).

    Scale shape: band/key equi-join — but over DISTINCT FINGERPRINTS, not
    docs (fp_candidate_pairs). Degenerate fingerprints (all-zero from
    empty-ish docs, boilerplate pages) collapse to ONE row per band in the
    join regardless of how many docs share them — the hot-bucket blowup is
    auto-guarded; the docs expand back only per verified fingerprint pair
    (and same-fingerprint groups, whose pairs are genuine Hamming-0 output).
    """
    if max_hamming is None:
        max_hamming = n_bands - 1
    fp = simhash_fingerprints(df, id_col, text_col, n_bits)
    fpp = fp_candidate_pairs(fp, n_bits, n_bands, max_hamming)
    ga = fp.select(F.col("id").alias("_ida"), F.col("simhash").alias("sh_a"))
    gb = fp.select(F.col("id").alias("_idb"), F.col("simhash").alias("sh_b"))
    return (
        fpp.join(ga, "sh_a")
        .join(gb, "sh_b")
        .filter(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
        .distinct()
    )


def fp_candidate_pairs(
    fp: DataFrame, n_bits: int, n_bands: int, max_hamming: int
) -> DataFrame:
    """→ (sh_a ≤ sh_b, hamming ≤ max_hamming) over DISTINCT fingerprints.

    The banded equi-join runs on the distinct-fingerprint table: a fixture
    where m docs share one degenerate fingerprint contributes 1 band row per
    band here, not m (the m·(m−1)/2 doc pairs are expansion output, never
    join compute). sh_a == sh_b (Hamming 0) is kept so same-fingerprint doc
    groups expand to their pairs downstream."""
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    dfp = fp.select("simhash").distinct()
    bands = dfp.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.simhash") <= F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 30,
    algorithm: str = "minlabel",
) -> DataFrame:
    """→ (id, cluster_id): transitive dedup clusters over verified pairs —
    cluster_id = min doc id reachable through the pair graph (so the cluster
    id IS the canonical survivor, and survivors are `cluster_id == id`).

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels; converges in O(diameter)
    rounds. Near-dup clusters are shallow (dups of a common source), so this
    beats the O(log n)-round large-star/small-star alternating scheme
    (Kiveris et al. 2014, public algorithm) in practice while staying pure
    DataFrame ops — at adversarial diameters swap the loop body for the
    star operators. Lineage is cut per round (localCheckpoint; a durable
    checkpoint dir on a real cluster), and convergence detection is sound
    because labels only ever decrease: when Σ labels stops changing, no
    label moved.

    `pairs`: (id_a, id_b). `nodes`: optional (id) universe — ids absent
    from any pair become singleton clusters (cluster_id = id).

    ``algorithm``: 'minlabel' (default, O(diameter) rounds — right for
    shallow dup clusters) or 'star' — the alternating large-star/small-star
    scheme (Kiveris et al. 2014, public algorithm), O(log n)-ish rounds
    regardless of diameter: the scale-safe choice for adversarial chain
    graphs. Both produce identical (id, cluster_id) output."""
    edges = pairs.select("id_a", "id_b")
    und = edges.union(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    if algorithm == "minlabel":
        # cut the UPSTREAM lineage once: every propagation round joins
        # `und`, and without this the whole pair-producing pipeline
        # (LSH candidates + verify) re-executes per round — only `labels`
        # was checkpointed. (The star branch checkpoints its edge set on
        # entry already.) localCheckpoint here; a durable checkpoint dir on
        # a real cluster.
        und = und.localCheckpoint()
    if nodes is None:
        nodes = und.select(F.col("id_a").alias("id")).distinct()
    else:
        nodes = nodes.select("id").distinct()
    if algorithm == "star":
        return _cc_star(edges, nodes, max_iter)
    if algorithm != "minlabel":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # convergence metric in DECIMAL(38): Σ of 10^12 64-bit ids overflows a
    # long (ANSI mode throws); labels only ever decrease, so an unchanged
    # Σ ⇔ fixpoint
    _s = F.sum(F.col("cc").cast("decimal(38,0)"))
    labels = nodes.select("id", F.col("id").alias("cc")).localCheckpoint()
    prev_sum = labels.agg(_s).collect()[0][0]
    for _ in range(max_iter):
        nbr = (
            und.join(labels, und["id_b"] == labels["id"])
            .groupBy(F.col("id_a").alias("id"))
            .agg(F.min("cc").alias("nbr_cc"))
        )
        labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(F.col("cc"), F.coalesce("nbr_cc", "cc")).alias("cc"),
            )
            .localCheckpoint()
        )
        s = labels.agg(_s).collect()[0][0]
        if s == prev_sum:
            break
        prev_sum = s
    else:
        # silent truncation would split a >max_iter-diameter component into
        # several clusters with no sign anything went wrong
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "the pair graph has a longer path component than expected; "
            "raise max_iter or switch the loop body to the alternating "
            "large-star/small-star operators (O(log n) rounds)"
        )
    return labels.select("id", F.col("cc").alias("cluster_id"))


def _cc_star(edges: DataFrame, nodes: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al. 2014): converges in O(log n)-ish alternation rounds independent of
    graph DIAMETER — the hole min-label propagation leaves open on
    adversarial chain graphs (O(diameter) rounds there).

    One round = large-star then small-star over the working edge set:
      large-star: every node u links its strictly-larger neighbors to
                  m(u) = min(N(u) ∪ {u})
      small-star: orient every edge high→low; every node u links its
                  (smaller) neighbors and itself to its min neighbor
    Each op is a groupBy-min + join + distinct — all hash-partitioned on
    node id, no windows, no Python. Convergence = the oriented edge set is
    UNCHANGED (exceptAll probe; sound because a stable set is exactly the
    algorithm's fixpoint, a star forest whose centers are component
    minima). Lineage is cut per round (localCheckpoint — a durable
    checkpoint dir on a real cluster). Skew note: the final rounds route a
    component's nodes through its minimum — the same hot-key shape as any
    CC output; the per-round distinct bounds it to one row per (node,
    label)."""
    cur = (
        edges.filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.greatest("id_a", "id_b").alias("src"),
            F.least("id_a", "id_b").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # -- large-star ----------------------------------------------------
        sym = cur.union(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        m = F.least(F.col("src"), F.col("mn"))
        ls = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # -- small-star (input already oriented src > dst by construction) --
        mins2 = ls.groupBy("src").agg(F.min("dst").alias("mn"))
        ss = (
            ls.join(mins2, "src")
            .filter(F.col("dst") != F.col("mn"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .union(mins2.select("src", F.col("mn").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        changed = (
            ss.exceptAll(cur).limit(1).count() > 0
            or cur.exceptAll(ss).limit(1).count() > 0
        )
        cur = ss
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components(algorithm='star') did not converge in "
            f"{max_iter} alternation rounds — pathological for an O(log n) "
            "scheme; inspect the pair graph"
        )
    # fixpoint is a star forest: (src → component min); roots + singletons
    # get their own id
    labels = cur.select(F.col("src").alias("id"), F.col("dst").alias("cluster_id"))
    return nodes.join(labels, "id", "left").select(
        "id", F.coalesce("cluster_id", "id").alias("cluster_id")
    )
