"""pages → postings: the *encode* stage of the reference re-expressed.

Reference lifecycle (SURVEY.md §3.1): client.encode streams Documents to a
GPU executor that maps batches through a tokenizer and writes embeddings
(executors/clip_torch.py:135-224). Our analog: one declarative job —

    pages → [doc_id assignment] → tokenize (Arrow pandas UDF, the ONLY
    Python crossing) → explode(terms) → groupBy(doc_id, term).count() as tf

Scale notes (100 TB):
- explode + groupBy(doc_id, term) is map-side combinable (partial_count
  before shuffle) and the (doc_id, term) key space is near-uniform — doc_id
  spreads every head term across all partitions, so THIS shuffle has no skew
  problem. Skew appears later when grouping by term alone (index build);
  handled there (index_build.py).
- doc_len is derived from the same postings (sum of tf), no second scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_doc_ids(
    pages: DataFrame, method: str = "dense", counts_out: dict | None = None
) -> DataFrame:
    """Add an int64 ``doc_id`` keyed on url (SURVEY.md §7 locked decision).

    - ``dense`` (default): dense 1..N ids in INPUT order, fully narrow —
      per-partition offsets come from one metadata-only count pass (parquet
      row counts, no column reads), then doc_id = offset[pid] + in-partition
      row index (the low 33 bits of monotonically_increasing_id). Zero
      shuffles. DENSE ids are what make delta-gap vByte effective
      (gaps ~N/df, 1-2 bytes) and enable the direct-array scorer; sparse
      64-bit hash ids produce ~7-byte gaps and kill both. Deterministic
      given the input file set + session split config; the postings
      checkpoint is the durable id↔url record.
    - ``dense_sorted``: dense ids in url order — repartitionByRange(url) +
      sortWithinPartitions + offsets (one materialization). Pays a full
      shuffle; use when url-ordered ids are required.
    - ``row_number``: url-ordered ids via a global window — collapses to one
      partition; fixtures/tests only.
    - ``hash``: xxhash64(url) — shuffle-free content-derived ids; used by
      the hierarchical merge path where partial builds must agree on ids
      without coordination. (64-bit birthday bound needs monitoring at
      10^12 docs, or widen to (hash, url) keys.)
    """
    if method == "hash":
        return pages.withColumn("doc_id", F.xxhash64(F.col("url")))
    if method == "row_number":
        w = Window.orderBy(F.col("url"))
        return pages.withColumn("doc_id", F.row_number().over(w).cast("long"))
    if method == "dense":
        return _dense_ids(pages, persist=False, counts_out=counts_out)
    if method == "dense_sorted":
        spark = pages.sparkSession
        n_part = max(spark.sparkContext.defaultParallelism * 2, 2)
        ranged = pages.repartitionByRange(n_part, "url").sortWithinPartitions("url")
        # persist: the count pass and the id pass must see the same
        # (sampled) range partitioning — one materialization (at 100 TB a
        # durable intermediate table instead of a cache)
        return _dense_ids(ranged, persist=True, counts_out=counts_out)
    raise ValueError(f"unknown doc_id method {method!r}")


def _dense_ids(
    src: DataFrame, persist: bool, counts_out: dict | None = None
) -> DataFrame:
    """doc_id = offset[partition] + in-partition row index + 1.

    monotonically_increasing_id = pid·2^33 + physical row index, so the low
    33 bits are the in-partition rank with no shuffle. counts_out (if given)
    receives {'n_pages': Σ counts} — the TRUE page total as seen by the
    count pass, which downstream invariants compare against the id pass
    (compensating partition drift between the two scans can otherwise
    produce a duplicate id that max/distinct checks alone cannot see)."""
    spark = src.sparkSession
    with_pid = src.select(
        "*",
        F.spark_partition_id().alias("_pid"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    if persist:
        with_pid = with_pid.persist()
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if counts_out is not None:
        counts_out["n_pages"] = acc
    offsets_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _offset long"
    )
    local_rank = F.col("_mid") - F.col("_pid").cast("long") * F.lit(1 << 33)
    return (
        with_pid.join(F.broadcast(offsets_df), "_pid")
        .withColumn("doc_id", (F.col("_offset") + local_rank + 1).cast("long"))
        .drop("_pid", "_mid", "_offset")
    )


def build_postings(
    pages_with_ids: DataFrame,
    text_col: str = "text",
    term_mode: str = "word",
    bpe_path: str | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """→ postings rows (term, doc_id, tf, dl) — SHUFFLE-FREE.

    term_mode selects the index vocabulary: 'word' (default; F1-F3 word
    tokens, SURVEY.md §7 locked decision) or 'bpe' (BPE ids as string terms
    via the vendored merge table — the flagged alternative, reference
    simple_tokenizer.py:135-143).

    tf and dl are per-document quantities, counted inside the tokenize UDF
    (tokenize_tf_udf), so the plan is scan → ArrowEvalPython → explode: no
    exchange at all. dl is denormalized onto every posting row so the query
    path never joins an N-row doc-length table (standard impact-ordered-index
    practice; SURVEY.md §7 M1).

    Zero-token documents (empty/whitespace-only text — guaranteed in web
    corpora) emit ONE sentinel row (term=NULL, tf=NULL, dl=0) via
    explode_outer, so the postings checkpoint is a complete record of the
    corpus: n_docs/avgdl derived from it count every page (the oracle does),
    and dense doc_ids stay contiguous in the scorer's view. Term-keyed
    consumers (term_df, the block build, query joins) filter/inner-join the
    NULL term away.
    """
    from ..functions.text import make_tokenize_tf_udf

    tf_udf = make_tokenize_tf_udf(term_mode, bpe_path)
    # carry_cols ride through unchanged (per-doc metadata, e.g. a crawl
    # timestamp the streaming compactor needs for latest-crawl-wins dedup)
    toks = pages_with_ids.select(
        "doc_id", *carry_cols, tf_udf(F.col(text_col)).alias("t")
    )
    return toks.select(
        "doc_id",
        *carry_cols,
        F.col("t.dl").alias("dl"),
        F.explode_outer(F.arrays_zip("t.terms", "t.tfs")).alias("p"),
    ).select(
        F.col("p.terms").alias("term"),
        "doc_id",
        F.col("p.tfs").alias("tf"),
        "dl",
        *carry_cols,
    )


def corpus_stats(postings: DataFrame) -> dict:
    """Global N and avgdl — exact (BM25 scoring), single pass.

    avgdl is computed as exact-integer Σdl / N (bit-identical to the oracle's
    float64 division of exact ints)."""
    per_doc = postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    row = per_doc.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_dl")
    ).collect()[0]
    n_docs = row["n_docs"]
    avgdl = (row["total_dl"] / n_docs) if n_docs else 0.0
    return {"n_docs": int(n_docs), "avgdl": float(avgdl)}


def term_df(postings: DataFrame) -> DataFrame:
    """→ (term, df) — exact document frequency per term.

    (doc_id is unique per (term, doc_id) posting row by construction, so
    count(*) == countDistinct(doc_id) without the distinct shuffle. NULL-term
    sentinel rows — zero-token docs — are not terms.)"""
    return (
        postings.filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
