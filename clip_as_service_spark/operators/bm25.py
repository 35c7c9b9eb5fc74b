"""BM25 scoring + per-query top-k — the *rank/search* verbs of the reference
re-expressed (SURVEY.md §3.2/3.3).

Reference semantics carried over:
- per-query candidate scoring then descending sort
  (executors/helper.py:89-124, tests/test_ranker.py:34-35)
- exactly ``limit`` results per query (tests/test_search.py:41-44)
- deterministic order: the reference gets it from Python's stable sort;
  we pin (score DESC, doc_id ASC)
- empty/OOV query → empty result, no error (tests/test_client.py:83-98)

Determinism under parallelism (SURVEY.md §7 hard part 1): every float op is
bit-identical to the oracle —
- idf is computed with Python's math.log inside a tiny pandas UDF (JVM
  Math.log may differ by 1 ulp from libm);
- per-(query,doc) partials are summed in ascending-term order via
  collect_list → array_sort → aggregate fold, so no shuffle/partitioning can
  change float association.

Scale shape (100 TB): query_terms × idf is tiny (Q·|q| rows) and is
broadcast to the postings join — the only big-table scan is the postings
table itself, partition-pruned by term (index_build.py shards). The window
top-k is per-query (Q partitions), negligible.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from .. import B, K1
from ..functions.text import make_tokenize_udf
from .similarity import topk_rows


@pandas_udf(DoubleType())
def _idf_udf(df_col: pd.Series, n_docs: pd.Series) -> pd.Series:
    """Okapi idf = ln(1 + (N - df + 0.5)/(df + 0.5)) via Python math.log —
    bit-identical to oracle.BM25Oracle.idf."""
    return pd.Series(
        [
            math.log(1.0 + (n - d + 0.5) / (d + 0.5))
            for d, n in zip(df_col.astype("int64"), n_docs.astype("int64"))
        ],
        dtype="float64",
    )


def query_terms(
    queries: DataFrame,
    term_mode: str = "word",
    bpe_path: str | None = None,
) -> DataFrame:
    """queries(query_id, text) → DISTINCT (query_id, term) via the
    byte-identity tokenizer (duplicate query terms count once — matches
    oracle.score_all). term_mode must match the index's build vocabulary."""
    tok_udf = make_tokenize_udf(term_mode, bpe_path)
    return (
        queries.select(
            "query_id", F.explode(tok_udf(F.col("text"))).alias("term")
        )
        .distinct()
    )


def score_topk(
    postings: DataFrame,
    queries: DataFrame,
    term_df: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    term_mode: str = "word",
    bpe_path: str | None = None,
) -> DataFrame:
    """→ (query_id, rank, doc_id, score) — exact BM25 top-k per query.

    Plan: qt(query_id,term) ⋈ term_df → idf (tiny, broadcast) ⋈ postings on
    term → partial per row → groupBy(query_id, doc_id) ordered-sum → window
    row_number ≤ k. term_mode must match the postings' build vocabulary
    (word-tokenized queries against BPE-id terms would match nothing).
    """
    qt = query_terms(queries, term_mode, bpe_path)
    qt_idf = (
        qt.join(term_df, "term")
        .withColumn("idf", _idf_udf(F.col("df"), F.lit(n_docs)))
        .select("query_id", "term", "idf")
    )

    # partial = idf * (tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)))
    # — association mirrors oracle.score_all and codec.impact_weights exactly.
    joined = postings.join(F.broadcast(qt_idf), "term")
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    partials = joined.select(
        "query_id",
        "doc_id",
        "term",
        (F.col("idf") * (F.col("tf") * F.lit(k1 + 1.0) / denom)).alias("partial"),
    )

    # ordered float64 fold: 0.0 + p(t1) + p(t2) ... in ascending-term order
    scores = (
        partials.groupBy("query_id", "doc_id")
        .agg(F.collect_list(F.struct("term", "partial")).alias("parts"))
        .select(
            "query_id",
            "doc_id",
            F.aggregate(
                F.array_sort("parts"),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x["partial"],
            ).alias("score"),
        )
    )

    return topk_rows(
        scores, "query_id", [F.desc("score"), F.asc("doc_id")], k
    ).select("query_id", "rank", "doc_id", "score")
