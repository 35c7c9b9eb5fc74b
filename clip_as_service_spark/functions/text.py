"""Spark-side text functions — Arrow-vectorized pandas UDFs wrapping the
vendored byte-identity oracle (textnorm.py).

Why pandas UDFs and not built-ins here: the reference normalization uses
ftfy + the ``regex`` module's ``\\p{L}`` Unicode classes
(simple_tokenizer.py:58-61, 89-92); Java regex edge-semantics differ, so
byte-identity with the oracle demands the same Python functions. The batch
loop lives INSIDE the UDF over an Arrow batch — Spark never crosses into
Python per row (BASELINE.json: "no per-row Python").

Everything expressible with built-ins stays JVM-side: the whitespace collapse
(F2) alone is also exposed as ``whitespace_clean_col`` (pure
``regexp_replace``/``trim``) for pipelines that skip F1/F3.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..textnorm import extract_text_from_html, normalize, tokenize_words


@pandas_udf(StringType())
def clean_text_udf(texts: pd.Series) -> pd.Series:
    """F1+F2: basic_clean + whitespace_clean (reference simple_tokenizer.py:58-67)."""
    return texts.map(lambda t: normalize(t) if t is not None else None)


@pandas_udf(ArrayType(StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """F1-F3: normalize → lower → token-regex findall (simple_tokenizer.py:137-138)."""
    return texts.map(lambda t: tokenize_words(t) if t is not None else None)


TOKENS_TF_SCHEMA = StructType(
    [
        StructField("dl", IntegerType()),
        StructField("terms", ArrayType(StringType())),
        StructField("tfs", ArrayType(IntegerType())),
    ]
)


@pandas_udf(TOKENS_TF_SCHEMA)
def tokenize_tf_udf(texts: pd.Series) -> pd.DataFrame:
    """F1-F3 + per-doc term frequencies in ONE Python crossing.

    tf and dl are per-document quantities, so counting them inside the UDF
    makes the whole pages→postings stage shuffle-free (narrow plan: scan →
    ArrowEvalPython → explode → write). The groupBy(term, doc_id) a naive
    plan would shuffle 3× more rows for is free here — the document IS the
    group.

    Returns parallel arrays (terms, tfs) rather than array<struct>: plain
    list cells Arrow-convert ~5× faster than per-posting Python dicts; the
    zip back into posting rows happens JVM-side (arrays_zip + explode)."""
    dls: list[int] = []
    terms: list[list[str]] = []
    tfs: list[list[int]] = []
    for t in texts:
        toks = tokenize_words(t) if t is not None else []
        c = Counter(toks)
        dls.append(len(toks))
        terms.append(list(c.keys()))
        tfs.append(list(c.values()))
    return pd.DataFrame({"dl": dls, "terms": terms, "tfs": tfs})


def make_tokenize_tf_udf(term_mode: str = "word", bpe_path: str | None = None):
    """tokenize_tf_udf for a given term mode: 'word' (default, F1-F3 word
    terms) or 'bpe' (vendored-merge BPE ids as string terms — SURVEY.md §7
    flagged path). Only the merges PATH is captured by the closure; each
    worker process builds the tokenizer once (textnorm.get_bpe memo)."""
    if term_mode == "word":
        return tokenize_tf_udf
    if term_mode != "bpe":
        raise ValueError(f"unknown term_mode {term_mode!r}")

    @pandas_udf(TOKENS_TF_SCHEMA)
    def bpe_tokenize_tf_udf(texts: pd.Series) -> pd.DataFrame:
        from ..textnorm import get_bpe, tokenize_bpe_terms

        bpe = get_bpe(bpe_path)
        dls: list[int] = []
        terms: list[list[str]] = []
        tfs: list[list[int]] = []
        for t in texts:
            toks = tokenize_bpe_terms(t, bpe) if t is not None else []
            c = Counter(toks)
            dls.append(len(toks))
            terms.append(list(c.keys()))
            tfs.append(list(c.values()))
        return pd.DataFrame({"dl": dls, "terms": terms, "tfs": tfs})

    return bpe_tokenize_tf_udf


@pandas_udf(StringType())
def extract_text_udf(blobs: pd.Series) -> pd.Series:
    """html:binary → extracted text (byte-identical to oracle's extractor)."""
    return blobs.map(
        lambda b: extract_text_from_html(bytes(b)) if b is not None else None
    )


def whitespace_clean_col(col: Column) -> Column:
    """F2 as pure built-ins (JVM-side, codegen): collapse \\s+ → ' ', trim.

    FAST PATH ONLY — not byte-identical to the oracle on non-ASCII
    whitespace: Python's ``\\s`` matches U+00A0/U+2028/… while Java's is
    ASCII-only (and Java's ``(?U)\\s`` in turn matches a slightly different
    set than Python, e.g. U+001C-001F). Pipelines needing the invariant use
    ``clean_text_udf``; this column is for throughput-only normalization.
    The divergence is pinned by tests/test_byte_identity.py."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))
