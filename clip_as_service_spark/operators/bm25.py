"""BM25 idf for the index build (stage 3: per-term idf denormalized onto
the block rows, SURVEY.md §3.2).

Determinism under parallelism (SURVEY.md §7 hard part 1): idf is computed
with Python's math.log inside a tiny pandas UDF (JVM Math.log may differ
by 1 ulp from libm), so every block's idf is bit-identical to the oracle's.
Queries are scored by ``wand`` (the index) and the gate queries'
``plans.driver_queries._bm25_scores``.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


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
