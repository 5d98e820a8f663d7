"""Vector math over ArrayType(FloatType) embedding columns.

Reference behavior: normalized embeddings + numpy dot-product matrix
(/root/reference/src/epstein_pipeline/processors/dedup.py:443-448) and
pgvector cosine top-k (exporters/neon_schema.py:301-326).

All expressions stay JVM-side (higher-order functions); a Pandas-UDF
variant is provided for bulk scoring where numpy BLAS wins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def make_cosine_to_query_udf(query_vec: list[float]):
    """pandas UDF scoring every row against one broadcast query vector
    with a single BLAS matvec per Arrow batch."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / np.linalg.norm(q)

    @F.pandas_udf(T.DoubleType())
    def cos_to_query(embs: pd.Series) -> pd.Series:
        mat = np.vstack(embs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        return pd.Series((mat @ q) / norms)

    return cos_to_query
