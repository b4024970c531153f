"""Vector/embedding column math — built-in array functions, JVM-side.

Dot products, norms and cosine similarity over `array<float/double>`
columns via ``F.zip_with`` + ``F.aggregate`` (whole-stage codegen; no
Python in the hot path), plus a deterministic random-hyperplane LSH for
bucketed near-neighbor search.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def lsh_bucket_udf(dim: int, n_planes: int = 16):
    """Pandas UDF: embedding → int64 sign-LSH bucket (batch matmul) over
    ``n_planes`` fixed random hyperplanes (seed 42)."""
    planes = np.random.default_rng(42).standard_normal((n_planes, dim))
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(T.LongType())
    def bucket(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy())
        signs = (m @ planes.T) > 0
        return pd.Series((signs @ weights).astype(np.int64))

    return bucket
