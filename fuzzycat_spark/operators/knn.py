"""Embedding kernels of the `embedding` dedup strategy: cosine similarity
of two vector columns (its verify tier) and seeded random-hyperplane
sign-bit buckets (its band rows).

The buckets go through the same band table, bucket cap
(`DedupConfig.max_bucket_size`) and pair expansion as every other
approximate strategy (`operators/lsh.lsh_candidate_pairs`), so there is one
ANN path, in batch and in the stream. The reference's online candidate
retrieval (`matching.py:76-181`, ES fuzzy queries) maps to the stream's
probe of its committed band state: bucketed candidates -> exact cosine
re-check.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, computed in
    double precision with index-order summation (oracle-reproducible)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


def hyperplane_planes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (unit-free; only the sign matters)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def hyperplane_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket string from literal hyperplanes — pure Catalyst
    (zip_with dot products against array literals), so the same expression
    is DuckDB-expressible for the oracle."""
    vd = F.transform(vec, lambda x: x.cast("double"))
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(vd, F.lit(p).cast("array<double>"), lambda x, y: x * y),
                F.lit(0.0),
                lambda s, v: s + v,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)
