"""Similarity search over embedding columns: brute-force cosine top-k
(the exactness baseline) and random-hyperplane LSH bucketing (the scale
path for 10^9+ vectors).

The reference's online candidate retrieval (`matching.py:76-181`, ES fuzzy
queries) maps to this: probe vectors -> bucketed candidates -> exact
re-rank, the batch analog of its search-then-verify loop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# same default as the LSH band cap (operators/lsh.DEFAULT_MAX_BUCKET):
# a hyperplane bucket is a candidate hypothesis exactly like a MinHash
# band bucket, so it gets the same skew guard
DEFAULT_MAX_BUCKET = 200


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, computed in
    double precision with index-order summation (oracle-reproducible)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


def brute_force_knn(
    probes: DataFrame,
    index: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast the smaller side, rank per probe.

    At scale the index side is the big one — Spark broadcasts `index` only
    if it fits; for larger indexes use `hyperplane_knn` below.
    """
    a = probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("ea"))
    b = index.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("eb"))
    sim = cosine_col(F.col("ea"), F.col("eb"))
    joined = a.join(F.broadcast(b), F.col("probe_id") != F.col("neighbor_id")).select(
        "probe_id", "neighbor_id", sim.alias("cosine")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


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


def _flip_bit(bucket: Column, i: int) -> Column:
    """Bucket string with bit i flipped (1-indexed position i+1)."""
    flipped = F.when(F.substring(bucket, i + 1, 1) == "1", F.lit("0")).otherwise(
        F.lit("1")
    )
    return F.concat(
        F.substring(bucket, 1, i), flipped, F.substring(bucket, i + 2, 2048)
    )


def _capped_index_buckets(
    index: DataFrame,
    bucket: Column,
    id_col: str,
    out_id: str,
    max_bucket_size: int | None,
) -> DataFrame:
    """(out_id, bucket) index rows with buckets above the cap excluded via
    a window count — the same streaming/spillable skew guard as
    `lsh_candidate_pairs`. Only (id, bucket) rows exist here: the vector
    column never enters the bucket shuffle."""
    b = index.select(F.col(id_col).alias(out_id), bucket.alias("bucket"))
    if max_bucket_size is not None:
        w = Window.partitionBy("bucket")
        b = (
            b.withColumn("_bs", F.count(F.lit(1)).over(w))
            .filter(F.col("_bs") <= max_bucket_size)
            .drop("_bs")
        )
    return b


def oversize_ann_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(bucket, bucket_size) for the hyperplane buckets the cap excludes —
    excluded buckets are counted, never silently dropped. Degenerate
    embeddings (all-zero vectors land in the all-ones bucket) are the
    realistic hot case this surfaces."""
    if dim is None:
        raise ValueError("oversize_ann_buckets requires dim= (see hyperplane_knn)")
    planes = hyperplane_planes(dim, n_planes, seed)
    bucket = hyperplane_bucket_col(F.col(vec_col), planes)
    return (
        embeddings.select(F.col(id_col).alias("id"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def hyperplane_knn(
    probes: DataFrame,
    index: DataFrame,
    k: int = 5,
    n_planes: int = 10,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    multiprobe: int = 0,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH buckets, exact re-rank
    within the bucket join. One shuffle on bucket keys; no cross join.

    Recall improves with fewer planes (bigger buckets) or with
    `multiprobe=1`, which ALSO probes every bucket one sign-flip away
    (n_planes+1 keys on the probe side only — the index stays one row per
    vector). Pairs outside the probed buckets are unreachable, the
    standard ANN tradeoff.

    Scale discipline (same skew guard as every LSH bucket join):
    - the bucket join moves (id, bucket) rows ONLY — vectors are joined
      back for the surviving candidate pairs, so a hot bucket never drags
      full embeddings through the shuffle;
    - index buckets above `max_bucket_size` are excluded from the join
      (count them with `oversize_ann_buckets` — a degenerate/all-zero
      embedding bucket at 10^9 vectors would otherwise join O(n^2/2^p));
    - with a fixed plane count buckets grow linearly with the corpus:
      size `n_planes ≈ log2(n_vectors / target_bucket_size)` so the cap
      stays a guard, not the recall path.

    `dim` is required: array columns carry no length in the schema, and
    inferring it would run a hidden driver-side job inside an operator.
    """
    if dim is None:
        raise ValueError(
            "hyperplane_knn requires dim= (the embedding width): the schema "
            "cannot provide it and inferring it would trigger a hidden "
            "driver-side action"
        )
    planes = hyperplane_planes(dim, n_planes, seed)
    bucket = hyperplane_bucket_col(F.col(vec_col), planes)
    if multiprobe:
        probe_buckets = F.array(bucket, *[_flip_bit(bucket, i) for i in range(n_planes)])
        a = probes.select(
            F.col(id_col).alias("probe_id"),
            F.explode(probe_buckets).alias("bucket"),
        )
    else:
        a = probes.select(F.col(id_col).alias("probe_id"), bucket.alias("bucket"))
    b = _capped_index_buckets(index, bucket, id_col, "neighbor_id", max_bucket_size)
    cand = a.join(b, on="bucket").filter(
        F.col("probe_id") != F.col("neighbor_id")
    ).select("probe_id", "neighbor_id")
    if multiprobe:
        # dedupe (probe, neighbor) BEFORE fetching vectors: a pair reachable
        # through several probed buckets costs one cosine, not n_planes
        cand = cand.distinct()
    pv = probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("ea"))
    iv = index.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("eb"))
    joined = cand.join(pv, on="probe_id").join(iv, on="neighbor_id")
    sim = cosine_col(F.col("ea"), F.col("eb"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        joined.select("probe_id", "neighbor_id", sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def bucketed_similar_pairs(
    embeddings: DataFrame,
    threshold: float,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(id_a, id_b, cosine) for same-bucket pairs with cosine >= threshold
    — the bounded-at-scale form of the all-pairs threshold query.

    Routed through the SAME capped band machinery as every text strategy
    (`lsh_candidate_pairs`: one band-table shuffle, window-count cap,
    native in-bucket combination expansion), with band_id='emb' — exactly
    how the in-pipeline embedding strategy generates candidates. Vectors
    are joined back only for the surviving candidate pairs, so the bucket
    shuffle is (id, bucket), never (id, vector). Buckets above
    `max_bucket_size` are excluded (count them via `oversize_ann_buckets`);
    cross-bucket pairs are sacrificed (ANN recall tradeoff) — raise recall
    with fewer planes, or route high-stakes tiers through multiprobe
    hyperplane_knn. With a fixed plane count buckets grow linearly with
    corpus size: pick `n_planes ≈ log2(n / target_bucket)`.
    """
    if dim is None:
        raise ValueError("bucketed_similar_pairs requires dim= (see hyperplane_knn)")
    from fuzzycat_spark.operators.lsh import lsh_candidate_pairs

    planes = hyperplane_planes(dim, n_planes, seed)
    bucket = hyperplane_bucket_col(F.col(vec_col), planes)
    bands = embeddings.select(
        F.col(id_col).alias("id"),
        F.lit("emb").alias("band_id"),
        bucket.alias("band_hash"),
    )
    cand = lsh_candidate_pairs(bands, max_bucket_size)
    ev = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("e"))
    cos = cosine_col(F.col("_ea"), F.col("_eb"))
    return (
        cand.join(ev.select(F.col("id").alias("id_a"), F.col("e").alias("_ea")), on="id_a")
        .join(ev.select(F.col("id").alias("id_b"), F.col("e").alias("_eb")), on="id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.round(F.col("cosine"), 9) >= threshold)
    )
