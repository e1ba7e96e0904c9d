"""Fixed-point Lloyd k-means over embedding columns — the clustering
pass SemDeDup-style semantic dedup and diversity-sampling pipelines run
before their within-cluster work (Abbas et al. 2023 cluster embeddings
with k-means, then prune near-duplicates inside each cluster).
The reference has no analog (fuzzycat has no vector data).

Determinism contract (same policy as `operators/lm.py` /
`operators/linkgraph.py`): float centroid means depend on summation
order, so no cross-engine oracle could hash-match them. Components are
quantized once — q_i = floor(x_i * scale) as int64 — and every
subsequent quantity (squared L2 distances, per-component centroid sums,
floor-division means) is integer arithmetic: exact, associative, and
bit-identical in any engine. Quantization error is bounded by
dim/scale² per squared distance — irrelevant for cluster ASSIGNMENT at
scale=1e6 unless two centroids are within 1e-6 per component.

Seeding: the k vectors with the smallest md5(vec_id) — deterministic,
data-independent, and planned as TakeOrderedAndProject (per-partition
k-heaps + driver-side merge of P·k rows), NOT a global sort.

Scale shape:
- Assignment joins each vector against a BROADCAST k-row centroid
  table (k·dim int64s — a few MB even at k=65536) and reduces with an
  ordered `aggregate` fold inside codegen; ties break to the lowest
  centroid id via one `array_sort` over the k-element struct array —
  no shuffle at all in the assign step.
- The update step is one partial-aggregated shuffle keyed by
  (cluster, component) — a 16-byte row regardless of corpus size —
  followed by a k·dim-row rebuild. Nothing text- or vector-shaped
  crosses the wire except the quantized components themselves, once.
- Iterations chain lazily; pass a `StageCheckpointer` (`checkpointer=`)
  to cut lineage every iteration on big runs, exactly like
  `operators/components.py` / `linkgraph.pagerank_fp`.
- Overflow bound: dim · (2·scale·max|x|)² < 2**63 — dim 4096 at
  scale=1e6 allows |x| ≤ ~16; lower `scale` for unnormalized vectors.

Empty clusters keep their previous centroid (documented Lloyd variant;
re-seeding would need a data-dependent draw that breaks resumability).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "quantize_vec",
    "kmeans_seeds",
    "kmeans_assign",
    "kmeans_fit",
    "lloyd_fit",
    "semdedup_pairs",
]


def quantize_vec(col: Column | str, scale: int = 1_000_000) -> Column:
    """array<long> of floor(component * scale). The float→double widen
    and the double multiply are IEEE-exact-rounded identically in every
    engine; floor pins the one rounding decision."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * F.lit(float(scale)))
    )


def kmeans_seeds(
    vecs: DataFrame, k: int, *, id_col: str = "vec_id", qv_col: str = "qv"
) -> DataFrame:
    """(cid, cv): k deterministic seed centroids — the k rows with the
    smallest md5(id). TakeOrderedAndProject, no global sort."""
    ranked = vecs.orderBy(F.md5(F.col(id_col).cast("string"))).limit(k)
    # k rows total after the limit: this window sorts k rows, not the corpus
    w = Window.orderBy(F.md5(F.col(id_col).cast("string")))
    return ranked.select(
        F.row_number().over(w).alias("cid"), F.col(qv_col).alias("cv")
    )


def _sqdist(a: Column, b: Column) -> Column:
    """Integer squared L2 distance between two array<long> columns via
    an ordered zip_with/aggregate fold (codegen, exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def kmeans_assign(
    vecs: DataFrame, centroids: DataFrame, *, id_col: str = "vec_id"
) -> DataFrame:
    """(id_col, cluster, dist): nearest centroid per vector, ties to the
    lowest cid. Broadcast k-row cross join + one array_sort — shuffle-free."""
    cents = F.broadcast(
        centroids.groupBy().agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cid"), F.col("cv")))
            ).alias("cents")
        )
    )
    scored = vecs.crossJoin(cents).select(
        id_col,
        F.array_sort(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    _sqdist(F.col("qv"), c["cv"]).alias("dist"),
                    c["cid"].alias("cid"),
                ),
            )
        )[0].alias("best"),
    )
    return scored.select(
        id_col,
        F.col("best.cid").alias("cluster"),
        F.col("best.dist").alias("dist"),
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    checkpointer=None,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd iterations; returns (assignments, centroids) where
    assignments = (id_col, cluster, dist) and centroids = (cid, cv)."""
    vecs = emb.select(
        F.col(id_col), quantize_vec(vec_col, scale).alias("qv")
    )
    return lloyd_fit(vecs, k, iters, id_col=id_col, checkpointer=checkpointer)


def lloyd_fit(
    vecs: DataFrame,
    k: int,
    iters: int,
    *,
    id_col: str = "vec_id",
    checkpointer=None,
    stage_prefix: str = "kmeans",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd over an ALREADY-QUANTIZED (id_col, qv: array<long>) table —
    the shared core of `kmeans_fit` and per-subspace product-quantization
    codebook training (`operators/pq.py`), which slices one quantized
    pass into M sub-vector tables and fits each independently."""
    cents = kmeans_seeds(vecs, k, id_col=id_col)
    for i in range(iters):
        assign = kmeans_assign(vecs, cents, id_col=id_col)
        comp_sums = (
            vecs.join(assign, id_col)
            .select("cluster", F.posexplode("qv").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
        )
        # truncated-mean centroid per component: integer sums and counts,
        # Spark's DIV and DuckDB's // both truncate toward zero, so the
        # two engines agree bit-for-bit even on negative components
        comp_means = comp_sums.selectExpr("cluster", "pos", "sx DIV n AS m")
        upd = comp_means.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("m")))),
                lambda s: s["m"],
            ).alias("cv_new")
        )
        cents = (
            cents.join(
                upd.withColumnRenamed("cluster", "cid"), on="cid", how="left"
            )
            .select("cid", F.coalesce("cv_new", "cv").alias("cv"))
        )
        if checkpointer is not None:
            cents = checkpointer.write(cents, f"{stage_prefix}_iter_{i}")
        # no default per-iteration materialization: a round-6 A/B showed
        # the tiny writes are pure overhead for single-evaluation fits
        # (kmeans_assign 1.4 s → 3.7 s at sf0.01) — callers whose plans
        # evaluate the fit repeatedly cut the chain themselves at the
        # operator level (ivfadc_knn materializes the final centroids)
    return kmeans_assign(vecs, cents, id_col=id_col), cents


def semdedup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    k: int = 8,
    iters: int = 3,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup end to end (Abbas et al. 2023): k-means the embeddings,
    then (id_a, id_b, cosine) for same-cluster pairs above `threshold`
    — the semantic near-duplicate edges a components pass then prunes.

    The cluster table routes through the SAME capped band machinery as
    every text strategy (`lsh.lsh_candidate_pairs`, band_id='km'): one
    window-capped shuffle of (id, cluster) rows, native in-bucket pair
    expansion, and vectors joined back only for surviving candidate
    pairs — the cluster shuffle never carries a vector. Clusters above
    `max_cluster_size` are excluded, not exploded (size k so that
    n/k stays under the cap, or pre-shard hot clusters); pass None to
    disable the cap when k is sized generously.
    """
    from fuzzycat_spark.operators.knn import cosine_col
    from fuzzycat_spark.operators.lsh import lsh_candidate_pairs

    assign, _ = kmeans_fit(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col, scale=scale
    )
    bands = assign.select(
        F.col(id_col).alias("id"),
        F.lit("km").alias("band_id"),
        F.col("cluster").cast("string").alias("band_hash"),
    )
    cand = lsh_candidate_pairs(bands, max_cluster_size)
    ev = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("e"))
    cos = cosine_col(F.col("_ea"), F.col("_eb"))
    return (
        cand.join(
            ev.select(F.col("id").alias("id_a"), F.col("e").alias("_ea")),
            on="id_a",
        )
        .join(
            ev.select(F.col("id").alias("id_b"), F.col("e").alias("_eb")),
            on="id_b",
        )
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.round(F.col("cosine"), 9) >= threshold)
    )
