"""Product quantization for embedding columns (Jégou, Douze & Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011) — the
compressed-domain ANN path for corpora where even (id, vector) pairs are
too big to shuffle or cache: each vector is split into M sub-vectors,
each sub-vector is quantized to one of K codebook centroids, and the
whole vector is stored as M small integer codes (M bytes at K ≤ 256
against 4·dim bytes of floats — a 256× compression at dim=64/M=4).
Search runs in the compressed domain: asymmetric distance computation
(ADC) compares the FULL-precision query against each document's
RECONSTRUCTED vector, so only codes ever sit in the index.

The reference has no vector surface at all (fuzzycat blocks on one
normalized metadata key, `/root/reference/fuzzycat/sandcrawler.py:66-90`);
this is the scale path behind the embedding-similarity additions, and
`ivfadc_knn` below adds the inverted-file bucketing half of IVFADC.

Determinism contract (same policy as `operators/kmeans.py`): components
are quantized ONCE to int64 (`quantize_vec`), codebooks are trained with
the shared fixed-point `lloyd_fit` per subspace, and every distance —
training, encoding, and ADC — is integer arithmetic, so codes, ranks,
and distances are exact under any reduction order and bit-identical in
the DuckDB oracle.

Scale shape:
- `pq_fit` runs M independent Lloyd fits over SLICED views of the one
  quantized pass (slicing is a projection — the corpus is scanned once
  per iteration per subspace, each update shuffles only 16-byte
  (cluster, component) partial-agg rows). M·iters small jobs total.
- `pq_encode` is SHUFFLE-FREE: the M·K codebook rows ride one broadcast
  row; per-subspace argmin is the same sorted-struct fold as
  `kmeans_assign`, staged through named slice columns so no computed
  subtree is captured inside a HOF lambda (the create_map/element_at
  re-evaluation trap documented in `operators/retrieval.py`).
- `pq_knn` broadcasts the probe set, reconstructs each document from
  the broadcast codebooks in codegen (`try_element_at` — codebook cids
  are 1..K row_numbers, so position = cid), and ranks with ONE shuffle
  keyed by probe_id. For probe sets too big to broadcast, rank through
  the two-stage salted top-k in `operators/retrieval.py` instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fuzzycat_spark.operators.kmeans import (
    _sqdist,
    kmeans_assign,
    lloyd_fit,
    quantize_vec,
)
from fuzzycat_spark.plans.checkpoint import materialize

__all__ = ["pq_fit", "pq_encode", "pq_knn", "ivfadc_knn"]


def _infer_dim(emb: DataFrame, vec_col: str) -> int:
    row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None:
        raise ValueError("pq: empty embedding table and no dim= given")
    return row.d


def _quantized(emb: DataFrame, id_col: str, vec_col: str, scale: int) -> DataFrame:
    return emb.select(F.col(id_col), quantize_vec(vec_col, scale).alias("qv"))


def pq_fit(
    emb: DataFrame,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    dim: int | None = None,
    checkpointer=None,
) -> DataFrame:
    """Train the M per-subspace codebooks; returns (m, cid, cv) where
    cv is the sub-centroid as array<long> of length dim/m and cid runs
    1..k (deterministic smallest-md5 seeding per subspace)."""
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    sd = dim // m
    vecs = _quantized(emb, id_col, vec_col, scale)
    return _fit_subspaces(vecs, m, k, iters, sd, id_col, checkpointer)


def _slices(col: str, m: int, sd: int) -> Column:
    """array of the M subspace slices of an array<long> column."""
    return F.array(*[F.slice(col, j * sd + 1, sd) for j in range(m)])


def _fit_subspaces(
    vecs: DataFrame, m: int, k: int, iters: int, sd: int, id_col: str,
    checkpointer=None,
) -> DataFrame:
    """M independent Lloyd fits over sliced views of an already-quantized
    (id_col, qv) table — shared by pq_fit (raw vectors) and ivfadc_knn
    (coarse-cell residuals).

    Executed as ONE fused loop over the subspace-tagged slice table
    instead of M sequential `lloyd_fit` loops: the per-subspace fits are
    independent, so tagging each slice row with its subspace index and
    keying every aggregate by (m, cluster) computes the SAME seeds (the
    k smallest-md5 ids are the same for every subspace — slicing doesn't
    touch the id), the SAME integer component sums, and the SAME
    truncated means, while scanning the corpus once per iteration
    instead of M times and running iters jobs instead of M·iters
    (guide §2.4 "remove shuffles outright" / §1.2 "the distributed
    algorithm"). Measured on the sf0.01 gate corpus: ivfadc_knn
    50–63 s → see OPTIMIZATION_r06.md. Per-iteration centroids are
    materialized (m·k rows — a tiny parquet write) so iteration i+1's
    assignment broadcast never re-evaluates iteration i's chain; with a
    `checkpointer` the writes land in its resumable dir instead.
    """
    sub = vecs.select(
        F.col(id_col),
        F.posexplode(_slices("qv", m, sd)).alias("m", "qv"),
    )
    # seeds: the k rows with the smallest md5(id) — identical ids (and
    # cid numbering) for every subspace, so seed once and slice
    seed_rows = vecs.orderBy(F.md5(F.col(id_col).cast("string"))).limit(k)
    w = Window.orderBy(F.md5(F.col(id_col).cast("string")))
    # cid BEFORE the explode: a generator in the same projection as the
    # window would run first and number all m·k exploded rows
    seeded = seed_rows.select(F.row_number().over(w).alias("cid"), "qv")
    cents = seeded.select(
        "cid", F.posexplode(_slices("qv", m, sd)).alias("m", "cv")
    ).select("m", "cid", "cv")
    for i in range(iters):
        assign = _assign_sub(sub, cents, id_col)
        comp_sums = (
            sub.join(assign, on=[id_col, "m"])
            .select("m", "cluster", F.posexplode("qv").alias("pos", "x"))
            .groupBy("m", "cluster", "pos")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
        )
        # truncated-mean per component: Spark DIV ≡ DuckDB // (both
        # truncate toward zero) — same contract as kmeans.lloyd_fit
        comp_means = comp_sums.selectExpr("m", "cluster", "pos", "sx DIV n AS mn")
        upd = comp_means.groupBy("m", "cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("mn")))),
                lambda s: s["mn"],
            ).alias("cv_new")
        )
        cents = (
            cents.join(
                upd.withColumnRenamed("cluster", "cid"), on=["m", "cid"], how="left"
            )
            .select("m", "cid", F.coalesce("cv_new", "cv").alias("cv"))
        )
        if checkpointer is not None:
            cents = checkpointer.write(cents, f"pq_fused_iter_{i}")
        else:
            cents = materialize(cents, f"pq_fused_iter_{i}")
    return cents


def _assign_sub(sub: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """(id_col, m, cluster): per-subspace nearest centroid for the fused
    slice table — the kmeans_assign sorted-struct fold, with the centroid
    array picked from the broadcast per-subspace row by the row's own
    subspace index (m is 0..M-1 and _bym is m-sorted, so position m+1)."""
    row = F.broadcast(_codebook_row(cents))
    return sub.crossJoin(row).select(
        id_col,
        "m",
        F.array_sort(
            F.transform(
                F.element_at(F.col("_bym"), (F.col("m") + 1).cast("int"))["cents"],
                lambda c: F.struct(
                    _sqdist(F.col("qv"), c["cv"]).alias("dist"),
                    c["cid"].alias("cid"),
                ),
            )
        )[0]["cid"].alias("cluster"),
    )


def _codebook_row(codebooks: DataFrame) -> DataFrame:
    """One broadcastable row: _bym[j].cents = subspace j's centroids as a
    cid-sorted struct array (cid is 1..k, so cents[cid] via 1-based
    try_element_at reconstructs)."""
    per_m = codebooks.groupBy("m").agg(
        F.array_sort(F.collect_list(F.struct(F.col("cid"), F.col("cv")))).alias(
            "cents"
        )
    )
    return per_m.groupBy().agg(
        F.array_sort(F.collect_list(F.struct(F.col("m"), F.col("cents")))).alias(
            "_bym"
        )
    )


def _staged_codes(
    vecs: DataFrame,
    codebooks: DataFrame,
    m: int,
    sd: int,
    id_col: str,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id_col, *keep, _bym, _c0.._c{m-1}): per-subspace nearest-centroid
    codes, computed against the broadcast codebook row with zero shuffle.
    Slices are staged as named columns first so HOF lambdas only capture
    attribute references. `keep` threads extra columns (e.g. the coarse
    cell id in IVFADC) through without a join-back."""
    staged = vecs.crossJoin(F.broadcast(_codebook_row(codebooks))).select(
        F.col(id_col),
        *keep,
        "_bym",
        *[F.slice("qv", j * sd + 1, sd).alias(f"_s{j}") for j in range(m)],
    )

    def code(j: int) -> Column:
        scored = F.transform(
            F.col("_bym")[j]["cents"],
            lambda c: F.struct(
                _sqdist(F.col(f"_s{j}"), c["cv"]).alias("dist"),
                c["cid"].alias("cid"),
            ),
        )
        return F.array_sort(scored)[0]["cid"].alias(f"_c{j}")

    return staged.select(
        F.col(id_col), *keep, "_bym", *[code(j) for j in range(m)]
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int,
    sd: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """(id_col, codes: array<int>) — the compressed index rows. codes[j]
    is the cid (1..k) of subspace j's nearest centroid; ties break to the
    lowest cid exactly as `kmeans_assign`."""
    vecs = _quantized(emb, id_col, vec_col, scale)
    coded = _staged_codes(vecs, codebooks, m, sd, id_col)
    return coded.select(
        F.col(id_col), F.array(*[f"_c{j}" for j in range(m)]).alias("codes")
    )


def pq_knn(
    emb: DataFrame,
    probes: DataFrame,
    topk: int = 3,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    dim: int | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: (probe_id, vec_id, adist, rank). `probes` is an id
    table (one column named `id_col`) selecting the query vectors; each
    probe's FULL-precision quantized vector is compared against every
    document's codebook reconstruction (self excluded). adist is the
    integer squared L2 distance — exact, so (adist, vec_id) ranking is
    cross-engine deterministic. Pass `codebooks` to search a pre-trained
    index; otherwise trains with `pq_fit` on `emb` itself."""
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    sd = dim // m
    if codebooks is None:
        codebooks = pq_fit(
            emb, m, k, iters, id_col=id_col, vec_col=vec_col, scale=scale, dim=dim
        )
    vecs = _quantized(emb, id_col, vec_col, scale)
    coded = _staged_codes(vecs, codebooks, m, sd, id_col)
    rec = _recon(coded, m, id_col)
    pv = vecs.join(F.broadcast(probes), on=id_col).select(
        F.col(id_col).alias("probe_id"), F.col("qv").alias("pqv")
    )
    scored = (
        rec.crossJoin(F.broadcast(pv))
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            id_col,
            _sqdist(F.col("pqv"), F.col("rv")).alias("adist"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("adist"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
    )


def _recon(coded: DataFrame, m: int, id_col: str, keep: tuple[str, ...] = ()) -> DataFrame:
    """(id_col, *keep, rv): codebook reconstruction of a `_staged_codes`
    output — cids are 1..K row_numbers, so position lookup via 1-based
    try_element_at on the cid-sorted broadcast cents."""
    return coded.select(
        F.col(id_col),
        *keep,
        F.concat(
            *[
                F.try_element_at(F.col("_bym")[j]["cents"], F.col(f"_c{j}"))["cv"]
                for j in range(m)
            ]
        ).alias("rv"),
    )


def ivfadc_knn(
    emb: DataFrame,
    probes: DataFrame,
    topk: int = 3,
    kc: int = 4,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    nprobe: int = 2,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    dim: int | None = None,
    checkpointer=None,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §V): the full inverted-file +
    product-quantization index. A coarse quantizer (fixed-point Lloyd,
    `kc` cells) partitions the corpus into inverted lists; PQ codebooks
    are trained on the RESIDUALS r_x = q(x) - c(cell(x)) — residuals
    concentrate near 0, so the same K codes quantize far finer than
    PQ over raw vectors. Each probe visits only its `nprobe` nearest
    cells (integer L2, ties to lowest cid) and scores candidates by
    ADC against the reconstructed residual of its own query residual
    for that cell: adist = ||(q - c_cell) - recon(codes_x)||².

    Returns (probe_id, id_col, cluster, adist, rank) — cluster is the
    coarse cell the match was found in. Everything is integer, so the
    whole index AND the ranking hash-match the recursive oracle.

    Scale shape: coarse assignment and encoding are broadcast-only; the
    corpus-side index is (id, cell, M codes) — codes-sized, never
    vector-sized. The probe→cell fan-out here broadcasts (gate-sized
    probe sets); for bulk retrieval swap the broadcast for a shuffle
    join keyed by `cluster` — the inverted-list partitioning proper."""
    if dim is None:
        dim = _infer_dim(emb, vec_col)
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    sd = dim // m
    vecs = _quantized(emb, id_col, vec_col, scale)
    _, coarse_cents = lloyd_fit(
        vecs, kc, iters, id_col=id_col,
        checkpointer=checkpointer, stage_prefix="ivfadc_coarse",
    )
    # materialize the kc-row centroid table (tiny) so the coarse Lloyd
    # chain evaluates exactly ONCE: lazily it would re-run inside the
    # coarse-assignment join, the cc_row broadcast, every residual
    # consumer (M-subspace fit iterations, encoding), and the probe-side
    # cell selection — the dominant cost of this operator before this
    # change (guide §5 "caching is only worth it when a DataFrame is
    # reused"; measured sf0.01: 50–63 s → see OPTIMIZATION_r06.md).
    # Assignment is then recomputed against the materialized centroids —
    # the same kmeans_assign expression lloyd_fit returns, so rows are
    # bit-identical.
    if checkpointer is not None:
        coarse_cents = checkpointer.write(coarse_cents, "ivfadc_coarse_cents")
    else:
        coarse_cents = materialize(coarse_cents, "ivfadc_coarse_cents")
    coarse_assign = kmeans_assign(vecs, coarse_cents, id_col=id_col)
    cc_row = F.broadcast(
        coarse_cents.groupBy().agg(
            F.array_sort(F.collect_list(F.struct(F.col("cid"), F.col("cv")))).alias(
                "_cc"
            )
        )
    )
    resid = (
        vecs.join(coarse_assign.select(id_col, "cluster"), on=id_col)
        .crossJoin(cc_row)
        .select(
            id_col,
            "cluster",
            "qv",
            F.try_element_at(F.col("_cc"), F.col("cluster"))["cv"].alias("_ccv"),
        )
        .select(
            id_col,
            "cluster",
            F.zip_with("qv", "_ccv", lambda x, y: x - y).alias("qv"),
        )
    )
    # the residual table is read by the fused subspace fit (once per
    # iteration), the encoder, and nothing else — one narrow (id, cell,
    # dim longs) materialization replaces those re-joins (the "one
    # materialized narrow prep" pattern, guide §8)
    if checkpointer is not None:
        resid = checkpointer.write(resid, "ivfadc_resid")
    else:
        resid = materialize(resid, "ivfadc_resid")
    books = _fit_subspaces(
        resid.select(id_col, "qv"), m, k, iters, sd, id_col, checkpointer
    )
    coded = _staged_codes(resid, books, m, sd, id_col, keep=("cluster",))
    rec = _recon(coded, m, id_col, keep=("cluster",))
    pv = vecs.join(F.broadcast(probes), on=id_col).select(
        F.col(id_col).alias("probe_id"), F.col("qv").alias("pqv")
    )
    cells = pv.crossJoin(cc_row).select(
        "probe_id",
        "pqv",
        F.slice(
            F.array_sort(
                F.transform(
                    F.col("_cc"),
                    lambda c: F.struct(
                        _sqdist(F.col("pqv"), c["cv"]).alias("dist"),
                        c["cid"].alias("cid"),
                        c["cv"].alias("cv"),
                    ),
                )
            ),
            1,
            nprobe,
        ).alias("_cells"),
    )
    pcells = (
        cells.select("probe_id", "pqv", F.explode("_cells").alias("cell"))
        .select(
            "probe_id",
            F.col("cell.cid").alias("cluster"),
            F.zip_with(F.col("pqv"), F.col("cell.cv"), lambda x, y: x - y).alias(
                "qres"
            ),
        )
    )
    scored = (
        F.broadcast(pcells)
        .join(rec, on="cluster")
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            id_col,
            "cluster",
            _sqdist(F.col("qres"), F.col("rv")).alias("adist"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("adist"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
    )
