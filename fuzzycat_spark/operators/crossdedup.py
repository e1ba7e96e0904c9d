"""Cross-corpus near-duplicate screening: flag documents of a NEW corpus
that near-match any document of a frozen REFERENCE corpus.

This is the asymmetric sibling of the within-corpus dedup pipeline and a
first-class training-data operation: "dedup crawl N against crawl N-1",
"drop training docs that near-match a held-out set" (decontamination at
near-dup rather than exact-n-gram level — complements operators for
exact eval overlap and exact revisit collapse). The reference pipeline's
cluster step only ever groups one corpus against itself
(`/root/reference/notes/old_pipeline.md:13-27`); at web scale the
"screen the new crawl against what we already kept" variant is run at
least as often.

Scale design (the 100 TB story):
- Candidates come from the SAME MinHash band machinery as the batch
  pipeline (`operators/lsh.py`): each side contributes (id, band_id,
  band_hash) rows only — no text, no shingle arrays — so the one shuffle
  that buckets both corpora moves fixed-width rows.
- The bucket-size cap is applied to the COMBINED bucket (window count,
  streaming/spillable, identical semantics to `lsh_candidate_pairs`),
  so a boilerplate template present a million times across both crawls
  cannot create a quadratic bucket; capped-out buckets are countable by
  the caller via `oversize` accounting if needed (same pattern as
  `oversize_ann_buckets`).
- Pair expansion is new×ref only — within-side pairs are never
  materialized, so screening a small fresh crawl against a huge frozen
  corpus costs |bucket_new| x |bucket_ref| per bucket, not the
  quadratic within-ref expansion the batch path would pay.
- In production the reference side's band table is built ONCE and
  persisted (a `StageCheckpointer` stage / Iceberg table); pass it via
  `ref_bands` so each incoming crawl only hashes itself.
- The exact shingle-Jaccard confirmation joins shingle arrays back for
  SURVIVING candidate pairs only (the `ngram_jaccard` composition).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fuzzycat_spark.functions.text import jaccard_col
from fuzzycat_spark.operators.lsh import (
    DEFAULT_BANDS,
    DEFAULT_MAX_BUCKET,
    DEFAULT_NUM_PERM,
    DEFAULT_ROWS,
    DEFAULT_UNIT_BANDS,
    minhash_band_table,
)


def _cross_combos(new_ids: Column, ref_ids: Column) -> Column:
    """All (new_id, ref_id) pairs from two sorted id arrays — pure
    Catalyst, O(|new| x |ref|) bounded by the combined bucket cap."""
    return F.flatten(
        F.transform(
            new_ids,
            lambda n: F.transform(
                ref_ids,
                lambda r: F.struct(n.alias("new_id"), r.alias("ref_id")),
            ),
        )
    )


def cross_candidate_pairs(
    new_bands: DataFrame,
    ref_bands: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Distinct (new_id, ref_id) LSH candidates across two band tables.

    Each input is (id, band_id, band_hash) as produced by
    `minhash_band_table`. ONE shuffle of the tagged union: a window
    count applies the cap to the combined bucket (spillable — a
    mega-bucket never materializes as one aggregation row), the
    group-by that collects surviving buckets reuses the window's hash
    partitioning, and only cross-side pairs are expanded. Ids must be
    unique per side; the same id may appear on both sides (a self-match
    then reports the document as its own near-dup, which is the correct
    screening answer when the crawls overlap).
    """
    b = new_bands.select("id", "band_id", "band_hash", F.lit(1).alias("side")).unionAll(
        ref_bands.select("id", "band_id", "band_hash", F.lit(0).alias("side"))
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_hash")
        b = b.withColumn("_bs", F.count(F.lit(1)).over(w)).filter(
            F.col("_bs") <= F.lit(max_bucket_size)
        )
    buckets = (
        b.groupBy("band_id", "band_hash")
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("side") == 1, F.col("id")))
            ).alias("new_ids"),
            F.array_sort(
                F.collect_list(F.when(F.col("side") == 0, F.col("id")))
            ).alias("ref_ids"),
        )
        .filter((F.size("new_ids") >= 1) & (F.size("ref_ids") >= 1))
    )
    return (
        buckets.select(
            F.explode(_cross_combos(F.col("new_ids"), F.col("ref_ids"))).alias("p")
        )
        .select("p.new_id", "p.ref_id")
        .distinct()
    )


def cross_corpus_pairs(
    new_sh: DataFrame,
    ref_sh: DataFrame,
    *,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    rows: int = DEFAULT_ROWS,
    unit_bands: int = DEFAULT_UNIT_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    jaccard_threshold: float = 0.5,
    ref_bands: DataFrame | None = None,
) -> DataFrame:
    """Confirmed near-dup pairs (new_id, ref_id, jac) across two corpora.

    Inputs are (id, sh) shingle tables — id plus the distinct word-shingle
    array (`prepare_pages` / `word_shingles_from_tokens` output), so the
    one expensive text scan per side happens upstream and is shared with
    any other consumer. MinHash-LSH band candidates (combined-bucket cap)
    are confirmed by the EXACT shingle-set Jaccard at `jaccard_threshold`;
    shingle arrays join in only for surviving candidates.

    `ref_bands`: a persisted band table for the reference side (the
    production deployment — hash the frozen corpus once, screen every
    incoming crawl against it); when given, `ref_sh` is still used for
    the Jaccard confirmation join but is never re-hashed.
    """
    mk = lambda sh: minhash_band_table(  # noqa: E731
        sh, "id", "text", num_perm, bands, rows,
        unit_bands=unit_bands, shingles_col="sh",
    )
    nb = mk(new_sh)
    rb = ref_bands if ref_bands is not None else mk(ref_sh)
    cands = cross_candidate_pairs(nb, rb, max_bucket_size)
    a = new_sh.select(F.col("id").alias("new_id"), F.col("sh").alias("sh_a"))
    b = ref_sh.select(F.col("id").alias("ref_id"), F.col("sh").alias("sh_b"))
    jac = jaccard_col(F.col("sh_a"), F.col("sh_b"))
    return (
        cands.join(a, "new_id")
        .join(b, "ref_id")
        .filter(F.round(jac, 9) >= F.lit(jaccard_threshold))
        .select("new_id", "ref_id", F.round(jac, 6).alias("jac"))
    )


def cross_dedup_verdicts(new_ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per-new-document screening verdict (new_id, matched, best_ref,
    best_jac): `matched` iff any confirmed reference near-dup exists;
    best = highest Jaccard, ties to the smallest ref_id. `new_ids` is a
    one-column (new_id) frame covering the whole new corpus so clean
    documents appear with matched=false.

    The window partitions by new_id — per-document match counts are
    bounded by bands x bucket cap, so no stratum can be hot."""
    w = Window.partitionBy("new_id").orderBy(F.col("jac").desc(), F.col("ref_id").asc())
    best = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("new_id", F.col("ref_id").alias("best_ref"), F.col("jac").alias("best_jac"))
    )
    return new_ids.join(best, "new_id", "left").select(
        "new_id",
        F.col("best_ref").isNotNull().alias("matched"),
        "best_ref",
        "best_jac",
    )
