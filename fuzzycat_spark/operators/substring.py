"""Exact-substring containment detection — the north-star "suffix-array
exact-substring check" re-expressed for Spark's execution model.

A corpus-level suffix array (the single-node classic for containment dups)
answers "which documents contain this exact token run". The distributed
equivalent here is an INDEX of all rolling token k-gram hashes per
document plus a one-key PROBE per document:

- index side: every distinct k-token window of every document, hashed
  (one int64 per token position — the hashed analog of "all suffixes'
  k-prefixes", which is exactly the lookup structure a suffix array
  provides);
- probe side: each document's FIRST k-token window.

If document A (with >= k tokens) is wholly contained in document B, every
k-window of A — in particular its first — appears among B's windows, so
the equi-join is GUARANTEED to surface (A, B); recall for full containment
is exactly 1.0, not LSH-probabilistic. Shingle-set containment (the
cascade's CONTAINMENT rule) misses short-doc-in-long-doc cases because
|A shingles|/|B shingles| jaccard is tiny; this operator exists for that
tier. False k-gram hash collisions are removed by an exact substring
confirmation (`contains`) over the normalized slugs of the joined pair.

Scale notes:
- the join shuffles (id, gram_hash) int64 pairs only — text never moves;
  slug strings are joined back ONLY for surviving candidates
- hot windows (boilerplate runs) are capped like every other bucket
  (cap trades recall on boilerplate-prefixed docs for boundedness; capped
  buckets are the same skew guard as the LSH path)
- cost is one index row per token position (~8 bytes/token, a few percent
  of corpus size), the price the suffix-array method pays too
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzycat_spark.functions.normalize import slug_for_mode, tokens_from_slug

DEFAULT_MIN_TOKENS = 25
DEFAULT_MAX_BUCKET = 200


def _tokens_and_slug(
    docs: DataFrame, id_col: str, text_col: str, slug_mode: str = "ascii"
) -> DataFrame:
    """(id, slug, toks) with the slug evaluated once behind a Generate
    barrier (see verify._gen_barrier for why). `slug_mode` selects the
    shared normalizer, so under "unicode"/"auto" the k-gram windows run
    over the same CJK-bigram token stream as every other strategy — and
    containment still holds: if doc A occurs verbatim inside doc B, A's
    bigram run appears contiguously in B's bigram stream, so A's first
    k-window is guaranteed among B's windows."""
    base = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    g = base.select(
        "id",
        F.explode(
            F.array(F.struct(slug_for_mode(F.col("_t"), slug_mode).alias("slug")))
        ).alias("_g"),
    ).select("id", F.col("_g.slug").alias("slug"))
    toks = tokens_from_slug(F.col("slug"), slug_mode)
    g2 = g.select(
        "id", "slug", F.explode(F.array(F.struct(toks.alias("toks")))).alias("_g")
    )
    return g2.select("id", "slug", F.col("_g.toks").alias("toks"))


def substring_doc_grams(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    k: int = DEFAULT_MIN_TOKENS,
    slug_mode: str = "ascii",
) -> DataFrame:
    """(id, slug, gh0, grams) per document with >= k tokens: `grams` is the
    DISTINCT rolling k-gram hash array (the index side), `gh0` the first
    window's hash (the probe key), `slug` the normalized text for the exact
    containment confirmation. Shared by the batch operator and the
    streaming incremental path, whose per-epoch k-gram index persists
    exactly these rows."""
    t = _tokens_and_slug(docs, id_col, text_col, slug_mode)
    t = t.filter(F.size("toks") >= k)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - k),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("toks"), i + 1, k))),
    )
    # barrier so `grams` is evaluated once, not once per derived column
    g = t.select(
        "id", "slug", F.explode(F.array(F.struct(grams.alias("grams")))).alias("_g")
    ).select("id", "slug", F.col("_g.grams").alias("grams"))
    return g.select(
        "id",
        "slug",
        F.element_at(F.col("grams"), 1).alias("gh0"),
        F.array_distinct(F.col("grams")).alias("grams"),
    )


def exact_substring_pairs(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    k: int = DEFAULT_MIN_TOKENS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    slug_mode: str = "ascii",
) -> DataFrame:
    """(id_in, id_of): documents whose ENTIRE normalized text appears
    verbatim inside another document's normalized text (id_in ⊂ id_of),
    for documents with at least `k` tokens.

    Guaranteed-recall containment: probe = first k-gram, index = all
    k-grams, exact `contains` confirmation on the slugs.
    """
    return substring_pairs(
        substring_doc_grams(docs, id_col, text_col, k, slug_mode), max_bucket_size
    )


def substring_pairs(
    g: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    prior_grams: DataFrame | None = None,
    prior_probes: DataFrame | None = None,
    prior_sizes: DataFrame | None = None,
) -> DataFrame:
    """(id_in, id_of) containment pairs over `substring_doc_grams` rows.

    prior_grams (id, gh), prior_probes (id, gh0, slug) and prior_sizes
    (gh, n) are the index rows, probe rows and cumulative gram-bucket
    counts of earlier stream epochs. New probes then also join the prior
    grams and prior probes join the new grams, so containment links in
    both temporal orders; the cap applies to a bucket's cumulative size;
    prior x prior never joins, so a pair surfaces in the epoch its newer
    member arrives.
    """
    # the gram join moves (id, int64) rows ONLY; slugs rejoin afterwards
    # for the (much smaller) surviving candidate set
    index = g.select(
        F.col("id").alias("id_of"),
        F.explode(F.col("grams")).alias("gh"),
    )
    if max_bucket_size is not None:
        size = F.count(F.lit(1)).over(Window.partitionBy("gh"))
        if prior_sizes is not None:
            index = index.join(
                prior_sizes.select("gh", F.col("n").alias("_prior_n")), on="gh", how="left"
            )
            size = size + F.coalesce(F.col("_prior_n"), F.lit(0))
        index = (
            index.withColumn("_bs", size)
            .filter(F.col("_bs") <= max_bucket_size)
            .select("id_of", "gh")
        )
    probe = g.select(
        F.col("id").alias("id_in"),
        F.col("gh0").alias("gh"),
    )
    pairs = probe.join(index, on="gh")
    if prior_grams is not None:
        # a probe's first window is one of its own grams, so the capped
        # index holds it exactly when the bucket is under the cap
        cool = probe.join(index.select("gh"), on="gh", how="left_semi")
        pairs = pairs.unionByName(
            cool.join(prior_grams.select(F.col("id").alias("id_of"), "gh"), on="gh")
        )
    if prior_probes is not None:
        pairs = pairs.unionByName(
            prior_probes.select(F.col("id").alias("id_in"), F.col("gh0").alias("gh"))
            .join(index, on="gh")
        )
    cands = (
        pairs.filter(F.col("id_in") != F.col("id_of"))
        .select("id_in", "id_of")
        .distinct()
    )
    slugs = g.select("id", "slug")
    if prior_probes is not None:
        slugs = slugs.unionByName(prior_probes.select("id", "slug"))
    return (
        cands.join(slugs.select(F.col("id").alias("id_in"), F.col("slug").alias("_s_in")), on="id_in")
        .join(slugs.select(F.col("id").alias("id_of"), F.col("slug").alias("_s_of")), on="id_of")
        # exact confirmation kills k-gram hash collisions and partial
        # overlaps: the WHOLE probe slug must occur in the index slug
        .filter(F.instr(F.col("_s_of"), F.col("_s_in")) > 0)
        .select("id_in", "id_of")
    )
