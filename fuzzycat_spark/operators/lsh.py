"""MinHash-LSH and SimHash candidate generation.

The north-star replacement for fuzzycat's single sorted-key blocking
(`/root/reference/notes/old_pipeline.md:19-23`): MinHash signatures over
word shingles, banded into LSH buckets; plus SimHash bucketing for
Hamming-near fingerprints. Candidates = self-join on (band_id, band_hash).

Scale design:
- Only (id, band_id, band_hash) rows are exploded and shuffled — one row
  per band per doc, never the text.
- Hot buckets (boilerplate) are the skew risk: buckets above
  `max_bucket_size` are excluded from the quadratic join but surfaced via
  `oversize_blocks`-style accounting; AQE skew-join handles residual skew.
- `salt_hot_buckets` optionally shards a hot bucket's members into salted
  sub-buckets so SOME pairs inside mega-clusters still surface (the
  reference just drops clusters > max size, `verify.py:130-131`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzycat_spark.functions.hashing import (
    lsh_band_keys,
    md5_h64,
    minhash_from_h64_udf,
    simhash32_from_hashes,
    token_hashes32,
)
from fuzzycat_spark.functions.normalize import (
    tokens_col,
    tokens_for_mode,
    word_shingles,
)
from fuzzycat_spark.plans.checkpoint import materialize

DEFAULT_NUM_PERM = 32
DEFAULT_BANDS = 16
DEFAULT_ROWS = 2  # bands * rows == num_perm
DEFAULT_UNIT_BANDS = 4
DEFAULT_MAX_BUCKET = 200


def minhash_band_table(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    rows: int = DEFAULT_ROWS,
    shingle_n: int = 3,
    unit_bands: int = DEFAULT_UNIT_BANDS,
    shingles_col: str | None = None,
    h64_col: str | None = None,
) -> DataFrame:
    """(id, band_id, band_hash) — one row per band per document.

    The signature is k splitmix64 permutations mixed in numpy over Arrow
    batches, one ArrowEvalPython per doc batch (the DuckDB oracle
    reproduces it from `minhash_params`).

    Besides the `bands` r-row bands, the first `unit_bands` signature
    entries are ALSO emitted as single-row bands (band ids `bands`..).
    They reuse the same signature (no extra hashing) and give containment
    dups — whose jaccard is too low for r-row bands — a per-band hit
    probability of the full jaccard itself. Hot buckets that single-row
    bands produce on popular shingles are handled by the bucket-size cap.
    """
    assert bands * rows == num_perm, "bands * rows must equal num_perm"
    # prefer a pre-materialized shingle attribute (see prepare_pages) —
    # composing the shingle expression inline costs O(L^2) in HOF lambdas
    shingles = (
        F.col(shingles_col) if shingles_col else word_shingles(text_col, shingle_n)
    )
    # base hash JVM-side (md5 -> int64 inside codegen); the UDF receives
    # array<long> and does only the chunked numpy permutation mix —
    # zero Python hashing per shingle. h64_col short-circuits even the
    # JVM md5 when the caller pre-materialized base hashes (prep's
    # sh_md5h column).
    h64 = F.col(h64_col) if h64_col else F.transform(shingles, md5_h64)
    sig = minhash_from_h64_udf(num_perm)(h64)
    # sig is an ArrowEvalPython output attribute, so the per-band slice
    # below re-reads the materialized array instead of re-running Python
    keys = lsh_band_keys(F.col("sig"), bands, rows)
    if unit_bands:
        keys = F.concat(
            keys,
            F.transform(
                F.slice(F.col("sig"), 1, unit_bands), lambda x: x.cast("string")
            ),
        )
    return df.select(F.col(id_col).alias("id"), sig.alias("sig")).select(
        "id", F.posexplode(keys).alias("band_id", "band_hash")
    )


def _pair_combos(ids: Column) -> Column:
    """All ordered pairs (ids[i], ids[j]), i < j, from a SORTED id array —
    pure Catalyst, O(b^2) bounded by the bucket cap upstream."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def bbit_band_table(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    rows: int = DEFAULT_ROWS,
    b: int = 8,
    shingle_n: int = 3,
    shingles_col: str | None = None,
    h64_col: str | None = None,
) -> DataFrame:
    """(id, band_id, band_hash) from a b-BIT MinHash signature (Li &
    König, "b-Bit Minwise Hashing", WWW 2010): only the LOW b bits of
    each signature entry feed the band keys, and each band key is the
    rows·b-bit PACKED integer of its masked entries — `band_hash` here
    is a LONG whose value fits rows·b bits (b=8, rows=2 → 16 bits;
    parquet dictionary+bit-packing stores it in ~2 bytes), not the
    32-char md5 string the full-width table emits. That is where the
    paper's storage claim is realized: at 10^12 docs the persisted
    band/signature artifact dominates index storage for the cross-crawl
    `ref_bands=` / `--emit-bands` path, and the packed table is ~8-16×
    smaller per row than the md5-keyed one. The trade-off: per-band
    collision probability for unrelated docs rises from ~2^-64r to
    ~2^-br, compensated by more rows or bands; masking never SPLITS a
    bucket, so every candidate pair of a full-width table AT THE SAME
    BAND LAYOUT (same bands/rows, `unit_bands=0`) is still produced —
    the safe direction for a dedup screen, with the cap handling the
    extra fpps like any other hot bucket. NOTE: `minhash_band_table`'s
    PRODUCTION default adds 4 single-entry unit bands for containment
    dups; a lone b-bit value is a 2^b-way key (useless mega-buckets),
    so this table has no unit-band analog — containment recall must
    come from the substring/winnow strategies when switching a
    persisted index to b-bit keys."""
    assert bands * rows == num_perm, "bands * rows must equal num_perm"
    if not (0 < b < 64):
        raise ValueError(f"b must be in (0, 64): {b}")
    if rows * b > 63:
        raise ValueError(
            f"rows*b = {rows * b} bits will not pack into a signed long; "
            "lower b or rows"
        )
    mask = (1 << b) - 1
    shingles = (
        F.col(shingles_col) if shingles_col else word_shingles(text_col, shingle_n)
    )
    h64 = F.col(h64_col) if h64_col else F.transform(shingles, md5_h64)
    sig = minhash_from_h64_udf(num_perm)(h64)
    packed = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.aggregate(
            F.slice(F.col("bsig"), i * rows + 1, rows),
            F.lit(0).cast("long"),
            lambda acc, x: F.shiftleft(acc, b).bitwiseOR(x),
        ),
    )
    return (
        df.select(F.col(id_col).alias("id"), sig.alias("sig"))
        .select(
            "id",
            F.transform("sig", lambda x: x.bitwiseAND(F.lit(mask))).alias("bsig"),
        )
        .select(
            "id",
            F.posexplode(packed).alias("band_id", "band_hash"),
        )
    )


def lsh_candidate_pairs(
    band_table: DataFrame,
    max_bucket_size: int | str | None = DEFAULT_MAX_BUCKET,
    prior_bands: DataFrame | None = None,
    prior_sizes: DataFrame | None = None,
) -> DataFrame:
    """Distinct (id_a, id_b) candidates from within-bucket pair expansion.

    ONE shuffle of the band table: a window count over (band_id, band_hash)
    applies the bucket cap streaming/spillable (a mega-bucket never
    materializes as a single aggregation row), then the group-by that
    collects surviving buckets reuses the window's hash partitioning — no
    second exchange, no bucket self-join, no checkpoint of the band table
    (it has exactly one consumer now). Pairs are expanded in-bucket with a
    native combination expression and deduped across bands by `distinct`
    (map-side partial aggregation, so the pair shuffle is near-deduped).

    max_bucket_size: int for a global cap, a column name (str) for a
    per-row cap carried in the band table, or None for no cap.

    prior_bands / prior_sizes: the band rows (id, band_id, band_hash) and
    cumulative per-bucket counts (band_id, band_hash, n) of earlier stream
    epochs. The cap then applies to a bucket's cumulative size, and only
    pairs with at least one id of `band_table` are emitted: the in-bucket
    combinations of its ids plus their pairs with the prior members of the
    buckets under the cap. A bucket over its cap never reads its prior rows.
    """
    b = band_table
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_hash")
        cap = (
            F.col(max_bucket_size)
            if isinstance(max_bucket_size, str)
            else F.lit(max_bucket_size)
        )
        size = F.count(F.lit(1)).over(w)
        if prior_sizes is not None:
            b = b.join(
                prior_sizes.select("band_id", "band_hash", F.col("n").alias("_prior_n")),
                on=["band_id", "band_hash"],
                how="left",
            )
            size = size + F.coalesce(F.col("_prior_n"), F.lit(0))
        b = b.withColumn("_bs", size).filter(
            (F.col("_bs") <= cap) & (F.col("_bs") >= 2)
        )
    buckets = b.groupBy("band_id", "band_hash").agg(
        F.array_sort(F.collect_list("id")).alias("ids")
    )
    if max_bucket_size is None:
        buckets = buckets.filter(F.size("ids") >= 2)
    pairs = buckets.select(F.explode(_pair_combos(F.col("ids"))).alias("p")).select(
        "p.id_a", "p.id_b"
    )
    if prior_bands is not None:
        old = prior_bands.select("band_id", "band_hash", F.col("id").alias("_old"))
        pairs = pairs.unionByName(
            b.join(old, on=["band_id", "band_hash"]).select(
                F.least("id", "_old").alias("id_a"),
                F.greatest("id", "_old").alias("id_b"),
            )
        )
    return pairs.distinct()


def salt_hot_buckets(
    band_table: DataFrame,
    max_bucket_size: int | str = DEFAULT_MAX_BUCKET,
    salt_buckets: int = 16,
) -> DataFrame:
    """Re-key oversized buckets into `salt_buckets` salted shards — the
    documented softener for the bucket cap: a capped mega-bucket yields
    ZERO pairs, a salted one keeps ~1/salt_buckets of them.

    Members of a hot bucket land in shards of ~size/salt_buckets; pairs
    within a shard still surface, cross-shard pairs are sacrificed (they
    reconnect through connected components when any member links them).

    ONE shuffle: bucket sizes come from a window count over
    (band_id, band_hash) — the same partitioning `lsh_candidate_pairs`'
    cap filter uses — instead of the round-3 groupBy + join-back, which
    paid a second exchange of the whole band table for the same number.
    `max_bucket_size` is an int, or a column name (str) for the per-row
    cap carried in the band table (DedupConfig's per-strategy caps).
    Extra columns (e.g. `cap`) pass through untouched.
    """
    cap = (
        F.col(max_bucket_size)
        if isinstance(max_bucket_size, str)
        else F.lit(max_bucket_size)
    )
    w = Window.partitionBy("band_id", "band_hash")
    t = band_table.withColumn("_bsz", F.count(F.lit(1)).over(w))
    salted = F.when(
        F.col("_bsz") > cap,
        F.concat(
            F.col("band_hash"),
            F.lit("#"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(salt_buckets)).cast("string"),
        ),
    ).otherwise(F.col("band_hash"))
    return t.withColumn("band_hash", salted).drop("_bsz")


def simhash_bucket_table(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    band_bits: int = 8,
    slug_mode: str = "ascii",
) -> DataFrame:
    """(id, band_id, band_hash) from SimHash fingerprints.

    The 32-bit fingerprint splits into 32/band_bits chunks; docs within
    Hamming distance < number-of-chunks collide on at least one chunk
    (pigeonhole) — the standard Charikar bucketing. `slug_mode` selects
    the shared tokenizer (tokens_for_mode), so under "unicode"/"auto" the
    fingerprint hashes the same CJK-bigram token stream as every other
    strategy instead of the ASCII fold's residue.
    """
    toks = (
        tokens_col(text_col)
        if slug_mode == "ascii"
        else tokens_for_mode(text_col, slug_mode)
    )
    # two-stage: materialize per-token hashes so the 32 per-bit aggregate
    # passes read an attribute instead of re-hashing every token 32x
    staged = materialize(
        df.select(
            F.col(id_col).alias("id"),
            token_hashes32(toks).alias("hashes"),
        ),
        None,
    )
    return _simhash_chunk_rows(staged, "hashes", band_bits)


def _simhash_chunk_rows(
    hashed: DataFrame, hashes_col: str, band_bits: int
) -> DataFrame:
    """(id, band_id, band_hash) Charikar chunks from a materialized
    per-token-hash array attribute."""
    n_bands = 32 // band_bits
    fp = simhash32_from_hashes(F.col(hashes_col))
    keyed = hashed.select("id", fp.alias("fp")).filter(
        F.col("fp").isNotNull() & (F.col("fp") >= 0)
    )
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.shiftright(F.col("fp"), i * band_bits).bitwiseAND(F.lit(mask)).cast("string")
            for i in range(n_bands)
        ]
    )
    return keyed.select("id", F.posexplode(bands).alias("band_id", "band_hash"))


def simhash_bucket_table_from_hashes(
    prep: DataFrame, band_bits: int = 8, hashes_col: str = "tok_h32"
) -> DataFrame:
    """SimHash chunk rows straight off a prepared-features checkpoint
    carrying per-token 32-bit hashes (prepare_pages with_token_hashes=True)
    — identical output to `simhash_bucket_table`, minus its second scan
    and re-tokenization of the raw text (and minus a second pandas-UDF
    pass under unicode slug modes)."""
    return _simhash_chunk_rows(prep, hashes_col, band_bits)
