"""MOSS-style winnowing fingerprints: localized partial-overlap detection.

Whole-document MinHash-LSH (operators/lsh.py) misses pairs whose OVERLAP is
a small fraction of each document (e.g. a shared paragraph in two long
pages), and the exact-substring index (operators/substring.py) requires
full containment of one document in the other. Winnowing (Schleimer,
Wilkerson, Aiken: "Winnowing: Local Algorithms for Document
Fingerprinting", SIGMOD 2004) covers the middle: from each window of `w`
consecutive shingle hashes, keep the rightmost minimum — any shared run of
at least w+k-1 tokens is then guaranteed to contribute at least one
IDENTICAL selected fingerprint to both documents, while the fingerprint
density stays ~2/(w+1) of the shingle count.

Scale shape: one window function over (doc, pos) — a single shuffle that
reuses the hash partitioning of the shingle explode. The "winnow" dedup
strategy uses the fingerprints as band keys, so they go through the same
capped pair expansion as the LSH bands (`operators/dedup.py`).
Everything is arithmetic on int64 (hash-mod packing), so the DuckDB oracle
reproduces it bit-for-bit.

Reference tie-in: fuzzycat's fingerprint analog is the whole-title key
(`/root/reference/fuzzycat/utils.py:121-125`); winnowing is the
sub-document generalization the web-page graft needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzycat_spark.functions.hashing import md5_h64
from fuzzycat_spark.functions.normalize import (
    tokens_col,
    tokens_for_mode,
    word_shingles_ordered,
)
from fuzzycat_spark.operators.verify import _gen_barrier

# 40-bit fingerprint hash + 20-bit inverted position packed into one int64:
# min() over the pack selects the smallest hash, ties broken toward the
# RIGHTMOST position (larger pos -> smaller inverted pos -> smaller pack),
# which is the robust-winnowing tie rule. 2^20 caps addressable shingle
# positions per document; longer tails are not fingerprinted (a web page
# never gets near 1M tokens — and both engines apply the same cap).
_POS_BITS = 20
_POS_MOD = 1 << _POS_BITS
_HASH_MOD = 1 << 40


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    slug_mode: str = "ascii",
) -> DataFrame:
    """(id, fp, pos) — selected winnowing fingerprints per document.

    `k` = tokens per shingle, `w` = windows of consecutive shingle hashes.
    Documents with fewer than w shingles contribute the minimum of what
    they have (one window); documents with no shingles contribute nothing.
    Guarantee: two documents sharing a run of >= w+k-1 tokens (inside the
    position cap) share at least one (fp, ...) row. `slug_mode` selects
    the shared tokenizer (CJK-bigram stream under "unicode"/"auto").
    """
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text"))
    # Generate barriers so toks (then the shingle array) are evaluated once
    # per row — composing them lets CollapseProject inline the token regex
    # into the shingle lambda, O(L^2) per document (see prepare_pages)
    toks_expr = (
        tokens_col("_text")
        if slug_mode == "ascii"
        else tokens_for_mode("_text", slug_mode)
    )
    toks = _gen_barrier(base, ["id"], F.struct(toks_expr.alias("toks")))
    sarr = _gen_barrier(
        toks, ["id"], F.struct(word_shingles_ordered(F.col("toks"), k).alias("sarr"))
    )
    sh = sarr.select("id", F.posexplode(F.col("sarr")).alias("pos", "s")).filter(
        F.col("pos") < _POS_MOD - 1
    )
    pack = (
        F.pmod(md5_h64(F.col("s")), F.lit(_HASH_MOD)) * _POS_MOD
        + (F.lit(_POS_MOD - 1) - F.col("pos"))
    ).alias("pack")
    packed = sh.select("id", "pos", pack)
    wspec = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    nspec = Window.partitionBy("id")
    sel = (
        packed.withColumn("win", F.min("pack").over(wspec))
        .withColumn("n_sh", F.count(F.lit(1)).over(nspec))
        # full windows only; a shorter-than-w document keeps its single
        # truncated window at pos 0
        .filter((F.col("pos") <= F.col("n_sh") - w) | ((F.col("n_sh") < w) & (F.col("pos") == 0)))
        .select(
            "id",
            # exact int64 unpack (a double division would drop low bits at
            # 2^60 scale): pack is nonnegative, so shift/mask are exact
            F.shiftright(F.col("win"), _POS_BITS).alias("fp"),
            (F.lit(_POS_MOD - 1) - F.col("win").bitwiseAND(F.lit(_POS_MOD - 1))).alias(
                "pos"
            ),
        )
        .distinct()
    )
    return sel

