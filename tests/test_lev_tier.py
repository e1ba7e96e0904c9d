"""Tier-4 edit-distance verify rules (LEVENSHTEIN / TOKEN_SORT_RATIO —
the reference's token-ratio/Levenshtein checks, fuzzycat verify.py:480-520,
re-targeted to page slugs) over the committed typo-noise fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from fuzzycat_spark.operators.verify import (
    LEV_MAX_EDITS,
    LEV_STRONG_RATIO,
    _lev_ratio,
    prepare_pages,
    verify_pairs,
)

from _paths import FIXTURES

_FIXTURE = f"{FIXTURES}/lev_docs.parquet"


def _all_pairs_verified(spark):
    df = spark.read.parquet(_FIXTURE)
    prep = prepare_pages(df, "doc_id", "text")
    ids = df.select("doc_id")
    pairs = ids.select(F.col("doc_id").alias("id_a")).join(
        F.broadcast(ids.select(F.col("doc_id").alias("id_b"))),
        F.col("id_a") < F.col("id_b"),
    )
    return {
        (r.id_a, r.id_b): (r.status, r.reason)
        for r in verify_pairs(pairs, prep).collect()
    }


def test_tier4_reasons_on_fixture(spark):
    got = _all_pairs_verified(spark)
    # alternating per-word typos: no shingle survives, jac_tok ~ 0.33 —
    # ONLY the bounded-prefix Levenshtein links these
    assert got[("lev-base", "lev-t1")] == ("strong", "LEVENSHTEIN")
    assert got[("lev-base", "lev-t2")] == ("strong", "LEVENSHTEIN")
    # word-reversed + 40% last-char typos: raw prefix scrambled, the
    # token-sorted join realigns
    assert got[("ts-base", "ts-perm")] == ("strong", "TOKEN_SORT_RATIO")
    # the language screen still comes AFTER the edit-distance rules
    assert got[("lang-de", "lang-en")] == ("different", "LANGUAGE")
    # earlier arms are not shadowed by the new tier
    assert got[("tok-a", "tok-b")] == ("strong", "TOKEN_JACCARD")
    assert got[("weak-a", "weak-b")] == ("weak", "SHINGLE_JACCARD_WEAK")
    assert got[("ex-a", "ex-b")] == ("exact", "CONTENT_HASH")
    # unrelated texts do NOT reach the 0.9 ratio
    assert got[("lev-base", "un-a")] == ("ambiguous", "UNKNOWN")


def test_lev_ratio_banding(spark):
    """The banded DP's -1 sentinel maps to ratio 0.0, identity to 1.0,
    and a 1-edit pair lands exactly at 1 - 1/len."""
    df = spark.createDataFrame(
        [
            ("same", "abcdefghij", "abcdefghij"),
            ("one-edit", "abcdefghij", "abcdefghix"),
            ("far", "abcdefghij", "zyxwvutsrq"),
            ("empty", "", ""),
        ],
        ["case", "a", "b"],
    )
    got = {
        r.case: r.ratio
        for r in df.select(
            "case", _lev_ratio(F.col("a"), F.col("b")).alias("ratio")
        ).collect()
    }
    assert got["same"] == 1.0
    assert abs(got["one-edit"] - 0.9) < 1e-12
    assert got["far"] == 0.0  # 10 edits = LEV_MAX_EDITS band -> sentinel
    assert got["empty"] == 0.0
    assert LEV_MAX_EDITS == 10 and LEV_STRONG_RATIO == 0.9
