"""Cross-corpus near-dedup (operators/crossdedup.py): screen a new crawl
against a frozen reference corpus.

What matters at cluster scale: only new x ref pairs are ever expanded
(the quadratic within-reference set is never materialized), the bucket
cap applies to the COMBINED bucket so a cross-crawl boilerplate template
cannot go quadratic, a persisted reference band table short-circuits
re-hashing the frozen side, and no plan contains a cartesian product.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuzzycat_spark.functions.normalize import tokens_col, word_shingles_from_tokens
from fuzzycat_spark.operators.crossdedup import (
    cross_candidate_pairs,
    cross_corpus_pairs,
    cross_dedup_verdicts,
)
from fuzzycat_spark.operators.lsh import minhash_band_table

WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike november oscar papa quebec romeo sierra tango".split()
BASE = " ".join(WORDS)  # 20 tokens -> 18 distinct 3-gram shingles


def _sh(spark, rows):
    df = spark.createDataFrame(rows, "id long, text string")
    return df.select(
        "id", word_shingles_from_tokens(tokens_col("text"), 3).alias("sh")
    )


@pytest.fixture(scope="module")
def corpora(spark):
    ref = _sh(
        spark,
        [
            (1, BASE),
            (2, "completely different reference text about seven silent ships sailing south under storm clouds tonight"),
            (3, "unrelated third reference document mentions gardens rivers mountains valleys forests deserts islands beaches"),
        ],
    )
    new = _sh(
        spark,
        [
            (101, BASE),  # exact copy of ref 1 -> jac 1.0
            (102, BASE.replace("tango", "zulu")),  # near-dup of ref 1
            (103, "twin text only inside the new crawl nothing like any reference page here at all today"),
            (104, "twin text only inside the new crawl nothing like any reference page here at all today"),
            (105, "a fully clean page sharing no phrases with anything else in either crawl whatsoever"),
        ],
    )
    return new, ref


def _pairs(new, ref, **kw):
    return {
        (r["new_id"], r["ref_id"])
        for r in cross_corpus_pairs(new, ref, **kw).collect()
    }


class TestCrossPairs:
    def test_matches_and_asymmetry(self, spark, corpora):
        new, ref = corpora
        got = _pairs(new, ref)
        # the exact copy must match; ids 103/104 are a within-NEW dup pair
        # and must NOT appear (no side ever pairs with itself)
        assert (101, 1) in got
        assert all(n in (101, 102) for n, _ in got)
        assert all(r == 1 for _, r in got)

    def test_near_dup_confirmed_by_exact_jaccard(self, spark, corpora):
        new, ref = corpora
        rows = {
            (r["new_id"], r["ref_id"]): r["jac"]
            for r in cross_corpus_pairs(new, ref).collect()
        }
        assert rows[(101, 1)] == 1.0
        if (102, 1) in rows:  # last word changed -> 1 of 18 shingles: 17/19
            assert rows[(102, 1)] == pytest.approx(17 / 19, abs=1e-6)

    def test_threshold_filters(self, spark, corpora):
        new, ref = corpora
        # at threshold 1.0 only the exact copy survives confirmation
        got = _pairs(new, ref, jaccard_threshold=1.0)
        assert got == {(101, 1)}

    def test_ref_bands_reuse_is_identical(self, spark, corpora):
        new, ref = corpora
        rb = minhash_band_table(
            ref, "id", "text", shingles_col="sh"
        )
        assert _pairs(new, ref) == _pairs(new, ref, ref_bands=rb)

    def test_combined_bucket_cap_excludes_mega_template(self, spark):
        # 30 identical copies split across the sides; combined bucket = 30
        ref = _sh(spark, [(i, BASE) for i in range(15)])
        new = _sh(spark, [(100 + i, BASE) for i in range(15)])
        assert _pairs(new, ref, max_bucket_size=20) == set()
        # raising the cap above the combined size restores all 15x15 pairs
        assert len(_pairs(new, ref, max_bucket_size=40)) == 225

    def test_no_cartesian_in_plan(self, spark, corpora):
        new, ref = corpora
        plan = (
            cross_corpus_pairs(new, ref)._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestVerdicts:
    def test_verdict_covers_all_new_docs(self, spark, corpora):
        new, ref = corpora
        pairs = cross_corpus_pairs(new, ref)
        verdicts = {
            r["new_id"]: (r["matched"], r["best_ref"], r["best_jac"])
            for r in cross_dedup_verdicts(new.select(F.col("id").alias("new_id")), pairs).collect()
        }
        assert set(verdicts) == {101, 102, 103, 104, 105}
        assert verdicts[101] == (True, 1, 1.0)
        assert verdicts[105] == (False, None, None)
        assert verdicts[103][0] is False and verdicts[104][0] is False

    def test_best_is_max_jaccard_min_ref(self, spark):
        # one new doc matching two refs: exact copy wins over near-dup
        ref = _sh(spark, [(1, BASE.replace("tango", "zulu")), (2, BASE)])
        new = _sh(spark, [(100, BASE)])
        pairs = cross_corpus_pairs(new, ref)
        row = cross_dedup_verdicts(
            new.select(F.col("id").alias("new_id")), pairs
        ).collect()[0]
        assert (row["matched"], row["best_ref"], row["best_jac"]) == (True, 2, 1.0)


class TestCandidates:
    def test_same_id_both_sides_reports_self(self, spark):
        sh = _sh(spark, [(1, BASE)])
        bands = minhash_band_table(sh, "id", "text", shingles_col="sh")
        got = {
            (r["new_id"], r["ref_id"])
            for r in cross_candidate_pairs(bands, bands).collect()
        }
        assert got == {(1, 1)}
