"""Encoding repair (functions/encoding.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fuzzycat_spark.functions.encoding import (
    MOJIBAKE_MAP,
    fix_mojibake,
    fix_mojibake_py as _fix_py,
    mangle_utf8_as_cp1252,
    mojibake_score,
)

from _paths import FIXTURES

FIXTURE = f"{FIXTURES}/mojibake_docs.parquet"


class TestMangleModel:
    def test_known_renderings(self):
        assert mangle_utf8_as_cp1252("é") == "Ã©"
        assert mangle_utf8_as_cp1252("’") == "â€™"
        assert mangle_utf8_as_cp1252("—") == "â€”"
        assert mangle_utf8_as_cp1252("\xa0") == "Â\xa0"

    def test_repair_inverts_mangle_on_repaired_chars(self):
        text = "l’été — “schöne Grüße”, 10\xa0€ añejo…"
        assert _fix_py(mangle_utf8_as_cp1252(text)) == text

    def test_ascii_fixed_point(self):
        t = "plain ascii stays exactly as it is (A < B)"
        assert mangle_utf8_as_cp1252(t) == t
        assert _fix_py(t) == t

    def test_map_lhs_never_ascii_and_ordered_longest_first(self):
        lens = [len(b) for b, _ in MOJIBAKE_MAP]
        assert lens == sorted(lens, reverse=True)
        assert all(any(ord(ch) > 127 for ch in bad) for bad, _ in MOJIBAKE_MAP)

    def test_chain_is_confluent_no_synthesized_chars(self):
        # a bare Ã followed by mangled-'‘': a naive LHS→RHS chain first
        # repairs the quote, creating 'Ã‘' which the Ñ rule then eats —
        # synthesizing a character never present. The two-pass placeholder
        # chain must leave the Ã alone and repair only the quote.
        assert _fix_py("Ã" + mangle_utf8_as_cp1252("‘")) == "Ã" + "‘"
        # adjacent truncated + full punctuation renderings must not merge:
        # 'â€' + repaired '“' spells the mangled form of '–', but pass 2
        # only rewrites placeholders, so it stays as written
        truncated = mangle_utf8_as_cp1252("—")[:2]
        assert (
            _fix_py(truncated + mangle_utf8_as_cp1252("“")) == truncated + "“"
        )
        # and LHS occurrences never chain into each other's outputs
        for bad, good in MOJIBAKE_MAP:
            assert _fix_py(bad) == good


class TestSparkPath:
    def test_matches_python_reference_on_fixture(self, spark):
        rows = spark.read.parquet(FIXTURE).select(
            "doc_id", "text",
            fix_mojibake("text").alias("fixed"),
            mojibake_score("text").alias("n_moji"),
        ).collect()
        assert len(rows) == 13
        n_changed = 0
        for r in rows:
            assert r["fixed"] == _fix_py(r["text"]), r["doc_id"]
            n_changed += r["fixed"] != r["text"]
            if r["doc_id"].endswith("_raw"):
                assert r["n_moji"] > 0 or "Ã" in r["text"], r["doc_id"]
            if r["doc_id"].startswith("c"):
                assert r["fixed"] == r["text"] and r["n_moji"] == 0, r["doc_id"]
        assert n_changed >= 5

    def test_raw_equals_clean_after_repair(self, spark):
        df = spark.read.parquet(FIXTURE)
        raw = df.filter(F.col("doc_id").endswith("_raw")).select(
            F.regexp_replace("doc_id", "_raw$", "").alias("k"),
            fix_mojibake("text").alias("t"),
        )
        clean = df.filter(F.col("doc_id").endswith("_clean")).select(
            F.regexp_replace("doc_id", "_clean$", "").alias("k"),
            F.col("text").alias("t"),
        )
        # every repaired char in the planted sentences is in the map's
        # scope except «» — normalize those out before comparing
        joined = raw.join(clean, on="k").collect()
        assert len(joined) == 5
        for r in joined:
            assert r[1] == r[2], r[0]

    def test_pure_codegen_plan(self, spark):
        df = spark.read.parquet(FIXTURE).select(
            fix_mojibake("text").alias("f"), mojibake_score("text").alias("n")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "EvalPython" not in plan
