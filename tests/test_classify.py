"""operators/classify.py — model-based quality classification.

Scale invariants under test: feature extraction is zero-shuffle in-row
work, scoring is one broadcast join + one integer aggregation (order-free
by construction: int64 products), and fitting collects only the labeled
vocabulary. Correctness: features/scores match a pure-Python model, the
pinned-hash round trip matches `py_feature_hash`, and the committed
fixture separates its classes with margin.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuzzycat_spark.operators.classify import (
    fit_nb_weights,
    linear_score_fp,
    py_feature_hash,
    text_feature_rows,
)

from _paths import FIXTURES

DOCS_FX = f"{FIXTURES}/classifier_docs.parquet"
WEIGHTS_FX = f"{FIXTURES}/classifier_weights.parquet"


def _py_features(text: str, bigrams: bool = True) -> list[str]:
    # mirror of tokens_col: lowercase slug, non-alnum -> space
    import re

    toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).split()
    out = list(toks)
    if bigrams:
        out += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return out


class TestFeatureRows:
    def test_matches_python_model(self, spark):
        texts = [
            (1, "The quick brown fox jumps over the lazy dog"),
            (2, "buy now buy now buy now"),
            (3, "single"),
            (4, ""),
            (5, "two words"),
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {}
        for r in text_feature_rows(df, id_col="doc_id").collect():
            got.setdefault(r["id"], {})[r["h"]] = (r["tf"], r["dl"])
        for i, t in texts:
            feats = _py_features(t)
            want = {}
            for f in feats:
                h = py_feature_hash(f)
                want[h] = want.get(h, 0) + 1
            assert got.get(i, {}) == {
                h: (c, len(feats)) for h, c in want.items()
            }, f"doc {i}"

    def test_unigram_only(self, spark):
        df = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id long, text string")
        rows = text_feature_rows(df, id_col="doc_id", bigrams=False).collect()
        assert {r["h"] for r in rows} == {
            py_feature_hash(t) for t in ("alpha", "beta", "gamma")
        }
        assert all(r["dl"] == 3 for r in rows)

    def test_no_exchange_in_feature_plan(self, spark):
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = (
            text_feature_rows(df, id_col="doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestScoring:
    def _weights(self, spark, mapping):
        return spark.createDataFrame(
            [(f, py_feature_hash(f), w) for f, w in mapping.items()],
            "feat string, h long, w_fp long",
        )

    def test_score_is_tf_weighted_sum_plus_bias(self, spark):
        docs = spark.createDataFrame(
            [(1, "good good bad"), (2, "unseen tokens only"), (3, "")],
            "doc_id long, text string",
        )
        w = self._weights(spark, {"good": 10, "bad": -3, "good good": 100})
        got = {
            r["id"]: r["score_fp"]
            for r in linear_score_fp(docs, w, bias_fp=7).collect()
        }
        # doc 1: 2*10 - 3 + 1*100 + 7; docs without vocab hits score bias
        assert got == {1: 124, 2: 7, 3: 7}

    def test_weights_broadcast(self, spark):
        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        w = self._weights(spark, {"a": 1})
        plan = (
            linear_score_fp(docs, w)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_partition_invariant(self, spark):
        docs = spark.read.parquet(DOCS_FX)
        weights = spark.read.parquet(WEIGHTS_FX)
        a = {r["id"]: r["score_fp"] for r in linear_score_fp(docs, weights).collect()}
        b = {
            r["id"]: r["score_fp"]
            for r in linear_score_fp(docs.repartition(17), weights).collect()
        }
        assert a == b and len(a) == 80


class TestFitAndFixture:
    def test_fit_separates_toy_classes(self, spark):
        rows = (
            [(f"p{i}", "calm meadow morning walk with quiet birds", "pos")
             for i in range(5)]
            + [(f"n{i}", "spam spam casino spam bonus spam", "neg")
               for i in range(5)]
        )
        df = spark.createDataFrame(rows, "doc_id string, text string, label string")
        wrows, bias = fit_nb_weights(df)
        assert bias == 0
        w = spark.createDataFrame(wrows, "feat string, h long, w_fp long")
        scored = {r["id"]: r["score_fp"] for r in linear_score_fp(df, w).collect()}
        assert all(v > 0 for k, v in scored.items() if k.startswith("p"))
        assert all(v < 0 for k, v in scored.items() if k.startswith("n"))

    def test_fit_rejects_single_class(self, spark):
        df = spark.createDataFrame(
            [("a", "one class only", "pos")], "doc_id string, text string, label string"
        )
        with pytest.raises(ValueError):
            fit_nb_weights(df)

    def test_committed_fixture_separates_with_margin(self, spark):
        docs = spark.read.parquet(DOCS_FX)
        weights = spark.read.parquet(WEIGHTS_FX)
        scored = linear_score_fp(docs, weights).join(
            docs.select(F.col("doc_id").alias("id"), "label"), "id"
        )
        agg = {
            r["label"]: (r["lo"], r["hi"])
            for r in scored.groupBy("label")
            .agg(F.min("score_fp").alias("lo"), F.max("score_fp").alias("hi"))
            .collect()
        }
        assert agg["pos"][0] > 0 > agg["neg"][1]

    def test_fixture_hashes_match_python(self, spark):
        rows = spark.read.parquet(WEIGHTS_FX).collect()
        assert all(py_feature_hash(r["feat"]) == r["h"] for r in rows)
