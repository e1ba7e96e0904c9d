"""PII scrubbing (functions/pii.py): pattern-level units via Python re
(same Java-compatible subset Spark executes) + the Catalyst path."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from fuzzycat_spark.functions.pii import (
    CARD_RE,
    EMAIL_RE,
    IPV4_RE,
    IPV6_RE,
    PHONE_RE,
    PII_RULES,
    has_pii,
    pii_counts,
    redact_pii,
)

from _paths import FIXTURES

FIXTURE = f"{FIXTURES}/pii_docs.parquet"


def _chain(text: str) -> str:
    for _, pattern, token in PII_RULES:
        text = re.sub(pattern, token, text)
    return text


class TestPatterns:
    def test_email_forms(self):
        assert re.findall(EMAIL_RE, "a@b.io and bob.smith+t@sub.ex.co.uk") == [
            "a@b.io",
            "bob.smith+t@sub.ex.co.uk",
        ]

    def test_email_needs_tld(self):
        assert not re.search(EMAIL_RE, "user@localhost")

    def test_ipv4_boundaries(self):
        assert re.findall(IPV4_RE, "at 10.0.0.1, done") == ["10.0.0.1"]
        assert not re.search(IPV4_RE, "1.2.3")

    def test_phone_forms(self):
        for s in ["555-123-4567", "+1 (555) 987-6543", "555.222.3333", "5551234567"]:
            assert re.fullmatch(PHONE_RE, s), s

    def test_phone_does_not_eat_ip(self):
        assert not re.search(PHONE_RE, "8.8.8.8 and 192.168.10.250")

    def test_redaction_order_protects_email_digits(self):
        out = _chain("Fallback 5551234567@sms-gateway.net works")
        assert out == "Fallback <EMAIL> works"

    def test_clean_text_untouched(self):
        t = "No identifiers here, just prose."
        assert _chain(t) == t

    def test_card_forms(self):
        for s in [
            "4111 1111 1111 1111",
            "5500-0000-0000-0004",
            "4111111111111111",
            "378282246310005",  # 15-digit amex
            "4222222222222",  # 13-digit visa
        ]:
            assert re.fullmatch(CARD_RE, s), s

    def test_card_needs_13_digits(self):
        assert not re.search(CARD_RE, "Order #123456789012 is")  # 12
        assert not re.search(CARD_RE, "call 5551234567 now")  # 10

    def test_card_redacts_before_phone(self):
        assert _chain("pay 4111111111111111 now") == "pay <CREDIT_CARD> now"

    def test_ipv6_full_form_only(self):
        assert re.fullmatch(IPV6_RE, "2001:0db8:85a3:0000:0000:8a2e:0370:7334")
        assert re.fullmatch(IPV6_RE, "fe80:1:2:3:4:5:6:7")
        assert not re.search(IPV6_RE, "time 12:34:56 plus dead:beef")
        assert not re.search(IPV6_RE, "::1")  # compressed: documented non-goal


class TestSparkPath:
    def test_matches_python_reference(self, spark):
        df = spark.read.parquet(FIXTURE)
        got = (
            df.select("doc_id", "text", redact_pii("text").alias("red"), *pii_counts("text"))
            .orderBy("doc_id")
            .collect()
        )
        for r in got:
            assert r["red"] == _chain(r["text"]), r["doc_id"]
            assert r["n_email"] == len(re.findall(EMAIL_RE, r["text"]))
            assert r["n_ipv4"] == len(re.findall(IPV4_RE, r["text"]))
            assert r["n_phone"] == len(re.findall(PHONE_RE, r["text"]))

    def test_has_pii_predicate(self, spark):
        df = spark.read.parquet(FIXTURE)
        flagged = {
            r["doc_id"]
            for r in df.select("doc_id", has_pii("text").alias("p")).collect()
            if r["p"]
        }
        assert "p11" not in flagged and "p12" not in flagged
        assert {"p00", "p03", "p06"} <= flagged

    def test_no_shuffle_no_udf_in_plan(self, spark):
        df = spark.read.parquet(FIXTURE).select(
            "doc_id", redact_pii("text").alias("r"), *pii_counts("text")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
