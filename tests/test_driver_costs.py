"""Fixed driver-side costs a run does not pay twice: a repeated plan reuses
the compiled classes of the first run, and importing the package (as every
Python worker that unpickles one of its UDFs does) builds no Unicode
table."""

from __future__ import annotations

import subprocess
import sys

from _paths import ROOT

from fuzzycat_spark.operators.dedup import DedupConfig, dedup_pages
from fuzzycat_spark.sources import synth_pages


def test_second_identical_run_compiles_no_class(spark):
    """Spark's compiled-class cache holds a dedup run's working set: the
    second run of the same plan is all cache hits."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    pages = synth_pages(spark, n_families=10, n_spam=4)

    def run() -> list:
        verified, assignments = dedup_pages(pages, DedupConfig())
        return sorted(verified.collect()) + sorted(assignments.collect())

    first = run()
    before = compiles.getCount()
    assert run() == first
    assert compiles.getCount() == before


def test_import_builds_no_strip_table():
    """The strip tables walk every code point; only the unicode slug modes
    read them, so they are built on first use, not at import."""
    code = (
        "import fuzzycat_spark, fuzzycat_spark.operators.dedup, "
        "fuzzycat_spark.streaming.dedup_stream\n"
        "from fuzzycat_spark.functions import normalize\n"
        "print(normalize._strip_tables.cache_info().currsize)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "0"
