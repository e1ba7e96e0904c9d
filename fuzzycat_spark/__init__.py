"""fuzzycat_spark — a from-scratch PySpark-native near-duplicate detection
and clustering engine with the query capabilities of miku/fuzzycat,
generalized from publication metadata to Common-Crawl-style web pages.

Reference semantics (what, not how): /root/reference (fuzzycat v0.1.22).
Pipeline shape (SURVEY.md §0): scan → key → block → pair-gen → verify
cascade → connected components → sink, re-expressed as DataFrame plans so
Catalyst/AQE pick physical strategy.

Layout:
  functions/  — scalar/column kernels (normalize, shingle, minhash, simhash)
  operators/  — key stars, LSH band candidates, verify cascades, components,
                the dedup_stages plan
  sources/    — synthetic corpus generator, pages table IO
  plans/      — checkpointed resumable multi-stage pipeline driver
  streaming/  — structured-streaming incremental dedup
"""

__version__ = "0.1.0"

from fuzzycat_spark.config import get_spark  # noqa: F401
