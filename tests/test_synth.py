"""Tests for the synthetic corpus generator (M0): determinism, the
byte-identical extract_text invariant, and duplicate-family structure."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fuzzycat_spark.sources import extract_text_udf, synth_pages

from _paths import FIXTURES

N_FAMILIES = 40
N_SPAM = 15


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_pages(spark, n_families=N_FAMILIES, n_spam=N_SPAM, with_labels=True).cache()


def test_row_count_and_unique_urls(corpus):
    n = corpus.count()
    assert n == N_FAMILIES * 4 + N_SPAM
    assert corpus.select("url").distinct().count() == n


def test_schema(corpus):
    fields = dict(corpus.dtypes)
    assert fields["url"] == "string"
    assert fields["warc_ts"] == "timestamp"
    assert fields["html"] == "binary"
    assert fields["text"] == "string"
    assert fields["lang"] == "string"


def test_extract_text_byte_identical(corpus):
    # the per-row invariant from BASELINE.json input_hint
    mismatches = (
        corpus.withColumn("extracted", extract_text_udf(F.col("html")))
        .filter(
            F.col("extracted").cast("binary") != F.col("text").cast("binary")
        )
        .count()
    )
    assert mismatches == 0


_EXPECTED_FIXTURE_TEXT = "\n".join(
    [
        'The "Ultra" Widget & Friends',
        "First paragraph with bold and italic and an entity: 3 < 5 > 2, "
        "plus café and snowman ☃.",
        "Nested blocks still segment correctly.",
        "cell one",
        "cell two",
        "Last paragraph after the inline script.",
    ]
)


def test_extract_text_real_html_fixture(spark):
    """The extractor on a committed real-shaped page: nested drop
    elements (nav inside nav), inline + head scripts, style, comments
    containing markup, named/decimal/hex entities, nested block tags,
    table cells — head/nav/aside/footer chrome gone, one line per
    block, entities decoded."""
    from fuzzycat_spark.sources.html_extract import extract_text

    with open(f"{FIXTURES}/sample_page.html", "rb") as f:
        raw = f.read()
    got = extract_text(raw)
    assert got == _EXPECTED_FIXTURE_TEXT
    # the distributed UDF path produces the same bytes
    df = spark.createDataFrame([(raw,)], "html binary")
    assert df.select(extract_text_udf("html")).first()[0] == _EXPECTED_FIXTURE_TEXT


def test_extract_text_edge_cases():
    from fuzzycat_spark.sources.html_extract import extract_text

    assert extract_text(None) is None
    assert extract_text(b"") == ""
    assert extract_text("no markup at all") == "no markup at all"
    # unterminated script: drop regex can't match, tag strip still fires
    assert extract_text("<p>before</p><script>var x=1;") == "before\nvar x=1;"
    # invalid utf-8 is replaced, never raised
    assert "caf" in extract_text(b"<p>caf\xff</p>")
    # numeric refs out of range stay literal; surrogates stay literal
    assert extract_text("<p>&#1114112; &#xD800;</p>") == "&#1114112; &#xD800;"
    # nested DIFFERENT drop tags: the outer subtree goes entirely — the
    # per-tag innermost regexes can't stop at the inner element's close
    # (the old single-alternation regex kept 'tail' here)
    assert extract_text("<p>keep</p><nav>a<footer>b</footer>tail</nav>") == "keep"
    # deep same-tag nesting still reaches the fixpoint
    assert (
        extract_text("<div><nav>1<nav>2<nav>3</nav>4</nav>5</nav>ok</div>")
        == "ok"
    )
    # mismatched close of a DIFFERENT drop tag doesn't extend the cut
    assert (
        extract_text("<p>a</p><footer>junk</nav><p>rest</p>")
        == "a\njunk\nrest"
    )


def test_deterministic(spark, corpus):
    again = synth_pages(spark, n_families=N_FAMILIES, n_spam=N_SPAM, with_labels=True)
    assert corpus.exceptAll(again).count() == 0
    assert again.exceptAll(corpus).count() == 0


def test_family_structure(corpus):
    kinds = {r.kind for r in corpus.select("kind").distinct().collect()}
    assert "original" in kinds and "spam" in kinds and len(kinds) >= 6
    # exact copies really are byte-equal to their original
    orig = corpus.filter(F.col("kind") == "original").select("family", F.col("text").alias("t0"))
    ex = corpus.filter(F.col("kind") == "exact").select("family", "text")
    joined = ex.join(orig, "family")
    assert joined.filter(F.col("text") != F.col("t0")).count() == 0
    # spam block is 3 hot clusters (one per boilerplate variant)
    assert corpus.filter(F.col("kind") == "spam").select("true_cluster_id").distinct().count() == 3


def test_page_directives_semantics():
    """Robots meta + canonical link extraction: attr order/quoting
    agnostic, multi-tag union, 'none' expansion, comment immunity,
    near-miss names rejected, first canonical wins."""
    from fuzzycat_spark.sources.html_extract import page_directives

    assert page_directives(
        '<meta content="NOINDEX, nofollow" name=ROBOTS>'
        '<link rel=canonical href="https://x/y">'
    ) == (True, True, "https://x/y")
    assert page_directives("<meta name='robots' content='none'>") == (
        True, True, None,
    )
    # union across tags; index/follow are no-ops
    assert page_directives(
        "<meta name=robots content=nofollow>"
        "<meta name=robots content=noindex>"
        '<meta name=robots content="index, follow">'
    ) == (True, True, None)
    # commented-out markup and near-miss attribute values are ignored
    assert page_directives(
        '<!-- <meta name="robots" content="noindex"> -->'
        '<meta name="robotsx" content="noindex">'
        '<link rel="canonicalx" href="/no">'
    ) == (False, False, None)
    assert page_directives(
        "<link href=/first rel=canonical><link rel=canonical href=/second>"
    ) == (False, False, "/first")
    assert page_directives(None) == (False, False, None)
    assert page_directives(b"<META NAME=robots CONTENT=noindex>") == (
        True, False, None,
    )


def test_page_directives_udf_matches_scalar_on_fixture(spark):
    """The Arrow-batched struct UDF reproduces the fixture's golden
    columns (precomputed by the scalar at generation time) row-for-row —
    same pattern as the extract_text byte-identical gate."""
    from fuzzycat_spark.sources.html_extract import page_directives_udf

    df = (
        spark.read.parquet(f"{FIXTURES}/html_docs.parquet")
        .select(
            "doc_id", "noindex", "nofollow", "canonical",
            page_directives_udf(F.col("html")).alias("d"),
        )
    )
    rows = df.collect()
    assert len(rows) >= 18  # the directive pages are present
    for r in rows:
        assert (r.d.noindex, r.d.nofollow, r.d.canonical) == (
            r.noindex, r.nofollow, r.canonical,
        ), r.doc_id
    assert any(r.noindex for r in rows) and any(r.canonical for r in rows)


def test_page_directives_hardening():
    """Regression pins for the adversarial-markup findings: empty
    canonical href must not crash, data-* attribute names must not
    shadow real attributes, and a comment left unterminated by the
    256 KiB scan cap must not resurrect commented-out directives."""
    from fuzzycat_spark.sources.html_extract import (
        _DIRECTIVE_SCAN_CHARS,
        page_directives,
    )

    assert page_directives('<link rel="canonical" href="">') == (
        False, False, None,
    )
    assert page_directives(
        '<link rel="canonical" data-href="/wrong" href="/right">'
    ) == (False, False, "/right")
    assert page_directives(
        '<meta data-name="robots" content="noindex"><p>x</p>'
    ) == (False, False, None)
    # comment opens inside the cap, closes beyond it: the commented-out
    # noindex (also inside the cap) stays dead
    page = "<p>live</p><!--" + "y" * (_DIRECTIVE_SCAN_CHARS - 100) + \
        '<meta name="robots" content="noindex">'
    assert page_directives(page + "x" * 1000 + "-->") == (
        False, False, None,
    )


def test_page_meta_cols_fixture_values_and_plan(spark):
    """page_meta_cols over the committed fixture: commented-out titles
    never win, both description attribute orders are found, charset is
    lowercased from both <meta charset> and legacy http-equiv forms,
    whitespace collapses — and the plan is pure codegen (no UDF, no
    exchange): this is the 10^12-page catalog fast path."""
    from fuzzycat_spark.sources.html_extract import page_meta_cols

    df = spark.read.parquet(f"{FIXTURES}/html_docs.parquet").select(
        "doc_id", *page_meta_cols(F.col("html"))
    )
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[18].title == "Deep Sea Mining — an Overview"
    assert rows[18].meta_description == (
        "Impacts of deep sea mining on benthic fauna."
    )
    assert rows[18].charset == "utf-8" and rows[18].h1 == "Deep Sea Mining"
    assert rows[19].meta_description == "Reversed attr order still found"
    assert rows[19].charset == "iso-8859-1"
    assert rows[20].charset == "windows-1252" and rows[20].h1 == ""
    assert rows[21].title == "Real Title"  # ghost title was commented out
    assert rows[22] == (22, "", "", "", "")
    assert rows[23].title == "Spaced Title"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "pythonUDF" not in plan.lower()
