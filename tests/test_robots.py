"""operators/robots.py — robots.txt rule extraction + per-URL decisions
over the planted fixture (tools/make_robots_fixture.py). The driver
gates (`robots_rules`, `robots_decisions`) prove Spark==DuckDB on the
same corpus; these tests pin the SEMANTICS (which decision and WHY) so
a refactor that changed both engines in lockstep still fails."""

from __future__ import annotations

import pytest

from _paths import FIXTURES

_ROBOTS = f"{FIXTURES}/robots_docs.parquet"
_PAGES = f"{FIXTURES}/robots_pages.parquet"


@pytest.fixture(scope="module")
def decisions(spark):
    from fuzzycat_spark.operators.robots import robots_decisions, robots_rules

    rules = robots_rules(spark.read.parquet(_ROBOTS))
    return {
        r.url: (r.allowed, r.rule_path)
        for r in robots_decisions(spark.read.parquet(_PAGES), rules).collect()
    }


def test_prefix_carveout_and_short_prefix(decisions):
    assert decisions["https://example.com/private/x"] == (False, "/private/")
    # longer Allow carves out of the Disallow
    assert decisions["https://example.com/private/public/y"] == (
        True, "/private/public/")
    # '/tmp' is a PREFIX rule: it blocks '/tmpfile' too
    assert decisions["https://example.com/tmpfile"] == (False, "/tmp")
    # www. strips to the same SURT host
    assert decisions["https://www.example.com/private/z"] == (
        False, "/private/")


def test_ua_stacking_and_named_bot_group_ignored(decisions):
    # the googlebot-only 'Disallow: /' group does NOT apply to *
    assert decisions["https://bots.example.net/"] == (True, None)
    # 'User-agent: foo' + 'User-agent: *' stack into one group
    assert decisions["https://bots.example.net/blocked/a"] == (
        False, "/blocked/")


def test_tie_breaks_to_allow(decisions):
    assert decisions["https://tie.example.org/p"] == (True, "/p")


def test_wildcard_rules_excluded_but_literal_siblings_apply(decisions):
    assert decisions["https://wild.example.com/doc.pdf"] == (True, None)
    assert decisions["https://wild.example.com/real/x"] == (False, "/real/")


def test_crlf_case_insensitive_names_case_sensitive_paths(decisions):
    assert decisions["https://crlf.example.com/UP/a"] == (False, "/UP/")
    assert decisions["https://crlf.example.com/UP/ok/b"] == (True, "/UP/ok")
    # URL paths stay case-sensitive: /up/ is not /UP/
    assert decisions["https://crlf.example.com/up/a"] == (True, None)


def test_default_allow_paths(decisions):
    # rules before any User-agent line are invalid
    assert decisions["https://norules.example.com/everything"] == (True, "/")
    # no robots.txt at all
    assert decisions["https://unlisted.example.io/anything"] == (True, None)
    # empty path normalizes to '/'
    assert decisions["https://example.com"] == (True, None)
    # 'allowed by rule' vs 'allowed by default' stay distinguishable
    assert decisions["https://example.com/"] == (True, None)


def test_rules_table_shape(spark):
    from fuzzycat_spark.operators.robots import robots_rules

    rules = robots_rules(spark.read.parquet(_ROBOTS))
    rows = rules.collect()
    # empty 'Disallow:' and wildcard rules emit nothing
    assert all(r.path.startswith("/") for r in rows)
    assert all("*" not in r.path and "$" not in r.path for r in rows)
    assert all(r.specificity == len(r.path) for r in rows)
    # the googlebot-only group's 'Disallow: /' must be absent
    assert not [r for r in rows
                if r.host == "net,example,bots" and r.path == "/"]


class TestRobotsSitemaps:
    def _sm(self, spark, txt: str):
        from fuzzycat_spark.operators.robots import robots_sitemaps

        df = spark.createDataFrame(
            [("h.com", txt)], "host string, robots_txt string"
        )
        return {
            (r.host, r.sitemap_url) for r in robots_sitemaps(df).collect()
        }

    def test_group_independent_and_dedup(self, spark):
        txt = (
            "Sitemap: https://h.com/pre.xml\n"
            "User-agent: bot\n"
            "Disallow: /\n"
            "Sitemap: https://h.com/in-group.xml\n"
            "Sitemap: https://h.com/pre.xml\n"
        )
        assert self._sm(spark, txt) == {
            ("com,h", "https://h.com/pre.xml"),
            ("com,h", "https://h.com/in-group.xml"),
        }

    def test_case_crlf_comment_and_relative(self, spark):
        txt = (
            "SITEMAP: https://h.com/a.xml  # weekly\r\n"
            "Sitemap: /relative.xml\n"
            "Sitemap: ftp://h.com/b.xml\n"
        )
        assert self._sm(spark, txt) == {("com,h", "https://h.com/a.xml")}

    def test_sitemap_lines_do_not_leak_into_rules(self, spark):
        from fuzzycat_spark.operators.robots import robots_rules

        df = spark.createDataFrame(
            [("h.com", "User-agent: *\nSitemap: https://h.com/s.xml\nDisallow: /x\n")],
            "host string, robots_txt string",
        )
        rows = robots_rules(df).collect()
        assert [(r.path, r.allow) for r in rows] == [("/x", False)]


class TestCrawlDelays:
    def _delays(self, spark, txt: str):
        from fuzzycat_spark.operators.robots import robots_crawl_delays

        df = spark.createDataFrame(
            [("h.com", txt)], "host string, robots_txt string"
        )
        return {r.host: r.crawl_delay for r in robots_crawl_delays(df).collect()}

    def test_group_dependent_and_min(self, spark):
        txt = (
            "User-agent: bigbot\nCrawl-delay: 60\n\n"
            "User-agent: *\nDisallow: /x\nCrawl-delay: 4\nCrawl-delay: 2.5\n"
        )
        assert self._delays(spark, txt) == {"com,h": 2.5}

    def test_named_group_only_does_not_apply(self, spark):
        txt = "User-agent: bigbot\nCrawl-delay: 60\n"
        assert self._delays(spark, txt) == {}

    def test_pre_ua_and_garbage_dropped(self, spark):
        txt = "Crawl-delay: 7\nUser-agent: *\nCrawl-delay: soon\n"
        assert self._delays(spark, txt) == {}
