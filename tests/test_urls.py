"""SURT canonicalization (`functions/urls.py`): hand-pinned keys for
every normalization rule, and the rules that must NOT fire."""

from __future__ import annotations

from pyspark.sql import functions as F

from fuzzycat_spark.functions.urls import surt_key, url_dup_pairs

CASES = [
    ("https://www.Example.com:443/a/b?x=1#frag", "com,example)/a/b?x=1"),
    ("http://example.com:80/a/b/", "com,example)/a/b"),
    ("example.com/a/b", "com,example)/a/b"),  # scheme-less
    ("https://news.example.co.uk/x", "uk,co,example,news)/x"),
    ("https://library.org/catalog/index.html", "org,library)/catalog"),
    ("https://library.org/catalog///", "org,library)/catalog"),
    # query normalization: tracking dropped, rest sorted, '?' dropped
    # when nothing survives
    ("https://s.com/p?b=2&utm_source=m&a=1", "com,s)/p?a=1&b=2"),
    ("https://s.com/p?fbclid=X", "com,s)/p"),
    ("https://example.com", "com,example)"),
    ("http://192.168.0.1/status", "1,0,168,192)/status"),
    # must NOT collapse
    ("https://example.com:8080/a", "com,example:8080)/a"),
    ("https://example.com/A", "com,example)/A"),  # path case kept
]


def test_surt_key_hand_pinned(spark):
    df = spark.createDataFrame(CASES, "url string, want string")
    rows = df.select("url", "want", surt_key("url").alias("got")).collect()
    bad = [(r.url, r.want, r.got) for r in rows if r.got != r.want]
    assert not bad, bad


def test_url_dup_pairs_groups_variants(spark):
    docs = spark.createDataFrame(
        [
            (1, "http://a.com/x"),
            (2, "https://www.a.com/x/"),
            (3, "https://a.com/x?utm_source=z"),
            (4, "https://a.com/y"),
        ],
        "doc_id long, url string",
    )
    pairs = sorted(
        (r.id_a, r.id_b) for r in url_dup_pairs(docs).collect()
    )
    assert pairs == [(1, 2), (1, 3), (2, 3)]


def test_resolve_href_arms(spark):
    from fuzzycat_spark.functions.urls import resolve_href

    rows = [
        ("https://a.com/p/q", "https://b.org/x", "https://b.org/x"),
        ("https://a.com/p/q", "//cdn.a.com/x", "https://cdn.a.com/x"),
        ("http://a.com/p", "/root/x", "http://a.com/root/x"),
        ("https://a.com/p", "sibling.html", None),
        ("https://a.com/p", "javascript:void(0)", None),
        ("no-scheme/p", "/x", None),  # no origin to resolve against
    ]
    df = spark.createDataFrame(
        [(u, h) for u, h, _ in rows], "url string, href string"
    )
    got = [
        r.resolved
        for r in df.select(resolve_href("url", "href").alias("resolved")).collect()
    ]
    assert got == [want for _, _, want in rows]


def test_canonical_link_pairs_semantics(spark):
    """AMP/print/mobile variants edge to their declared target's min-id
    representative; self-canonical, uncrawled-target, and unresolvable
    declarations emit nothing."""
    from fuzzycat_spark.functions.urls import canonical_link_pairs

    docs = spark.createDataFrame(
        [
            (0, "https://example.com/articles/42", None),
            (1, "http://www.example.com/articles/42", None),  # same surt as 0
            (2, "https://amp.example.com/a42/amp", "https://example.com/articles/42"),
            (3, "https://example.com/a42/print", "/articles/42"),
            (4, "https://m.example.com/a42", "//example.com/articles/42"),
            (5, "https://example.com/self", "https://example.com/self"),
            (6, "https://example.com/orphan", "https://gone.example.net/x"),
            (7, "https://example.com/rel", "other.html"),
        ],
        "url_id bigint, url string, canonical string",
    )
    got = {
        (r.id, r.canonical_id)
        for r in canonical_link_pairs(
            docs, id_col="url_id", url_col="url"
        ).collect()
    }
    # min id over the shared-surt family {0, 1} is the representative
    assert got == {(2, 0), (3, 0), (4, 0)}


def test_resolve_href_uppercase_scheme(spark):
    """URI schemes are case-insensitive (RFC 3986): an uppercase-scheme
    canonical href must resolve, matching extract_links' (?i) policy."""
    from fuzzycat_spark.functions.urls import resolve_href

    df = spark.createDataFrame(
        [("https://a.com/p", "HTTPS://Example.com/X")], "url string, href string"
    )
    got = df.select(resolve_href("url", "href").alias("r")).first().r
    assert got == "HTTPS://Example.com/X"


class TestMineTrackingParams:
    def _mine(self, spark, rows, **kw):
        from fuzzycat_spark.functions.urls import mine_tracking_params

        df = spark.createDataFrame(
            [(i, u, t) for i, (u, t) in enumerate(rows)],
            "url_id long, url string, text string",
        )
        return {
            (r.host, r.param): r
            for r in mine_tracking_params(df, **kw).collect()
        }

    def test_session_param_flagged(self, spark):
        rows = [
            (f"https://a.com/p/{i}?s={i}{v}", f"body {i}")
            for i in range(3)
            for v in "xyz"
        ]
        got = self._mine(spark, rows)
        r = got[("com,a", "s")]
        assert (r.n_urls, r.n_merged, r.n_clean, r.is_tracking) == (9, 9, 9, True)

    def test_pagination_merges_dirty_not_flagged(self, spark):
        rows = [
            (f"https://a.com/list?page={i}", f"page {i} content")
            for i in range(5)
        ]
        r = self._mine(spark, rows)[("com,a", "page")]
        assert (r.n_urls, r.n_merged, r.n_clean, r.is_tracking) == (5, 5, 0, False)

    def test_bare_page_is_a_merge_target(self, spark):
        rows = [
            ("https://a.com/p?sid=1", "same"),
            ("https://a.com/p?sid=2", "same"),
            ("https://a.com/p?sid=3", "same"),
            ("https://a.com/p", "same"),
        ]
        r = self._mine(spark, rows)[("com,a", "sid")]
        assert (r.n_urls, r.n_clean, r.is_tracking) == (3, 3, True)

    def test_bare_target_with_different_text_is_dirty(self, spark):
        rows = [
            ("https://a.com/p?v=1", "same"),
            ("https://a.com/p?v=2", "same"),
            ("https://a.com/p?v=3", "same"),
            ("https://a.com/p", "DIFFERENT"),
        ]
        r = self._mine(spark, rows)[("com,a", "v")]
        assert (r.n_merged, r.n_clean, r.is_tracking) == (3, 0, False)

    def test_min_support_gates_verdict(self, spark):
        rows = [
            ("https://a.com/p?once=1", "same"),
            ("https://a.com/p?once=2", "same"),
        ]
        r = self._mine(spark, rows)[("com,a", "once")]
        assert (r.n_clean, r.is_tracking) == (2, False)
        r2 = self._mine(spark, rows, min_support=2)[("com,a", "once")]
        assert r2.is_tracking is True

    def test_per_host_isolation(self, spark):
        # same param name, tracking on one host, meaningful on the other
        rows = [
            ("https://a.com/p?k=1", "same"),
            ("https://a.com/p?k=2", "same"),
            ("https://a.com/p?k=3", "same"),
            ("https://b.com/p?k=1", "one"),
            ("https://b.com/p?k=2", "two"),
            ("https://b.com/p?k=3", "three"),
        ]
        got = self._mine(spark, rows)
        assert got[("com,a", "k")].is_tracking is True
        assert got[("com,b", "k")].is_tracking is False

    def test_duplicate_param_names_collapse(self, spark):
        # ?a=1&a=2 contributes ONE mining row for 'a', and the residual
        # removes every a= entry at once
        rows = [
            ("https://a.com/p?a=1&a=2&keep=1", "same"),
            ("https://a.com/p?a=3&keep=1", "same"),
            ("https://a.com/p?a=4&keep=1", "same"),
        ]
        r = self._mine(spark, rows)[("com,a", "a")]
        assert (r.n_urls, r.n_clean, r.is_tracking) == (3, 3, True)


class TestCanonicalizeWithMined:
    def test_mined_params_strip_and_others_survive(self, spark):
        from fuzzycat_spark.functions.urls import (
            canonicalize_with_mined,
            mine_tracking_params,
        )

        rows = [
            (f"https://a.com/p/{i}?s={i}{v}", f"body {i}")
            for i in range(3)
            for v in "xyz"
        ] + [("https://a.com/q?real=1", "other"), ("https://b.com/x?s=1", "b")]
        df = spark.createDataFrame(
            [(i, u, t) for i, (u, t) in enumerate(rows)],
            "url_id long, url string, text string",
        )
        out = canonicalize_with_mined(df, mine_tracking_params(df))
        got = {r.id: r.surt for r in out.collect()}
        # s= stripped on a.com: three variants per page share one key
        assert got[0] == got[1] == got[2] == "com,a)/p/0"
        # real param survives; b.com never mined -> plain surt semantics
        assert got[9] == "com,a)/q?real=1"
        assert got[10] == "com,b)/x?s=1"

    def test_null_strip_matches_plain_surt(self, spark):
        from fuzzycat_spark.functions.urls import surt_key

        df = spark.createDataFrame(
            [("https://h.com/p?a=1&utm_source=x", None)],
            "url string, strip array<string>",
        )
        r = df.select(
            surt_key("url").alias("plain"),
            surt_key(F.col("url"), F.col("strip")).alias("dyn"),
        ).first()
        assert r.plain == r.dyn == "com,h)/p?a=1"


class TestCrawlerTraps:
    def _run(self, spark, rows, **kw):
        from fuzzycat_spark.functions.urls import crawler_traps

        df = spark.createDataFrame(
            [(i, u, t) for i, (u, t) in enumerate(rows)],
            "url_id long, url string, text string",
        )
        return {
            (r.host, r.template): r for r in crawler_traps(df, **kw).collect()
        }

    def test_calendar_trap_flags(self, spark):
        rows = [
            (f"https://a.com/cal?d={i}", f"rotating {i % 2}") for i in range(10)
        ]
        r = self._run(spark, rows)[("com,a", "/cal?d=N")]
        assert (r.n_urls, r.n_contents, r.is_trap) == (10, 2, True)

    def test_real_content_family_does_not_flag(self, spark):
        rows = [(f"https://a.com/post/{i}", f"post {i}") for i in range(10)]
        r = self._run(spark, rows)[("com,a", "/post/N")]
        assert (r.n_urls, r.n_contents, r.is_trap) == (10, 10, False)

    def test_min_urls_support(self, spark):
        rows = [(f"https://a.com/x?p={i}", "same") for i in range(3)]
        r = self._run(spark, rows)[("com,a", "/x?p=N")]
        assert r.is_trap is False  # ratio 1/3 but support 3 < 8
        r2 = self._run(spark, rows, min_urls=3)[("com,a", "/x?p=N")]
        assert r2.is_trap is True

    def test_distinct_keys_not_raw_urls(self, spark):
        # tracking-param variants collapse to one canonical key, so a
        # utm farm does not inflate n_urls
        rows = [
            (f"https://a.com/page?id=7&utm_source=s{i}", "same")
            for i in range(10)
        ]
        r = self._run(spark, rows)[("com,a", "/page?id=N&utm_source=sN")]
        assert r.n_urls == 1 and r.is_trap is False
