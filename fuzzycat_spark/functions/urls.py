"""URL canonicalization — SURT-style keys for URL-level dedup.

The first dedup pass over a web crawl is free: pages fetched from the
same resource under cosmetically different URLs (scheme, www, default
port, tracking params, fragments, index pages, trailing slashes) are
exact duplicates before any text ever loads. Web archives canonicalize
with SURT (Sort-friendly URI Reordering Transform): host labels
reversed and comma-joined, so `https://www.example.com/a?b=1` becomes
`com,example)/a?b=1`. SURT keys sort hierarchically by registered
domain, which at cluster scale means a range-partition or bucket on the
key co-locates each site's pages — per-site caps, robots joins, and
host-level stats all become shuffle-free follow-ups.

Everything here is pure Catalyst (regexp_extract + array ops over the
query string), identical Java-regex/RE2-safe patterns on both engines:
no lookbehind, no backreferences. Normalizations applied:

- scheme dropped (http/https/ftp duplicates collapse), fragment dropped;
- host lowercased, leading `www.` stripped, default ports (:80, :443)
  stripped, labels reversed: `a.b.com` -> `com,b,a`;
- path: trailing `/index.html|htm|php` stripped, then trailing slashes
  stripped (root collapses to empty — `com,example)/` vs `com,example)`
  is the same resource);
- query: split on `&`, tracking params dropped (utm_*, fbclid, gclid,
  msclkid, igshid, mc_cid, mc_eid, ref, ref_src), remaining params
  SORTED bytewise and rejoined, empty query dropped.

Not a validator: garbage in, deterministic garbage key out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "surt_host",
    "surt_key",
    "url_dup_pairs",
    "mine_tracking_params",
    "canonicalize_with_mined",
    "crawler_traps",
    "url_template",
    "TRACKING_PARAM_RE",
]

# one pattern per URL part — group 1 is always the payload
_HOST_RE = r"^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]*)"
_PATH_RE = r"^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*([^?#]*)"
_QUERY_RE = r"^[^?#]*\?([^#]*)"

TRACKING_PARAM_RE = (
    r"^(utm_[^=]*|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid|ref|ref_src)(=.*)?$"
)


def surt_host(col: Column | str) -> Column:
    """Reversed-label canonical host of a URL column: lowercased, www.
    and default ports stripped, labels joined with commas
    (`news.example.co.uk` -> `uk,co,example,news`)."""
    c = F.col(col) if isinstance(col, str) else col
    host = F.lower(F.regexp_extract(F.trim(c), _HOST_RE, 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    # a surviving non-default port belongs AFTER the reversed labels
    # (com,example:8080), not riding the last label through the reversal
    port = F.regexp_extract(host, r"(:\d+)$", 1)
    name = F.regexp_replace(host, r":\d+$", "")
    return F.concat(
        F.array_join(F.reverse(F.split(name, r"\.")), ","), port
    )


def surt_key(col: Column | str, strip: Column | None = None) -> Column:
    """Full SURT-style canonical key: `reversed,host)/path?sortedquery`.

    `strip` (optional, array<string>) names ADDITIONAL query params to
    drop beyond the static tracking list — the per-host output of
    `mine_tracking_params`, threaded per row by
    `canonicalize_with_mined`. NULL/absent means "nothing extra"."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    path = F.regexp_extract(t, _PATH_RE, 1)
    path = F.regexp_replace(path, r"/index\.(html?|php)$", "")
    path = F.regexp_replace(path, r"/+$", "")
    query = F.regexp_extract(t, _QUERY_RE, 1)
    if strip is None:
        keep = lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE)  # noqa: E731
    else:
        safe = F.coalesce(strip, F.array().cast("array<string>"))
        keep = (  # noqa: E731
            lambda p: (p != "")
            & ~p.rlike(TRACKING_PARAM_RE)
            & ~F.array_contains(safe, F.split(p, "=").getItem(0))
        )
    params = F.filter(F.split(query, "&"), keep)
    qnorm = F.array_join(F.array_sort(params), "&")
    return F.concat(
        surt_host(c),
        F.lit(")"),
        path,
        F.when(qnorm != "", F.concat(F.lit("?"), qnorm)).otherwise(F.lit("")),
    )


def resolve_href(base_col: Column | str, href_col: Column | str) -> Column:
    """Resolve a link href against its page URL, the subset a canonical
    link needs: absolute http(s) hrefs pass through, protocol-relative
    (`//host/p`) take the base scheme, root-relative (`/p`) take the base
    origin. Everything else (document-relative paths, `javascript:`,
    empty) resolves to NULL — a crawl-scale canonicalizer should drop
    ambiguous declarations, not guess at dot-segment semantics. Pure
    Catalyst (regexp + concat), no UDF."""
    b = F.trim(F.col(base_col) if isinstance(base_col, str) else base_col)
    h = F.trim(F.col(href_col) if isinstance(href_col, str) else href_col)
    scheme = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    origin = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    return (
        F.when(h.rlike("^(?i)https?://"), h)
        .when(h.startswith("//") & (scheme != ""), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/") & (origin != ""), F.concat(origin, h))
        .otherwise(F.lit(None).cast("string"))
    )


def canonical_link_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    canonical_col: str = "canonical",
) -> DataFrame:
    """Dup edges from the publisher's OWN `rel=canonical` declarations
    (extracted by `sources/html_extract.page_directives`): (id,
    canonical_id, surt) where a page's canonical link resolves — via
    `resolve_href` + `surt_key` — to another page's canonical URL key.
    AMP pages, print views, and session-URL variants all declare their
    way into the right cluster without any text comparison.

    Semantics: self-canonical declarations (the common hygiene no-op) are
    excluded by SURT inequality; declarations that resolve to no crawled
    page drop out of the inner join; when several pages share the target
    key, `canonical_id` is the min id (the same representative rule as
    every cluster label in this repo).

    Scale: two narrow projections of the corpus (id + one surt string
    each), a map-side-combinable min() per target key, and ONE shuffle
    join on the key. Declaration side is N:1 onto targets, so a popular
    canonical (thousands of AMP variants → one page) fans in, never out."""
    self_surt = surt_key(url_col)
    decl = (
        docs.filter(F.col(canonical_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            surt_key(resolve_href(url_col, canonical_col)).alias("surt"),
            self_surt.alias("_self"),
        )
        .filter(F.col("surt").isNotNull() & (F.col("surt") != F.col("_self")))
        .drop("_self")
    )
    targets = (
        docs.select(surt_key(url_col).alias("surt"), F.col(id_col).alias("_cid"))
        .groupBy("surt")
        .agg(F.min("_cid").alias("canonical_id"))
    )
    return decl.join(targets, on="surt").select("id", "canonical_id", "surt")


def url_dup_pairs(
    docs: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Unordered id pairs sharing a canonical URL key: (id_a, id_b, surt).
    One shuffle on the key; within-key pair expansion uses the same
    in-bucket pattern as every other blocking strategy (sorted ids,
    id_a < id_b)."""
    keyed = docs.select(
        F.col(id_col).alias("id"), surt_key(url_col).alias("surt")
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(b, on="surt")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "surt"
        )
    )


def mine_tracking_params(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_support: int = 3,
    min_clean_rate: float = 0.8,
) -> DataFrame:
    """Mine site-specific tracking parameters from crawl evidence, instead
    of trusting only the static utm_*/fbclid list `surt_key` strips. The
    reference hard-codes its equivalents as curated literal tables
    (fuzzycat/data.py's blacklists); at web scale the curation itself has
    to be computed from the corpus.

    A query param is *tracking-like* on a host when removing it merges
    previously distinct URLs AND the merged pages carry identical content
    — `?sid=abc` vs `?sid=def` over the same bytes. Pagination and real
    query params fail the content test: stripping `page=` also merges
    URLs, but the pages differ, so the merge is not clean.

    Per (host, param): every URL carrying the param lands in a *residual
    group* (its canonical key with that param removed). A group is a
    MERGE when it holds >=2 distinct full keys, or when its residual key
    is itself a crawled URL (`?sid=x` vs the bare page). A merge is CLEAN
    when every member — and the bare-residual target, if any — hashes to
    the same content. Verdict: `is_tracking` when the param has
    `min_support`+ URLs and >= `min_clean_rate` of them sit in clean
    merges.

    Output: (host, param, n_urls, n_merged, n_clean, clean_rate,
    is_tracking), one row per (host, param) observed with a query value.

    Scale shape: text is reduced to one md5 in the first projection and
    never travels again; the explode multiplies thin (key, hash) rows by
    the URL's distinct-param count (single digits on real crawls); then
    two partially-aggregated groupBys and ONE equi join of residual
    groups against the (equally thin) distinct-fullkey table. Per-host
    verdicts are naturally partition-local after the first shuffle."""
    t = F.trim(F.col(url_col))
    path = F.regexp_extract(t, _PATH_RE, 1)
    path = F.regexp_replace(path, r"/index\.(html?|php)$", "")
    path = F.regexp_replace(path, r"/+$", "")
    query = F.regexp_extract(t, _QUERY_RE, 1)
    # raw params on purpose: we are MINING the strip list, so the static
    # TRACKING_PARAM_RE pre-filter must not hide its own candidates
    params = F.filter(F.split(query, "&"), lambda p: p != "")
    base = F.concat(surt_host(t), F.lit(")"), path)

    def keyed(ps: Column) -> Column:
        # canonical key relative to the row's own `base` column
        return F.concat(
            F.col("base"),
            F.when(
                F.size(ps) > 0,
                F.concat(F.lit("?"), F.array_join(F.array_sort(ps), "&")),
            ).otherwise(F.lit("")),
        )

    parsed = (
        docs.select(
            surt_host(t).alias("host"),
            base.alias("base"),
            params.alias("params"),
            F.md5(F.col(text_col)).alias("h"),
        )
        .withColumn("fullkey", keyed(F.col("params")))
    )

    # distinct full URLs, for the "residual is itself a crawled page" arm
    targets = parsed.groupBy(F.col("fullkey").alias("residual")).agg(
        F.min("h").alias("t_hash"),
        F.count_distinct("h").alias("n_t_hashes"),
    )

    carried = (
        parsed.select(
            "host",
            "base",
            "fullkey",
            "h",
            "params",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.col("params"), lambda p: F.split(p, "=").getItem(0)
                    )
                )
            ).alias("param"),
        )
        .withColumn(
            "residual",
            keyed(
                F.filter(
                    F.col("params"),
                    lambda p: F.split(p, "=").getItem(0) != F.col("param"),
                )
            ),
        )
        .drop("base", "params")
    )

    groups = (
        carried.groupBy("host", "param", "residual")
        .agg(
            F.count_distinct("fullkey").alias("n_keys"),
            F.count_distinct("h").alias("n_hashes"),
            F.min("h").alias("g_hash"),
        )
        .join(targets, on="residual", how="left")
    )
    merged = (F.col("n_keys") >= 2) | F.col("t_hash").isNotNull()
    clean = (
        merged
        & (F.col("n_hashes") == 1)
        & (
            F.col("t_hash").isNull()
            | ((F.col("n_t_hashes") == 1) & (F.col("t_hash") == F.col("g_hash")))
        )
    )
    out = groups.groupBy("host", "param").agg(
        F.sum("n_keys").cast("long").alias("n_urls"),
        F.sum(F.when(merged, F.col("n_keys")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_merged"),
        F.sum(F.when(clean, F.col("n_keys")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_clean"),
    )
    clean_rate = F.col("n_clean") / F.col("n_urls")
    return out.select(
        "host",
        "param",
        "n_urls",
        "n_merged",
        "n_clean",
        clean_rate.alias("clean_rate"),
        (
            (F.col("n_urls") >= F.lit(min_support))
            & (clean_rate >= F.lit(min_clean_rate))
        ).alias("is_tracking"),
    )


def url_template(col: Column | str) -> Column:
    """Digit-run URL template: path?query with every [0-9]+ run
    collapsed to `N` — the family key `crawler_traps` aggregates on,
    exported so a screen can re-key pages against a trap table."""
    t = F.trim(F.col(col) if isinstance(col, str) else col)
    path = F.regexp_extract(t, _PATH_RE, 1)
    query = F.regexp_extract(t, _QUERY_RE, 1)
    tail = F.concat(
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
    return F.regexp_replace(tail, r"[0-9]+", "N")


def crawler_traps(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_urls: int = 8,
    max_content_ratio: float = 0.5,
) -> DataFrame:
    """Crawler-trap detection: URL TEMPLATES (digit runs in path+query
    collapsed to `N`) that explode into many distinct URLs while serving
    few distinct contents — infinite calendars, faceted search,
    session-path mazes. The frontier-hygiene complement of
    `mine_tracking_params`: that one learns which PARAMS to strip, this
    one learns which URL FAMILIES to stop fetching.

    Per (host, template): n_urls distinct canonical keys, n_contents
    distinct content hashes, content_ratio = n_contents/n_urls;
    `is_trap` when n_urls >= min_urls and content_ratio <=
    max_content_ratio. A real content family (/post/N with N real
    posts) keeps ratio ~1 and never flags.

    Scale shape: text reduces to one md5 in the first projection, the
    template is a per-row regexp, ONE partial-aggregated shuffle on
    (host, template) of (key, hash) pairs — counts via distinct
    aggregation, no pair expansion anywhere."""
    t = F.trim(F.col(url_col))
    parsed = docs.select(
        surt_host(t).alias("host"),
        url_template(t).alias("template"),
        surt_key(F.col(url_col)).alias("_k"),
        F.md5(F.col(text_col)).alias("_h"),
    )
    agg = parsed.groupBy("host", "template").agg(
        F.count_distinct("_k").alias("n_urls"),
        F.count_distinct("_h").alias("n_contents"),
    )
    ratio = F.col("n_contents") / F.col("n_urls")
    return agg.select(
        "host",
        "template",
        "n_urls",
        "n_contents",
        ratio.alias("content_ratio"),
        (
            (F.col("n_urls") >= F.lit(min_urls))
            & (ratio <= F.lit(max_content_ratio))
        ).alias("is_trap"),
    )


def canonicalize_with_mined(
    docs: DataFrame,
    mined: DataFrame,
    id_col: str = "url_id",
    url_col: str = "url",
) -> DataFrame:
    """(id, surt) canonical keys with each host's MINED tracking params
    stripped on top of the static list — the apply half of
    `mine_tracking_params`: mine once per crawl, canonicalize every URL
    with the learned per-host strip lists, and the session-id variants
    the static utm_* list can't know collapse before any text loads.

    `mined` is `mine_tracking_params` output (or any (host, param,
    is_tracking) table). The strip lists aggregate to one sorted array
    per host — a hosts-sized table that BROADCASTS; the corpus side pays
    zero shuffle (plan: one BroadcastHashJoin, key arithmetic in
    codegen). Hosts without mined params keep plain `surt_key`
    semantics bit-for-bit."""
    strip = (
        mined.filter(F.col("is_tracking"))
        .groupBy("host")
        .agg(F.sort_array(F.collect_set("param")).alias("_strip"))
    )
    keyed = docs.select(
        F.col(id_col).alias("id"),
        F.col(url_col).alias("_u"),
        surt_host(url_col).alias("host"),
    )
    return (
        keyed.join(F.broadcast(strip), on="host", how="left")
        .select("id", surt_key(F.col("_u"), F.col("_strip")).alias("surt"))
    )
