"""Default web-boilerplate denylist.

The reference ships ~3.2k blacklisted publication titles as literal data
(`/root/reference/fuzzycat/data.py:12-34`) consumed by the verify
cascade's title-blacklist rule (`fuzzycat/verify.py:188-189` → status
ambiguous, reason "blacklisted"). The graft keeps the mechanism pluggable
— any iterable of normalized slugs — and ships this small WEB equivalent
as the default: error pages, placeholders, auth walls, and boilerplate
chrome whose slug-equality is meaningless for dedup (every "404 not
found" page would otherwise form one giant SLUG_MATCH mega-cluster) and
whose text is worthless as training data.

Entries are NORMALIZED SLUGS (lowercase, alphanumerics, single spaces —
the output of `normalize.slug_text` / `unicode_slugify`), matched by
whole-slug equality, never substring: a real article whose title merely
contains "error" is not denylisted.

Scale note: a literal-list `isin` compiles to an in-predicate inside
whole-stage codegen — right for O(100) entries. A corpus-mined denylist
with 10^6+ entries should instead be a broadcast-joined table (same shape
as the lang-ID dictionary join in functions/text.py).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

WEB_BOILERPLATE_DENYLIST: tuple[str, ...] = (
    # empty/placeholder pages
    "untitled",
    "untitled document",
    "untitled page",
    "no title",
    "new page",
    "new page 1",
    "default page",
    "blank page",
    "home",
    "home page",
    "homepage",
    "index",
    "welcome",
    "test",
    "test page",
    "example page",
    "example domain",
    "lorem ipsum",
    "hello world",
    "coming soon",
    "under construction",
    "this page is under construction",
    "site maintenance",
    "maintenance mode",
    # error pages
    "error",
    "404",
    "404 error",
    "404 not found",
    "not found",
    "page not found",
    "the page you requested was not found",
    "403 forbidden",
    "forbidden",
    "401 unauthorized",
    "unauthorized",
    "400 bad request",
    "500 internal server error",
    "internal server error",
    "502 bad gateway",
    "bad gateway",
    "503 service unavailable",
    "service unavailable",
    "too many requests",
    "an error occurred",
    "something went wrong",
    # auth/interstitial walls
    "login",
    "log in",
    "sign in",
    "sign up",
    "register",
    "access denied",
    "please log in",
    "session expired",
    "are you a robot",
    "just a moment",
    "checking your browser",
    "please enable javascript",
    "javascript required",
    "javascript is required",
    "your browser is out of date",
    "redirecting",
    "please wait",
    "loading",
    # site chrome / legal boilerplate
    "search results",
    "no results found",
    "privacy policy",
    "cookie policy",
    "cookie notice",
    "terms of service",
    "terms and conditions",
    "terms of use",
    "legal notice",
    "imprint",
    "impressum",
    "disclaimer",
    "accessibility statement",
    "contact us",
    "about us",
    "sitemap",
    "site map",
    "rss feed",
    "print this page",
    "subscribe to our newsletter",
    "thank you for subscribing",
    "unsubscribe",
    "page moved",
    "this page has moved",
)


def denylist_slug_keys(denylist: tuple[str, ...] = WEB_BOILERPLATE_DENYLIST) -> tuple[str, ...]:
    """md5 hex keys of the denylist slugs — comparable against prep's
    `slug_key` column (F.md5(slug)) without re-materializing raw slugs,
    so denylist screens ride the same fixed-width keys every shuffle
    already carries."""
    return tuple(hashlib.md5(s.encode("utf-8")).hexdigest() for s in denylist)


DEFAULT_DENYLIST_KEYS: tuple[str, ...] = denylist_slug_keys()


def denylisted(col: str, keys: tuple[str, ...]) -> Column:
    """`col IN (keys)` built as ONE SQL expression. `F.col(col).isin(*keys)`
    makes one py4j call per key (87 for the default list, per screen); the
    parsed IN-list is one call, and the optimizer turns both into the same
    `InSet`."""
    quoted = ("'" + k.replace("\\", "\\\\").replace("'", "\\'") + "'" for k in keys)
    return F.expr(f"`{col}` IN ({', '.join(quoted)})")
