"""Deterministic html → text extraction.

The production seam behind the north star's "byte-identical extracted
text per url" invariant — the web analog of the reference's fulltext
extractor (`/root/reference/fuzzycat/grobid_unstructured.py:108-127`:
structured document → plain text fields). Rounds 1-3 stubbed this as an
anchored `<main>…</main>` slice; this is a real extractor:

1. decode utf-8 (errors replaced, never raised — a truncated WARC record
   must not kill a 100 TB job),
2. drop comments and CDATA,
3. drop NON-CONTENT elements with their subtrees — script/style/head/
   template/noscript (never text) and nav/footer/aside (boilerplate
   chrome). One innermost-subtree regex PER TAG, iterated to a fixpoint,
   so nested drop elements are fully removed whether the nesting is
   same-tag (<nav><nav>…</nav>…</nav>) or different-tag
   (<nav>…<footer>…</footer>tail</nav> — the tail goes too),
4. block-level tags become line breaks (block segmentation), inline tags
   vanish,
5. character references decode (named + decimal + hex),
6. whitespace normalizes: horizontal runs to one space, blank lines
   collapse, result stripped — so output is "one line per block".

Everything is deterministic string rewriting (same bytes in → same bytes
out, no network, no parser version drift) and runs as pandas `.str` ops
over Arrow batches — the only per-match Python is the numeric-entity
decoder, which fires only where `&#` actually occurs.

On the synthetic corpus (sources/synth.py wraps the body in
head/nav/main/footer chrome) extraction returns exactly the `text`
column, which is what the byte-identical invariant test pins.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

# elements whose entire subtree is dropped. ONE regex per tag, each
# matching an INNERMOST same-tag element (no nested open of the same tag
# before the close): a single alternation with a non-greedy close would
# stop at the nearest closing tag of ANY drop tag, so
# '<nav>a<footer>b</footer>tail</nav>' kept 'tail'. Per-tag regexes in
# the fixpoint loop remove innermost subtrees pass by pass, so nested
# same-tag AND nested different-tag drop elements are fully removed.
_DROP_TAGS = "script|style|head|template|noscript|nav|footer|aside|svg|iframe"
_DROP_RES = [
    re.compile(
        rf"<{tag}\b[^>]*>(?:(?!<{tag}\b).)*?</{tag}\s*>",
        re.IGNORECASE | re.DOTALL,
    )
    for tag in _DROP_TAGS.split("|")
]
_COMMENT_RE = re.compile(r"<!--.*?-->|<!\[CDATA\[.*?\]\]>", re.DOTALL)
# tags that delimit text blocks (their boundaries become line breaks)
_BLOCK_TAGS = (
    "p|div|br|hr|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|table|thead|tbody|tfoot|"
    "section|article|main|header|blockquote|pre|form|fieldset|figure|"
    "figcaption|address|details|summary|body|html|title|option|select|"
    "textarea|caption"
)
_BLOCK_RE = re.compile(rf"</?(?:{_BLOCK_TAGS})\b[^>]*/?>", re.IGNORECASE)
_TAG_RE = re.compile(r"<[^>]*>")
_NUM_ENT_RE = re.compile(r"&#(x[0-9a-fA-F]{1,6}|[0-9]{1,7});")
_NAMED_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&amp;", "&"),  # LAST, so "&amp;lt;" decodes to "&lt;" not "<"
]
_WS_RE = re.compile(r"\s+")              # source-whitespace flatten
_HWS_RE = re.compile(r"[^\S\n]+")       # horizontal whitespace runs
_NL_RE = re.compile(r" ?\n[\s]*")        # blank-line / indent collapse


def _decode_numeric(m: re.Match) -> str:
    body = m.group(1)
    cp = int(body[1:], 16) if body[0] in "xX" else int(body)
    if 0 < cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
        return chr(cp)
    return m.group(0)


def extract_text(html: bytes | str | None) -> str | None:
    """Scalar reference implementation (tests + documentation of record).
    The UDF below applies the same passes batch-wise."""
    if html is None:
        return None
    s = (
        html.decode("utf-8", errors="replace")
        if isinstance(html, (bytes, bytearray))
        else html
    )
    s = _COMMENT_RE.sub("", s)
    for _ in range(8):  # fixpoint: one nesting level peels per pass
        s2 = s
        for drop_re in _DROP_RES:
            s2 = drop_re.sub("", s2)
        if s2 == s:
            break
        s = s2
    # source whitespace (indentation, soft-wrapped lines) is NOT block
    # structure — flatten it before block tags introduce the real breaks
    s = _WS_RE.sub(" ", s)
    s = _BLOCK_RE.sub("\n", s)
    s = _TAG_RE.sub("", s)
    s = _NUM_ENT_RE.sub(_decode_numeric, s)
    for ent, ch in _NAMED_ENTITIES:
        s = s.replace(ent, ch)
    s = _HWS_RE.sub(" ", s)
    s = _NL_RE.sub("\n", s)
    return s.strip()


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched extractor: identical passes to `extract_text`, as
    vectorized pandas .str operations over the whole batch."""
    s = html.map(
        lambda b: b.decode("utf-8", errors="replace")
        if isinstance(b, (bytes, bytearray))
        else b
    )
    s = s.str.replace(_COMMENT_RE, "", regex=True)
    for _ in range(8):
        s2 = s
        for drop_re in _DROP_RES:
            s2 = s2.str.replace(drop_re, "", regex=True)
        if s2.equals(s):
            break
        s = s2
    s = s.str.replace(_WS_RE, " ", regex=True)
    s = s.str.replace(_BLOCK_RE, "\n", regex=True)
    s = s.str.replace(_TAG_RE, "", regex=True)
    s = s.str.replace(_NUM_ENT_RE, _decode_numeric, regex=True)
    for ent, ch in _NAMED_ENTITIES:
        s = s.str.replace(ent, ch, regex=False)
    s = s.str.replace(_HWS_RE, " ", regex=True)
    s = s.str.replace(_NL_RE, "\n", regex=True)
    return s.str.strip()


# --- page-level indexing directives (robots meta + canonical link) -----
#
# These live in the <head> the extractor DROPS, so they need their own
# pass over the raw markup: a crawl pipeline that ingests noindex'd pages
# violates the publisher's opt-out, and rel=canonical is the publisher's
# own dedup hint (functions/urls.canonical_link_pairs turns it into
# cluster edges via resolve_href + surt_key).
# Scanning is capped at the first _DIRECTIVE_SCAN_CHARS decoded chars —
# valid documents put both tags in <head>, and the cap bounds regex work
# on pathological multi-MB pages.
_DIRECTIVE_SCAN_CHARS = 262_144
_META_TAG_RE = re.compile(r"<meta\b[^>]*>", re.IGNORECASE)
_LINK_TAG_RE = re.compile(r"<link\b[^>]*>", re.IGNORECASE)
# attribute names must be WHITESPACE-preceded (every attribute in a tag
# is): a \b boundary alone would also match inside data-name/data-href,
# since '-' is a non-word char — '<link data-href="/wrong" href="/right">'
# must read /right and '<meta data-name=robots>' is not a robots tag
_NAME_ROBOTS_RE = re.compile(
    r"""\sname\s*=\s*(?:"robots"|'robots'|robots(?=[\s/>]))""", re.IGNORECASE
)
_REL_CANONICAL_RE = re.compile(
    r"""\srel\s*=\s*(?:"canonical"|'canonical'|canonical(?=[\s/>]))""",
    re.IGNORECASE,
)
_CONTENT_ATTR_RE = re.compile(
    r"""\scontent\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))""", re.IGNORECASE
)
_HREF_ATTR_RE = re.compile(
    r"""\shref\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))""", re.IGNORECASE
)
# a comment whose close falls beyond the scan cap would otherwise leave
# its (commented-out) directives live after _COMMENT_RE runs on the
# truncated text — an unterminated '<!--' comments out the rest
_UNCLOSED_COMMENT_RE = re.compile(r"<!--.*\Z", re.DOTALL)
_DIRECTIVE_SPLIT_RE = re.compile(r"[,\s]+")


def page_directives(
    html: bytes | str | None,
) -> tuple[bool, bool, str | None]:
    """(noindex, nofollow, canonical) from raw markup.

    Robots semantics follow the published convention: every
    `<meta name=robots>` tag contributes (multiple tags union — the most
    restrictive wins), directives are case-insensitive comma/space
    tokens, and `none` means `noindex, nofollow`. The canonical URL is
    the FIRST `<link rel=canonical href=...>` (later conflicting tags are
    undefined behavior per the spec; first is the deterministic choice).
    Commented-out markup is ignored (same comment strip as the
    extractor). Attribute order and quoting style don't matter."""
    if html is None:
        return (False, False, None)
    s = (
        html.decode("utf-8", errors="replace")
        if isinstance(html, (bytes, bytearray))
        else html
    )[:_DIRECTIVE_SCAN_CHARS]
    s = _COMMENT_RE.sub("", s)
    s = _UNCLOSED_COMMENT_RE.sub("", s)
    noindex = nofollow = False
    for m in _META_TAG_RE.finditer(s):
        tag = m.group(0)
        if not _NAME_ROBOTS_RE.search(tag):
            continue
        cm = _CONTENT_ATTR_RE.search(tag)
        if not cm:
            continue
        toks = {
            t.lower()
            for t in _DIRECTIVE_SPLIT_RE.split(
                cm.group(1) or cm.group(2) or cm.group(3) or ""
            )
            if t
        }
        noindex = noindex or "noindex" in toks or "none" in toks
        nofollow = nofollow or "nofollow" in toks or "none" in toks
    canonical = None
    for m in _LINK_TAG_RE.finditer(s):
        tag = m.group(0)
        if not _REL_CANONICAL_RE.search(tag):
            continue
        hm = _HREF_ATTR_RE.search(tag)
        if hm:
            href = (hm.group(1) or hm.group(2) or hm.group(3) or "").strip()
            if href:
                canonical = href
                break
    return (noindex, nofollow, canonical)


# a StructType OBJECT, not a DDL string: pandas_udf parses string schemas
# through the active SparkContext, which must not be required at import
_DIRECTIVES_SCHEMA = StructType(
    [
        StructField("noindex", BooleanType()),
        StructField("nofollow", BooleanType()),
        StructField("canonical", StringType()),
    ]
)


@pandas_udf(_DIRECTIVES_SCHEMA)
def page_directives_udf(html: pd.Series) -> pd.DataFrame:
    """Arrow-batched `page_directives`: struct<noindex, nofollow,
    canonical> per page. The work per row is a bounded regex scan of the
    first 256 KiB — no DOM build, no allocation proportional to page
    count beyond the output frame."""
    rows = html.map(page_directives)
    return pd.DataFrame(
        {
            "noindex": rows.map(lambda r: r[0]),
            "nofollow": rows.map(lambda r: r[1]),
            "canonical": rows.map(lambda r: r[2]),
        }
    )


# ---------------------------------------------------------------------------
# page_meta: head-metadata extraction as PURE Catalyst expressions
# ---------------------------------------------------------------------------
# The text extractor above drops the <head>; these pull the indexing/
# description surface out of it (title, meta description, charset, first
# h1) with whole-stage-codegen regexps — zero UDFs, zero shuffles, the
# per-page cost a 10^12-page catalog pass can afford. The patterns live
# in the Java-regex ∩ RE2 common subset so the DuckDB oracle
# (tests/test_oracles.py, `page_meta`) runs the IDENTICAL strings.
# Semantics are bounded by design: comments are stripped first (a
# commented-out <title> never wins), the first match of each field is
# taken, inner whitespace collapses to single spaces, charset is
# lowercased, entities are NOT decoded (this is the fast catalog path;
# route pages through extract_text_udf when decoded text is needed),
# and an absent field is the empty string (regexp_extract's no-match
# value in both engines).

PM_COMMENT_RE = r"(?s)<!--.*?-->"
PM_TITLE_RE = r"(?i)<title\b[^>]*>([^<]*)</title>"
PM_DESC_NAME_FIRST_RE = (
    r"(?i)<meta\b[^>]*name\s*=\s*[\"']?description\b"
    r"[^>]*content\s*=\s*[\"']([^\"']*)"
)
PM_DESC_CONTENT_FIRST_RE = (
    r"(?i)<meta\b[^>]*content\s*=\s*[\"']([^\"']*)[\"']"
    r"[^>]*name\s*=\s*[\"']?description"
)
PM_CHARSET_RE = r"(?i)<meta\b[^>]*charset\s*=\s*[\"']?\s*([A-Za-z0-9][A-Za-z0-9._-]*)"
PM_H1_RE = r"(?i)<h1\b[^>]*>([^<]*)</h1>"
PM_WS_RE = r"\s+"


def page_meta_cols(html):
    """[title, meta_description, charset, h1] Columns for a binary/string
    html column — see the block comment above for the exact semantics.
    `meta_description` coalesces the name-before-content and
    content-before-name attribute orders (first non-empty wins)."""
    from pyspark.sql import functions as F

    s = F.regexp_replace(html.cast("string"), PM_COMMENT_RE, "")

    def _clean(c):
        return F.trim(F.regexp_replace(c, PM_WS_RE, " "))

    d1 = F.regexp_extract(s, PM_DESC_NAME_FIRST_RE, 1)
    d2 = F.regexp_extract(s, PM_DESC_CONTENT_FIRST_RE, 1)
    return [
        _clean(F.regexp_extract(s, PM_TITLE_RE, 1)).alias("title"),
        _clean(F.when(d1 != "", d1).otherwise(d2)).alias("meta_description"),
        F.lower(F.regexp_extract(s, PM_CHARSET_RE, 1)).alias("charset"),
        _clean(F.regexp_extract(s, PM_H1_RE, 1)).alias("h1"),
    ]
