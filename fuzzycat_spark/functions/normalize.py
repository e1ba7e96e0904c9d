"""Text normalization kernels.

Reference semantics: fuzzycat's blocking-key normalizers
(`/root/reference/fuzzycat/utils.py:121-125` slugify_string,
`/root/reference/fuzzycat/sandcrawler.py:66-90` sandcrawler slugify:
prefix strip → entity fix → diacritic fold → NFKD → punctuation/mark/symbol
strip → lowercase). Re-implemented from scratch in two tiers:

1. **Native Catalyst expressions** (`slug_text`, `tokens_col`,
   `word_shingles`, `num_project`) — stay inside whole-stage codegen, no
   Python in the hot path. These are the versions used for blocking at
   scale and are DuckDB-oracle-checkable.
2. **Vectorized pandas UDF** (`unicode_slugify_udf`) — full Unicode
   treatment (NFKD + combining-mark + punctuation/symbol category strip)
   for inputs where the ASCII fast path loses too much signal. Arrow
   batches; pandas .str ops, never per-row Python loops over rows.
"""

from __future__ import annotations

import sys
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# ---------------------------------------------------------------------------
# Tier 1: native column expressions (Catalyst / whole-stage codegen)
# ---------------------------------------------------------------------------

# NFKD-derived single-char diacritic fold for translate(): every BMP letter
# whose decomposition starts with one ASCII letter (é→e, ö→o, ł has no
# decomposition and is skipped). Built once at import; translate() is a
# native Catalyst expression, so the fold costs nothing at plan time.
_FOLD_SRC = []
_FOLD_DST = []
for _cp in range(0x00C0, 0x0250):
    _d = unicodedata.normalize("NFKD", chr(_cp))
    if _d and _d[0].isascii() and _d[0].isalpha():
        _FOLD_SRC.append(chr(_cp))
        _FOLD_DST.append(_d[0])
_FOLD_SRC = "".join(_FOLD_SRC)
_FOLD_DST = "".join(_FOLD_DST)


def latin_fold(col: Column | str) -> Column:
    """Fold Latin diacritics to ASCII with a native translate()."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _FOLD_SRC, _FOLD_DST)


def slug_text(col: Column | str) -> Column:
    """ASCII slug: diacritic-fold, lowercase, non-alphanumerics → space,
    collapse, trim.

    Cross-engine equivalent SQL (DuckDB oracle, for ASCII inputs where the
    fold is the identity):
    ``trim(regexp_replace(regexp_replace(lower(x), '[^a-z0-9]+', ' ', 'g'),
    ' +', ' ', 'g'))``
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(latin_fold(c))
    # ONE regex pass: [^a-z0-9]+ already collapses every non-alphanumeric
    # run (spaces included) to a single space, so a second ' +' collapse
    # pass is a no-op — dropped to halve regex cost per document (the
    # DuckDB oracle keeps both passes; outputs are identical)
    return F.trim(F.regexp_replace(c, r"[^a-z0-9]+", " "))


def tokens_col(col: Column | str) -> Column:
    """Whitespace tokens of the slug. Empty string → empty array (not [''])."""
    slug = slug_text(col)
    return F.when(slug == "", F.array().cast("array<string>")).otherwise(
        F.split(slug, " ")
    )


# Han (incl. Ext A and the supplementary-plane Ext B+ blocks) +
# Hiragana/Katakana + Hangul — the no-space scripts whose "words" never
# split on whitespace; a run of them is one giant token after any
# whitespace tokenizer. \x{...} escapes are Java-regex syntax (Spark's
# rlike/regexp_replace), valid inside character classes.
_CJK_RANGES = r"぀-ヿ㐀-䶿一-鿿가-힯\x{F900}-\x{FAFF}\x{20000}-\x{3FFFF}"
CJK_CLASS = f"[{_CJK_RANGES}]"
_NON_CJK_CLASS = f"[^{_CJK_RANGES}]"
# script-boundary splitter: consume the char BEFORE the boundary and put it
# back with `$1<sep>`. Lookahead only — Java lookbehind steps back by UTF-16
# code UNITS, so `(?<=[^cjk])` falsely matches after a supplementary-plane
# han char (the position after its low surrogate), shredding Ext-B runs.
_SCRIPT_BOUNDARY = (
    f"({CJK_CLASS}(?={_NON_CJK_CLASS})|{_NON_CJK_CLASS}(?={CJK_CLASS}))"
)
# run separator: U+001F is category Cc, which both slug tiers delete/space
# out, so it can never occur inside a token
_RUN_SEP = "\x1f"


def expand_cjk_bigrams(toks: Column) -> Column:
    """Split the no-space-script (CJK) RUNS of each token into character
    BIGRAMS (the standard CJK indexing unit); everything else passes
    through untouched.

    '東京は日本の首都' → [東京, 京は, は日, 日本, 本の, の首, 首都], so a
    CJK document gets a real token stream for the length screens, MinHash
    shingles, and jaccard rules instead of one unsplittable mega-token
    that trips SHORT_TEXT. Mixed-script tokens are first split into
    script runs ('abc東京' → abc + 東京 → ['abc', '東京']) so one embedded
    CJK char cannot shred a Latin token into garbage bigrams — and
    conversely Latin fragments never leak into CJK bigrams. Single-char
    CJK runs pass through whole. Pure Catalyst (regexp run split +
    sequence/substring per CJK run)."""
    bigrams = lambda t: F.transform(  # noqa: E731
        F.sequence(F.lit(1), F.greatest(F.length(t) - 1, F.lit(1))),
        lambda i: F.substring(t, i, 2),
    )
    runs = lambda t: F.split(  # noqa: E731
        F.regexp_replace(t, _SCRIPT_BOUNDARY, "$1" + _RUN_SEP), _RUN_SEP
    )
    return F.flatten(
        F.transform(
            toks,
            lambda t: F.when(
                t.rlike(CJK_CLASS),
                F.flatten(
                    F.transform(
                        runs(t),
                        lambda r: F.when(
                            r.rlike(f"^{CJK_CLASS}") & (F.length(r) >= 2),
                            bigrams(r),
                        ).otherwise(F.array(r)),
                    )
                ),
            ).otherwise(F.array(t)),
        )
    )


def slug_for_mode(col: Column | str, slug_mode: str = "ascii") -> Column:
    """The slug expression for a DedupConfig.slug_mode — the ONE dispatch
    point every strategy shares, so simhash/substring/minhash/cascade all
    agree on normalization under any mode:

    - "ascii": pure-Catalyst diacritic fold (Latin corpora, codegen path)
    - "unicode": NFKD/category-strip pandas UDF (space-preserving), the
      reference sandcrawler normalizer's scope (sandcrawler.py:5-64)
    - "auto": per-row — the unicode slugifier only where the ASCII fold
      would key on lossy residue (any non-ASCII codepoint present)
    """
    c = F.col(col) if isinstance(col, str) else col
    if slug_mode == "ascii":
        return slug_text(c)
    if slug_mode == "unicode":
        return F.coalesce(unicode_slugify_udf(c), F.lit(""))
    if slug_mode == "auto":
        return F.when(
            c.rlike("[^\\u0000-\\u007F]"),
            F.coalesce(unicode_slugify_udf(c), F.lit("")),
        ).otherwise(slug_text(c))
    raise ValueError(f"unknown slug_mode: {slug_mode!r}")


def tokens_from_slug(slug: Column, slug_mode: str = "ascii") -> Column:
    """Token array from a slug ATTRIBUTE (materialized column), honoring
    the mode: unicode/auto additionally split no-space-script (CJK) runs
    into character bigrams so CJK documents get a real token stream."""
    toks = F.when(slug == "", F.array().cast("array<string>")).otherwise(
        F.split(slug, " ")
    )
    if slug_mode in ("unicode", "auto"):
        return expand_cjk_bigrams(toks)
    return toks


def tokens_for_mode(col: Column | str, slug_mode: str = "ascii") -> Column:
    """Convenience composition slug→tokens for operators that consume raw
    text directly (simhash/substring). The split's collection argument is
    evaluated once per row (it is not captured inside an HOF lambda body),
    so inline composition is safe here — pipelines that derive MULTIPLE
    columns from the tokens should still stage through prepare_pages'
    Generate barriers."""
    return tokens_from_slug(slug_for_mode(col, slug_mode), slug_mode)


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Overlapping word n-gram shingles (distinct) from a token ARRAY.

    `toks` must be a plain column attribute (from a materialized stage),
    not a composed expression: higher-order-function lambdas re-evaluate
    captured expressions PER ELEMENT, so passing the slug/split expression
    here turns an O(L) shingle pass into O(L^2) regex work (measured 13x
    wall on a 105k-doc corpus).

    Documents with fewer than n tokens yield the whole slug as a single
    shingle so short docs still block somewhere.
    """
    ngrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(ngrams)
    )


def word_shingles_ordered(toks: Column, n: int = 3) -> Column:
    """ORDERED, non-distinct word n-gram shingles — position i of the
    result is the shingle starting at token i (winnowing needs the
    positional stream, not the set). Same `toks`-must-be-an-attribute
    caveat as `word_shingles_from_tokens`; same short-doc fallback (the
    whole token run as one shingle) and empty-doc empty array."""
    ngrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
        ngrams
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Shingles straight from a text column. Convenience for small inputs
    and oracle queries — for pipelines, materialize `tokens_col` first and
    use `word_shingles_from_tokens` (see its docstring for why)."""
    return word_shingles_from_tokens(tokens_col(col), n)


def num_project(col: Column | str) -> Column:
    """Replace every digit run with ``<NUM>`` — detects metadata-only edits.

    Reference semantics: `/root/reference/fuzzycat/utils.py:185-192`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"\d+", "<NUM>")


# ---------------------------------------------------------------------------
# Tier 2: vectorized Unicode slugifier (pandas UDF)
# ---------------------------------------------------------------------------

# Reference parity data (fuzzycat/sandcrawler.py:5-52): hand-built char
# substitutions the NFKD pass alone cannot produce — Latin letters with no
# canonical decomposition (ø, ł, þ, đ...), ligature expansions, Greek
# transliterations for OCR confusables, and symbols mapped to nothing.
SANDCRAWLER_CHAR_MAP: dict[str, str] = {
    "Æ": "AE", "æ": "ae", "Ð": "D", "ð": "d", "Ø": "O", "ø": "o",
    "Þ": "Th", "þ": "th", "ß": "s", "Đ": "D", "đ": "d", "Ħ": "H",
    "ħ": "h", "ı": "i", "ĸ": "k", "Ł": "L", "ł": "l", "Ŋ": "N",
    "ŋ": "n", "Œ": "Oe", "œ": "oe", "Ŧ": "T", "ŧ": "t",
    # OCR-ambiguous Latin-ish and Greek transliterations
    "µ": "u",  # micro sign
    "ƒ": "f",  # f with hook
    "α": "a", "β": "b", "ι": "i", "κ": "k",
    "χ": "x", "υ": "u", "ν": "v", "γ": "y",
    "τ": "t", "ο": "o",
    # map-to-null: math/modifier glyphs outside the strip classes
    "∂": "", "ʖ": "", "∑": "", "∏": "",
    "ˆ": "", "☃": "", "ˇ": "",
}

SANDCRAWLER_PREFIX_REMOVE = [
    "original article: ",
    "original article ",
    "article: ",
    "title: ",
]

# literal extra characters the reference's strip regex enumerates beyond
# the \s / \p{P} / \p{M} classes (sandcrawler.py:63-64)
_SC_EXTRA_REMOVE = set("’·“”‘«»「」¿–±§_`°ʖ©®¤=<>|+$^~≈√∫≤≥÷ƒ∆¬£¢∞¥◊€")

# After NFKD decomposition: combining marks and control chars are deleted
# (so "é" folds to "e"), punctuation and symbols become token boundaries.
# Built in ONE pass over the codepoint space together with the sandcrawler
# strip table (same iteration, two policies).
_STRIP_TABLE: dict[int, str | None] = {}
_SC_STRIP_TABLE: dict[int, str | None] = {}
for _cp in range(sys.maxunicode + 1):
    _ch = chr(_cp)
    _cat = unicodedata.category(_ch)[0]
    if _ch.isspace():
        _STRIP_TABLE[_cp] = " "
    elif _cat in ("M", "C"):
        _STRIP_TABLE[_cp] = None
    elif _cat in ("P", "S"):
        _STRIP_TABLE[_cp] = " "
    # sandcrawler semantics: \s, all punctuation, all marks, the General/
    # Supplemental Punctuation blocks, and the literal extras are DELETED
    # (the key is a concatenated comparable string, not token input)
    if (
        _ch.isspace()
        or _cat in ("P", "M")
        or 0x2000 <= _cp <= 0x206F
        or 0x2E00 <= _cp <= 0x2E7F
        or _ch in _SC_EXTRA_REMOVE
    ):
        _SC_STRIP_TABLE[_cp] = None

_SC_CHAR_TABLE = {ord(k): v for k, v in SANDCRAWLER_CHAR_MAP.items()}
# one optional group per prefix, in order — exactly the reference's
# sequential startswith cascade (each prefix tested once, in list order)
_SC_PREFIX_RE = "^" + "".join(f"(?:{p})?" for p in SANDCRAWLER_PREFIX_REMOVE)


def sandcrawler_slugify(raw: str | None) -> str | None:
    """Reference-parity comparison key (`sandcrawler.py:66-90`): strip +
    lowercase, drop title prefixes, apply the char map, NFKD, delete the
    strip classes, lowercase. Verified against the reference's own
    naughty-string table (`sandcrawler.py:93-157`) in tests.

    One deliberate deviation: the reference's prefix loop truncates the
    string TO the prefix (`slug = slug[:len(prefix)]`,
    `sandcrawler.py:79`) — an evident typo for removal that would turn
    "title: x" into "title: "; we remove the prefix instead.
    """
    if raw is None:
        return None
    slug = raw.strip().lower()
    for prefix in SANDCRAWLER_PREFIX_REMOVE:
        if slug.startswith(prefix):
            slug = slug[len(prefix):]
    slug = slug.replace("&apos;", "'")
    slug = slug.translate(_SC_CHAR_TABLE).lower()
    if not slug:
        return ""
    slug = unicodedata.normalize("NFKD", slug)
    return slug.translate(_SC_STRIP_TABLE).lower()


@pandas_udf(StringType())
def sandcrawler_slugify_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched sandcrawler key: C-level pandas str ops, no per-row
    Python. Use as a blocking-key expression (the output has no spaces —
    it is a whole-title comparison key, not tokenizer input)."""
    out = (
        s.str.strip()
        .str.lower()
        .str.replace(_SC_PREFIX_RE, "", regex=True)
        .str.replace("&apos;", "'", regex=False)
        .str.translate(_SC_CHAR_TABLE)
        .str.lower()
        .str.normalize("NFKD")
        .str.translate(_SC_STRIP_TABLE)
        .str.lower()
    )
    return out


def unicode_slugify(s: str | None) -> str | None:
    """Scalar reference implementation (used by tests and the pandas UDF).

    NFKD-decompose, drop mark/punct/symbol/control codepoints, lowercase,
    collapse whitespace. This reproduces the *effect* of the reference's
    hand-built char map + NFKD + ``\\p{}`` strips
    (`sandcrawler.py:5-64`): NFKD decomposition folds the diacritic and
    fullwidth cases the char map enumerates, and category-M strip removes
    the combining residue.
    """
    if s is None:
        return None
    s = unicodedata.normalize("NFKD", s)
    s = s.translate(_STRIP_TABLE)
    return " ".join(s.lower().split())


@pandas_udf(StringType())
def unicode_slugify_udf(s: pd.Series) -> pd.Series:
    # str.normalize + str.translate are C-level pandas ops over the whole
    # Arrow batch — no per-row Python function calls.
    out = s.str.normalize("NFKD").str.translate(_STRIP_TABLE).str.lower()
    return out.str.split().str.join(" ")
