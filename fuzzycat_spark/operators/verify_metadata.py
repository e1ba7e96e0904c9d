"""The full fuzzycat metadata verify cascade, re-expressed as ONE Catalyst
`when` chain + one bounded pandas UDF.

Re-implements `verify(a, b) -> (status, reason)` from
`/root/reference/fuzzycat/verify.py:154-617` — all ~42 rules, in the
reference's exact first-match-wins order — over the flattened release
schema of FIXTURES.md §2. Only rule 38a (bipartite author similarity,
`verify.py:541-563`) needs Python; everything else is JVM-side codegen.

Faithfulness notes (each deliberate, matching observed reference behavior):
- glom PathAccessError-skip semantics (`verify.py:169-174` et al.) map to
  NULL-guards: a rule requiring a path only fires when that column is
  non-null.
  KNOWN REPRESENTATIONAL LIMIT: the flattened schema cannot distinguish a
  MISSING key (reference: glom raises, rule is skipped) from a key
  PRESENT with value None (reference: the rule fires — e.g.
  release_type None != 'dataset' -> DIFFERENT at verify.py:342,
  container_id None == None at verify.py:535/611, dict_has_key counting
  an explicit None pmid at verify.py:514). Both arrive as SQL NULL here,
  and NULL takes the missing-key (skip) branch. The 318-pair golden
  corpus carries no explicit-None records, so parity there is 100%; if
  exact parity on explicit-null records is ever required, add per-field
  presence-flag columns at ingest and switch the guards to them.
- Python `None` set-membership in author sets (`verify.py:455-458`: raw
  names may be None and still participate in set ops) is emulated with a
  `\\x00` sentinel element.
- Asymmetries are kept: SHORT_TITLE/BLACKLIST/APPENDIX/VHS check side `a`
  only; TITLE_FILENAME's `a` regex is unanchored at the end while `b`'s is
  anchored (`verify.py:473-477`); CHEM_FORMULA keeps the operator-
  precedence quirk of `verify.py:484-486` (and, like the reference, can
  never match a lowercased slug).
- `release_year == release_year` comparisons that are True for None==None
  in Python (`verify.py:513,610`) use null-safe equality.
- Blacklists are pluggable parameters (the reference ships ~3k literal
  titles in data.py; the MECHANISM is what we reproduce — callers supply
  their own lists).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

_NULL_SENTINEL = "\x00"


# ---------------------------------------------------------------------------
# scalar kernels (native re-implementations of utils.py helpers)
# ---------------------------------------------------------------------------


def slugify_string(col: Column) -> Column:
    """`utils.py:121-125`: keep ascii alnum + whitespace, lower, collapse."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def clean_doi(col: Column) -> Column:
    """`utils.py:87-99`: strip doi: prefix, cut to first '10.', fix '//'."""
    raw = F.lower(F.trim(col))
    raw = F.when(raw.startswith("doi:"), raw.substr(F.lit(5), F.length(raw))).otherwise(raw)
    pos = F.instr(raw, "10.")
    raw = F.when(pos == 0, F.lit(None)).otherwise(raw.substr(pos, F.length(raw)))
    # raw[7:9] == '//'  ->  drop the char at 0-based index 8 (1-based 9)
    fixed = F.when(
        F.substring(raw, 8, 2) == "//",
        F.concat(F.substring(raw, 1, 8), raw.substr(F.lit(10), F.length(raw))),
    ).otherwise(raw)
    return F.when(col.isNull() | (F.trim(col) == ""), F.lit(None)).otherwise(fixed)


def doi_prefix(col: Column) -> Column:
    return F.split(col, "/")[0]


def has_doi_prefix(col: Column, prefix: str) -> Column:
    return col.isNotNull() & (F.split(col, "/")[0] == prefix)


def page_count(col: Column) -> Column:
    """`utils.py:37-71` parse_page_string(...).count with exception->null.

    Handles 'p'/'e' prefix strip, single numbers (count=null), ranges with
    odd suffix completion ('577-89' -> 577-589 via string comparison), and
    start>end -> null (the ValueError path).
    """
    s = F.when(
        F.lower(F.substring(col, 1, 1)).isin("p", "e"),
        col.substr(F.lit(2), F.length(col)),
    ).otherwise(col)
    start = F.regexp_extract(s, r"^([0-9]+)-([0-9]+)", 1)
    end = F.regexp_extract(s, r"^([0-9]+)-([0-9]+)", 2)
    # suffix completion with the reference's string comparisons
    end_fixed = (
        F.when(
            (F.length(end) == 1) & (F.length(start) > 0) & (F.substring(start, -1, 1) < end),
            F.concat(F.substring(start, 1, F.length(start) - 1), end),
        )
        .when(
            (F.length(end) == 2) & (F.length(start) > 0) & (F.substring(start, -2, 2) < end),
            F.concat(F.substring(start, 1, F.length(start) - 2), end),
        )
        .otherwise(end)
    )
    a = start.cast("long")
    b = end_fixed.cast("long")
    return (
        F.when(col.isNull() | (col == ""), F.lit(None))
        .when(s.rlike("^[0-9]+$"), F.lit(None))  # single page: count is None
        .when(start == "", F.lit(None))  # no range match: ValueError
        .when(a > b, F.lit(None))  # invalid range: ValueError
        .otherwise(b - a + 1)
        .cast("long")
    )


def _token_2grams(s: str) -> set[str]:
    """`utils.py:159-182`: per-token non-overlapping char 2-grams."""
    out = []
    for tok in s.lower().split():
        out.extend(tok[i : i + 2] for i in range(0, len(tok), 2))
    return set(out)


@pandas_udf(DoubleType())
def _author_similarity_udf(a_authors: pd.Series, b_authors: pd.Series) -> pd.Series:
    """Rule 38a (`verify.py:541-563`): bipartite per-left-author max of
    token-2-gram jaccard, then mean. Returns the avg score or NaN when no
    scores exist. Inputs are the sorted, 5-trimmed slug-author arrays; the
    row volume is gated upstream so work is bounded (<=25 products/row).
    """
    out = []
    for aa, bb in zip(a_authors, b_authors):
        if aa is None or bb is None or len(aa) == 0 or len(bb) == 0:
            out.append(float("nan"))
            continue
        tops = []
        for u in aa:
            gu = _token_2grams(u)
            best = 0.0
            any_score = False
            for v in bb:
                gv = _token_2grams(v)
                union = gu | gv
                s = (len(gu & gv) / len(union)) if union else 0.0
                best = max(best, s)
                any_score = True
            if any_score:
                tops.append(best)
        out.append(sum(tops) / len(tops) if tops else float("nan"))
    return pd.Series(out)


# ---------------------------------------------------------------------------
# feature extraction
# ---------------------------------------------------------------------------


def record_features(df: DataFrame, id_col: str = "ident") -> DataFrame:
    """Per-record verify features over the FIXTURES.md §2 release schema."""
    title = F.coalesce(F.col("title"), F.lit(""))
    raw_names = F.transform(
        F.coalesce(F.col("contribs"), F.array().cast("array<struct<raw_name:string>>")),
        lambda c: c["raw_name"],
    )
    # Python-set semantics: None participates via sentinel; slug authors
    # drop falsy names first (verify.py:455-458)
    authors_set = F.array_sort(
        F.array_distinct(F.transform(raw_names, lambda x: F.coalesce(x, F.lit(_NULL_SENTINEL))))
    )
    slug_authors = F.array_sort(
        F.array_distinct(
            F.transform(
                F.filter(raw_names, lambda x: x.isNotNull() & (x != "")),
                lambda x: slugify_string(x),
            )
        )
    )
    datacite_rel_dois = F.when(
        F.col("extra").isNotNull() & F.col("extra.datacite_relations").isNotNull(),
        F.transform(
            F.filter(
                F.col("extra.datacite_relations"),
                lambda r: F.lower(F.coalesce(r["relatedIdentifierType"], F.lit(""))) == "doi",
            ),
            lambda r: r["relatedIdentifier"],
        ),
    )
    return df.select(
        F.col(id_col).alias("id"),
        title.alias("title"),
        F.col("title").alias("title_raw"),
        F.lower(title).alias("title_lower"),
        slugify_string(title).alias("slug_title"),
        F.col("work_id"),
        F.col("release_type"),
        F.col("release_year").cast("long").alias("release_year"),
        F.col("container_id"),
        F.col("ext_ids.doi").alias("doi_raw"),
        clean_doi(F.col("ext_ids.doi")).alias("doi_clean"),
        F.col("ext_ids.arxiv").alias("arxiv"),
        F.col("ext_ids.pmid").alias("pmid"),
        F.col("ext_ids.jstor").alias("jstor"),
        page_count(F.col("pages")).alias("page_count"),
        (F.col("contribs").isNotNull() & (F.size("contribs") > 0)).alias("has_authors"),
        authors_set.alias("authors_set"),
        slug_authors.alias("slug_authors"),
        F.col("extra.container_name").alias("container_name"),
        F.col("extra.subtitle").alias("subtitle"),
        F.col("extra.crossref_type").alias("crossref_type"),
        F.col("extra.datacite_metadataVersion").alias("datacite_mdv"),
        (
            F.col("extra").isNotNull()
            & (
                F.col("extra.datacite_metadataVersion").isNotNull()
                | F.col("extra.datacite_relations").isNotNull()
            )
        ).alias("has_datacite"),
        datacite_rel_dois.alias("datacite_rel_dois"),
    )


# ---------------------------------------------------------------------------
# the cascade
# ---------------------------------------------------------------------------

DEFAULT_TITLE_BLACKLIST: tuple[str, ...] = ("",)
DEFAULT_FRAGMENT_BLACKLIST: tuple[str, ...] = ()

_IGNORE_RELEASE_TYPES = ("article", "article-journal", "report", "paper-conference")


def verify_metadata_pairs(
    pairs: DataFrame,
    features: DataFrame,
    title_blacklist=DEFAULT_TITLE_BLACKLIST,
    fragment_blacklist=DEFAULT_FRAGMENT_BLACKLIST,
    min_title_length: int = 5,
) -> DataFrame:
    """(id_a, id_b, status, reason) for metadata record pairs."""
    fa = features.select([F.col(c).alias(f"a_{c}") for c in features.columns])
    fb = features.select([F.col(c).alias(f"b_{c}") for c in features.columns])
    j = (
        pairs.select("id_a", "id_b")
        .join(fa, on=F.col("id_a") == F.col("a_id"))
        .join(fb, on=F.col("id_b") == F.col("b_id"))
    )

    def a(c):
        return F.col(f"a_{c}")

    def b(c):
        return F.col(f"b_{c}")

    # rule-38a gate + UDF score (evaluated vectorized; NULL inputs short-out)
    gate38 = a("has_authors") & (
        F.size(F.array_intersect(a("slug_authors"), b("slug_authors"))) == 0
    )
    a_trim = F.slice(a("slug_authors"), 1, 5)
    b_trim = F.slice(b("slug_authors"), 1, 5)
    j = j.withColumn(
        "_avg38",
        _author_similarity_udf(
            F.when(gate38, a_trim), F.when(gate38, b_trim)
        ),
    )
    num38 = F.least(F.size(a_trim), F.size(b_trim))
    avg38 = F.col("_avg38")
    # 38b fallback: jaccard of len>=3 tokens of the joined slug-author strings
    def _tok38(side):
        return F.array_distinct(
            F.filter(
                F.flatten(F.transform(side("slug_authors"), lambda s: F.split(s, " "))),
                lambda t: F.length(t) >= 3,
            )
        )

    tok_a, tok_b = _tok38(a), _tok38(b)
    tok_union = F.size(F.array_union(tok_a, tok_b))
    jac38 = F.when(tok_union == 0, F.lit(0.0)).otherwise(
        F.size(F.array_intersect(tok_a, tok_b)).cast("double") / tok_union.cast("double")
    )

    slug_eq = a("slug_title") == b("slug_title")
    year_gap = F.abs(a("release_year") - b("release_year"))
    years_known = a("release_year").isNotNull() & b("release_year").isNotNull() & \
        (a("release_year") != 0) & (b("release_year") != 0)
    authors_eq = a("authors_set") == b("authors_set")
    nospace = lambda c: F.replace(c, F.lit(" "), F.lit(""))

    arxiv_base = lambda s: F.regexp_extract(s("arxiv"), r"^(.*)v[0-9]+$", 1)
    arxiv_is_versioned = lambda s: s("arxiv").isNotNull() & s("arxiv").rlike(r"^.*v[0-9]+$")

    chem = lambda s: F.exists(
        F.split(s("slug_title"), " "), lambda t: t.rlike(r"([A-Z]{1,2}[0-9]{1,2})")
    )

    ieee_arxiv = lambda x, y: (
        x("doi_raw").isNotNull()
        & (doi_prefix(x("doi_raw")) == "10.1109")
        & y("arxiv").isNotNull()
        & (y("arxiv") != "")
    )

    rules: list[tuple[Column, str, str]] = [
        # 1 DOI (verify.py:168-174)
        (a("doi_clean").isNotNull() & (a("doi_clean") == b("doi_clean")), "exact", "doi"),
        # 2 work id (177-179)
        (
            a("work_id").isNotNull() & (a("work_id") != "") & (a("work_id") == b("work_id")),
            "exact", "work_id",
        ),
        # 3 short title, side a only (186-187)
        (F.length(a("title")) < min_title_length, "ambiguous", "short_title"),
        # 4 title blacklist (188-189)
        (
            a("title_lower").isin(*title_blacklist) if title_blacklist else F.lit(False),
            "ambiguous", "blacklisted",
        ),
        # 5 fragment blacklist (190-192)
        (
            F.exists(
                F.lit(list(fragment_blacklist)).cast("array<string>"),
                lambda frag: a("title_lower").contains(frag),
            )
            if fragment_blacklist
            else F.lit(False),
            "ambiguous", "blacklisted_fragment",
        ),
        # 6 subject index + container mismatch (196-201)
        (
            a("title_lower").contains("subject index")
            & b("title_lower").contains("subject index")
            & a("container_id").isNotNull() & b("container_id").isNotNull()
            & (a("container_id") != b("container_id")),
            "different", "container",
        ),
        # 7 datacite metadata version (204-209)
        (
            (a("title") != "") & (a("title_raw") == b("title_raw"))
            & a("datacite_mdv").isNotNull() & b("datacite_mdv").isNotNull()
            & (a("datacite_mdv") != b("datacite_mdv")),
            "exact", "datacite_version",
        ),
        # 8 UBC prefix (212-223)
        (
            a("doi_raw").startswith("10.14288/") & b("doi_raw").startswith("10.14288/")
            & (a("doi_raw") != b("doi_raw")),
            "different", "custom_prefix_10_14288",
        ),
        # 9a BSI undated (230-235)
        (
            has_doi_prefix(a("doi_raw"), "10.3403") & has_doi_prefix(b("doi_raw"), "10.3403")
            & (
                (F.concat(a("doi_raw"), F.lit("u")) == b("doi_raw"))
                | (F.concat(b("doi_raw"), F.lit("u")) == a("doi_raw"))
            ),
            "strong", "custom_bsi_undated",
        ),
        # 9b BSI subdoc (236-240)
        (
            has_doi_prefix(a("doi_raw"), "10.3403") & has_doi_prefix(b("doi_raw"), "10.3403")
            & (a("title_raw") == b("title_raw"))
            & (a("subtitle").isNotNull() != b("subtitle").isNotNull()),
            "strong", "custom_bsi_subdoc",
        ),
        # 10 IOP ma pattern (245-255)
        (
            has_doi_prefix(a("doi_raw"), "10.1149") & has_doi_prefix(b("doi_raw"), "10.1149")
            & (a("doi_raw").startswith("10.1149/ma") != b("doi_raw").startswith("10.1149/ma")),
            "different", "custom_iop_ma_pattern",
        ),
        # 11 VHS (258-259)
        (
            a("title").contains("Zweckverband Volkshochschule ")
            & (a("title_raw") != b("title_raw")),
            "different", "vhs",  # Reason.CUSTOM_VHS value is 'vhs' (common.py:42)
        ),
        # 12 appendix (261-262)
        (a("title_lower").rlike(r"^appendix ?[^ ]*$"), "ambiguous", "appendix"),
        # 13 figshare version (265-274)
        (
            a("doi_raw").startswith("10.6084/") & b("doi_raw").startswith("10.6084/")
            & (
                F.regexp_replace(a("doi_raw"), r"[.]v[0-9]+$", "")
                == F.regexp_replace(b("doi_raw"), r"[.]v[0-9]+$", "")
            ),
            "strong", "figshare_version",
        ),
        # 14 versioned doi (279-286)
        (
            a("doi_raw").rlike(r"^10[.].*/v[0-9]+$") & b("doi_raw").rlike(r"^10[.].*/v[0-9]+$"),
            "strong", "versioned_doi",
        ),
        # 15 dot-segment version (291-297)
        (
            a("doi_raw").isNotNull() & b("doi_raw").isNotNull()
            & (
                (
                    F.slice(
                        F.split(a("doi_raw"), r"\."), 1,
                        F.greatest(F.size(F.split(a("doi_raw"), r"\.")) - 1, F.lit(0)),
                    )
                    == F.split(b("doi_raw"), r"\.")
                )
                | (
                    F.split(a("doi_raw"), r"\.")
                    == F.slice(
                        F.split(b("doi_raw"), r"\."), 1,
                        F.greatest(F.size(F.split(b("doi_raw"), r"\.")) - 1, F.lit(0)),
                    )
                )
            ),
            "strong", "versioned_doi",
        ),
        # 16 datacite related ids (304-330)
        (
            a("has_datacite") & b("has_datacite")
            & (
                (
                    b("doi_raw").isNotNull()
                    & F.array_contains(
                        F.coalesce(a("datacite_rel_dois"), F.array().cast("array<string>")),
                        b("doi_raw"),
                    )
                )
                | (
                    a("doi_raw").isNotNull()
                    & F.array_contains(
                        F.coalesce(b("datacite_rel_dois"), F.array().cast("array<string>")),
                        a("doi_raw"),
                    )
                )
            ),
            "strong", "datacite_related_id",
        ),
        # 17 arxiv version (333-339)
        (
            arxiv_is_versioned(a) & arxiv_is_versioned(b)
            & (arxiv_base(a) == arxiv_base(b)),
            "strong", "arxiv_version",
        ),
        # 18 release type (341-364)
        (
            a("release_type").isNotNull() & b("release_type").isNotNull()
            & (a("release_type") != b("release_type"))
            & (
                (
                    ~a("release_type").isin(*_IGNORE_RELEASE_TYPES)
                    & ~b("release_type").isin(*_IGNORE_RELEASE_TYPES)
                )
                | (
                    ((a("release_type") == "dataset") | (b("release_type") == "dataset"))
                    & (
                        a("release_type").isin("article", "article-journal")
                        | b("release_type").isin("article", "article-journal")
                    )
                )
                | (
                    ((a("release_type") == "book") | (b("release_type") == "book"))
                    & (
                        a("release_type").isin("article", "article-journal")
                        | b("release_type").isin("article", "article-journal")
                    )
                )
            ),
            "different", "release_type",
        ),
        # 19 dataset doi (367-372)
        (
            (a("release_type") == "dataset") & (b("release_type") == "dataset")
            & a("doi_raw").isNotNull() & b("doi_raw").isNotNull()
            & (a("doi_raw") != b("doi_raw")),
            "different", "dataset_doi",
        ),
        # 20 book chapter (375-380)
        (
            (a("release_type") == "chapter") & (b("release_type") == "chapter")
            & a("container_name").isNotNull() & b("container_name").isNotNull()
            & (a("container_name") != b("container_name")),
            "different", "book_chapter",
        ),
        # 21 crossref component (383-387)
        (
            (a("crossref_type") == "component")
            & a("title_raw").isNotNull() & b("title_raw").isNotNull()
            & (a("title_raw") != b("title_raw")),
            "different", "component",
        ),
        # 22 component release type (389-396)
        (
            (a("release_type") == "component") & (b("release_type") == "component")
            & a("doi_raw").isNotNull() & b("doi_raw").isNotNull()
            & (a("doi_raw") != b("doi_raw")),
            "different", "component",
        ),
        # 23 slug equal, year gap > 40 (404-408)
        (slug_eq & years_known & (year_gap > 40), "different", "year"),
        # 24 ieee/arxiv pair (410-428)
        (slug_eq & (ieee_arxiv(a, b) | ieee_arxiv(b, a)), "strong", "custom_ieee_arxiv"),
        # 25 columbia prefix (430-439)
        (
            slug_eq
            & has_doi_prefix(a("doi_raw"), "10.7916") & has_doi_prefix(b("doi_raw"), "10.7916"),
            "ambiguous", "custom_prefix_10_7916",
        ),
        # 26 subtitle mismatch (441-450)
        (
            slug_eq
            & F.exists(
                F.coalesce(a("subtitle"), F.array().cast("array<string>")),
                lambda sa: F.exists(
                    F.coalesce(b("subtitle"), F.array().cast("array<string>")),
                    lambda sb: slugify_string(sa) != slugify_string(sb),
                ),
            ),
            "different", "subtitle",
        ),
        # 27 title+author exact (462-471): year gap >4 -> year, else exact
        (
            (a("title_lower") == b("title_lower")) & a("has_authors") & authors_eq
            & years_known & (year_gap > 4),
            "different", "year",
        ),
        (
            (a("title_lower") == b("title_lower")) & a("has_authors") & authors_eq,
            "exact", "title_author_match",
        ),
        # 28 filename-like title (473-477); a unanchored, b anchored (sic)
        (
            (
                (
                    (F.size(F.split(F.coalesce(a("title_raw"), F.lit("")), r"\s+")) == 1)
                    & a("title_raw").rlike(r"^.*[.][a-z]{2,3}")
                )
                | (
                    (F.size(F.split(F.coalesce(b("title_raw"), F.lit("")), r"\s+")) == 1)
                    & b("title_raw").rlike(r"^.*[.][a-z]{2,3}$")
                )
            )
            & ~(a("title_raw").eqNullSafe(b("title_raw"))),
            "different", "title_filename",
        ),
        # 29 same raw title, year gap > 2 (479-482)
        (
            a("title_raw").isNotNull() & (a("title_raw") != "")
            & (a("title_raw") == b("title_raw")) & years_known & (year_gap > 2),
            "different", "year",
        ),
        # 30 chem formula (484-486) with the reference's precedence quirk:
        # contains(a) OR (contains(b) AND slugs differ)
        (chem(a) | (chem(b) & ~slug_eq), "different", "chem_formula"),
        # 31 short slug (488-489)
        ((F.length(a("slug_title")) < 10) & ~slug_eq, "ambiguous", "short_title"),
        # 32 num projection (491-493)
        (
            a("slug_title").rlike(r"\d") & ~slug_eq
            & (
                F.regexp_replace(a("slug_title"), r"\d+", "<NUM>")
                == F.regexp_replace(b("slug_title"), r"\d+", "<NUM>")
            ),
            "different", "num_diff",
        ),
        # 33 preprint/published (495-498)
        (
            (a("slug_title") != "") & (b("slug_title") != "") & slug_eq
            & a("has_authors")
            & (F.size(F.array_intersect(a("authors_set"), b("authors_set"))) > 0)
            & (a("arxiv").isNotNull() != b("arxiv").isNotNull()),
            "strong", "preprint_published",
        ),
        # 34 space-stripped slug + author overlap (500-509)
        (
            (a("slug_title") != "") & (b("slug_title") != "")
            & (nospace(a("slug_title")) == nospace(b("slug_title")))
            & (F.size(F.array_intersect(a("slug_authors"), b("slug_authors"))) > 0)
            & years_known & (year_gap > 4),
            "different", "year",
        ),
        (
            (a("slug_title") != "") & (b("slug_title") != "")
            & (nospace(a("slug_title")) == nospace(b("slug_title")))
            & (F.size(F.array_intersect(a("slug_authors"), b("slug_authors"))) > 0),
            "strong", "slug_title_author_match",
        ),
        # 35 pmid/doi pair (513-516); year None==None is True in the reference
        (
            a("release_year").eqNullSafe(b("release_year"))
            & (a("title_lower") == b("title_lower"))
            & (
                (a("pmid").isNotNull() & b("doi_raw").isNotNull())
                | (b("pmid").isNotNull() & a("doi_raw").isNotNull())
            ),
            "strong", "pmid_doi_pair",
        ),
        # 36 jstor (519-525)
        (
            a("jstor").isNotNull() & b("jstor").isNotNull() & (a("jstor") != b("jstor")),
            "different", "jstor_id",
        ),
        # 37 shared doi prefix (529-539)
        (
            a("container_id").isNotNull() & b("container_id").isNotNull()
            & a("doi_raw").isNotNull() & b("doi_raw").isNotNull()
            & (a("container_id") == b("container_id"))
            & (a("doi_raw") != b("doi_raw"))
            & ~has_doi_prefix(a("doi_raw"), "10.1126")
            & (doi_prefix(a("doi_raw")) == doi_prefix(b("doi_raw"))),
            "different", "shared_doi_prefix",
        ),
        # 38a tokenized authors (541-563)
        (
            gate38 & ~F.isnan(avg38)
            & (
                ((num38 < 3) & (avg38 > 0.9)) | ((num38 >= 3) & (avg38 > 0.5))
            ),
            "strong", "tokenized_authors",
        ),
        # 38b jaccard authors (575-578)
        (gate38 & (jac38 > 0.35), "strong", "jaccard_authors"),
        # 38c bail out (583)
        (gate38, "different", "contrib_intersection_empty"),
        # 39 choice reviews (586-592)
        (
            has_doi_prefix(a("doi_raw"), "10.5860") | has_doi_prefix(b("doi_raw"), "10.5860"),
            "ambiguous", "custom_prefix_10_5860_choice_review",
        ),
        # 40 page count (597-604)
        (
            a("page_count").isNotNull() & b("page_count").isNotNull()
            & (F.abs(a("page_count") - b("page_count")) > 5),
            "different", "page_count",
        ),
        # 41 title artifact (608-614)
        (
            a("container_id").isNotNull() & b("container_id").isNotNull()
            & authors_eq
            & (a("container_id") == b("container_id"))
            & a("release_year").eqNullSafe(b("release_year"))
            & (a("title") != b("title"))
            & (b("title").contains(a("title")) | a("title").contains(b("title"))),
            "strong", "title_artifact",
        ),
    ]

    status = None
    reason = None
    for cond, s, r in rules:
        cond = F.coalesce(cond, F.lit(False))
        status = F.when(cond, s) if status is None else status.when(cond, s)
        reason = F.when(cond, r) if reason is None else reason.when(cond, r)

    return j.select(
        "id_a",
        "id_b",
        status.otherwise("ambiguous").alias("status"),
        reason.otherwise("unknown").alias("reason"),
    )


# ---------------------------------------------------------------------------
# group-level verification (the reference's GroupVerifier)
# ---------------------------------------------------------------------------

# reference blacklist data (fuzzycat/data.py:25-31) — pluggable, these are
# the shipped defaults
CONTAINER_NAME_BLACKLIST: tuple[str, ...] = ("crossref listing of deleted dois",)
PUBLISHER_BLACKLIST: tuple[str, ...] = ("test accounts",)


def group_verify(
    records: DataFrame,
    key_col: str,
    id_col: str = "ident",
    max_cluster_size: int = 10,
    container_blacklist: tuple[str, ...] = CONTAINER_NAME_BLACKLIST,
    publisher_blacklist: tuple[str, ...] = PUBLISHER_BLACKLIST,
    **cascade_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """The GroupVerifier dataflow (`/root/reference/fuzzycat/verify.py:
    100-147`) as one distributed plan: cluster screens -> within-cluster
    pair enumeration -> publisher/container screens -> pairwise cascade.

    Returns (verified, counters):
      verified — (id_a, id_b, status, reason) for every surviving pair
      counters — (reason, n) mirroring the reference's Counter, including
                 the cluster screens (SINGULAR_CLUSTER,
                 MAX_CLUSTER_SIZE_EXCEEDED) and blacklist hit counts.

    Two reference quirks preserved deliberately:
    - the blacklist screens COUNT but do not skip the pair: the reference's
      `continue` (verify.py:136,141) only advances the inner (a, b) side
      loop, so the pair is still verified — same here (hits are counted
      per offending SIDE, pairs verify regardless);
    - cluster screens count CLUSTERS, not members (verify.py:128-132).

    Cost: exactly ONE Spark job. The cluster screens and blacklist hit
    counters ride the pair-table materialization as Observations
    (CollectMetrics nodes inside the pairs plan — the same pattern as the
    CC loop's convergence counter, components.py) instead of the three
    driver actions (.count() x2 + .first()) the round-2 version ran —
    three full extra scans of the cluster table at 100 TB.
    """
    from pyspark.sql import Observation

    keyed = records.select(
        F.col(key_col).alias("_k"), F.col(id_col).alias("_id")
    ).filter(F.col("_k").isNotNull())
    # cluster screens observed ON the sizes aggregate the eligibility join
    # consumes — no second pass over the cluster table
    screen_obs = Observation("gv_screens")
    sizes = keyed.groupBy("_k").agg(F.count(F.lit(1)).alias("_n")).observe(
        screen_obs,
        F.count(F.when(F.col("_n") < 2, F.lit(1))).alias("singular"),
        F.count(F.when(F.col("_n") > max_cluster_size, F.lit(1))).alias("oversize"),
    )
    eligible = keyed.join(
        sizes.filter((F.col("_n") >= 2) & (F.col("_n") <= max_cluster_size)),
        on="_k",
    )

    # per-side blacklist hit counters (counted, not skipped — see quirk);
    # fields absent from the schema behave like the reference's .get("")
    # defaults (never blacklisted)
    has_extra_cn = "extra" in records.columns and any(
        f.name == "container_name"
        for f in records.schema["extra"].dataType.fields
    ) if "extra" in records.columns else False
    cname = (
        F.lower(F.trim(F.coalesce(F.col("extra.container_name"), F.lit(""))))
        if has_extra_cn
        else F.lit("")
    )
    pub = (
        F.lower(F.trim(F.coalesce(F.col("publisher"), F.lit(""))))
        if "publisher" in records.columns
        else F.lit("")
    )
    flags = records.select(
        F.col(id_col).alias("_id"),
        cname.isin(*container_blacklist).alias("_cbl")
        if container_blacklist
        else F.lit(False).alias("_cbl"),
        pub.isin(*publisher_blacklist).alias("_pbl")
        if publisher_blacklist
        else F.lit(False).alias("_pbl"),
    )
    # within an eligible cluster of size n, FULL pair enumeration puts each
    # member in exactly n-1 pairs, so per-side hit counts are
    # sum((n-1) * flagged) over members — computable UPSTREAM of the pair
    # expansion, which lets the counter ride the same job as an Observation
    bl_obs = Observation("gv_blacklist")
    weight = (F.col("_n") - 1).cast("long")
    flagged = eligible.join(flags, on="_id", how="left").observe(
        bl_obs,
        F.coalesce(
            F.sum(F.when(F.col("_cbl"), weight).otherwise(F.lit(0))), F.lit(0)
        ).alias("cbl"),
        F.coalesce(
            F.sum(F.when(F.col("_pbl"), weight).otherwise(F.lit(0))), F.lit(0)
        ).alias("pbl"),
    )

    # within-cluster pair enumeration through the shared single-shuffle
    # band-table machinery: each cluster key is one bucket; materializing
    # the (small) pair table is the ONE job — both Observations fill here,
    # and the cascade's feature joins get planned over a real table
    from fuzzycat_spark.operators.lsh import lsh_candidate_pairs
    from fuzzycat_spark.plans.checkpoint import materialize

    pairs = materialize(
        lsh_candidate_pairs(
            flagged.select(
                F.col("_id").alias("id"),
                F.lit("grp").alias("band_id"),
                F.col("_k").alias("band_hash"),
            ),
            max_bucket_size=None,
        ),
        "group_verify_pairs",
    )
    screens, hits = screen_obs.get, bl_obs.get

    feats = record_features(records, id_col=id_col)
    verified = verify_metadata_pairs(pairs, feats, **cascade_kwargs)

    spark = records.sparkSession
    screen_rows = [
        ("SINGULAR_CLUSTER", int(screens["singular"])),
        ("MAX_CLUSTER_SIZE_EXCEEDED", int(screens["oversize"])),
        ("CONTAINER_NAME_BLACKLIST", int(hits["cbl"] or 0)),
        ("PUBLISHER_BLACKLIST", int(hits["pbl"] or 0)),
    ]
    counters = spark.createDataFrame(screen_rows, "reason string, n long").unionByName(
        verified.groupBy("reason").agg(F.count(F.lit(1)).alias("n"))
    )
    return verified, counters
