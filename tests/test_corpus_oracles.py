"""DuckDB oracles for the corpus-prep modules.

The corpus-prep modules (line and web filters, mixing and splits, sharding,
sketches, PII, mojibake and the classifier) sit outside the dedup system's
import closure. Until a module is deleted, its cases here gate it; a case
goes with its module.

Each case runs a Spark function that calls the library directly and an
independent DuckDB query, and compares them the way tests/test_oracles.py
does: the same column names, the same row count and the same values,
order-insensitively. The shared config and SQL fragments come from there.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from fuzzycat_spark.functions.normalize import tokens_col
from fuzzycat_spark.functions.text import quality_score_cols
from test_oracles import (
    FIXTURES,
    SF,
    _CC_SQL,
    _QUALITY_SQL,
    _SLUG,
    _docs,
    _surt_cte,
    _surt_host_col_sql,
    compare,
    q_components,
)


def _rep_grams(n: int) -> str:
    """Ordered word n-grams over `rep_toks(doc_id, ws)` mirroring
    `word_shingles_ordered`: empty → no rows, fewer than n tokens → the
    whole token run as one gram, else every start position."""
    return f"""(SELECT doc_id, unnest(
        CASE WHEN len(ws) = 0 THEN []::VARCHAR[]
             WHEN len(ws) <= {n} THEN [array_to_string(ws, ' ')]
             ELSE list_transform(range(1, len(ws) - {n} + 2),
                                 i -> array_to_string(ws[i:i+{n - 1}], ' '))
        END) AS gram FROM rep_toks)"""


def _rep_frac(n: int, kind: str) -> str:
    """Per-doc char fraction over n-grams: kind='top' = most frequent
    gram's occurrence chars / all occurrence chars; kind='dup' = chars of
    beyond-first occurrences / all occurrence chars."""
    num = "max(cnt * l)" if kind == "top" else "sum((cnt - 1) * l)"
    return f"""(SELECT doc_id,
        CAST({num} AS DOUBLE) / CAST(sum(cnt * l) AS DOUBLE) AS frac
      FROM (SELECT doc_id, gram, count(*) AS cnt, length(gram) AS l
            FROM {_rep_grams(n)} GROUP BY doc_id, gram)
      GROUP BY doc_id)"""


_REPETITION_SQL = f"""
WITH rep_toks AS (
  SELECT doc_id,
    CASE WHEN slug = '' THEN []::VARCHAR[] ELSE string_split(slug, ' ') END AS ws
  FROM (SELECT doc_id, {_SLUG} AS slug FROM documents)
),
f2 AS {_rep_frac(2, "top")},
f3 AS {_rep_frac(3, "top")},
f5 AS {_rep_frac(5, "dup")}
SELECT t.doc_id,
  round(coalesce(f2.frac, 0.0), 6) AS top_2gram_char_frac,
  round(coalesce(f3.frac, 0.0), 6) AS top_3gram_char_frac,
  round(coalesce(f5.frac, 0.0), 6) AS dup_5gram_char_frac,
  (coalesce(f2.frac, 0.0) <= 0.10 AND coalesce(f3.frac, 0.0) <= 0.10
   AND coalesce(f5.frac, 0.0) <= 0.15) AS keep
FROM rep_toks t
LEFT JOIN f2 USING (doc_id) LEFT JOIN f3 USING (doc_id)
LEFT JOIN f5 USING (doc_id)"""


_LINE_FIXTURE_SQL = f"{FIXTURES}/line_docs.parquet"


_LINE_STATS_SQL = f"""
WITH d AS (SELECT doc_id, text FROM '{_LINE_FIXTURE_SQL}'),
ls AS (SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS l
       FROM d),
lr AS (SELECT doc_id, unnest(l) AS line FROM ls),
cf AS (SELECT doc_id,
         CAST(sum((cnt - 1) * ln) AS DOUBLE) / CAST(sum(cnt * ln) AS DOUBLE) AS f
       FROM (SELECT doc_id, line, count(*) AS cnt, length(line) AS ln
             FROM lr GROUP BY doc_id, line)
       GROUP BY doc_id),
rep_toks AS (
  SELECT doc_id,
    CASE WHEN slug = '' THEN []::VARCHAR[] ELSE string_split(slug, ' ') END AS ws
  FROM (SELECT doc_id, {_SLUG} AS slug FROM d)
),
f5 AS {_rep_frac(5, "dup")}
SELECT ls.doc_id,
  CAST(len(ls.l) AS BIGINT) AS n_lines,
  round(CASE WHEN len(ls.l) = 0 THEN 0.0
        ELSE (len(ls.l) - len(list_distinct(ls.l))) / CAST(len(ls.l) AS DOUBLE)
        END, 6) AS dup_line_frac,
  round(coalesce(cf.f, 0.0), 6) AS dup_line_char_frac,
  round(coalesce(f5.frac, 0.0), 6) AS dup_5gram_char_frac
FROM ls LEFT JOIN cf USING (doc_id) LEFT JOIN f5 USING (doc_id)"""


_COMMON_LINES_SQL = f"""
SELECT line, count(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id,
        unnest(list_filter(string_split(text, chr(10)), x -> x <> '')) AS line
      FROM '{_LINE_FIXTURE_SQL}')
GROUP BY line HAVING count(DISTINCT doc_id) >= 3"""


_LINE_DEDUP_SQL = f"""
WITH d AS (SELECT doc_id, text FROM '{_LINE_FIXTURE_SQL}'),
l AS (SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS line
      FROM (SELECT doc_id,
              list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
            FROM d)),
freq AS (SELECT line FROM l GROUP BY line
         HAVING count(DISTINCT doc_id) >= 3),
flagged AS (SELECT l.doc_id, l.pos, l.line,
              (freq.line IS NOT NULL) AS common
            FROM l LEFT JOIN freq ON l.line = freq.line),
clean AS (SELECT doc_id,
            string_agg(line, chr(10) ORDER BY pos) AS t,
            count(*) AS n_kept
          FROM flagged WHERE NOT common GROUP BY doc_id),
rem AS (SELECT doc_id, count(*) AS n_removed
        FROM flagged WHERE common GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(clean.t, '') AS text_clean,
  coalesce(rem.n_removed, 0) AS n_removed,
  coalesce(clean.n_kept, 0) AS n_kept
FROM d LEFT JOIN clean USING (doc_id) LEFT JOIN rem USING (doc_id)"""


_DOMAIN_CAP_SQL = f"""
WITH q AS ({_QUALITY_SQL})
SELECT doc_id, source, quality, rank FROM (
  SELECT d.doc_id, d.source, q.quality,
    CAST(row_number() OVER (
      PARTITION BY d.source ORDER BY q.quality DESC, d.doc_id ASC
    ) AS INT) AS rank
  FROM documents d JOIN q ON d.doc_id = q.doc_id
) WHERE rank <= 10"""


_TB_BUDGETS = {"en": 3000, "fr": 1500, "es": 999_999, "zh": 1}


def q_token_budget(spark, sf_dir):
    """Ranked token-budget selection (operators/mixing.py
    token_budget_select): per language, the highest-quality docs fill a
    token budget — whole score-bins keep/cut via a TINY bins-table
    cumulative window, only the straddling bin's rows pay the
    deterministic (md5, id)-ordered admission window. Budgets exercise
    every arm: en/fr straddle a bin, es keeps everything, zh's budget of
    1 admits nobody from its boundary bin, de is absent (all cut).
    Scores are floor(quality*100) — integer bins, so cross-engine float
    ordering never decides membership."""
    from fuzzycat_spark.operators.mixing import token_budget_select

    cols = quality_score_cols("text")
    base = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        cols["n_tokens"].alias("n_tokens"),
        F.floor(F.round(cols["quality"], 6) * 100).cast("long").alias("score"),
    )
    return token_budget_select(base, _TB_BUDGETS, score_col="score")


def _token_budget_sql() -> str:
    vals = ", ".join(f"('{k}', {v})" for k, v in _TB_BUDGETS.items())
    draw = "('0x' || substr(md5(id::VARCHAR || ':0'), 1, 12))::BIGINT"
    return f"""
WITH q AS ({_QUALITY_SQL}),
rows AS (
  SELECT d.doc_id AS id, d.lang AS key, q.n_tokens AS w,
         CAST(floor(q.quality * 100) AS BIGINT) AS s
  FROM documents d JOIN q USING (doc_id)),
b(key, budget) AS (VALUES {vals}),
cum AS (
  SELECT key, s, bw,
    sum(bw) OVER (PARTITION BY key ORDER BY s DESC) AS c
  FROM (SELECT key, s, sum(w) AS bw FROM rows GROUP BY key, s)),
st AS (
  SELECT cum.key, s, c - bw AS prev, coalesce(b.budget, 0) AS budget,
    CASE WHEN c <= coalesce(b.budget, 0) THEN 'full'
         WHEN c - bw >= coalesce(b.budget, 0) THEN 'cut'
         ELSE 'boundary' END AS status
  FROM cum LEFT JOIN b ON cum.key = b.key),
lab AS (
  SELECT r.id, r.key, r.w, r.s, st.prev, st.budget, st.status
  FROM rows r JOIN st ON r.key = st.key AND r.s = st.s)
SELECT id, key, w, s,
  CASE WHEN status = 'full' THEN true
       WHEN status = 'cut' THEN false
       ELSE prev + sum(w) OVER (
              PARTITION BY key, s ORDER BY {draw} ASC, id ASC
              ROWS UNBOUNDED PRECEDING) <= budget
  END AS kept,
  status
FROM lab"""


def q_host_quality(spark, sf_dir):
    """Host-level quality screen verdicts (operators/domains.py
    host_quality_stats): exact fixed-point per-host mean quality
    (truncating integer division — reduction-order-free, unlike a float
    mean) with a 0.666 threshold that splits the corpus's sources both
    ways. ONE partial-aggregated (host, int64) shuffle."""
    from fuzzycat_spark.operators.domains import host_quality_stats

    return host_quality_stats(
        _docs(spark, sf_dir).withColumnRenamed("source", "host"),
        host_col="host",
        min_mean_quality_fp=666_000,
    )


def _host_quality_sql() -> str:
    return f"""
WITH q AS ({_QUALITY_SQL})
SELECT host, n_docs, mean_quality_fp,
  (n_docs >= 1 AND mean_quality_fp >= 666000) AS keep
FROM (
  SELECT d.source AS host,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(CAST(floor(q.quality * 1000000) AS BIGINT))
         // count(*) AS BIGINT) AS mean_quality_fp
  FROM documents d JOIN q USING (doc_id)
  GROUP BY d.source)"""


def q_repetition(spark, sf_dir):
    """Gopher-style repetition panel (MassiveText A1): top-2/3-gram and
    duplicate-5-gram character fractions, computed as a single sorted-array
    fold per document — pure Catalyst, zero shuffles (functions/
    repetition.py). The keep thresholds here (0.10/0.10/0.15) are tighter
    than Gopher's published 0.20/0.18/0.15 so the verdict is non-vacuous
    on this corpus (28/500 sf0.01 docs exceed 0.10 on top-2)."""
    from fuzzycat_spark.functions.repetition import (
        repetition_cols,
        repetition_keep,
    )

    cols = repetition_cols("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.round(cols["top_2gram_char_frac"], 6).alias("top_2gram_char_frac"),
        F.round(cols["top_3gram_char_frac"], 6).alias("top_3gram_char_frac"),
        F.round(cols["dup_5gram_char_frac"], 6).alias("dup_5gram_char_frac"),
        repetition_keep(
            cols=cols, max_top2=0.10, max_top3=0.10, max_dup5=0.15
        ).alias("keep"),
    )


_LINE_FIXTURE = f"{FIXTURES}/line_docs.parquet"


def q_line_stats(spark, sf_dir):
    """Line-granularity repetition panel (Gopher A1 duplicate-line
    signals + the duplicate-5-gram fraction, which the single-line sf
    corpus can't exercise) over the committed multi-line fixture. Pure
    Catalyst: one projection, zero shuffles (operators/lines.py)."""
    from fuzzycat_spark.functions.normalize import tokens_col
    from fuzzycat_spark.functions.repetition import dup_ngram_char_frac
    from fuzzycat_spark.operators.lines import line_stats

    df = spark.read.parquet(_LINE_FIXTURE)
    st = line_stats(df).select(
        "doc_id",
        "n_lines",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
    )
    g5 = df.select(
        "doc_id",
        F.round(dup_ngram_char_frac(tokens_col("text"), 5), 6).alias(
            "dup_5gram_char_frac"
        ),
    )
    return st.join(g5, on="doc_id")


def q_common_lines(spark, sf_dir):
    """Corpus-common exact lines (>= 3 distinct docs) — the discovery
    half of C4-style line dedup. The (line, doc) distinct is map-side
    combinable; lines shuffle by 64-bit hash, not text."""
    from fuzzycat_spark.operators.lines import common_lines

    return common_lines(spark.read.parquet(_LINE_FIXTURE), min_docs=3)


def q_line_dedup(spark, sf_dir):
    """C4/CCNet cross-document line removal: every line occurring in >= 3
    distinct docs is stripped from all of them, original order preserved,
    within-doc repeats of rare lines kept."""
    from fuzzycat_spark.operators.lines import strip_common_lines

    out = strip_common_lines(spark.read.parquet(_LINE_FIXTURE), min_docs=3)
    return out.select(
        "doc_id", F.col("text").alias("text_clean"), "n_removed", "n_kept"
    )


def q_domain_cap(spark, sf_dir):
    """Source-diversity cap: top-10 docs per source domain by the native
    quality blend (operators/domains.py — exact two-stage salted top-k,
    so a mega-domain never lands in one sort task)."""
    from fuzzycat_spark.operators.domains import domain_cap

    docs = _docs(spark, sf_dir).withColumn(
        "_q", F.round(quality_score_cols("text")["quality"], 6)
    )
    # rank on the ROUNDED score so Spark and the oracle sort identical
    # keys (the quality gate proves the rounded values bit-match)
    out = domain_cap(docs, "source", max_per_domain=10, quality_col="_q")
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("domain").alias("source"),
        F.col("quality"),
        "rank",
    )


_SITEMAP_FIXTURE = f"{FIXTURES}/sitemap_docs.parquet"


_SITEMAP_PAGES = f"{FIXTURES}/sitemap_pages.parquet"


def q_sitemap_entries(spark, sf_dir):
    """Sitemap XML parsing (operators/sitemap.py sitemap_entries):
    `<urlset>` entries and `<sitemapindex>` children from fetched
    sitemap bodies — loc (CDATA unwrapped, XML entities decoded),
    lastmod, lowercased changefreq, try-cast priority. The fixture
    plants entity/CDATA/whitespace/garbage-priority/missing-loc/
    uppercase-tag cases. Pure Catalyst regexp pipeline, no UDF."""
    from fuzzycat_spark.operators.sitemap import sitemap_entries

    return sitemap_entries(spark.read.parquet(_SITEMAP_FIXTURE))


def q_sitemap_coverage(spark, sf_dir):
    """Sitemap-vs-crawl reconciliation (operators/sitemap.py
    sitemap_coverage): distinct canonical SURT keys on each side, one
    full-outer join, per-host counts of both/frontier-gap/discovery-
    stray. Sitemap duplicates and crawl revisit variants (www/scheme/
    param-order) must not inflate either side."""
    from fuzzycat_spark.operators.sitemap import (
        sitemap_coverage,
        sitemap_entries,
    )

    return sitemap_coverage(
        sitemap_entries(spark.read.parquet(_SITEMAP_FIXTURE)),
        spark.read.parquet(_SITEMAP_PAGES),
    )


def _sitemap_entries_cte() -> str:
    return rf"""
blocks AS (
  SELECT url AS sitemap_url, 'url' AS kind,
         unnest(regexp_extract_all(body, '(?is)<url>(.*?)</url>', 1)) AS block
  FROM '{_SITEMAP_FIXTURE}'
  UNION ALL
  SELECT url, 'index',
         unnest(regexp_extract_all(body,
                '(?is)<sitemap>(.*?)</sitemap>', 1))
  FROM '{_SITEMAP_FIXTURE}'),
fields AS (
  SELECT sitemap_url, kind,
    regexp_extract(block, '(?is)<loc>\s*(.*?)\s*</loc>', 1) AS raw_loc,
    nullif(regexp_extract(block,
      '(?is)<lastmod>\s*(.*?)\s*</lastmod>', 1), '') AS lastmod,
    nullif(lower(regexp_extract(block,
      '(?is)<changefreq>\s*(.*?)\s*</changefreq>', 1)), '') AS changefreq,
    TRY_CAST(regexp_extract(block,
      '(?is)<priority>\s*(.*?)\s*</priority>', 1) AS DOUBLE) AS priority
  FROM blocks),
entries AS (
  SELECT sitemap_url, kind,
    replace(replace(replace(replace(replace(
      regexp_replace(raw_loc, '(?s)^<!\[CDATA\[(.*)\]\]>$', '\1'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
      '&amp;', '&') AS loc,
    lastmod, changefreq, priority
  FROM fields WHERE raw_loc <> '')"""


def _sitemap_coverage_sql() -> str:
    return f"""
WITH {_sitemap_entries_cte()},
{_surt_cte("SELECT loc AS url_id, trim(loc) AS t FROM entries "
           "WHERE kind = 'url'", "s")},
{_surt_cte(f"SELECT url AS url_id, trim(url) AS t FROM '{_SITEMAP_PAGES}'",
           "c")},
sm AS (SELECT DISTINCT surt FROM ssurts),
cr AS (SELECT DISTINCT surt FROM csurts),
j AS (SELECT coalesce(sm.surt, cr.surt) AS surt,
        (sm.surt IS NOT NULL)::INT AS s, (cr.surt IS NOT NULL)::INT AS c
      FROM sm FULL OUTER JOIN cr ON sm.surt = cr.surt)
SELECT regexp_extract(surt, '^([^)]*)', 1) AS host,
  CAST(sum(s) AS BIGINT) AS n_sitemap,
  CAST(sum(c) AS BIGINT) AS n_crawled,
  CAST(sum(s * c) AS BIGINT) AS n_both,
  CAST(sum(s * (1 - c)) AS BIGINT) AS n_sitemap_only,
  CAST(sum(c * (1 - s)) AS BIGINT) AS n_crawled_only
FROM j GROUP BY host"""


_WEBFILTER_FIXTURE = f"{FIXTURES}/webfilter_docs.parquet"


def q_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText A1 quality rules, non-repetition half
    (functions/webfilters.gopher_rule_cols): word-count bounds, mean
    word length, symbol-to-word ratio, bullet/ellipsis line fractions,
    alpha-word fraction, required-stopword hits — one planted failing
    document per rule plus one page that passes all seven. The
    repetition half is the `repetition` gate. Pure per-row Catalyst,
    zero shuffles."""
    from fuzzycat_spark.functions.webfilters import gopher_rules

    out = gopher_rules(spark.read.parquet(_WEBFILTER_FIXTURE))
    # doubles round before hashing, same policy as the quality gate
    return out.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        F.round("bullet_frac", 6).alias("bullet_frac"),
        F.round("ellipsis_frac", 6).alias("ellipsis_frac"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        "stop_hits",
        "ok_word_count",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_bullet",
        "ok_ellipsis",
        "ok_alpha_words",
        "ok_stop_words",
        "keep",
    )


def q_c4_clean(spark, sf_dir):
    """C4 §2.2 line cleanup (functions/webfilters.c4_clean_cols):
    terminal-punctuation / >=5-word / no-javascript line retention, then
    the page-level lorem-ipsum, curly-brace, and >=3-sentence verdicts.
    Fixture plants each drop arm and a page that cleans but survives."""
    from fuzzycat_spark.functions.webfilters import c4_clean

    return c4_clean(spark.read.parquet(_WEBFILTER_FIXTURE))


_WEBFILTER_WORDS = """
  CASE WHEN trim(text) = '' THEN []::VARCHAR[]
       ELSE regexp_split_to_array(trim(text), '\\s+') END"""


_WEBFILTER_LINES = """
  list_filter(list_transform(string_split(text, chr(10)),
              ln -> trim(ln)), ln -> ln <> '')"""


def _gopher_rules_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in (
        "the", "be", "to", "of", "and", "that", "have", "with"
    ))
    return rf"""
WITH sig AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    coalesce(CAST(list_sum(list_transform(words, w -> length(w)))
             AS DOUBLE), 0.0) / greatest(len(words), 1) AS mean_word_len,
    ((length(text) - length(replace(text, '#', ''))) / 1
     + (length(text) - length(replace(text, '…', ''))) / 1
     + (length(text) - length(replace(text, '...', ''))) / 3)
      / CAST(greatest(len(words), 1) AS DOUBLE) AS symbol_ratio,
    len(list_filter(lines, ln -> regexp_matches(ln, '^[•\-\*]')))
      / CAST(greatest(len(lines), 1) AS DOUBLE) AS bullet_frac,
    len(list_filter(lines, ln -> regexp_matches(ln, '(\.\.\.|…)$')))
      / CAST(greatest(len(lines), 1) AS DOUBLE) AS ellipsis_frac,
    len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
      / CAST(greatest(len(words), 1) AS DOUBLE) AS alpha_word_frac,
    CAST(len(list_intersect(list_transform(words, w -> lower(w)),
             [{stop_list}])) AS BIGINT) AS stop_hits
  FROM (SELECT doc_id, text, {_WEBFILTER_WORDS} AS words,
               {_WEBFILTER_LINES} AS lines
        FROM '{_WEBFILTER_FIXTURE}'))
SELECT doc_id, n_words,
  round(mean_word_len, 6) AS mean_word_len,
  round(symbol_ratio, 6) AS symbol_ratio,
  round(bullet_frac, 6) AS bullet_frac,
  round(ellipsis_frac, 6) AS ellipsis_frac,
  round(alpha_word_frac, 6) AS alpha_word_frac,
  stop_hits,
  (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_word_len,
  (symbol_ratio <= 0.1) AS ok_symbol_ratio,
  (bullet_frac <= 0.9) AS ok_bullet,
  (ellipsis_frac <= 0.3) AS ok_ellipsis,
  (alpha_word_frac >= 0.8) AS ok_alpha_words,
  (stop_hits >= 2) AS ok_stop_words,
  ((n_words >= 50 AND n_words <= 100000)
   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
   AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
   AND stop_hits >= 2) AS keep
FROM sig"""


def _c4_clean_sql() -> str:
    return rf"""
WITH cleaned AS (
  SELECT doc_id, text,
    coalesce(array_to_string(
      list_filter(lines, ln -> regexp_matches(ln, '[.!?"]$')
        AND len(regexp_split_to_array(ln, '\s+')) >= 5
        AND NOT contains(lower(ln), 'javascript')), chr(10)),
      '') AS text_clean,
    CAST(len(list_filter(lines, ln -> regexp_matches(ln, '[.!?"]$')
        AND len(regexp_split_to_array(ln, '\s+')) >= 5
        AND NOT contains(lower(ln), 'javascript'))) AS BIGINT) AS n_lines_kept,
    CAST(len(lines) AS BIGINT) AS n_lines_total
  FROM (SELECT doc_id, text, {_WEBFILTER_LINES} AS lines
        FROM '{_WEBFILTER_FIXTURE}'))
SELECT doc_id, text_clean, n_lines_kept,
  (n_lines_total - n_lines_kept) AS n_lines_dropped,
  CAST(length(text_clean)
       - length(regexp_replace(text_clean, '[.!?]', '', 'g'))
       AS BIGINT) AS n_sentences,
  contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
  contains(text, '{{') AS has_curly_brace,
  (NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{{')
   AND length(text_clean)
       - length(regexp_replace(text_clean, '[.!?]', '', 'g')) >= 3
   AND n_lines_kept >= 1) AS keep
FROM cleaned"""


_STRATA_QUOTAS = {"en": 50, "de": 30, "zh": 10, "fr": 1000}


_STRATA_SEED = 3


def q_stratified_sample(spark, sf_dir):
    """Exact-count stratified sampling (operators/mixing.sample_quota):
    'exactly N docs per language', the quota form of a training-mix spec
    (corpus_mix's rate form hits budgets only in expectation). Selection
    = smallest 48-bit md5 draws per stratum, two-stage salted top-k so
    no language lands on one reducer. Quota arms: en/de/zh capped below
    their counts, fr quota above its count (all kept), es absent
    (dropped)."""
    from fuzzycat_spark.operators.mixing import sample_quota

    return sample_quota(
        _docs(spark, sf_dir), _STRATA_QUOTAS,
        id_col="doc_id", key_col="lang", seed=_STRATA_SEED,
    )


def _stratified_sample_sql() -> str:
    values = ", ".join(f"('{k}', {int(v)})" for k, v in _STRATA_QUOTAS.items())
    return f"""
            WITH q AS (SELECT * FROM (VALUES {values}) AS q(lang, quota)),
            h AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5(doc_id::VARCHAR || ':{_STRATA_SEED}'), 1, 12))::BIGINT AS hv
              FROM documents
            ),
            r AS (
              SELECT h.doc_id, h.lang, q.quota,
                     CAST(row_number() OVER (
                       PARTITION BY h.lang ORDER BY h.hv ASC, h.doc_id ASC
                     ) AS BIGINT) AS rank
              FROM h JOIN q USING (lang)
            )
            SELECT doc_id AS id, lang, rank FROM r WHERE rank <= quota"""


_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


_SPLIT_SEED = 3


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment (operators/mixing.py
    assign_splits): each doc routed by where its 48-bit md5 draw lands
    on the cumulative fraction grid — partition/retry/cluster-size
    invariant (df.randomSplit re-draws per task attempt), every
    boundary an exact integer both engines compare identically."""
    from fuzzycat_spark.operators.mixing import assign_splits

    return assign_splits(
        _docs(spark, sf_dir).select("doc_id"),
        _SPLIT_FRACTIONS,
        seed=_SPLIT_SEED,
    )


def q_split_leakage_safe(spark, sf_dir):
    """Leakage-safe splits (operators/mixing.py assign_splits_by_cluster):
    every document routed by the md5 draw of its DEDUP CLUSTER label, so a
    train document's near-copy can never land in test — the contamination
    doc-level split hashing leaves in with probability (1 - train
    fraction) per duplicate. Cluster labels come from the same
    candidates→verify→connected-components pipeline the `components` gate
    proves; singletons hash their own id (bit-compatible with
    `split_assign` at the same seed)."""
    from fuzzycat_spark.operators.mixing import assign_splits_by_cluster

    docs = _docs(spark, sf_dir)
    return assign_splits_by_cluster(
        docs.select("doc_id"),
        q_components(spark, sf_dir),
        _SPLIT_FRACTIONS,
        seed=_SPLIT_SEED,
    )


def _split_leakage_safe_sql() -> str:
    from fuzzycat_spark.operators.mixing import split_bounds

    arms = "\n".join(
        f"WHEN f < {b} THEN '{n}'"
        for n, b in split_bounds(_SPLIT_FRACTIONS)
    )
    return f"""
        WITH assignments AS ({_CC_SQL})
        SELECT doc_id, cluster_id, CASE {arms} END AS split
        FROM (SELECT id AS doc_id, cluster_id,
                     ('0x' || substr(md5(cluster_id::VARCHAR || ':{_SPLIT_SEED}'),
                                     1, 12))::BIGINT AS f
              FROM assignments)"""


def _split_assign_sql() -> str:
    from fuzzycat_spark.operators.mixing import split_bounds

    arms = "\n".join(
        f"WHEN f < {b} THEN '{n}'"
        for n, b in split_bounds(_SPLIT_FRACTIONS)
    )
    return f"""
        SELECT doc_id, CASE {arms} END AS split
        FROM (SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR || ':{_SPLIT_SEED}'),
                                     1, 12))::BIGINT AS f
              FROM documents)"""


_CLS_FIXTURE = f"{FIXTURES}/classifier_docs.parquet"


_CLS_WEIGHTS = f"{FIXTURES}/classifier_weights.parquet"


def q_classifier_scores(spark, sf_dir):
    """Model-based quality classification (operators/classify.py): integer
    linear score over hashed unigram+bigram features with the PINNED
    Naive-Bayes log-odds vocabulary fitted at fixture-generation time
    (tools/make_classifier_fixture.py) — the fastText/CCNet-style learned
    quality filter. Spark joins features on md5_h64 hashes against the
    fixture's pinned h keys; the oracle joins on the feature STRING — so
    agreement also proves Spark-side hashing matches the pinned keys
    (a hash drift loses features and diverges the scores). Non-vacuous
    by construction: every pos doc scores > 0 > every neg doc."""
    from fuzzycat_spark.operators.classify import linear_score_fp

    docs = spark.read.parquet(_CLS_FIXTURE)
    weights = spark.read.parquet(_CLS_WEIGHTS)
    return (
        docs.select("doc_id", "label")
        .join(
            linear_score_fp(docs, weights).withColumnRenamed("id", "doc_id"),
            "doc_id",
        )
        .select("doc_id", "label", "score_fp")
    )


def _classifier_scores_sql() -> str:
    return f"""
            WITH d AS (
              SELECT doc_id, label, {_SLUG} AS slug FROM '{_CLS_FIXTURE}'
            ),
            toks AS (
              SELECT doc_id,
                     CASE WHEN slug = '' THEN CAST([] AS VARCHAR[])
                          ELSE string_split(slug, ' ') END AS ts
              FROM d
            ),
            uni AS (SELECT doc_id, t AS feat FROM toks, UNNEST(ts) AS u(t)),
            bi AS (
              SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS feat
              FROM toks, UNNEST(range(1, len(ts))) AS r(i)
            ),
            feats AS (
              SELECT doc_id, feat FROM uni
              UNION ALL SELECT doc_id, feat FROM bi
            ),
            scored AS (
              SELECT f.doc_id, CAST(SUM(w.w_fp) AS BIGINT) AS s
              FROM feats f JOIN '{_CLS_WEIGHTS}' w USING (feat)
              GROUP BY f.doc_id
            )
            SELECT d.doc_id, d.label,
                   CAST(COALESCE(s.s, 0) AS BIGINT) AS score_fp
            FROM d LEFT JOIN scored s USING (doc_id)"""


_PII_FIXTURE = f"{FIXTURES}/pii_docs.parquet"


_ROBOTS_FIXTURE = f"{FIXTURES}/robots_docs.parquet"


_ROBOTS_PAGES_FIXTURE = f"{FIXTURES}/robots_pages.parquet"


def q_robots_rules(spark, sf_dir):
    """Site-level opt-out parsing (operators/robots.py robots_rules):
    User-agent:* groups with UA stacking, comment/CRLF normalization,
    wildcard + pre-group + empty-value rule exclusion — native line
    explode + two same-partitioning windows, hosts-sized shuffle only.
    The fixture plants every branch (tools/make_robots_fixture.py)."""
    from fuzzycat_spark.operators.robots import robots_rules

    return robots_rules(spark.read.parquet(_ROBOTS_FIXTURE))


def q_robots_decisions(spark, sf_dir):
    """Per-URL robots allow/deny (robots_decisions): longest-prefix
    match, Allow wins length ties, default-allow for unmatched URLs and
    robots-less hosts; `rule_path` NULL distinguishes 'allowed by rule'
    from 'allowed by default'. Pages join rules on the SURT host key —
    an equi-join plus prefix post-filter, one per-URL window."""
    from fuzzycat_spark.operators.robots import (
        robots_decisions,
        robots_rules,
    )

    rules = robots_rules(spark.read.parquet(_ROBOTS_FIXTURE))
    return robots_decisions(
        spark.read.parquet(_ROBOTS_PAGES_FIXTURE), rules
    )


def q_robots_sitemaps(spark, sf_dir):
    """Sitemap discovery from robots.txt (operators/robots.py
    robots_sitemaps): group-independent `Sitemap:` declarations — the
    fixture plants pre-UA, inside-named-group, duplicate (one row),
    uppercase+CRLF+comment, and a relative value that must drop. One
    line explode + distinct; feeds operators/sitemap.py."""
    from fuzzycat_spark.operators.robots import robots_sitemaps

    return robots_sitemaps(spark.read.parquet(_ROBOTS_FIXTURE))


def _robots_sitemaps_sql() -> str:
    from fuzzycat_spark.operators import robots as rb

    sm_re = "'" + rb.SITEMAP_RE.replace("'", "''") + "'"
    return f"""
WITH smlines AS (
  SELECT host, trim(regexp_replace(regexp_replace(raw, chr(13), ''),
                    '#.*$', '')) AS line
  FROM (SELECT {_robots_surt_sql("host")} AS host,
               unnest(string_split(robots_txt, chr(10))) AS raw
        FROM '{_ROBOTS_FIXTURE}'))
SELECT DISTINCT host, regexp_extract(line, {sm_re}, 1) AS sitemap_url
FROM smlines
WHERE regexp_matches(regexp_extract(line, {sm_re}, 1), '^(?i)https?://')"""


_HOST_HRE = r"'^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]*)'"


def _robots_surt_sql(raw: str) -> str:
    h1 = (
        f"regexp_replace(regexp_replace(lower(regexp_extract(trim({raw}), "
        f"{_HOST_HRE}, 1)), '^www\\.', ''), ':(80|443)$', '')"
    )
    return _surt_host_col_sql(h1)


def _robots_rules_cte() -> str:
    from fuzzycat_spark.operators import robots as rb

    def q(pat: str) -> str:
        return "'" + pat.replace("'", "''") + "'"

    return f"""
rlines AS (
  SELECT host, unnest(generate_series(1, len(ls))) AS pos, unnest(ls) AS raw
  FROM (
    SELECT {_robots_surt_sql("host")} AS host,
           string_split(robots_txt, chr(10)) AS ls
    FROM '{_ROBOTS_FIXTURE}'
  )
),
rfeat AS (
  SELECT host, pos,
    lower(regexp_extract(line, {q(rb.UA_RE)}, 1)) AS ua,
    lower(regexp_extract(line, {q(rb.DIRECTIVE_RE)}, 1)) AS directive,
    regexp_extract(line, {q(rb.RULE_PATH_RE)}, 1) AS path,
    TRY_CAST(regexp_extract(line, {q(rb.CRAWL_DELAY_RE)}, 1) AS DOUBLE)
      AS delay
  FROM (
    SELECT host, pos,
      trim(regexp_replace(regexp_replace(raw, chr(13), '', 'g'),
                          '#.*$', '')) AS line
    FROM rlines
  )
),
rlag AS (
  SELECT host, pos, ua, directive, path, delay,
    CASE WHEN ua <> '' AND NOT coalesce(
          lag(ua <> '') OVER (PARTITION BY host ORDER BY pos), FALSE)
        THEN 1 ELSE 0 END AS block_start
  FROM rfeat
),
rgrp AS (
  SELECT host, pos, ua, directive, path, delay,
    sum(block_start) OVER (PARTITION BY host ORDER BY pos) AS gid
  FROM rlag
),
rstar AS (SELECT DISTINCT host, gid FROM rgrp WHERE ua = '*'),
rrules AS (
  SELECT DISTINCT g.host, g.path, g.directive = 'allow' AS allow,
         CAST(length(g.path) AS BIGINT) AS specificity
  FROM rgrp g JOIN rstar s ON g.host = s.host AND g.gid = s.gid
  WHERE g.directive <> '' AND g.gid > 0 AND starts_with(g.path, '/')
    AND NOT contains(g.path, '*') AND NOT contains(g.path, '$')
)"""


def _robots_rules_sql() -> str:
    return f"""
WITH {_robots_rules_cte()}
SELECT host, path, allow, specificity FROM rrules"""


def q_robots_crawl_delays(spark, sf_dir):
    """Crawl-delay extraction (operators/robots.py robots_crawl_delays):
    group-DEPENDENT unlike Sitemap — the fixture plants a named-bot
    delay that must NOT apply, two *-group values (min wins), an
    uppercase+CRLF+comment form, and a non-numeric value that try-cast
    drops. Same gid machinery as robots_rules."""
    from fuzzycat_spark.operators.robots import robots_crawl_delays

    return robots_crawl_delays(spark.read.parquet(_ROBOTS_FIXTURE))


def _robots_crawl_delays_sql() -> str:
    return f"""
WITH {_robots_rules_cte()}
SELECT g.host, min(g.delay) AS crawl_delay
FROM rgrp g JOIN rstar s ON g.host = s.host AND g.gid = s.gid
WHERE g.delay IS NOT NULL AND g.gid > 0
GROUP BY g.host"""


def _robots_decisions_sql() -> str:
    from fuzzycat_spark.operators import robots as rb

    path_re = "'" + rb._PATH_RE.replace("'", "''") + "'"
    return f"""
WITH {_robots_rules_cte()},
rpages AS (
  SELECT url, {_robots_surt_sql("url")} AS host,
    CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path
  FROM (
    SELECT url, regexp_extract(trim(url), {path_re}, 1) AS p0
    FROM '{_ROBOTS_PAGES_FIXTURE}'
  )
),
rmatch AS (
  SELECT p.url, r.path AS rule_path, r.allow,
    row_number() OVER (PARTITION BY p.url
      ORDER BY r.specificity DESC, r.allow DESC, r.path ASC) AS rk
  FROM rpages p
  JOIN rrules r ON p.host = r.host AND starts_with(p.path, r.path)
)
SELECT p.url, coalesce(w.allow, TRUE) AS allowed, w.rule_path
FROM rpages p
LEFT JOIN (SELECT * FROM rmatch WHERE rk = 1) w ON p.url = w.url"""


def q_pii_scrub(spark, sf_dir):
    """PII redaction + per-class counts (functions/pii.py): email/IPv4/
    phone as ONE whole-stage-codegen regexp chain — zero shuffles, zero
    UDFs. The oracle runs the IDENTICAL patterns through DuckDB's RE2
    (patterns live in the Java-regex ∩ RE2 common subset), a true
    two-engine cross-check over the planted fixture (digit-heavy emails,
    version-string IP lookalikes, a 16-digit card run both engines must
    split identically)."""
    from fuzzycat_spark.functions.pii import pii_counts, redact_pii

    return spark.read.parquet(_PII_FIXTURE).select(
        "doc_id",
        redact_pii("text").alias("redacted"),
        *pii_counts("text"),
    )


def _pii_scrub_sql() -> str:
    from fuzzycat_spark.functions.pii import PII_RULES

    redacted = "text"
    for _, pattern, token in PII_RULES:
        redacted = f"regexp_replace({redacted}, '{pattern}', '{token}', 'g')"
    counts = ",\n              ".join(
        f"CAST(len(regexp_extract_all(text, '{pattern}')) AS INT) AS n_{name}"
        for name, pattern, _ in PII_RULES
    )
    return f"""
            SELECT doc_id, {redacted} AS redacted,
              {counts}
            FROM '{_PII_FIXTURE}'"""


_MIX_BUDGETS = {"en": 30000.0, "de": 10000.0, "es": 100000.0, "zh": 5000.0}


_MIX_SEED = 7


def q_corpus_mix(spark, sf_dir):
    """Deterministic budget-driven corpus mixing (operators/mixing.py):
    per-lang keep rate = min(1, char_budget / total_chars) from ONE tiny
    partial-aggregated groupBy, applied back via a BROADCAST join and a
    pure-hash Bernoulli (md5(id:seed) 48-bit grid) — the corpus is never
    reshuffled and every keep/drop decision is replayable bit-for-bit.
    Budgets exercise all arms: en/de/zh partial rates, es clipped to 1.0,
    fr absent → rate 0 (excluded). Oracle reproduces the identical md5
    grid and rate arithmetic in DuckDB."""
    from fuzzycat_spark.operators.mixing import mix_corpus

    return mix_corpus(
        _docs(spark, sf_dir),
        _MIX_BUDGETS,
        weight_col="n_chars",
        id_col="doc_id",
        key_col="lang",
        seed=_MIX_SEED,
    ).select("doc_id", "lang", "rate")


def _corpus_mix_sql() -> str:
    values = ", ".join(f"('{k}', {v!r})" for k, v in _MIX_BUDGETS.items())
    return f"""
            WITH budgets(lang, budget) AS (VALUES {values}),
            totals AS (
              SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS total
              FROM documents GROUP BY lang
            ),
            rates AS (
              SELECT t.lang,
                     CASE WHEN b.budget IS NULL THEN 0.0
                          ELSE LEAST(1.0, b.budget / t.total) END AS rate
              FROM totals t LEFT JOIN budgets b ON t.lang = b.lang
            )
            SELECT d.doc_id, d.lang, r.rate
            FROM documents d JOIN rates r ON d.lang = r.lang
            WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':{_MIX_SEED}'), 1, 12))::BIGINT
                  / 281474976710656.0 < r.rate"""


def q_length_quantiles(spark, sf_dir):
    """Per-language P50/P90/P99 doc length (operators/stats.
    binned_quantiles): the corpus-audit number that sizes partition
    bytes and shingle caps before a 100 TB run, computed WITHOUT a
    global sort — one partial-aggregated histogram shuffle onto
    (lang, bin) int rows, then quantiles read off the tiny histogram's
    cumulative counts (est = true quantile rounded up to the 100-char
    bin edge). Rank test 100*cum >= q*n stays in exact int64, so every
    estimate hash-matches the oracle."""
    from fuzzycat_spark.operators.stats import binned_quantiles

    return binned_quantiles(
        _docs(spark, sf_dir), "n_chars",
        quantiles=(50, 90, 99), bin_width=100, keys=("lang",),
    )


def _length_quantiles_sql() -> str:
    return """
            WITH hist AS (
              -- floor-division binning mirrored from binned_quantiles
              -- (pmod form; identity to // on the nonnegative n_chars)
              SELECT lang,
                     (CAST(n_chars AS BIGINT)
                      - ((CAST(n_chars AS BIGINT) % 100) + 100) % 100) // 100
                       AS bin,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM documents WHERE n_chars IS NOT NULL
              GROUP BY lang, bin
            ),
            cum AS (
              SELECT lang, bin,
                     CAST(sum(cnt) OVER (
                       PARTITION BY lang ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum,
                     CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
              FROM hist
            ),
            qs(q) AS (VALUES (50), (90), (99))
            SELECT lang, q, (min(bin) + 1) * 100 AS est,
                   CAST(max(n) AS BIGINT) AS n
            FROM cum CROSS JOIN qs
            WHERE 100 * cum >= q * n
            GROUP BY lang, q"""


_TEMP_BUDGET = 450


_TEMP_SEED = 7


def q_temperature_mix(spark, sf_dir):
    """Square-root temperature flattening (operators/mixing.
    sqrt_temperature_rates — the T=2 point of UniMax/mT5 n^alpha
    sampling): per-lang keep rate = min(1, budget·sqrt(n)/(Σsqrt·n)),
    damping head languages and clamping tail ones at 1. sqrt is IEEE-
    correctly-rounded in both engines, weights floor to integers at 1e6
    scale, the weight sum is exact int64, and the final two multiplies +
    divide are mirrored op-for-op — so rates AND every md5-grid keep
    decision hash-match. Budget 450 over 500 docs makes both arms real:
    the biggest lang subsamples, the smallest clamps to rate 1.0."""
    from fuzzycat_spark.operators.mixing import (
        sample_corpus,
        sqrt_temperature_rates,
    )

    docs = _docs(spark, sf_dir)
    rates = sqrt_temperature_rates(docs, budget=_TEMP_BUDGET, key_col="lang")
    return sample_corpus(
        docs, rates, id_col="doc_id", key_col="lang", seed=_TEMP_SEED
    ).select("doc_id", "lang", "rate")


def _temperature_mix_sql() -> str:
    return f"""
            WITH c AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n
              FROM documents GROUP BY lang
            ),
            sq AS (
              SELECT lang, n,
                     CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0)
                          AS BIGINT) AS sq
              FROM c
            ),
            s AS (SELECT CAST(sum(sq) AS BIGINT) AS s FROM sq),
            rates AS (
              SELECT lang,
                     LEAST(1.0, ({float(_TEMP_BUDGET)!r} * CAST(sq AS DOUBLE))
                                / (CAST(s.s AS DOUBLE) * CAST(n AS DOUBLE)))
                       AS rate
              FROM sq, s
            )
            SELECT d.doc_id, d.lang, r.rate
            FROM documents d JOIN rates r ON d.lang = r.lang
            WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':{_TEMP_SEED}'), 1, 12))::BIGINT
                  / 281474976710656.0 < r.rate"""


def q_corpus_report(spark, sf_dir):
    """The corpus auditor: ONE partial-aggregated groupBy rolling up the
    hygiene signals per language — doc counts, PII hit totals and
    affected-doc counts (functions/pii.py), mojibake marker totals and
    affected docs (functions/encoding.py), and mean quality. What an
    operator reads before deciding filter thresholds for a new crawl.
    The audited corpus is documents UNION the committed PII and mojibake
    fixtures (tagged pseudo-langs) so every column of the report is
    exercised non-vacuously — the sf0.001 corpus alone is PII- and
    mojibake-free, and a gate that only ever agrees on zero proves
    nothing."""
    from fuzzycat_spark.functions.encoding import mojibake_score
    from fuzzycat_spark.functions.pii import PII_RULES, pii_counts

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang", "text"
    )
    for lang_tag, path in (("pii_fx", _PII_FIXTURE), ("moji_fx", _MOJIBAKE_FIXTURE)):
        docs = docs.unionByName(
            spark.read.parquet(path).select(
                "doc_id", F.lit(lang_tag).alias("lang"), "text"
            )
        )
    pii_total = None
    for c in pii_counts("text"):
        pii_total = c if pii_total is None else pii_total + c
    moji = mojibake_score("text")
    q = quality_score_cols("text")["quality"]
    per_doc = docs.select(
        "lang",
        pii_total.alias("_pii"),
        moji.alias("_moji"),
        F.round(q, 6).alias("_q"),
    )
    assert len(PII_RULES) == 5  # keep the oracle mirror honest
    # quality averages over EVERY row, fixture pseudo-langs included:
    # probing them exposed that the oracle's slug lacked the latin_fold
    # translate, so _SLUG now mirrors it and the two engines agree on
    # accented/mangled text too (verified per-doc on the mojibake rows)
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_pii").cast("long").alias("pii_hits"),
        F.sum((F.col("_pii") > 0).cast("int")).cast("long").alias("n_pii_docs"),
        F.sum("_moji").cast("long").alias("moji_hits"),
        F.sum((F.col("_moji") > 0).cast("int")).cast("long").alias("n_moji_docs"),
        F.round(F.avg("_q"), 6).alias("avg_quality"),
    )


def _corpus_report_sql() -> str:
    from fuzzycat_spark.functions.encoding import MOJIBAKE_MARKERS
    from fuzzycat_spark.functions.pii import PII_RULES

    pii = " + ".join(
        f"CAST(len(regexp_extract_all(text, '{pattern}')) AS INT)"
        for _, pattern, _ in PII_RULES
    )
    moji = " + ".join(
        f"CAST((length(text) - length(replace(text, '{m}', ''))) / {len(m)} AS INT)"
        for m in MOJIBAKE_MARKERS
    )
    rdocs = f"""
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, text FROM documents
              UNION ALL
              SELECT doc_id, 'pii_fx' AS lang, text FROM '{_PII_FIXTURE}'
              UNION ALL
              SELECT doc_id, 'moji_fx' AS lang, text FROM '{_MOJIBAKE_FIXTURE}'"""
    qsql = _QUALITY_SQL.replace("FROM documents", "FROM rdocs")
    return f"""
            WITH rdocs AS ({rdocs}),
            q AS ({qsql}),
            per_doc AS (
              SELECT d.lang, ({pii}) AS pii, ({moji}) AS moji, q.quality
              FROM rdocs d JOIN q ON d.doc_id = q.doc_id
            )
            SELECT lang,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(pii) AS BIGINT) AS pii_hits,
              CAST(SUM(CASE WHEN pii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
              CAST(SUM(moji) AS BIGINT) AS moji_hits,
              CAST(SUM(CASE WHEN moji > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_moji_docs,
              ROUND(AVG(quality), 6) AS avg_quality
            FROM per_doc GROUP BY lang"""


_MOJIBAKE_FIXTURE = f"{FIXTURES}/mojibake_docs.parquet"


def q_fix_mojibake(spark, sf_dir):
    """Encoding repair (functions/encoding.py): UTF-8-as-cp1252 mojibake
    rewritten by an ordered literal-replace chain whose pairs are
    CONSTRUCTED from the encode/decode round trip (not hand-typed), plus
    a raw-text double-encoding marker count. Pure codegen — zero
    shuffles, zero UDFs. The oracle applies the IDENTICAL ordered pairs
    through DuckDB replace(), so both engines must agree on every
    planted mangled/clean/control row."""
    from fuzzycat_spark.functions.encoding import fix_mojibake, mojibake_score

    return spark.read.parquet(_MOJIBAKE_FIXTURE).select(
        "doc_id",
        fix_mojibake("text").alias("fixed"),
        mojibake_score("text").alias("n_moji"),
    )


def _fix_mojibake_sql() -> str:
    from fuzzycat_spark.functions.encoding import (
        _PLACEHOLDERS,
        MOJIBAKE_MAP,
        MOJIBAKE_MARKERS,
    )

    fixed = "text"
    # the same two-pass (LHS→private-use placeholder, placeholder→RHS)
    # chain fix_mojibake builds — confluent regardless of rule order
    for (bad, _), ph in zip(MOJIBAKE_MAP, _PLACEHOLDERS):
        fixed = f"replace({fixed}, '{bad}', '{ph}')"
    for (_, good), ph in zip(MOJIBAKE_MAP, _PLACEHOLDERS):
        fixed = f"replace({fixed}, '{ph}', '{good}')"
    score = " + ".join(
        f"CAST((length(text) - length(replace(text, '{m}', ''))) / {len(m)} AS INT)"
        for m in MOJIBAKE_MARKERS
    )
    return f"""
            SELECT doc_id, {fixed} AS fixed, CAST({score} AS INT) AS n_moji
            FROM '{_MOJIBAKE_FIXTURE}'"""


_SHARD_N = 8


_SHARD_SEED = 5


def q_training_shards(spark, sf_dir):
    """Reproducible training-shard layout (operators/sharding.py): shard
    and within-shard position are two independent 48-bit fields of ONE
    md5(id:seed) — no RNG, no global sort, partition/retry-invariant;
    materializing positions costs one shuffle (the per-shard row_number
    window). Oracle recomputes both hash fields and the window in DuckDB,
    so every row's (shard, position) is pinned bit-for-bit."""
    from fuzzycat_spark.operators.sharding import shard_table

    return shard_table(
        _docs(spark, sf_dir), _SHARD_N, id_col="doc_id", seed=_SHARD_SEED
    ).select("doc_id", "shard", "shard_pos")


def _training_shards_sql() -> str:
    h = f"md5(doc_id::VARCHAR || ':{_SHARD_SEED}')"
    return f"""
            WITH keyed AS (
              SELECT doc_id,
                     CAST((('0x' || substr({h}, 1, 12))::BIGINT % {_SHARD_N}) AS INT) AS shard,
                     ('0x' || substr({h}, 13, 12))::BIGINT AS order_key
              FROM documents
            )
            SELECT doc_id, shard,
                   CAST(ROW_NUMBER() OVER (
                     PARTITION BY shard ORDER BY order_key, doc_id
                   ) - 1 AS INT) AS shard_pos
            FROM keyed"""


def q_jsonl_manifest(spark, sf_dir):
    """Per-shard integrity manifest of the loader-facing JSONL export
    (operators/sharding.py jsonl_shard_manifest): (shard, n_docs,
    n_chars, content_h) where content_h is the bit_xor of a 48-bit md5
    over (id, 0x01, text) — order-free (identical under any task
    reduction) and engine-portable. One partial-aggregated shuffle of
    n_shards groups; text never moves. The file layout itself (one
    deterministic gzip JSONL file per shard, byte-stable across reruns)
    is pinned by tests/test_jsonl_export.py; this gate pins the
    manifest every receiver verifies those files against."""
    from fuzzycat_spark.operators.sharding import jsonl_shard_manifest

    return jsonl_shard_manifest(
        _docs(spark, sf_dir), _SHARD_N, seed=_SHARD_SEED
    )


def _jsonl_manifest_sql() -> str:
    h = f"md5(doc_id::VARCHAR || ':{_SHARD_SEED}')"
    return f"""
            WITH keyed AS (
              SELECT CAST((('0x' || substr({h}, 1, 12))::BIGINT % {_SHARD_N}) AS INT) AS shard,
                     length(text)::BIGINT AS nc,
                     ('0x' || substr(md5(doc_id::VARCHAR || chr(1) || text), 1, 12))::BIGINT AS h
              FROM documents
            )
            SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(nc) AS BIGINT) AS n_chars,
                   bit_xor(h) AS content_h
            FROM keyed GROUP BY shard"""


# dup-span removal: k=5 at gate scale so the synthetic corpus's repeated
# passages actually trip it (57-71 docs of 500 carry a duplicated 5-gram;
# production default is k=50 per Lee et al.)
_SPAN_K = 5


_PACK_LEN = 256


# the raw-whitespace tokenizer (spans.raw_tokens) in DuckDB: explicit
# char class, identical under Java regex and RE2 (\s differs on \x0B)
_RAW_TOKS = (
    "list_filter(string_split_regex(text, '[ \t\r\n]+'), x -> x <> '')"
)


def q_dup_spans(spark, sf_dir):
    """Cross-document duplicate-span removal (operators/spans.py) — the
    ExactSubstr operation of Lee et al. 2022: every token covered by a
    corpus-duplicated k-gram is removed from the rewritten text. One
    partial-aggregated count on 8-byte gram hashes, one semi join, one
    range-frame window per doc (no token-level join), one rebuild
    groupBy. Oracle recomputes the full coverage pipeline in DuckDB over
    exact gram text."""
    from fuzzycat_spark.operators.spans import strip_dup_spans

    return strip_dup_spans(_docs(spark, sf_dir), k=_SPAN_K).select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.col("text").alias("clean_text"),
    )


def _dup_spans_sql() -> str:
    k = _SPAN_K
    return f"""
        WITH t AS (
          SELECT doc_id, {_RAW_TOKS} AS toks FROM documents
        ),
        tok_rows AS (
          SELECT doc_id, u.i AS pos, toks[u.i+1] AS tok, 0 AS d
          FROM t, UNNEST(range(0, len(toks))) AS u(i)
        ),
        g AS (
          SELECT doc_id, i AS gpos,
                 md5(array_to_string(toks[i+1:i+{k}], ' ')) AS gh
          FROM t, UNNEST(range(0, greatest(len(toks)-{k}+1, 0))) AS u(i)
        ),
        dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
        ev AS (
          SELECT doc_id, pos, tok, d FROM tok_rows
          UNION ALL
          SELECT doc_id, gpos, NULL, 1 FROM g
          WHERE gh IN (SELECT gh FROM dup)
        ),
        cov AS (
          SELECT doc_id, pos, tok,
                 max(d) OVER (PARTITION BY doc_id ORDER BY pos
                              RANGE BETWEEN {k-1} PRECEDING AND CURRENT ROW) AS c
          FROM ev
        ),
        res AS (
          SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(coalesce(sum(CASE WHEN c=1 THEN 1 END), 0) AS BIGINT)
                   AS n_removed,
                 coalesce(string_agg(tok, ' ' ORDER BY pos)
                          FILTER (WHERE c=0), '') AS clean
          FROM cov WHERE tok IS NOT NULL GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
               coalesce(r.clean, '') AS clean_text
        FROM documents d LEFT JOIN res r USING (doc_id)"""


def q_packed_sequences(spark, sf_dir):
    """Concatenate-and-chunk sequence packing (operators/sharding.py
    pack_shard_sequences): each shard's reproducible order becomes one
    token stream cut into fixed {seq_len}-token training sequences; per
    doc the stream offset and first/last sequence index. ONE shuffle
    (the per-shard window; the cumsum reuses its exchange + sort).
    Oracle mirrors the md5 shard fields, the token count, and both
    windows."""
    from fuzzycat_spark.operators.sharding import pack_shard_sequences

    return pack_shard_sequences(
        _docs(spark, sf_dir),
        seq_len=_PACK_LEN,
        n_shards=_SHARD_N,
        seed=_SHARD_SEED,
    )


def _packed_sequences_sql() -> str:
    h = f"md5(doc_id::VARCHAR || ':{_SHARD_SEED}')"
    return f"""
        WITH keyed AS (
          SELECT doc_id,
                 CAST((('0x' || substr({h}, 1, 12))::BIGINT % {_SHARD_N}) AS INT)
                   AS shard,
                 ('0x' || substr({h}, 13, 12))::BIGINT AS order_key,
                 CAST(len({_RAW_TOKS}) AS BIGINT) AS n_tokens
          FROM documents
        ),
        pos AS (
          SELECT doc_id, shard, n_tokens,
                 CAST(ROW_NUMBER() OVER w - 1 AS INT) AS shard_pos,
                 CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY order_key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS start_off
          FROM keyed
          WINDOW w AS (PARTITION BY shard ORDER BY order_key, doc_id)
        )
        SELECT doc_id, shard, shard_pos, n_tokens, start_off,
               CASE WHEN n_tokens > 0
                    THEN CAST(start_off // {_PACK_LEN} AS BIGINT) END AS start_seq,
               CASE WHEN n_tokens > 0
                    THEN CAST((start_off + n_tokens - 1) // {_PACK_LEN} AS BIGINT)
               END AS end_seq
        FROM pos"""


_LL_B = 6  # 64 LogLog registers


_LL_SEED = 42


_CMS_D = 4


_CMS_W = 64


_CMS_SEED = 42


def q_distinct_sketch(spark, sf_dir):
    """LogLog cardinality registers (operators/sketch.py, Durand &
    Flajolet 2003): distinct-token-per-language registers as
    (lang, bucket, rho_max). The scale substitute for
    `count(distinct token)` per language — 2^b 16-byte rows per key
    forever, ONE partial-agg shuffle of ints, shard sketches merge by
    MAX. bucket and the rho draw are the two independent 48-bit fields
    of one md5; rho = trailing zeros + 1 is pure integer arithmetic, so
    the registers (not just a float estimate) hash-match the oracle."""
    from fuzzycat_spark.operators.sketch import loglog_registers
    from fuzzycat_spark.operators.spans import raw_tokens

    toks = _docs(spark, sf_dir).select(
        "lang", F.explode(raw_tokens("text")).alias("tok")
    )
    return loglog_registers(toks, ["lang"], "tok", b=_LL_B, seed=_LL_SEED)


def q_cms_counts(spark, sf_dir):
    """Count-min sketch rows (operators/sketch.py, Cormode &
    Muthukrishnan 2005) over the corpus token stream: the d x w integer
    matrix whose min-over-rows point lookups bound term frequencies
    from above — heavy-hitter screening without a corpus-wide exact
    vocabulary table. d*w rows total regardless of corpus size; shard
    sketches merge by SUM."""
    from fuzzycat_spark.operators.sketch import cms_counts
    from fuzzycat_spark.operators.spans import raw_tokens

    toks = _docs(spark, sf_dir).select(
        F.explode(raw_tokens("text")).alias("tok")
    )
    return cms_counts(toks, "tok", d=_CMS_D, w=_CMS_W, seed=_CMS_SEED)


def _distinct_sketch_sql() -> str:
    m = 1 << _LL_B
    h = f"md5(tok || ':{_LL_SEED}')"
    return f"""
WITH toks AS (SELECT lang, unnest({_RAW_TOKS}) AS tok FROM documents),
h AS (
  SELECT lang,
         CAST(('0x' || substr({h}, 1, 12))::BIGINT % {m} AS INT) AS bucket,
         ('0x' || substr({h}, 13, 12))::BIGINT AS w
  FROM toks)
SELECT lang, bucket,
       CAST(max(CASE WHEN w = 0 THEN 49
                     ELSE bit_count((w & -w) - 1) + 1 END) AS INT) AS rho_max
FROM h GROUP BY lang, bucket"""


def _cms_counts_sql() -> str:
    arms = "\nUNION ALL ".join(
        f"SELECT {r} AS r, CAST(('0x' || substr(md5(tok || ':{_CMS_SEED * 1000 + r}'), 1, 12))::BIGINT % {_CMS_W} AS INT) AS bucket FROM toks"
        for r in range(_CMS_D)
    )
    return f"""
WITH toks AS (SELECT unnest({_RAW_TOKS}) AS tok FROM documents),
cells AS ({arms})
SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
FROM cells GROUP BY r, bucket"""


_BLOOM_M = 4096


_BLOOM_D = 2


_BLOOM_SEED = 42


_BLOOM_ABSENT_OFF = 10000


def q_bloom_bits(spark, sf_dir):
    """Bloom-filter words over the corpus doc ids (operators/sketch.py,
    Bloom 1970): the O(1)-sized membership sketch behind "have we seen
    this URL in any previous crawl" — m/32 int64 word rows built with
    ONE partial-aggregated bit_or shuffle; filters from disjoint
    shards/epochs merge by OR. Bit positions are d independent
    md5_field48 draws, payloads stay in uint32 range (no signed-shift
    edge), so the word table hash-matches the oracle exactly."""
    from fuzzycat_spark.operators.sketch import bloom_bits

    return bloom_bits(
        _docs(spark, sf_dir).select("doc_id"),
        "doc_id",
        m_bits=_BLOOM_M,
        d=_BLOOM_D,
        seed=_BLOOM_SEED,
    )


def q_bloom_screen(spark, sf_dir):
    """Bloom membership screen (operators/sketch.bloom_contains): every
    corpus id plus an equal-sized absent set probe the filter built by
    `bloom_bits`. Present ids MUST read true (no false negatives — the
    screen's guarantee); at this gate's deliberately tight m/d the
    absent arm carries real false positives too, so BOTH the
    definite-negative and the fp behavior are value-checked against the
    oracle, not vacuously green."""
    from fuzzycat_spark.operators.sketch import bloom_bits, bloom_contains

    ids = _docs(spark, sf_dir).select("doc_id")
    bloom = bloom_bits(
        ids, "doc_id", m_bits=_BLOOM_M, d=_BLOOM_D, seed=_BLOOM_SEED
    )
    probes = ids.select(F.col("doc_id").alias("probe_id")).unionByName(
        ids.select((F.col("doc_id") + _BLOOM_ABSENT_OFF).alias("probe_id"))
    )
    return bloom_contains(
        bloom, probes, "probe_id", m_bits=_BLOOM_M, d=_BLOOM_D, seed=_BLOOM_SEED
    )


def _bloom_parts() -> list[str]:
    pos_arms = "\nUNION ALL ".join(
        f"SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR) ||"
        f" ':{_BLOOM_SEED * 1000 + r}'), 1, 12))::BIGINT % {_BLOOM_M} AS pos"
        " FROM documents"
        for r in range(_BLOOM_D)
    )
    return [
        f"bpos AS ({pos_arms})",
        """bloom AS (
      SELECT CAST(pos // 32 AS INT) AS word,
             bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
      FROM bpos GROUP BY word)""",
    ]


def _bloom_bits_sql() -> str:
    return (
        "WITH " + ",\n".join(_bloom_parts()) + "\nSELECT word, bits FROM bloom"
    )


def _bloom_screen_sql() -> str:
    parts = _bloom_parts()
    parts.append(f"""bprobes AS (
      SELECT doc_id AS probe_id FROM documents
      UNION ALL SELECT doc_id + {_BLOOM_ABSENT_OFF} FROM documents)""")
    probe_arms = "\nUNION ALL ".join(
        f"SELECT probe_id, ('0x' || substr(md5(CAST(probe_id AS VARCHAR) ||"
        f" ':{_BLOOM_SEED * 1000 + r}'), 1, 12))::BIGINT % {_BLOOM_M} AS pos"
        " FROM bprobes"
        for r in range(_BLOOM_D)
    )
    parts.append(f"ppos AS ({probe_arms})")
    parts.append("""pbits AS (
      SELECT probe_id, CAST(pos // 32 AS INT) AS word,
             1::BIGINT << CAST(pos % 32 AS INT) AS bit
      FROM ppos)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT probe_id,
       bool_and((COALESCE(b.bits, 0) & p.bit) = p.bit) AS may_contain
FROM pbits p LEFT JOIN bloom b USING (word)
GROUP BY probe_id"""
    )


_LEX_QUERIES = [
    (1, "hash join"),
    (2, "dup scan"),
    (3, "window order sort"),
    (4, "fast fast small"),
    (5, "the big table"),
]


_LEX_K = 5


_LEX_SCALE = 1_000_000_000_000


def q_lexical_topk(spark, sf_dir):
    """Lexical ranked retrieval (operators/retrieval.py) — the batch
    analog of the reference's Elasticsearch candidate scan
    (the reference's fuzzycat/matching.py builds lexical bool queries):
    top-k docs per query by integer TF x inverse-df weight. Posting
    frequencies come from an in-row run-length fold (zero shuffles to
    build the corpus side), queries and query-term df broadcast, only
    candidate rows reach the (query, doc) rollup, top-k is the
    two-stage salted rank."""
    from fuzzycat_spark.operators.retrieval import lexical_topk

    qdf = spark.createDataFrame(_LEX_QUERIES, "query_id int, qtext string")
    return lexical_topk(
        _docs(spark, sf_dir), qdf, k=_LEX_K, scale=_LEX_SCALE
    )


def _lexical_topk_sql() -> str:
    values = ", ".join(f"({i}, '{t}')" for i, t in _LEX_QUERIES)
    qtoks = _RAW_TOKS.replace("text", "qtext")
    return f"""
        WITH q(query_id, qtext) AS (VALUES {values}),
        t AS (SELECT doc_id, {_RAW_TOKS} AS toks FROM documents),
        dt AS (SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
               GROUP BY doc_id, tok),
        qt AS (SELECT query_id, tok AS term, CAST(count(*) AS BIGINT) AS qtf
               FROM (SELECT query_id, unnest({qtoks}) AS tok FROM q)
               GROUP BY query_id, tok),
        dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt
                WHERE term IN (SELECT term FROM qt) GROUP BY term),
        scored AS (
          SELECT qt.query_id, dt.doc_id,
                 CAST(sum(qt.qtf * dt.tf * ({_LEX_SCALE} // dfq.df))
                      AS BIGINT) AS score_fp
          FROM dt JOIN qt USING (term) JOIN dfq USING (term)
          GROUP BY qt.query_id, dt.doc_id)
        SELECT query_id, doc_id, score_fp, rank FROM (
          SELECT query_id, doc_id, score_fp,
                 CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score_fp DESC, doc_id ASC) AS INT) AS rank
          FROM scored
        ) WHERE rank <= {_LEX_K}"""


CASES = {
    "repetition": (q_repetition, _REPETITION_SQL),
    "line_stats": (q_line_stats, _LINE_STATS_SQL),
    "common_lines": (q_common_lines, _COMMON_LINES_SQL),
    "line_dedup": (q_line_dedup, _LINE_DEDUP_SQL),
    "domain_cap": (q_domain_cap, _DOMAIN_CAP_SQL),
    "sitemap_entries": (q_sitemap_entries, f"WITH {_sitemap_entries_cte()} SELECT sitemap_url, kind, loc,"
            " lastmod, changefreq, priority FROM entries"),
    "sitemap_coverage": (q_sitemap_coverage, _sitemap_coverage_sql()),
    "gopher_rules": (q_gopher_rules, _gopher_rules_sql()),
    "c4_clean": (q_c4_clean, _c4_clean_sql()),
    "robots_sitemaps": (q_robots_sitemaps, _robots_sitemaps_sql()),
    "token_budget": (q_token_budget, _token_budget_sql()),
    "host_quality": (q_host_quality, _host_quality_sql()),
    "robots_crawl_delays": (q_robots_crawl_delays, _robots_crawl_delays_sql()),
    "stratified_sample": (q_stratified_sample, _stratified_sample_sql()),
    "split_assign": (q_split_assign, _split_assign_sql()),
    "split_leakage_safe": (q_split_leakage_safe, _split_leakage_safe_sql()),
    "pii_scrub": (q_pii_scrub, _pii_scrub_sql()),
    "corpus_mix": (q_corpus_mix, _corpus_mix_sql()),
    "temperature_mix": (q_temperature_mix, _temperature_mix_sql()),
    "length_quantiles": (q_length_quantiles, _length_quantiles_sql()),
    "training_shards": (q_training_shards, _training_shards_sql()),
    "jsonl_manifest": (q_jsonl_manifest, _jsonl_manifest_sql()),
    "dup_spans": (q_dup_spans, _dup_spans_sql()),
    "packed_sequences": (q_packed_sequences, _packed_sequences_sql()),
    "lexical_topk": (q_lexical_topk, _lexical_topk_sql()),
    "distinct_sketch": (q_distinct_sketch, _distinct_sketch_sql()),
    "cms_counts": (q_cms_counts, _cms_counts_sql()),
    "bloom_bits": (q_bloom_bits, _bloom_bits_sql()),
    "bloom_screen": (q_bloom_screen, _bloom_screen_sql()),
    "fix_mojibake": (q_fix_mojibake, _fix_mojibake_sql()),
    "corpus_report": (q_corpus_report, _corpus_report_sql()),
    "robots_rules": (q_robots_rules, _robots_rules_sql()),
    "robots_decisions": (q_robots_decisions, _robots_decisions_sql()),
    "classifier_scores": (q_classifier_scores, _classifier_scores_sql()),
}


@pytest.mark.parametrize("name", list(CASES))
def test_corpus_oracle(spark, name, tmp_path, monkeypatch):
    spark_fn, sql = CASES[name]
    # the cases that write files stage them under mkdtemp()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    compare(spark, name, spark_fn, sql, SF)
