"""DuckDB oracles for the corpus-prep modules.

The corpus-prep modules (line and web filters, decontamination, mixing and
splits, sharding, vocabularies and BPE, LM scores, link graph, k-means, PQ,
sketches, PII, mojibake, media, crawl deltas, the classifier and cross-corpus
dedup) sit outside the dedup system's import closure. Until a module is
deleted, its cases here gate it; a case goes with its module.

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
from fuzzycat_spark.operators.components import connected_components
from test_oracles import (
    BANDS,
    DOC_CFG,
    FIXTURES,
    MAX_BLOCK,
    MAX_BUCKET,
    NUM_PERM,
    ROWS,
    SF,
    SHINGLE_N,
    UNIT_BANDS,
    _ANN_DIM,
    _ANN_PLANES_N,
    _A_PFX,
    _A_TS,
    _BAND_CTES,
    _BASE_CTES,
    _B_PFX,
    _B_TS,
    _CAND_CTES,
    _CC_SQL,
    _CONTAIN,
    _COS_D,
    _DENY_IN,
    _EN_STOPS,
    _FEAT_CTES,
    _JAC_SH,
    _JAC_TOK,
    _LEV_R,
    _NGRAM_JACCARD_T,
    _NPROJ,
    _PERM_VALUES,
    _PLANTED_FIXTURE,
    _PLANTED_STRONG,
    _QUALITY_SQL,
    _R2_BANDS,
    _SIG_CTES,
    _SLUG,
    _TS_R,
    _UNIT_BAND_LIST,
    _VERIFIED_CTES,
    _VERIFY_CASE,
    _ann_bucket_sql,
    _ann_planes,
    _doc_shingles,
    _docs,
    _emb,
    _lev_ratio_sql,
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


_EVAL_FIXTURE_SQL = f"{FIXTURES}/eval_docs.parquet"


_DECONTAMINATE_SQL = f"""
WITH ev_toks AS (
  SELECT CASE WHEN slug = '' THEN []::VARCHAR[]
         ELSE string_split(slug, ' ') END AS ws
  FROM (SELECT {_SLUG} AS slug
        FROM (SELECT text FROM '{_EVAL_FIXTURE_SQL}'))
),
eg AS (SELECT DISTINCT unnest(
        CASE WHEN len(ws) = 0 THEN []::VARCHAR[]
             WHEN len(ws) <= 5 THEN [array_to_string(ws, ' ')]
             ELSE list_transform(range(1, len(ws) - 5 + 2),
                                 i -> array_to_string(ws[i:i+4], ' '))
        END) AS gram FROM ev_toks),
rep_toks AS (
  SELECT doc_id,
    CASE WHEN slug = '' THEN []::VARCHAR[] ELSE string_split(slug, ' ') END AS ws
  FROM (SELECT doc_id, {_SLUG} AS slug FROM documents)
),
dg AS (SELECT DISTINCT doc_id, gram FROM {_rep_grams(5)}),
hits AS (SELECT doc_id, count(*) AS n FROM dg JOIN eg USING (gram)
         GROUP BY doc_id)
SELECT d.doc_id,
  CAST(coalesce(hits.n, 0) AS BIGINT) AS n_eval_grams_hit,
  coalesce(hits.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)"""


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


_EVAL_FIXTURE = f"{FIXTURES}/eval_docs.parquet"


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: per-document count of distinct eval
    n-grams leaked (operators/decontaminate.py — eval grams broadcast,
    corpus never shuffles). n=5 so exact overlaps exist in this
    vocabulary; the committed eval fixture plants 5-grams that occur in
    BOTH sf corpora plus clean prompts with zero hits."""
    from fuzzycat_spark.operators.decontaminate import decontaminate

    return decontaminate(
        _docs(spark, sf_dir), spark.read.parquet(_EVAL_FIXTURE), n=5
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


_CROSS_SEED = 7


_STRATA_QUOTAS = {"en": 50, "de": 30, "zh": 10, "fr": 1000}


_STRATA_SEED = 3


def _cross_sides(spark, sf_dir):
    """Deterministic split of the corpus into a frozen 'reference' side
    (even 48-bit md5 draw) and an incoming 'new' side (odd) — the gate's
    stand-in for two crawls. One text scan: both sides filter the same
    materialized shingle table."""
    from fuzzycat_spark.functions.hashing import md5_field48

    sh = _doc_shingles(spark, sf_dir).withColumn(
        "_side", F.pmod(md5_field48("doc_id", _CROSS_SEED), F.lit(2))
    )
    new_sh = sh.filter(F.col("_side") == 1).select(F.col("doc_id").alias("id"), "sh")
    ref_sh = sh.filter(F.col("_side") == 0).select(F.col("doc_id").alias("id"), "sh")
    return new_sh, ref_sh


def q_cross_dedup_pairs(spark, sf_dir):
    """Asymmetric cross-corpus near-dedup (operators/crossdedup.py):
    screen a new crawl against a frozen reference corpus. MinHash band
    candidates from BOTH sides share one combined-bucket-capped shuffle
    of (id, band_id, band_hash) rows; only new x ref pairs are expanded
    (never the quadratic within-reference set), then the exact shingle
    Jaccard confirms survivors. The reference analog is the cluster
    step run between dataset versions instead of within one."""
    from fuzzycat_spark.operators.crossdedup import cross_corpus_pairs

    new_sh, ref_sh = _cross_sides(spark, sf_dir)
    return cross_corpus_pairs(
        new_sh, ref_sh,
        num_perm=NUM_PERM, bands=BANDS, rows=ROWS, unit_bands=UNIT_BANDS,
        max_bucket_size=MAX_BUCKET, jaccard_threshold=_NGRAM_JACCARD_T,
    )


def q_cross_dedup(spark, sf_dir):
    """Per-new-document screening verdict over the cross-corpus pairs:
    matched flag + best reference match (max Jaccard, ties to smallest
    ref id). Clean documents appear with matched=false — the keep list
    a downstream mix stage consumes."""
    from fuzzycat_spark.functions.hashing import md5_field48
    from fuzzycat_spark.operators.crossdedup import cross_dedup_verdicts

    new_ids = (
        _docs(spark, sf_dir)
        .filter(F.pmod(md5_field48("doc_id", _CROSS_SEED), F.lit(2)) == 1)
        .select(F.col("doc_id").alias("new_id"))
    )
    return cross_dedup_verdicts(new_ids, q_cross_dedup_pairs(spark, sf_dir))


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


def _cross_pairs_sql() -> str:
    return f"""{_BAND_CTES},
            side AS (
              SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR || ':{_CROSS_SEED}'), 1, 12))::BIGINT % 2 AS side
              FROM documents
            ),
            bucket_ok AS (
              SELECT band_id, band_hash FROM band_rows
              GROUP BY band_id, band_hash HAVING count(*) <= {MAX_BUCKET}
            ),
            br AS (
              SELECT band_rows.*, side.side
              FROM band_rows
              JOIN bucket_ok USING (band_id, band_hash)
              JOIN side USING (doc_id)
            ),
            cross_cand AS (
              SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
              FROM br n JOIN br r USING (band_id, band_hash)
              WHERE n.side = 1 AND r.side = 0
            ),
            cross_scored AS (
              SELECT c.new_id, c.ref_id,
                     CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) = 0
                          THEN 0.0
                          ELSE len(list_intersect(a.shingles, b.shingles))
                               / len(list_distinct(list_concat(a.shingles, b.shingles)))
                     END AS j
              FROM cross_cand c
              JOIN sh a ON c.new_id = a.doc_id
              JOIN sh b ON c.ref_id = b.doc_id
            ),
            cross_pairs AS (
              SELECT new_id, ref_id, round(j, 6) AS jac FROM cross_scored
              WHERE round(j, 9) >= {_NGRAM_JACCARD_T}
            )"""


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


# Semantic decontamination eval suite: one member of each planted >0.9
# family (their 3 siblings MUST flag) plus ONE copy of the 210-strong
# mega vector (vec_id 20). The 209 remaining corpus copies sit at
# cosine 1.0 to it: the BRUTE screen flags all of them, while the ANN
# screen's corpus-side bucket cap (209 copies > MAX_BUCKET=200) excludes
# their bucket — the two gates diverge by exactly those 209 rows, so the
# cap is exercised non-vacuously on both engines.
_SEMCON_EVAL_IDS = (0, 4, 8, 12, 16, 20)


def _semcon_sides(spark):
    e = spark.read.parquet(_PLANTED_FIXTURE)
    ev = e.filter(F.col("vec_id").isin(*_SEMCON_EVAL_IDS))
    corpus = e.filter(~F.col("vec_id").isin(*_SEMCON_EVAL_IDS))
    return corpus, ev


def q_semantic_contamination(spark, sf_dir):
    """Embedding-space eval-overlap screen, EXACT brute path
    (operators/decontaminate.py semantic_contamination — eval suite
    broadcast, |corpus| x |eval| JVM-side cosines, corpus never
    shuffles). Eval = one member of each planted >0.9 family + one copy
    of the mega vector: the 15 family siblings and all 209 remaining
    mega copies must flag; fillers must not."""
    from fuzzycat_spark.operators.decontaminate import semantic_contamination

    corpus, ev = _semcon_sides(spark)
    return semantic_contamination(corpus, ev, threshold=_PLANTED_STRONG)


def q_semantic_contamination_ann(spark, sf_dir):
    """The LSH-bucketed scale path of the semantic screen
    (semantic_contamination_ann): cosines only within shared hyperplane
    buckets, CORPUS-side buckets above max_bucket_size=200 excluded.
    The 209 corpus mega copies exceed the cap, so they are NOT flagged
    here despite cosine 1.0 to eval vec 20 — the exact divergence from
    the brute gate that proves the cap is modeled (round-4 ADVICE:
    vacuous cap agreement), mirrored in the oracle's HAVING clause."""
    from fuzzycat_spark.operators.decontaminate import (
        semantic_contamination_ann,
    )

    corpus, ev = _semcon_sides(spark)
    return semantic_contamination_ann(
        corpus,
        ev,
        threshold=_PLANTED_STRONG,
        n_planes=_ANN_PLANES_N,
        dim=_ANN_DIM,
        max_bucket_size=MAX_BUCKET,
    )


def _semcon_ids_sql() -> str:
    return ", ".join(str(i) for i in _SEMCON_EVAL_IDS)


def _semantic_contamination_sql() -> str:
    return f"""
WITH embeddings AS (SELECT * FROM '{_PLANTED_FIXTURE}'),
ev AS (SELECT * FROM embeddings WHERE vec_id IN ({_semcon_ids_sql()})),
corpus AS (SELECT * FROM embeddings WHERE vec_id NOT IN ({_semcon_ids_sql()})),
scored AS (
  SELECT a.vec_id AS cid, round({_COS_D}, 6) AS c6,
         CASE WHEN round({_COS_D}, 9) >= {_PLANTED_STRONG} THEN 1 ELSE 0 END AS hit
  FROM corpus a CROSS JOIN ev b
),
agg AS (
  SELECT cid, max(c6) AS max_eval_cos,
         CAST(sum(hit) AS BIGINT) AS n_eval_hits
  FROM scored GROUP BY cid
)
SELECT c.vec_id AS vec_id, agg.max_eval_cos,
       CAST(coalesce(agg.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
       coalesce(agg.n_eval_hits, 0) > 0 AS contaminated
FROM corpus c LEFT JOIN agg ON c.vec_id = agg.cid"""


def _semantic_contamination_ann_sql() -> str:
    return f"""
WITH embeddings AS (SELECT * FROM '{_PLANTED_FIXTURE}'),
bk AS ({_ann_bucket_sql()}),
ev AS (SELECT vec_id FROM embeddings WHERE vec_id IN ({_semcon_ids_sql()})),
corpus AS (SELECT vec_id FROM embeddings WHERE vec_id NOT IN ({_semcon_ids_sql()})),
cbk AS (SELECT bk.vec_id, bk.bucket FROM bk JOIN corpus USING (vec_id)),
cbkok AS (SELECT bucket FROM cbk GROUP BY bucket HAVING count(*) <= {MAX_BUCKET}),
ebk AS (SELECT bk.vec_id, bk.bucket FROM bk JOIN ev USING (vec_id)),
cand AS (
  SELECT c.vec_id AS cid, e.vec_id AS eid
  FROM cbk c JOIN cbkok USING (bucket) JOIN ebk e ON c.bucket = e.bucket
),
scored AS (
  SELECT cand.cid, round({_COS_D}, 6) AS c6,
         CASE WHEN round({_COS_D}, 9) >= {_PLANTED_STRONG} THEN 1 ELSE 0 END AS hit
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.cid
  JOIN embeddings b ON b.vec_id = cand.eid
),
agg AS (
  SELECT cid, max(c6) AS max_eval_cos,
         CAST(sum(hit) AS BIGINT) AS n_eval_hits
  FROM scored GROUP BY cid
)
SELECT c.vec_id AS vec_id, agg.max_eval_cos,
       CAST(coalesce(agg.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
       coalesce(agg.n_eval_hits, 0) > 0 AS contaminated
FROM corpus c LEFT JOIN agg ON c.vec_id = agg.cid"""


def q_media_features(spark, sf_dir):
    """Multimodal plumbing through the oracle gate: documents' text bytes
    stand in for an opaque media payload; the distributed mapInPandas
    batch path computes (content_sha, n_bytes), which SQL can recompute
    exactly — the embedding (decoder-dependent) is covered by unit tests."""
    from fuzzycat_spark.sources.multimodal import extract_media_features

    media = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit(None).cast("string").alias("mime"),
        F.col("text").cast("binary").alias("bytes"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return extract_media_features(media).select(
        F.col("media_id").cast("long").alias("doc_id"), "content_sha", "n_bytes"
    )


_MEDIA_FIXTURE = f"{FIXTURES}/media_docs.parquet"


def q_media_decode(spark, sf_dir):
    """The REAL media codec through the oracle gate: committed binary
    payloads (uncompressed 24-bit BMP incl. bottom-up/top-down/padded
    rows, binary PPM with header comment, PGM, 8/16-bit PCM WAV) are
    decoded by `real_decoder` inside a distributed mapInPandas pass;
    the gate compares (sample count, sum, sha256 of the uint8 samples)
    against scalars precomputed from the SOURCE pixel arrays at
    fixture-generation time (tools/make_media_fixture.py). A codec bug
    of even one byte hash-mismatches. Compressed formats (PNG/JPEG/MP4)
    remain behind the declared NotImplementedError seam."""
    from fuzzycat_spark.sources.multimodal import decode_media_stats

    media = spark.read.parquet(_MEDIA_FIXTURE)
    return decode_media_stats(media)


def q_media_resize(spark, sf_dir):
    """Image resize over the media fixture: decode each committed payload
    (BMP/PPM/PGM/PNG via `real_decoder`), reshape the flat samples with
    the TABLE's width/height metadata, nearest-neighbor resize to 8x8
    (integer floor grid — no half-pixel centers, so the fixture generator
    pins the result from source arrays), and emit count/sum/sha of the
    resized samples. Gates decode → metadata reshape → resize end to end;
    audio rows are excluded (no 2-D grid)."""
    from fuzzycat_spark.sources.multimodal import resize_media

    media = spark.read.parquet(_MEDIA_FIXTURE)
    return resize_media(media, out_h=8, out_w=8)


_AUDIO_FRAMES_FIXTURE = f"{FIXTURES}/media_audio_frames.parquet"


def q_audio_frames(spark, sf_dir):
    """Frame-level audio features over the media fixture's PCM payloads:
    decode with `real_decoder`, cut into 16-sample frames, emit integer
    midline energy + zero-crossing counts per frame
    (sources/multimodal.py audio_frame_stats). The oracle reads scalars
    the fixture generator computed from the SOURCE sample arrays through
    the shared `frame_stats_u8` kernel, so decode → framing → features
    is pinned end to end; image rows are excluded before the decode."""
    from fuzzycat_spark.sources.multimodal import audio_frame_stats

    media = spark.read.parquet(_MEDIA_FIXTURE)
    return audio_frame_stats(media, frame_len=16)


def q_image_ahash(spark, sf_dir):
    """Perceptual 64-bit average hash per image (sources/multimodal.py
    ahash64): decode → integer grayscale → shared 8x8 floor-grid resize
    → mean threshold, all integer-only. The oracle reads hashes the
    fixture generator computed from the SOURCE pixel arrays through the
    same kernel, so decode → gray → resize → threshold is pinned; the
    fixture plants the same gradient in three containers (bottom-up
    BMP, top-down BMP, PNG) that must collide exactly."""
    from fuzzycat_spark.sources.multimodal import image_ahash

    return image_ahash(spark.read.parquet(_MEDIA_FIXTURE))


def q_image_dup_pairs(spark, sf_dir):
    """Perceptual near-duplicate image pairs over the media fixture
    (sources/multimodal.py image_dup_pairs): 8x 8-bit masked-band
    candidates through the shared capped band machinery, then exact
    bit_count(xor) <= 7 — catches the cross-container/cross-format
    gradient family (hamming 0) and the one-pixel tweak (hamming 6)
    while the random images stay unpaired. Exact recall at the
    threshold: <= 7 differing bits touch <= 7 of the 8 bands."""
    from fuzzycat_spark.sources.multimodal import image_dup_pairs

    return image_dup_pairs(spark.read.parquet(_MEDIA_FIXTURE))


def _image_dup_pairs_sql() -> str:
    from fuzzycat_spark.sources.multimodal import _AHASH_BAND_MASKS

    masks = ", ".join(
        f"({i}, {m}::BIGINT)" for i, m in enumerate(_AHASH_BAND_MASKS)
    )
    return f"""
        WITH ah AS (SELECT media_id, ahash FROM '{_MEDIA_FIXTURE}'
                    WHERE kind = 'image'),
        bands AS (
          SELECT media_id, m.i, ah.ahash & m.mask AS bh
          FROM ah CROSS JOIN (VALUES {masks}) AS m(i, mask)),
        sized AS (
          SELECT media_id, i, bh,
                 count(*) OVER (PARTITION BY i, bh) AS bs
          FROM bands),
        cand AS (
          SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
          FROM sized a JOIN sized b
            ON a.i = b.i AND a.bh = b.bh AND a.media_id < b.media_id
          WHERE a.bs BETWEEN 2 AND 200)
        SELECT c.id_a, c.id_b,
               CAST(bit_count(xor(x.ahash, y.ahash)) AS BIGINT) AS hamming
        FROM cand c
        JOIN ah x ON x.media_id = c.id_a
        JOIN ah y ON y.media_id = c.id_b
        WHERE bit_count(xor(x.ahash, y.ahash)) <= 7"""


def q_crawl_delta(spark, sf_dir):
    """Between-crawl delta (operators/delta.py): two snapshots derived
    deterministically from the documents table — snapshot B drops every
    doc_id % 5 == 1 page (removed), rewrites every doc_id % 4 == 0 page
    (changed), and gains shifted-id pages for doc_id % 9 == 2 (added) —
    classified added/removed/changed/unchanged by one full-outer join
    on the key with md5 content hashes computed inside each scan."""
    from fuzzycat_spark.operators.delta import crawl_delta

    d = _docs(spark, sf_dir)
    old = d.select(F.col("doc_id").cast("string").alias("url"), "text")
    surv = d.filter(F.col("doc_id") % 5 != 1).select(
        F.col("doc_id").cast("string").alias("url"),
        F.when(
            F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = d.filter(F.col("doc_id") % 9 == 2).select(
        (F.col("doc_id") + 1000000).cast("string").alias("url"), "text"
    )
    return crawl_delta(old, surv.unionByName(added))


_CRAWL_DELTA_SQL = """
    WITH old AS (
      SELECT CAST(doc_id AS VARCHAR) AS key, md5(coalesce(text, ''))
               AS old_hash
      FROM documents),
    new AS (
      SELECT CAST(doc_id AS VARCHAR) AS key,
             md5(coalesce(CASE WHEN doc_id % 4 = 0 THEN text || ' v2'
                               ELSE text END, '')) AS new_hash
      FROM documents WHERE doc_id % 5 <> 1
      UNION ALL
      SELECT CAST(doc_id + 1000000 AS VARCHAR) AS key,
             md5(coalesce(text, '')) AS new_hash
      FROM documents WHERE doc_id % 9 = 2)
    SELECT coalesce(o.key, n.key) AS key,
           CASE WHEN o.old_hash IS NULL THEN 'added'
                WHEN n.new_hash IS NULL THEN 'removed'
                WHEN o.old_hash <> n.new_hash THEN 'changed'
                ELSE 'unchanged' END AS status,
           o.old_hash, n.new_hash
    FROM old o FULL OUTER JOIN new n ON o.key = n.key"""


def q_content_moves(spark, sf_dir):
    """Moved-content detection (operators/delta.py content_moves): the
    crawl_delta fixture's doc_id ≡ 11 (mod 45) pages are BOTH removed
    (mod-5 drop) and re-added under a shifted URL with identical text —
    a URL move a key-based delta misreads as destroy+create. Exact
    duplicate families add hashes with several gone/added keys, so the
    min-key representative and both counts are exercised non-trivially.
    Two partial-agg groupBys over the thin removed/added tails + one
    hash equi join; page text never reaches the operator."""
    from fuzzycat_spark.operators.delta import content_moves

    return content_moves(q_crawl_delta(spark, sf_dir))


def _content_moves_sql() -> str:
    return f"""
        WITH delta AS ({_CRAWL_DELTA_SQL}),
        gone AS (
          SELECT old_hash AS content_h, min(key) AS old_key,
                 CAST(COUNT(*) AS BIGINT) AS n_old_gone
          FROM delta WHERE status = 'removed' GROUP BY old_hash),
        came AS (
          SELECT new_hash AS content_h, min(key) AS new_key,
                 CAST(COUNT(*) AS BIGINT) AS n_new_added
          FROM delta WHERE status = 'added' GROUP BY new_hash)
        SELECT g.content_h, g.old_key, c.new_key, g.n_old_gone,
               c.n_new_added
        FROM gone g JOIN came c ON g.content_h = c.content_h"""


def q_host_components(spark, sf_dir):
    """Site clusters: connected components over the UNDIRECTED host link
    graph (operators/linkgraph.host_graph → operators/components) —
    the mirror/sister-domain grouping a crawl-curation pipeline caps or
    screens as one unit. Reuses the contraction + pointer-doubling CC
    verbatim on string host ids; every host in the graph gets a label,
    cluster_id = lexicographically-smallest member host."""
    from fuzzycat_spark.operators.components import connected_components
    from fuzzycat_spark.operators.linkgraph import extract_links, host_graph

    g = host_graph(extract_links(spark.read.parquet(_LINK_FIXTURE)))
    edges = g.select(
        F.col("src_host").alias("id_a"), F.col("dst_host").alias("id_b")
    )
    hosts = (
        g.select(F.col("src_host").alias("host"))
        .unionByName(g.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    cc = connected_components(edges)
    return hosts.join(cc, hosts.host == cc.id, "left").select(
        "host", F.coalesce(F.col("cluster_id"), F.col("host")).alias("cluster_id")
    )


def _host_components_sql() -> str:
    return f"""WITH RECURSIVE {_HOST_GRAPH_CTE},
        und AS (
          SELECT src_host AS src, dst_host AS dst FROM edges
          UNION ALL
          SELECT dst_host AS src, src_host AS dst FROM edges),
        reach(id, r) AS (
          SELECT src, src FROM und
          UNION
          SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.id),
        cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        allhosts AS (
          SELECT DISTINCT host FROM (
            SELECT src_host AS host FROM edges
            UNION ALL
            SELECT dst_host AS host FROM edges))
        SELECT h.host, coalesce(cc.cluster_id, h.host) AS cluster_id
        FROM allhosts h LEFT JOIN cc ON h.host = cc.id"""


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


def q_split_contamination(spark, sf_dir):
    """Cross-split leakage audit (operators/decontaminate.py
    cross_split_contamination): for every held-out doc, distinct word
    n-grams shared with ANY train doc — both sides corpus-sized, so grams
    meet as md5_h64 integers in one narrow shuffle (train side distinct
    before the exchange). Splits here are DOC-level (`assign_splits`) —
    the routing that CAN leak — so the audit proves non-zero hits on this
    corpus's duplicate families; n=5 like the `decontaminate` gate."""
    from fuzzycat_spark.operators.decontaminate import (
        cross_split_contamination,
    )
    from fuzzycat_spark.operators.mixing import assign_splits

    docs = assign_splits(
        _docs(spark, sf_dir), _SPLIT_FRACTIONS, seed=_SPLIT_SEED
    )
    return cross_split_contamination(docs, n=5)


def q_split_contamination_safe(spark, sf_dir):
    """The other half of the split-hygiene story: the SAME audit as
    `split_contamination` but over CLUSTER-routed splits
    (assign_splits_by_cluster on the pipeline's CC labels). Every
    duplicate family rides one side of every boundary, so the doc-level
    gate's 13 contaminated held-out docs drop to 1 on this corpus — the
    residue being a shared phrase between docs BELOW the dup threshold
    (no exact/strong edge, so no cluster), which no split routing can
    remove; only a stricter n or an n-gram-level screen would."""
    from fuzzycat_spark.operators.decontaminate import (
        cross_split_contamination,
    )
    from fuzzycat_spark.operators.mixing import assign_splits_by_cluster

    docs = _docs(spark, sf_dir)
    routed = assign_splits_by_cluster(
        docs.select("doc_id", "text"),
        q_components(spark, sf_dir),
        _SPLIT_FRACTIONS,
        seed=_SPLIT_SEED,
    )
    return cross_split_contamination(routed, n=5)


def q_split_train_screen(spark, sf_dir):
    """The actionable side of split hygiene (operators/decontaminate.py
    train_overlap_screen): TRAIN docs sharing a word 5-gram with any
    held-out doc, flagged `drop` — the GPT-3-style removal that protects
    val/test integrity by shrinking train, never the eval sets. Same
    shared gram table and narrow hash semi-join as the audit, roles
    swapped (the held-out gram set is the DISTINCT/broadcastable side)."""
    from fuzzycat_spark.operators.decontaminate import train_overlap_screen
    from fuzzycat_spark.operators.mixing import assign_splits

    docs = assign_splits(
        _docs(spark, sf_dir), _SPLIT_FRACTIONS, seed=_SPLIT_SEED
    )
    return train_overlap_screen(docs, n=5)


def _split_gram_ctes(routing: str = "doc") -> str:
    """Shared sp/rep_toks/g CTE block for the two cross-split gram
    queries (the contamination audit and the train-side screen): split
    assignment (doc- or cluster-routed md5 draw), slug token arrays, and
    the distinct per-doc 5-gram table. Both gates consume the SAME gram
    semantics by construction — a tokenizer or routing fix lands once."""
    from fuzzycat_spark.operators.mixing import split_bounds

    arms = "\n".join(
        f"WHEN f < {b} THEN '{n}'"
        for n, b in split_bounds(_SPLIT_FRACTIONS)
    )
    if routing == "doc":
        sp = f"""
  SELECT doc_id, CASE {arms} END AS split
  FROM (SELECT doc_id,
          ('0x' || substr(md5(doc_id::VARCHAR || ':{_SPLIT_SEED}'),
                          1, 12))::BIGINT AS f
        FROM documents)"""
    else:
        sp = f"""
  SELECT doc_id, CASE {arms} END AS split
  FROM (SELECT id AS doc_id,
          ('0x' || substr(md5(cluster_id::VARCHAR || ':{_SPLIT_SEED}'),
                          1, 12))::BIGINT AS f
        FROM ({_CC_SQL}))"""
    return f"""
WITH sp AS ({sp}),
rep_toks AS (
  SELECT doc_id,
    CASE WHEN slug = '' THEN []::VARCHAR[] ELSE string_split(slug, ' ') END AS ws
  FROM (SELECT doc_id, {_SLUG} AS slug FROM documents)),
g AS (SELECT DISTINCT doc_id, gram FROM {_rep_grams(5)} WHERE gram <> '')"""


def _split_train_screen_sql() -> str:
    # Same gram table as the audit, with the join roles swapped: the
    # DISTINCT side is the held-out grams and the flagged side is train.
    return f"""
{_split_gram_ctes("doc")},
hg AS (SELECT DISTINCT gram FROM g JOIN sp USING (doc_id)
       WHERE sp.split <> 'train'),
hits AS (SELECT g.doc_id, count(*) AS n
         FROM g JOIN sp USING (doc_id) JOIN hg USING (gram)
         WHERE sp.split = 'train' GROUP BY g.doc_id)
SELECT sp.doc_id,
  CAST(coalesce(hits.n, 0) AS BIGINT) AS n_heldout_grams_hit,
  coalesce(hits.n, 0) > 0 AS "drop"
FROM sp LEFT JOIN hits USING (doc_id)
WHERE sp.split = 'train'"""


def _split_contamination_sql(routing: str = "doc") -> str:
    return f"""
{_split_gram_ctes(routing)},
tg AS (SELECT DISTINCT gram FROM g JOIN sp USING (doc_id)
       WHERE sp.split = 'train'),
hits AS (SELECT g.doc_id, count(*) AS n
         FROM g JOIN sp USING (doc_id) JOIN tg USING (gram)
         WHERE sp.split <> 'train' GROUP BY g.doc_id)
SELECT sp.doc_id, sp.split,
  CAST(coalesce(hits.n, 0) AS BIGINT) AS n_train_grams_hit,
  coalesce(hits.n, 0) > 0 AS contaminated
FROM sp LEFT JOIN hits USING (doc_id)
WHERE sp.split <> 'train'"""


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


_VOCAB_K = 100


_BIGRAM_K = 50


def q_vocab_top(spark, sf_dir):
    """Corpus vocabulary (operators/vocab.py): token occurrence counts
    over the raw whitespace stream, deterministic top-k ((count DESC,
    gram ASC) tiebreak). One partial-aggregated shuffle; the top-k is
    TakeOrderedAndProject (per-partition k-heaps + driver merge), never
    a global sort."""
    from fuzzycat_spark.operators.vocab import token_ngram_counts

    return token_ngram_counts(_docs(spark, sf_dir), n=1, top_k=_VOCAB_K)


def q_bigram_top(spark, sf_dir):
    """Word-bigram frequency table (n=2, min_count=2, top 50) — the
    n-gram generalization of the vocab pass, same single-shuffle plan."""
    from fuzzycat_spark.operators.vocab import token_ngram_counts

    return token_ngram_counts(
        _docs(spark, sf_dir), n=2, top_k=_BIGRAM_K, min_count=2
    )


def _vocab_sql(n: int, k: int, min_count: int) -> str:
    if n == 1:
        gram_src = f"SELECT unnest({_RAW_TOKS}) AS gram FROM documents"
    else:
        gram_src = f"""
            SELECT array_to_string(toks[i+1:i+{n}], ' ') AS gram
            FROM (SELECT {_RAW_TOKS} AS toks FROM documents),
                 UNNEST(range(0, greatest(len(toks)-{n}+1, 0))) AS u(i)"""
    return f"""
        SELECT gram, CAST(count(*) AS BIGINT) AS occurrences
        FROM ({gram_src}) GROUP BY gram
        HAVING count(*) >= {min_count}
        ORDER BY occurrences DESC, gram LIMIT {k}"""


_BPE_MERGES = 8


# printable ASCII, no space: the per-character symbolization splits per
# UTF-16 unit JVM-side but per codepoint in DuckDB — on ASCII they agree
_BPE_WORD_RE = "^[!-~]+$"


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (operators/bpe.py): the 8 most frequent
    symbol-pair merges learned from the corpus word-frequency table.
    One corpus shuffle (the word count), then every round runs on the
    vocab-sized word table: one partial-aggregated (left,right) count,
    a TakeOrderedAndProject(1) argmax, a 1-row broadcast rewrite —
    training cost is corpus-size-independent past the first count, and
    int64 pair counts make the learned sequence cross-engine exact."""
    from fuzzycat_spark.operators.bpe import bpe_train, bpe_word_table

    w = bpe_word_table(_docs(spark, sf_dir), word_pattern=_BPE_WORD_RE)
    merges, _ = bpe_train(w, _BPE_MERGES)
    return merges


def q_bpe_token_counts(spark, sf_dir):
    """Per-document token counts under the learned BPE vocabulary —
    read straight off the trained word table's rewritten symbol strings
    (training already applied every merge to every word), one join
    shuffle; untrained words contribute nothing and empty documents
    report 0."""
    from fuzzycat_spark.operators.bpe import (
        bpe_token_counts,
        bpe_train,
        bpe_word_table,
    )

    docs = _docs(spark, sf_dir)
    w = bpe_word_table(docs, word_pattern=_BPE_WORD_RE)
    _, final = bpe_train(w, _BPE_MERGES)
    return bpe_token_counts(docs, final, id_col="doc_id")


def _bpe_chain_sql(n_merges: int, train_where: str = "TRUE") -> str:
    """w0..wN / b1..bN CTE chain mirroring bpe_train: per-char
    symbolization, naive adjacent pair counts weighted by word
    frequency, (count DESC, left, right) argmax, single-pass
    space-padded replace application (LEFT JOIN ON TRUE so an exhausted
    round is a no-op, exactly like the operator's left join).
    `train_where` restricts the training corpus (the encode gate trains
    on an md5 doc split)."""
    parts = [
        f"""w0 AS (
          SELECT word, CAST(count(*) AS BIGINT) AS freq,
                 trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS syms
          FROM (SELECT unnest({_RAW_TOKS}) AS word FROM documents
                WHERE {train_where})
          WHERE regexp_matches(word, '{_BPE_WORD_RE}')
          GROUP BY word)"""
    ]
    for t in range(1, n_merges + 1):
        parts.append(f"""b{t} AS (
          SELECT l[i] AS lft, l[i+1] AS rgt,
                 CAST(sum(freq) AS BIGINT) AS pair_count
          FROM (SELECT freq, string_split(syms, ' ') AS l FROM w{t - 1}),
               UNNEST(range(1, len(l))) AS u(i)
          GROUP BY 1, 2
          ORDER BY pair_count DESC, lft, rgt LIMIT 1)""")
        parts.append(f"""w{t} AS (
          SELECT word, freq,
                 CASE WHEN b.lft IS NULL THEN syms
                      ELSE trim(replace(' ' || syms || ' ',
                                        ' ' || b.lft || ' ' || b.rgt || ' ',
                                        ' ' || b.lft || b.rgt || ' '))
                 END AS syms
          FROM w{t - 1} LEFT JOIN b{t} b ON TRUE)""")
    return ",\n".join(parts)


def _bpe_merges_sql(n_merges: int) -> str:
    rows = "\nUNION ALL\n".join(
        f"SELECT {t} AS step, lft AS \"left\", rgt AS \"right\", "
        f"lft || rgt AS merged, pair_count FROM b{t}"
        for t in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_chain_sql(n_merges)}\n{rows}"


_BPE_TRAIN_WHERE = (
    "substr(md5(doc_id::VARCHAR), 1, 1) IN "
    "('0','1','2','3','4','5','6','7')"
)


def q_bpe_encode(spark, sf_dir):
    """Deployment encode path (operators/bpe.py bpe_apply): train the
    merge table on an md5-selected half of the corpus, then tokenize
    ALL documents — held-out docs contain words the trainer never saw,
    which must still segment through the literal-replace fold. The
    8-row learned merge table is collected as the published model
    artifact (a tokenizer model is driver-sized by definition, same
    footing as broadcast centroids/classifier weights); the apply pass
    is one codegen replace chain per token plus the per-doc count
    shuffle."""
    from fuzzycat_spark.operators.bpe import (
        bpe_apply,
        bpe_train,
        bpe_word_table,
    )
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    train = docs.filter(
        F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, 1
        ).isin(list("01234567"))
    )
    merges_df, _ = bpe_train(
        bpe_word_table(train, word_pattern=_BPE_WORD_RE), _BPE_MERGES
    )
    merges = [(r.left, r.right) for r in merges_df.orderBy("step").collect()]
    return bpe_apply(
        docs, merges, id_col="doc_id", word_pattern=_BPE_WORD_RE
    )


def _bpe_encode_sql(n_merges: int) -> str:
    # fold the learned merges over every token as nested replaces;
    # coalesce(-, chr(1)) turns a missing merge row into an identity
    # replace so an exhausted round is a no-op (mirrors bpe_apply
    # folding only the merges that exist)
    s = "' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' '"
    joins = []
    for t in range(1, n_merges + 1):
        s = (
            f"replace({s},"
            f" coalesce(' '||b{t}.lft||' '||b{t}.rgt||' ', chr(1)),"
            f" coalesce(' '||b{t}.lft||b{t}.rgt||' ', chr(1)))"
        )
        joins.append(f"LEFT JOIN b{t} ON TRUE")
    return f"""
        WITH {_bpe_chain_sql(n_merges, _BPE_TRAIN_WHERE)},
        per_doc AS (
          SELECT doc_id,
                 CAST(sum(len(string_split(trim({s}), ' '))) AS BIGINT) AS n
          FROM (SELECT doc_id, unnest({_RAW_TOKS}) AS word FROM documents)
               {' '.join(joins)}
          WHERE regexp_matches(word, '{_BPE_WORD_RE}')
          GROUP BY doc_id)
        SELECT d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens_bpe
        FROM documents d LEFT JOIN per_doc p USING (doc_id)"""


def _bpe_token_counts_sql(n_merges: int) -> str:
    return f"""
        WITH {_bpe_chain_sql(n_merges)},
        wt AS (SELECT word,
                      CAST(len(string_split(syms, ' ')) AS BIGINT) AS nt
               FROM w{n_merges}),
        per_doc AS (
          SELECT doc_id, CAST(sum(nt) AS BIGINT) AS n
          FROM (SELECT doc_id, unnest({_RAW_TOKS}) AS word FROM documents)
          JOIN wt USING (word)
          GROUP BY doc_id)
        SELECT d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens_bpe
        FROM documents d LEFT JOIN per_doc p USING (doc_id)"""


_LINK_FIXTURE = f"{FIXTURES}/link_docs.parquet"


_PR_ITERS = 8


_PR_SCALE = 1_000_000_000


def q_host_links(spark, sf_dir):
    """Weighted host link digraph (operators/linkgraph.py) over the
    committed link fixture: href targets via one Catalyst
    regexp_extract_all (Java/RE2-shared pattern), absolute http(s) only,
    SURT reversed-label hosts, self loops dropped, ONE partial-agg
    shuffle on the host pair. www./:80/uppercase spellings collapse."""
    from fuzzycat_spark.operators.linkgraph import extract_links, host_graph

    return host_graph(extract_links(spark.read.parquet(_LINK_FIXTURE)))


def q_host_pagerank(spark, sf_dir):
    """Fixed-point PageRank over the fixture host graph — the
    crawl-centrality quality prior (Common Crawl publishes exactly this
    per-host ranking). Integer mass (scale units/node, fused-division
    edge contributions) makes 8 power iterations exact and order-free —
    hash-matchable where float PageRank never is. One score-to-edges
    join + one partial-agg groupBy per iteration; only (host, int64)
    rows ride the loop's shuffles."""
    from fuzzycat_spark.operators.linkgraph import (
        extract_links,
        host_graph,
        pagerank_fp,
    )

    g = host_graph(extract_links(spark.read.parquet(_LINK_FIXTURE)))
    return pagerank_fp(g, iters=_PR_ITERS, scale=_PR_SCALE)


def q_anchor_texts(spark, sf_dir):
    """(src_url, dst_url, anchor) web-supervision pairs
    (operators/linkgraph.anchor_texts): whole-anchor regexp_extract_all
    + per-element extracts inside a transform — zero shuffles, pure
    codegen; inner markup stripped, whitespace collapsed with the
    explicit [ \\t\\r\\n] class (Java \\s and RE2 \\s diverge on
    \\x0B), entities left as written."""
    from fuzzycat_spark.operators.linkgraph import anchor_texts

    return anchor_texts(spark.read.parquet(_LINK_FIXTURE))


_ANCHOR_TEXTS_SQL = rf"""
WITH tags AS (
  SELECT url AS src_url,
         unnest(regexp_extract_all(html,
           '(?is)<a\s[^>]*?href\s*=\s*"([^"]+)"[^>]*>(.*?)</a\s*>', 0)) AS t
  FROM '{_LINK_FIXTURE}'
),
x AS (
  SELECT src_url,
         regexp_extract(t, '(?i)<a\s[^>]*?href\s*=\s*"([^"]+)"', 1) AS dst_url,
         trim(regexp_replace(regexp_replace(
             regexp_extract(t, '(?is)^<a\b[^>]*>(.*)</a\s*>$', 1),
             '<[^>]+>', ' ', 'g'), '[ \t\r\n]+', ' ', 'g')) AS anchor,
         len(list_intersect(
           string_split_regex(
             lower(regexp_extract(t, '(?is)<a[^>]*?\srel\s*=\s*"([^"]*)"', 1)),
             '[ ,\t\r\n]+'),
           ['nofollow', 'ugc', 'sponsored'])) > 0 AS nofollow
  FROM tags
)
SELECT src_url, dst_url, anchor, nofollow FROM x
WHERE regexp_matches(dst_url, '^(?i)https?://') AND anchor <> ''"""


_HOST_HRE = r"'^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]*)'"


_HOST_GRAPH_CTE = rf"""
raw AS (
  SELECT url AS src_url,
         unnest(regexp_extract_all(html,
           '(?i)<a\s[^>]*?href\s*=\s*"([^"]+)"', 1)) AS dst_url
  FROM '{_LINK_FIXTURE}'
),
links AS (
  SELECT * FROM raw WHERE regexp_matches(dst_url, '^(?i)https?://')
),
h1 AS (
  SELECT
    regexp_replace(regexp_replace(
      lower(regexp_extract(trim(src_url), {_HOST_HRE}, 1)),
      '^www\.', ''), ':(80|443)$', '') AS sh1,
    regexp_replace(regexp_replace(
      lower(regexp_extract(trim(dst_url), {_HOST_HRE}, 1)),
      '^www\.', ''), ':(80|443)$', '') AS dh1
  FROM links
),
hosts AS (
  SELECT {_surt_host_col_sql('sh1')} AS src_host,
         {_surt_host_col_sql('dh1')} AS dst_host
  FROM h1
),
edges AS (
  SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS weight
  FROM hosts
  WHERE src_host <> dst_host AND src_host <> '' AND dst_host <> ''
  GROUP BY src_host, dst_host
)"""


_HOST_LINKS_SQL = f"WITH {_HOST_GRAPH_CTE} SELECT * FROM edges"


def _host_pagerank_sql(
    iters: int = _PR_ITERS,
    scale: int = _PR_SCALE,
    d_num: int = 85,
    d_den: int = 100,
) -> str:
    base = (scale * (d_den - d_num)) // d_den
    parts = [
        _HOST_GRAPH_CTE,
        "nodes AS (SELECT DISTINCT src_host AS host FROM edges"
        " UNION SELECT DISTINCT dst_host FROM edges)",
        "outw AS (SELECT src_host, CAST(sum(weight) AS BIGINT) AS ow"
        " FROM edges GROUP BY src_host)",
        f"s0 AS (SELECT host, CAST({scale} AS BIGINT) AS s FROM nodes)",
    ]
    for i in range(iters):
        parts.append(f"""s{i + 1} AS (
          SELECT n.host, CAST({base} + COALESCE(c.tot, 0) AS BIGINT) AS s
          FROM nodes n LEFT JOIN (
            SELECT e.dst_host AS host,
                   CAST(sum(p.s * {d_num} * e.weight
                            // ({d_den} * o.ow)) AS BIGINT) AS tot
            FROM edges e JOIN s{i} p ON p.host = e.src_host
                         JOIN outw o ON o.src_host = e.src_host
            GROUP BY e.dst_host) c USING (host))""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT host, s AS score_fp FROM s{iters}"
    )


_KM_K = 8


_KM_ITERS = 3


_KM_SCALE = 1_000_000


def q_kmeans_assign(spark, sf_dir):
    """Fixed-point Lloyd k-means over the embeddings table
    (operators/kmeans.py) — the SemDeDup-style clustering pass.
    Components quantized once to int64; distances, centroid sums, and
    truncated means are pure integer arithmetic (exact under any
    reduction order — float centroid means could never hash-match).
    Assignment is a broadcast k-row join reduced in codegen (no
    shuffle); each update is ONE partial-agg shuffle keyed by
    (cluster, component). Seeds = smallest-md5(id) prefix, planned as
    TakeOrderedAndProject."""
    from fuzzycat_spark.operators.kmeans import kmeans_fit

    assign, _ = kmeans_fit(
        _emb(spark, sf_dir), k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE
    )
    return assign


def _kmeans_parts(
    src: str, k: int, iters: int, scale: int,
    prefix: str = "", quantize: bool = True,
) -> list[str]:
    """CTE chain (q, c0, a0, u0, c1, ..., afinal) computing the fixed-
    point Lloyd iterations over `src` (a table name or quoted path);
    the final assignment CTE is named `{prefix}afinal`. With
    `quantize=False`, `src` must already expose (vec_id, qv) — the
    product-quantization oracle fits one chain per SLICED subspace of a
    single shared quantization CTE, prefixed s{m}_ to keep names apart."""
    p = prefix

    def assign(src: str, cent: str, out: str) -> str:
        return f"""{out} AS (
          SELECT vec_id, cluster, dist FROM (
            SELECT vec_id, cluster, dist,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM (
              SELECT v.vec_id, c.cid AS cluster,
                     CAST(list_sum(list_transform(range(1, len(v.qv)+1),
                       j -> (v.qv[j]-c.cv[j])*(v.qv[j]-c.cv[j])))
                       AS BIGINT) AS dist
              FROM {src} v CROSS JOIN {cent} c))
          WHERE rn = 1)"""

    if quantize:
        base = f"""{p}q AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {float(scale)}) AS BIGINT))
                   AS qv
          FROM {src})"""
    else:
        base = f"{p}q AS (SELECT vec_id, qv FROM {src})"
    parts = [
        base,
        f"""{p}c0 AS (
          SELECT CAST(row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR))) AS INT) AS cid,
                 qv AS cv
          FROM (SELECT * FROM {p}q
                ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k}))""",
    ]
    for i in range(iters):
        parts.append(assign(f"{p}q", f"{p}c{i}", f"{p}a{i}"))
        parts.append(f"""{p}u{i} AS (
          SELECT cluster, list(m ORDER BY pos) AS cv_new FROM (
            SELECT a.cluster, j AS pos,
                   CAST(sum(v.qv[j]) AS BIGINT)
                     // CAST(count(*) AS BIGINT) AS m
            FROM {p}a{i} a JOIN {p}q v USING (vec_id),
                 UNNEST(range(1, len(v.qv)+1)) AS r(j)
            GROUP BY a.cluster, j)
          GROUP BY cluster)""")
        parts.append(f"""{p}c{i + 1} AS (
          SELECT c.cid, COALESCE(u.cv_new, c.cv) AS cv
          FROM {p}c{i} c LEFT JOIN {p}u{i} u ON u.cluster = c.cid)""")
    parts.append(assign(f"{p}q", f"{p}c{iters}", f"{p}afinal"))
    return parts


def _kmeans_sql(
    k: int = _KM_K, iters: int = _KM_ITERS, scale: int = _KM_SCALE
) -> str:
    parts = _kmeans_parts("embeddings", k, iters, scale)
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT vec_id, cluster, dist FROM afinal"
    )


_SD_K = 4


_SD_ITERS = 2


_SD_CAP = 200


def q_semdedup_pairs(spark, sf_dir):
    """SemDeDup end to end (operators/kmeans.semdedup_pairs) over the
    planted fixture at the production 0.9 threshold: fixed-point k-means
    buckets the space, same-cluster pairs route through the SAME capped
    band machinery as every text strategy (band_id='km'), vectors join
    back only for surviving candidates, exact cosine filters. The
    210-copy identical-vector family lands in an over-cap cluster and is
    excluded (mirrored in the oracle — cap modeling stays non-vacuous);
    the five planted >0.9 families must surface."""
    from fuzzycat_spark.operators.kmeans import semdedup_pairs

    e = spark.read.parquet(_PLANTED_FIXTURE).select("vec_id", "embedding")
    return semdedup_pairs(
        e,
        threshold=_PLANTED_STRONG,
        k=_SD_K,
        iters=_SD_ITERS,
        scale=_KM_SCALE,
        max_cluster_size=_SD_CAP,
    ).select("id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine"))


def _semdedup_sql() -> str:
    parts = [f"emb AS (SELECT vec_id, embedding FROM '{_PLANTED_FIXTURE}')"]
    parts += _kmeans_parts("emb", _SD_K, _SD_ITERS, _KM_SCALE)
    parts.append(f"""big AS (
      SELECT cluster, count(*) AS bs FROM afinal GROUP BY cluster)""")
    parts.append(f"""cand AS (
      SELECT x.vec_id AS ida, y.vec_id AS idb
      FROM afinal x JOIN afinal y
        ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      JOIN big g ON g.cluster = x.cluster
        AND g.bs BETWEEN 2 AND {_SD_CAP})""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT c.ida AS id_a, c.idb AS id_b, round({_COS_D}, 6) AS cosine
FROM cand c
JOIN emb a ON a.vec_id = c.ida
JOIN emb b ON b.vec_id = c.idb
WHERE round({_COS_D}, 9) >= {_PLANTED_STRONG}"""
    )


_PQ_M = 4


_PQ_K = 4


_PQ_ITERS = 2


_PQ_TOPK = 3


_PQ_PROBES = 5


def q_pq_codes(spark, sf_dir):
    """Product-quantization index rows (operators/pq.py — Jégou et al.
    2011): each embedding compressed to M per-subspace codebook ids.
    Codebooks are M independent fixed-point Lloyd fits over SLICED views
    of one quantized pass; encoding is SHUFFLE-FREE (M·K codebook rows
    ride one broadcast row, argmin is the kmeans_assign sorted-struct
    fold in codegen). Integer distances make every code cross-engine
    exact. Emitted exploded as (vec_id, m, code)."""
    from fuzzycat_spark.operators.pq import pq_encode, pq_fit

    e = _emb(spark, sf_dir)
    books = pq_fit(
        e, _PQ_M, _PQ_K, _PQ_ITERS, scale=_KM_SCALE, dim=_ANN_DIM
    )
    codes = pq_encode(
        e, books, _PQ_M, _ANN_DIM // _PQ_M, scale=_KM_SCALE
    )
    return codes.select("vec_id", F.posexplode("codes").alias("m", "code"))


def q_pq_knn(spark, sf_dir):
    """ADC top-k over the PQ index (operators/pq.pq_knn): the probe's
    full-precision quantized vector vs each document's codebook
    RECONSTRUCTION — only M small codes ever represent the corpus, the
    compressed-domain ANN path when even (id, vector) rows are too big
    to cache. Probes broadcast; reconstruction via try_element_at on the
    broadcast codebooks in codegen; ONE shuffle (the per-probe rank
    window). adist is integer squared L2 — (adist, vec_id) ranking is
    deterministic in both engines."""
    from fuzzycat_spark.operators.pq import pq_knn

    e = _emb(spark, sf_dir)
    probes = e.select("vec_id").filter(F.col("vec_id") < _PQ_PROBES)
    return pq_knn(
        e,
        probes,
        topk=_PQ_TOPK,
        m=_PQ_M,
        k=_PQ_K,
        iters=_PQ_ITERS,
        scale=_KM_SCALE,
        dim=_ANN_DIM,
    )


def _pq_parts() -> list[str]:
    """Shared PQ CTE chain: one quantization pass (pqv), M sliced
    subspace inputs, M prefixed Lloyd chains, and the joined `codes`
    table (vec_id, c0..c{M-1})."""
    sd = _ANN_DIM // _PQ_M
    parts = [
        f"""pqv AS (
      SELECT vec_id, list_transform(embedding,
        x -> CAST(floor(CAST(x AS DOUBLE) * {float(_KM_SCALE)}) AS BIGINT)) AS qv
      FROM embeddings)"""
    ]
    for j in range(_PQ_M):
        parts.append(
            f"s{j}in AS (SELECT vec_id, qv[{j * sd + 1}:{(j + 1) * sd}] AS qv FROM pqv)"
        )
        parts += _kmeans_parts(
            f"s{j}in", _PQ_K, _PQ_ITERS, _KM_SCALE,
            prefix=f"s{j}_", quantize=False,
        )
    joins = " ".join(
        f"JOIN s{j}_afinal s{j} USING (vec_id)" for j in range(1, _PQ_M)
    )
    sel = ", ".join(f"s{j}.cluster AS c{j}" for j in range(_PQ_M))
    parts.append(f"codes AS (SELECT s0.vec_id, {sel} FROM s0_afinal s0 {joins})")
    return parts


def _pq_codes_sql() -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT vec_id, {j} AS m, c{j} AS code FROM codes"
        for j in range(_PQ_M)
    )
    return "WITH " + ",\n".join(_pq_parts()) + "\n" + arms


def _pq_knn_sql() -> str:
    parts = _pq_parts()
    cj = " ".join(
        f"JOIN s{j}_c{_PQ_ITERS} cb{j} ON cb{j}.cid = c.c{j}"
        for j in range(_PQ_M)
    )
    rv = " || ".join(f"cb{j}.cv" for j in range(_PQ_M))
    parts.append(f"rec AS (SELECT c.vec_id, {rv} AS rv FROM codes c {cj})")
    parts.append(
        f"pprobes AS (SELECT vec_id AS probe_id, qv FROM pqv WHERE vec_id < {_PQ_PROBES})"
    )
    parts.append(
        """scored AS (
      SELECT p.probe_id, r.vec_id,
             CAST(list_sum(list_transform(range(1, len(r.rv)+1),
               j -> (p.qv[j]-r.rv[j])*(p.qv[j]-r.rv[j]))) AS BIGINT) AS adist
      FROM pprobes p CROSS JOIN rec r WHERE r.vec_id <> p.probe_id)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT probe_id, vec_id, adist, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY adist, vec_id) AS rank
  FROM scored)
WHERE rank <= {_PQ_TOPK}"""
    )


_IVFADC_KC = 4


_IVFADC_NPROBE = 2


def q_ivfadc_knn(spark, sf_dir):
    """IVFADC (operators/pq.ivfadc_knn — Jégou et al. 2011 §V): coarse
    fixed-point Lloyd quantizer partitions the corpus into inverted
    lists, PQ codebooks train on the RESIDUALS q(x) - c(cell(x)), and
    each probe scores only its `nprobe` nearest lists by ADC against its
    own per-cell query residual. Everything is integer (one quantize
    pass, truncated-mean centroids, squared-L2 scores), so codes,
    distances, AND the final ranking hash-match the unrolled oracle."""
    from fuzzycat_spark.operators.pq import ivfadc_knn

    e = _emb(spark, sf_dir)
    probes = e.select("vec_id").filter(F.col("vec_id") < _PQ_PROBES)
    return ivfadc_knn(
        e,
        probes,
        topk=_PQ_TOPK,
        kc=_IVFADC_KC,
        m=_PQ_M,
        k=_PQ_K,
        iters=_PQ_ITERS,
        nprobe=_IVFADC_NPROBE,
        scale=_KM_SCALE,
        dim=_ANN_DIM,
    )


def _ivfadc_sql() -> str:
    """Unrolled IVFADC: coarse Lloyd chain over the quantized vectors,
    residual table, M per-subspace Lloyd chains over SLICED residuals,
    codebook reconstruction, probe-side nprobe cell selection, ADC."""
    sd = _ANN_DIM // _PQ_M
    sq = (
        "CAST(list_sum(list_transform(range(1, len({a})+1),"
        " j -> ({a}[j]-{b}[j])*({a}[j]-{b}[j]))) AS BIGINT)"
    )
    parts = [
        f"""pqv AS (
      SELECT vec_id, list_transform(embedding,
        x -> CAST(floor(CAST(x AS DOUBLE) * {float(_KM_SCALE)}) AS BIGINT)) AS qv
      FROM embeddings)"""
    ]
    parts += _kmeans_parts(
        "pqv", _IVFADC_KC, _PQ_ITERS, _KM_SCALE, prefix="cc_", quantize=False
    )
    parts.append(f"""res AS (
      SELECT v.vec_id, a.cluster,
             list_transform(range(1, len(v.qv)+1),
                            j -> v.qv[j] - c.cv[j]) AS qv
      FROM pqv v JOIN cc_afinal a USING (vec_id)
                 JOIN cc_c{_PQ_ITERS} c ON c.cid = a.cluster)""")
    for j in range(_PQ_M):
        parts.append(
            f"r{j}in AS (SELECT vec_id, qv[{j * sd + 1}:{(j + 1) * sd}]"
            " AS qv FROM res)"
        )
        parts += _kmeans_parts(
            f"r{j}in", _PQ_K, _PQ_ITERS, _KM_SCALE,
            prefix=f"r{j}_", quantize=False,
        )
    joins = " ".join(
        f"JOIN r{j}_afinal s{j} USING (vec_id)" for j in range(1, _PQ_M)
    )
    sel = ", ".join(f"s{j}.cluster AS c{j}" for j in range(_PQ_M))
    parts.append(
        f"icodes AS (SELECT s0.vec_id, {sel} FROM r0_afinal s0 {joins})"
    )
    cj = " ".join(
        f"JOIN r{j}_c{_PQ_ITERS} cb{j} ON cb{j}.cid = c.c{j}"
        for j in range(_PQ_M)
    )
    rv = " || ".join(f"cb{j}.cv" for j in range(_PQ_M))
    parts.append(f"""irec AS (
      SELECT c.vec_id, r.cluster, {rv} AS rv
      FROM icodes c JOIN res r USING (vec_id) {cj})""")
    parts.append(
        f"iprobes AS (SELECT vec_id AS probe_id, qv FROM pqv"
        f" WHERE vec_id < {_PQ_PROBES})"
    )
    parts.append(f"""pcand AS (
      SELECT probe_id, cid AS cluster, qres FROM (
        SELECT p.probe_id, c.cid,
               list_transform(range(1, len(p.qv)+1),
                              j -> p.qv[j] - c.cv[j]) AS qres,
               row_number() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY {sq.format(a="p.qv", b="c.cv")}, c.cid) AS rn
        FROM iprobes p CROSS JOIN cc_c{_PQ_ITERS} c)
      WHERE rn <= {_IVFADC_NPROBE})""")
    parts.append(f"""iscored AS (
      SELECT p.probe_id, r.vec_id, r.cluster,
             {sq.format(a="p.qres", b="r.rv")} AS adist
      FROM pcand p JOIN irec r USING (cluster)
      WHERE r.vec_id <> p.probe_id)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT probe_id, vec_id, cluster, adist, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY adist, vec_id) AS rank
  FROM iscored)
WHERE rank <= {_PQ_TOPK}"""
    )


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


_LM_SCALE = 1_000_000_000


def q_lm_scores(spark, sf_dir):
    """CCNet-style corpus bigram-LM fluency scores (operators/lm.py):
    add-one-smoothed P(w2|w1) per token position in integer fixed point
    (exact, order-free — hash-matchable where float log-prob sums are
    not), rolled up per document with a hapax-bigram novelty count.
    Model estimation is one partial-agg shuffle on 8-byte bigram hash
    pairs; scoring joins the token stream back to the model by the same
    hashes (AQE broadcasts small models); token text never shuffles."""
    from fuzzycat_spark.operators.lm import doc_lm_scores

    return doc_lm_scores(_docs(spark, sf_dir), scale=_LM_SCALE)


def q_dsir_contrast(spark, sf_dir):
    """DSIR-style importance contrast (operators/lm.dsir_contrast): mean
    fixed-point bigram probability under a TARGET-corpus LM (here the
    corpus's English half — the 'reference distribution') minus the same
    under the BACKGROUND LM (the full corpus), per document. Bigrams
    absent from the target model take the smoothed floor
    (c=0, global ctx+V denominator) — the oracle mirrors those left-join
    semantics exactly. Integer throughout, so the selection ranking is
    cross-engine exact; non-vacuous because non-English docs miss the
    target model's bigrams and score the floor."""
    from fuzzycat_spark.operators.lm import dsir_contrast

    docs = _docs(spark, sf_dir)
    return dsir_contrast(
        docs, docs.filter(F.col("lang") == "en"), scale=_LM_SCALE
    )


def _dsir_contrast_sql() -> str:
    return f"""
        WITH t AS (SELECT doc_id, lang, {_RAW_TOKS} AS toks FROM documents),
        big AS (
          SELECT doc_id, toks[i+1] AS w1,
                 array_to_string(toks[i+1:i+2], ' ') AS bg
          FROM t, UNNEST(range(0, greatest(len(toks)-1, 0))) AS u(i)
        ),
        tbig AS (
          SELECT toks[i+1] AS w1, array_to_string(toks[i+1:i+2], ' ') AS bg
          FROM t, UNNEST(range(0, greatest(len(toks)-1, 0))) AS u(i)
          WHERE lang = 'en'
        ),
        tc2 AS (SELECT w1, bg, CAST(count(*) AS BIGINT) AS tc
                FROM tbig GROUP BY w1, bg),
        tc1 AS (SELECT w1, CAST(sum(tc) AS BIGINT) AS tctx FROM tc2 GROUP BY w1),
        tv AS (SELECT CAST(count(DISTINCT gram) AS BIGINT) AS vocab
               FROM (SELECT unnest(toks) AS gram FROM t WHERE lang = 'en')),
        bc2 AS (SELECT w1, bg, CAST(count(*) AS BIGINT) AS bc
                FROM big GROUP BY w1, bg),
        bc1 AS (SELECT w1, CAST(sum(bc) AS BIGINT) AS bctx FROM bc2 GROUP BY w1),
        bv AS (SELECT CAST(count(DISTINCT gram) AS BIGINT) AS vocab
               FROM (SELECT unnest(toks) AS gram FROM t)),
        tscored AS (
          SELECT b.doc_id,
                 (COALESCE(tc2.tc, 0) + 1) * {_LM_SCALE}
                   // (COALESCE(tc1.tctx, 0) + tv.vocab) AS p_fp
          FROM big b
          LEFT JOIN tc2 USING (w1, bg) LEFT JOIN tc1 USING (w1) CROSS JOIN tv
        ),
        bscored AS (
          SELECT b.doc_id,
                 (bc2.bc + 1) * {_LM_SCALE} // (bc1.bctx + bv.vocab) AS p_fp
          FROM big b JOIN bc2 USING (w1, bg) JOIN bc1 USING (w1) CROSS JOIN bv
        ),
        tagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(p_fp) AS BIGINT) AS s
                 FROM tscored GROUP BY doc_id),
        bagg AS (SELECT doc_id, CAST(sum(p_fp) AS BIGINT) AS s
                 FROM bscored GROUP BY doc_id),
        m AS (
          SELECT d.doc_id,
                 COALESCE(tagg.n, 0) AS n_bigrams,
                 CASE WHEN tagg.n > 0 THEN tagg.s // tagg.n END AS target_fp,
                 CASE WHEN tagg.n > 0 THEN bagg.s // tagg.n END AS background_fp
          FROM documents d
          LEFT JOIN tagg USING (doc_id) LEFT JOIN bagg USING (doc_id)
        )
        SELECT doc_id, n_bigrams, target_fp, background_fp,
               target_fp - background_fp AS contrast_fp
        FROM m"""


def _lm_scores_sql() -> str:
    return f"""
        WITH t AS (SELECT doc_id, {_RAW_TOKS} AS toks FROM documents),
        big AS (
          SELECT doc_id, toks[i+1] AS w1,
                 array_to_string(toks[i+1:i+2], ' ') AS bg
          FROM t, UNNEST(range(0, greatest(len(toks)-1, 0))) AS u(i)
        ),
        c2 AS (SELECT w1, bg, CAST(count(*) AS BIGINT) AS c
               FROM big GROUP BY w1, bg),
        c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ctx FROM c2 GROUP BY w1),
        v AS (SELECT CAST(count(DISTINCT gram) AS BIGINT) AS vocab
              FROM (SELECT unnest(toks) AS gram FROM t)),
        scored AS (
          SELECT b.doc_id, c2.c,
                 (c2.c + 1) * {_LM_SCALE} // (c1.ctx + v.vocab) AS p_fp
          FROM big b JOIN c2 USING (w1, bg) JOIN c1 USING (w1) CROSS JOIN v
        ),
        agg AS (
          SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hapax_bigrams,
                 CAST(sum(p_fp) AS BIGINT) AS sum_p_fp
          FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(a.n_bigrams, 0) AS n_bigrams,
               COALESCE(a.hapax_bigrams, 0) AS hapax_bigrams,
               COALESCE(a.sum_p_fp, 0) AS sum_p_fp,
               CASE WHEN a.n_bigrams > 0 THEN a.sum_p_fp // a.n_bigrams END
                 AS mean_p_fp
        FROM documents d LEFT JOIN agg a USING (doc_id)"""


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


_BUCKET_RATE = 0.5


_BUCKET_SEED = 13


_BUCKET_THRESH = int(_BUCKET_RATE * (1 << 48))


def q_lm_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity tiers (operators/lm.py
    lm_perplexity_buckets): tertile cutoffs fitted on the deterministic
    md5 half-sample of the corpus LM scores (no global sort at scale —
    CCNet itself fits cutoffs on a sample), every doc bucketed by
    integer value comparison; unscorable docs are 'tail'."""
    from fuzzycat_spark.operators.lm import (
        doc_lm_scores,
        lm_perplexity_buckets,
    )

    scores = doc_lm_scores(_docs(spark, sf_dir), scale=_LM_SCALE)
    return lm_perplexity_buckets(
        scores, sample_rate=_BUCKET_RATE, seed=_BUCKET_SEED
    )


def _lm_buckets_sql() -> str:
    return f"""
        WITH scores AS ({_lm_scores_sql()}),
        samp AS (
          SELECT doc_id, mean_p_fp FROM scores
          WHERE mean_p_fp IS NOT NULL
            AND ('0x' || substr(md5(doc_id::VARCHAR || ':{_BUCKET_SEED}'),
                                1, 12))::BIGINT < {_BUCKET_THRESH}),
        ranked AS (
          SELECT mean_p_fp AS s,
                 row_number() OVER (ORDER BY mean_p_fp DESC, doc_id ASC)
                   AS rn,
                 count(*) OVER () AS n
          FROM samp),
        cuts AS (
          SELECT max(CASE WHEN rn = (n + 2) // 3 THEN s END) AS cut_head,
                 max(CASE WHEN rn = (2 * n + 2) // 3 THEN s END)
                   AS cut_middle
          FROM ranked)
        SELECT s.doc_id, s.n_bigrams, s.hapax_bigrams, s.sum_p_fp,
               s.mean_p_fp,
               CASE WHEN s.mean_p_fp IS NULL THEN 'tail'
                    WHEN s.mean_p_fp >= c.cut_head THEN 'head'
                    WHEN s.mean_p_fp >= c.cut_middle THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scores s CROSS JOIN cuts c"""


CASES = {
    "repetition": (q_repetition, _REPETITION_SQL),
    "line_stats": (q_line_stats, _LINE_STATS_SQL),
    "common_lines": (q_common_lines, _COMMON_LINES_SQL),
    "line_dedup": (q_line_dedup, _LINE_DEDUP_SQL),
    "decontaminate": (q_decontaminate, _DECONTAMINATE_SQL),
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
    "cross_dedup_pairs": (q_cross_dedup_pairs, f"""
            WITH {_cross_pairs_sql()}
            SELECT new_id, ref_id, jac FROM cross_pairs"""),
    "cross_dedup": (q_cross_dedup, f"""
            WITH {_cross_pairs_sql()},
            best AS (
              SELECT new_id, ref_id AS best_ref, jac AS best_jac,
                     row_number() OVER (
                       PARTITION BY new_id ORDER BY jac DESC, ref_id ASC
                     ) AS rn
              FROM cross_pairs
            ),
            news AS (SELECT doc_id AS new_id FROM side WHERE side = 1)
            SELECT n.new_id, b.best_ref IS NOT NULL AS matched, b.best_ref, b.best_jac
            FROM news n LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (new_id)"""),
    "stratified_sample": (q_stratified_sample, _stratified_sample_sql()),
    "media_features": (q_media_features, """
            SELECT doc_id, sha256(coalesce(text, '')) AS content_sha,
                   CAST(octet_length(CAST(coalesce(text, '') AS BLOB)) AS BIGINT)
                     AS n_bytes
            FROM documents"""),
    "media_decode": (q_media_decode, f"""
            SELECT media_id, px_count, px_sum, px_sha
            FROM '{_MEDIA_FIXTURE}'"""),
    "audio_frames": (q_audio_frames, f"""
            SELECT media_id, frame_idx, n_samples, energy, zero_crossings
            FROM '{_AUDIO_FRAMES_FIXTURE}'"""),
    "image_ahash": (q_image_ahash, f"""
            SELECT media_id, ahash FROM '{_MEDIA_FIXTURE}'
            WHERE kind = 'image'"""),
    "image_dup_pairs": (q_image_dup_pairs, _image_dup_pairs_sql()),
    "crawl_delta": (q_crawl_delta, _CRAWL_DELTA_SQL),
    "content_moves": (q_content_moves, _content_moves_sql()),
    "split_assign": (q_split_assign, _split_assign_sql()),
    "split_leakage_safe": (q_split_leakage_safe, _split_leakage_safe_sql()),
    "split_contamination": (q_split_contamination, _split_contamination_sql()),
    "split_contamination_safe": (q_split_contamination_safe, _split_contamination_sql("cluster")),
    "split_train_screen": (q_split_train_screen, _split_train_screen_sql()),
    "host_components": (q_host_components, _host_components_sql()),
    "media_resize": (q_media_resize, f"""
            SELECT media_id, rs8_count AS rs_count, rs8_sum AS rs_sum,
                   rs8_sha AS rs_sha
            FROM '{_MEDIA_FIXTURE}' WHERE kind = 'image'"""),
    "pii_scrub": (q_pii_scrub, _pii_scrub_sql()),
    "corpus_mix": (q_corpus_mix, _corpus_mix_sql()),
    "temperature_mix": (q_temperature_mix, _temperature_mix_sql()),
    "length_quantiles": (q_length_quantiles, _length_quantiles_sql()),
    "training_shards": (q_training_shards, _training_shards_sql()),
    "jsonl_manifest": (q_jsonl_manifest, _jsonl_manifest_sql()),
    "dup_spans": (q_dup_spans, _dup_spans_sql()),
    "packed_sequences": (q_packed_sequences, _packed_sequences_sql()),
    "vocab_top": (q_vocab_top, _vocab_sql(1, _VOCAB_K, 1)),
    "bpe_merges": (q_bpe_merges, _bpe_merges_sql(_BPE_MERGES)),
    "bpe_token_counts": (q_bpe_token_counts, _bpe_token_counts_sql(_BPE_MERGES)),
    "bpe_encode": (q_bpe_encode, _bpe_encode_sql(_BPE_MERGES)),
    "bigram_top": (q_bigram_top, _vocab_sql(2, _BIGRAM_K, 2)),
    "lm_scores": (q_lm_scores, _lm_scores_sql()),
    "dsir_contrast": (q_dsir_contrast, _dsir_contrast_sql()),
    "lm_buckets": (q_lm_buckets, _lm_buckets_sql()),
    "lexical_topk": (q_lexical_topk, _lexical_topk_sql()),
    "host_links": (q_host_links, _HOST_LINKS_SQL),
    "host_pagerank": (q_host_pagerank, _host_pagerank_sql()),
    "anchor_texts": (q_anchor_texts, _ANCHOR_TEXTS_SQL),
    "kmeans_assign": (q_kmeans_assign, _kmeans_sql()),
    "semdedup_pairs": (q_semdedup_pairs, _semdedup_sql()),
    "pq_codes": (q_pq_codes, _pq_codes_sql()),
    "pq_knn": (q_pq_knn, _pq_knn_sql()),
    "ivfadc_knn": (q_ivfadc_knn, _ivfadc_sql()),
    "distinct_sketch": (q_distinct_sketch, _distinct_sketch_sql()),
    "cms_counts": (q_cms_counts, _cms_counts_sql()),
    "bloom_bits": (q_bloom_bits, _bloom_bits_sql()),
    "bloom_screen": (q_bloom_screen, _bloom_screen_sql()),
    "fix_mojibake": (q_fix_mojibake, _fix_mojibake_sql()),
    "corpus_report": (q_corpus_report, _corpus_report_sql()),
    "semantic_contamination": (q_semantic_contamination, _semantic_contamination_sql()),
    "semantic_contamination_ann": (q_semantic_contamination_ann, _semantic_contamination_ann_sql()),
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
