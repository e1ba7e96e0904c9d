"""DuckDB oracles for the dedup system.

Each case runs a Spark function that calls the library directly and an
independent DuckDB query over the same parquet tables, then compares the
two results: the same column names, the same row count, and the same
values, order-insensitively (`canon`). The SQL reproduces the Spark
results bit-for-bit, including the MinHash signatures (splitmix64 mixing
done in 32-bit limbs, see fuzzycat_spark/functions/hashing.py). Every case
must compare at least one row, so no case passes on empty-set agreement.

The inputs are the sf0.001 tables of TESTDATA.md and the committed
fixtures of FIXTURES.md; `exact_dup_pairs` and `slug_dup_pairs` run over
sf0.001 plus planted copies, because sf0.001 holds no such pairs.
"""

from __future__ import annotations

import math
import tempfile
from dataclasses import replace
from pathlib import Path
from unittest import mock

import duckdb
import pytest
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fuzzycat_spark.functions.hashing import (
    content_hash,
    md5_h64,
    minhash_from_h64_udf,
    minhash_params,
    simhash32_from_hashes,
    splitmix64_sql,
    token_hashes32,
)
from fuzzycat_spark.functions.normalize import (
    slug_text,
    tokens_col,
    word_shingles_from_tokens,
)
from fuzzycat_spark.functions.text import (
    LANG_STOPWORDS,
    quality_score_cols,
    token_count,
)
from fuzzycat_spark.operators import components
from fuzzycat_spark.operators.components import connected_components
from fuzzycat_spark.operators.dedup import (
    DedupConfig,
    candidate_pairs,
    dedup_pages,
    dup_stats,
    star_edges,
)
from fuzzycat_spark.operators.lsh import lsh_candidate_pairs, minhash_band_table
from fuzzycat_spark.operators.verify import (
    LEV_PFX,
    LEV_STRONG_RATIO,
    SHORT_TOKENS,
    prepare_pages,
    verify_pairs,
)

from _paths import FIXTURES

# the sf0.001 tables (TESTDATA.md) and the committed fixtures (FIXTURES.md)
SF = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# shared config (the "shingle/signature config" recall is defined at)
# ---------------------------------------------------------------------------

NUM_PERM = 32
BANDS = 16
ROWS = 2
UNIT_BANDS = 4
MAX_BUCKET = 200
SHINGLE_N = 3

DOC_CFG = DedupConfig(
    id_col="doc_id",
    text_col="text",
    strategies=("exact", "slug", "minhash"),
    num_perm=NUM_PERM,
    bands=BANDS,
    rows=ROWS,
    shingle_n=SHINGLE_N,
    max_bucket_size=MAX_BUCKET,
)


ALL_STRATEGIES = ("exact", "slug", "minhash", "simhash", "substring", "winnow")

# the ONE-pipeline config: every blocking strategy composed, matching the
# reference's single cluster|verify dataflow
ALL_CFG = DedupConfig(
    id_col="doc_id",
    text_col="text",
    strategies=ALL_STRATEGIES,
    num_perm=NUM_PERM,
    bands=BANDS,
    rows=ROWS,
    shingle_n=SHINGLE_N,
    max_bucket_size=MAX_BUCKET,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzycat_spark.config import fan_out_scan

    return fan_out_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        cache_key=f"{sf_dir}/documents.parquet",
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fuzzycat_spark.config import fan_out_scan

    return fan_out_scan(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        cache_key=f"{sf_dir}/embeddings.parquet",
    )


# ---------------------------------------------------------------------------
# DuckDB SQL fragments mirroring the Spark kernels
# ---------------------------------------------------------------------------

# mirrors functions.normalize.slug_text INCLUDING the latin_fold translate
# (the fold map is import-time NFKD-derived, identical literals both
# engines; identity on pure-ASCII corpora, so this widens the oracle's
# domain to folded-Latin text)
from fuzzycat_spark.functions.normalize import _FOLD_DST, _FOLD_SRC  # noqa: E402

_SLUG = (
    f"trim(regexp_replace(regexp_replace(lower(translate(text,"
    f" '{_FOLD_SRC}', '{_FOLD_DST}')), '[^a-z0-9]+', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)

# the default web-boilerplate denylist, mirrored into every oracle that
# models a pipeline running with DedupConfig's default denylist: slug
# bands/stars exclude denylisted keys, and the cascade's BLACKLISTED rule
# sits before SLUG_MATCH. Keys are md5(slug) — identical in Spark
# (F.md5(slug.cast("binary"))) and DuckDB (md5(slug)). sf0.001 holds no
# denylisted slug; the denylist_pairs / components_denylist cases exercise it.
from fuzzycat_spark.functions.denylist import DEFAULT_DENYLIST_KEYS  # noqa: E402

_DENY_IN = ", ".join(f"'{k}'" for k in DEFAULT_DENYLIST_KEYS)

# base CTEs: slug, tokens, distinct word-3-gram shingles (same fallbacks as
# fuzzycat_spark.functions.normalize: <n tokens -> whole slug; empty -> [])
_BASE_CTES = f"""
t AS (SELECT doc_id, text, lang, {_SLUG} AS slug FROM documents),
tok AS (
  SELECT *, CASE WHEN slug = '' THEN []::VARCHAR[]
                 ELSE string_split(slug, ' ') END AS toks
  FROM t
),
sh AS (
  SELECT *, CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
    ELSE list_distinct([array_to_string(toks[i:i+{SHINGLE_N - 1}], ' ')
                        for i in range(1, greatest(len(toks) - {SHINGLE_N - 1}, 1) + 1)])
    END AS shingles
  FROM tok
)"""

_PERM_VALUES = ", ".join(
    f"({i}, {c}::UBIGINT)" for i, c in enumerate(minhash_params(NUM_PERM))
)

# MinHash signature rows (doc_id, perm_id, sig) — bit-identical to
# minhash_signature_udf. NULL sentinel shingle -> h=0 for empty docs.
_SIG_CTES = f"""{_BASE_CTES},
exploded AS (
  SELECT doc_id,
         unnest(CASE WHEN len(shingles) = 0 THEN [CAST(NULL AS VARCHAR)]
                     ELSE shingles END) AS s
  FROM sh
),
hashed AS (
  SELECT doc_id,
         CASE WHEN s IS NULL THEN 0::UBIGINT
              ELSE ('0x' || substr(md5(s), 1, 16))::UBIGINT END AS h
  FROM exploded
),
perms AS (SELECT * FROM (VALUES {_PERM_VALUES}) AS p(perm_id, c)),
sigs AS (
  SELECT doc_id, perm_id, min({splitmix64_sql('xor(h, c)')}) AS sig
  FROM hashed CROSS JOIN perms
  GROUP BY doc_id, perm_id
)"""

_R2_BANDS = ", ".join(
    f"md5(l[{2 * b + 1}]::VARCHAR || '|' || l[{2 * b + 2}]::VARCHAR)"
    for b in range(BANDS)
)
_UNIT_BAND_LIST = ", ".join(f"l[{i}]::VARCHAR" for i in range(1, UNIT_BANDS + 1))

_BAND_CTES = f"""{_SIG_CTES},
sig_list AS (SELECT doc_id, list(sig ORDER BY perm_id) AS l FROM sigs GROUP BY doc_id),
band_rows AS (
  SELECT doc_id,
         CAST(generate_subscripts(bk, 1) - 1 AS BIGINT) AS band_id,
         unnest(bk) AS band_hash
  FROM (SELECT doc_id, [{_R2_BANDS}] || [{_UNIT_BAND_LIST}] AS bk FROM sig_list)
)"""

_CAND_CTES = f"""{_BAND_CTES},
bucket_ok AS (
  SELECT band_id, band_hash FROM band_rows
  GROUP BY band_id, band_hash HAVING count(*) <= {MAX_BUCKET}
),
br AS (SELECT band_rows.* FROM band_rows JOIN bucket_ok USING (band_id, band_hash)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM br a JOIN br b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
)"""

_NPROJ = "regexp_replace(slug, '[0-9]+', '<NUM>', 'g')"

_FEAT_CTES = f"""{_CAND_CTES},
feats AS (
  SELECT doc_id, md5(text) AS ch, slug, {_NPROJ} AS nproj, toks,
         list_distinct(toks) AS tokset, shingles,
         CAST(len(toks) AS BIGINT) AS n_tok, lang
  FROM sh
),
pairrows AS (
  SELECT c.id_a, c.id_b,
         a.ch AS a_ch, b.ch AS b_ch, a.slug AS a_slug, b.slug AS b_slug,
         a.nproj AS a_nproj, b.nproj AS b_nproj,
         a.tokset AS a_tokset, b.tokset AS b_tokset,
         a.shingles AS a_sh, b.shingles AS b_sh,
         a.n_tok AS a_n_tok, b.n_tok AS b_n_tok,
         a.lang AS a_lang, b.lang AS b_lang
  FROM cand c
  JOIN feats a ON c.id_a = a.doc_id
  JOIN feats b ON c.id_b = b.doc_id
)"""

_JAC_SH = (
    "CASE WHEN len(list_distinct(list_concat(a_sh, b_sh))) = 0 THEN 0.0 "
    "ELSE len(list_intersect(a_sh, b_sh)) / len(list_distinct(list_concat(a_sh, b_sh))) END"
)
_JAC_TOK = (
    "CASE WHEN len(list_distinct(list_concat(a_tokset, b_tokset))) = 0 THEN 0.0 "
    "ELSE len(list_intersect(a_tokset, b_tokset)) / len(list_distinct(list_concat(a_tokset, b_tokset))) END"
)
_CONTAIN = (
    "CASE WHEN least(len(a_sh), len(b_sh)) <= 0 THEN 0.0 "
    "ELSE len(list_intersect(a_sh, b_sh)) / least(len(a_sh), len(b_sh)) END"
)

# tier-4 edit-distance rules (verify.py _tier4_rules): normalized
# Levenshtein similarity over LEV_PFX-char prefixes of the slug (raw
# order) and of the sorted-distinct-token join (word-order invariant).
# IEEE double division + subtraction are exactly rounded in both engines,
# so the >= threshold compare is bit-identical to Spark's.
_A_PFX = f"substr(a_slug, 1, {LEV_PFX})"
_B_PFX = f"substr(b_slug, 1, {LEV_PFX})"
_A_TS = f"substr(array_to_string(list_sort(a_tokset), ' '), 1, {LEV_PFX})"
_B_TS = f"substr(array_to_string(list_sort(b_tokset), ' '), 1, {LEV_PFX})"


def _lev_ratio_sql(a: str, b: str) -> str:
    return (
        f"CASE WHEN greatest(length({a}), length({b})) = 0 THEN 0.0 "
        f"ELSE 1.0 - levenshtein({a}, {b}) / greatest(length({a}), length({b})) END"
    )


_LEV_R = _lev_ratio_sql(_A_PFX, _B_PFX)
_TS_R = _lev_ratio_sql(_A_TS, _B_TS)

_VERIFY_CASE = f"""
  CASE
    WHEN a_ch IS NOT NULL AND a_ch = b_ch THEN ['exact', 'CONTENT_HASH']
    WHEN a_slug IS NULL OR b_slug IS NULL OR a_slug = '' OR b_slug = '' THEN ['ambiguous', 'EMPTY_TEXT']
    WHEN a_n_tok < 5 OR b_n_tok < 5 THEN ['ambiguous', 'SHORT_TEXT']
    WHEN md5(a_slug) IN ({_DENY_IN}) OR md5(b_slug) IN ({_DENY_IN}) THEN ['ambiguous', 'BLACKLISTED']
    WHEN a_slug = b_slug THEN ['exact', 'SLUG_MATCH']
    WHEN a_nproj = b_nproj THEN ['different', 'NUM_DIFF']
    WHEN {_CONTAIN} >= 0.8 AND least(a_n_tok, b_n_tok) >= 10 THEN ['strong', 'CONTAINMENT']
    WHEN {_JAC_SH} >= 0.7 THEN ['strong', 'SHINGLE_JACCARD']
    WHEN {_JAC_TOK} >= 0.7 THEN ['strong', 'TOKEN_JACCARD']
    WHEN {_JAC_SH} >= 0.4 THEN ['weak', 'SHINGLE_JACCARD_WEAK']
    WHEN {_LEV_R} >= {LEV_STRONG_RATIO} THEN ['strong', 'LEVENSHTEIN']
    WHEN {_TS_R} >= {LEV_STRONG_RATIO} THEN ['strong', 'TOKEN_SORT_RATIO']
    WHEN a_lang IS NOT NULL AND b_lang IS NOT NULL AND a_lang != b_lang THEN ['different', 'LANGUAGE']
    ELSE ['ambiguous', 'UNKNOWN']
  END"""

_VERIFIED_CTES = f"""{_FEAT_CTES},
verified AS (
  SELECT id_a, id_b, v[1] AS status, v[2] AS reason
  FROM (SELECT id_a, id_b, {_VERIFY_CASE} AS v FROM pairrows)
)"""

# connected components on exact/strong edges: recursive reachability (UNION
# dedup bounds it), then min(reachable id) per node, singletons keep own id
_CC_SQL = f"""WITH RECURSIVE {_VERIFIED_CTES},
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM verified WHERE status IN ('exact', 'strong')
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM verified WHERE status IN ('exact', 'strong')
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id AS id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN cc ON d.doc_id = cc.id"""


def _components_all_sql() -> str:
    """Oracle for the ALL-strategy pipeline (`dedup_pages` with exact, slug,
    minhash, simhash, substring). Component-equivalent edge set: star edges
    are min-id spanning stars in Spark, full in-group enumeration here —
    identical connected components either way (key equality is transitive),
    and assignments is the compared output.
    """
    k = _SUBSTR_K
    return f"""WITH RECURSIVE {_BAND_CTES},
{_winnow_sel_cte().lstrip()},
-- SimHash fingerprints (same kernel as _SIMHASH_SQL) -> Charikar chunks
sh_fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS fp
  FROM (
    SELECT doc_id, j,
           sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
    FROM (SELECT doc_id, ('0x' || substr(md5(tkn), 1, 8))::BIGINT AS hv
          FROM (SELECT doc_id, unnest(toks) AS tkn FROM tok))
    CROSS JOIN (SELECT unnest(range(32)) AS j) bb
    GROUP BY doc_id, j
  ) GROUP BY doc_id
),
all_bands AS (
  SELECT doc_id, CAST(band_id AS VARCHAR) AS band_id, band_hash FROM band_rows
  UNION ALL
  SELECT doc_id, 'sh' || CAST(j AS VARCHAR) AS band_id,
         CAST((fp >> (j * 8)) & 255 AS VARCHAR) AS band_hash
  FROM sh_fp CROSS JOIN (SELECT unnest(range(4)) AS j) jj
  WHERE fp >= 0
  UNION ALL
  SELECT doc_id, 'winnow' AS band_id, CAST(fp AS VARCHAR) AS band_hash
  FROM (SELECT DISTINCT doc_id, fp FROM wsel)
),
bkt_ok AS (
  SELECT band_id, band_hash FROM all_bands
  GROUP BY band_id, band_hash HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}
),
abr AS (SELECT all_bands.* FROM all_bands JOIN bkt_ok USING (band_id, band_hash)),
band_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM abr a JOIN abr b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
),
-- exact-substring containment: probe = first token {k}-gram, index = all
-- distinct {k}-grams (capped per gram), contains() confirmation
ss_grams AS (
  SELECT doc_id, slug,
         [array_to_string(toks[i:i+{k - 1}], ' ')
          for i in range(1, len(toks) - {k} + 2)] AS gs
  FROM tok WHERE len(toks) >= {k}
),
ss_idx AS (
  SELECT * FROM (
    SELECT doc_id AS id_of, unnest(list_distinct(gs)) AS g FROM ss_grams
  ) QUALIFY count(*) OVER (PARTITION BY g) <= {MAX_BUCKET}
),
ss_probe AS (SELECT doc_id AS id_in, gs[1] AS g FROM ss_grams),
ss_pairs AS (
  SELECT DISTINCT least(c.id_in, c.id_of) AS id_a,
                  greatest(c.id_in, c.id_of) AS id_b
  FROM (SELECT DISTINCT id_in, id_of
        FROM ss_probe JOIN ss_idx USING (g) WHERE id_in != id_of) c
  JOIN ss_grams a ON c.id_in = a.doc_id
  JOIN ss_grams b ON c.id_of = b.doc_id
  WHERE strpos(b.slug, a.slug) > 0
),
cand AS (
  SELECT DISTINCT * FROM (
    SELECT * FROM band_cand UNION ALL SELECT * FROM ss_pairs
  )
),
feats AS (
  SELECT doc_id, md5(text) AS ch, slug, {_NPROJ} AS nproj, toks,
         list_distinct(toks) AS tokset, shingles,
         CAST(len(toks) AS BIGINT) AS n_tok, lang
  FROM sh
),
pairrows AS (
  SELECT c.id_a, c.id_b,
         a.ch AS a_ch, b.ch AS b_ch, a.slug AS a_slug, b.slug AS b_slug,
         a.nproj AS a_nproj, b.nproj AS b_nproj,
         a.tokset AS a_tokset, b.tokset AS b_tokset,
         a.shingles AS a_sh, b.shingles AS b_sh,
         a.n_tok AS a_n_tok, b.n_tok AS b_n_tok,
         a.lang AS a_lang, b.lang AS b_lang
  FROM cand c
  JOIN feats a ON c.id_a = a.doc_id
  JOIN feats b ON c.id_b = b.doc_id
),
verified AS (
  SELECT id_a, id_b, v[1] AS status, v[2] AS reason
  FROM (SELECT id_a, id_b, {_VERIFY_CASE} AS v FROM pairrows)
),
-- star-edge strategies: uncapped key-equality groups (enumeration here,
-- min-id stars in Spark — same components)
star_exact AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, md5(text) AS kk FROM t WHERE text IS NOT NULL) a
  JOIN (SELECT doc_id, md5(text) AS kk FROM t WHERE text IS NOT NULL) b USING (kk)
  WHERE a.doc_id < b.doc_id
),
star_slug AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, md5(slug) AS kk FROM tok
        WHERE slug IS NOT NULL AND len(toks) >= {SHORT_TOKENS}
          AND md5(slug) NOT IN ({_DENY_IN})) a
  JOIN (SELECT doc_id, md5(slug) AS kk FROM tok
        WHERE slug IS NOT NULL AND len(toks) >= {SHORT_TOKENS}
          AND md5(slug) NOT IN ({_DENY_IN})) b USING (kk)
  WHERE a.doc_id < b.doc_id
),
edges0 AS (
  SELECT id_a, id_b FROM verified WHERE status IN ('exact', 'strong')
  UNION SELECT * FROM star_exact
  UNION SELECT * FROM star_slug
),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM edges0
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id AS id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN cc ON d.doc_id = cc.id"""


def _lang_vote_sql() -> str:
    langs = sorted(LANG_STOPWORDS)
    votes = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(s) for s in LANG_STOPWORDS[lang])})))"
        for lang in langs
    }
    best = "greatest(" + ", ".join(votes.values()) + ")"
    n_best = " + ".join(f"CASE WHEN {v} = best THEN 1 ELSE 0 END" for v in votes.values())
    pick = "CASE " + " ".join(
        f"WHEN {votes[lang]} = best THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
SELECT doc_id,
  CASE WHEN best > 0 AND n_best = 1 THEN {pick} ELSE 'und' END AS lang_pred
FROM (
  SELECT doc_id, toks, {best} AS best, {n_best} AS n_best
  FROM (SELECT doc_id, CASE WHEN slug='' THEN []::VARCHAR[] ELSE string_split(slug,' ') END AS toks
        FROM (SELECT doc_id, {_SLUG} AS slug FROM documents))
)"""


_EN_STOPS = ", ".join(repr(s) for s in LANG_STOPWORDS["en"])

_QUALITY_SQL = f"""
SELECT doc_id, n_tokens,
  round(alpha_ratio, 6) AS alpha_ratio,
  round(digit_ratio, 6) AS digit_ratio,
  round(stop_ratio, 6) AS stop_ratio,
  round(mean_tok_len, 6) AS mean_tok_len,
  round(0.4 * alpha_ratio
      + 0.3 * least(stop_ratio * 2, 1.0)
      + 0.2 * (CASE WHEN mean_tok_len >= 3 AND mean_tok_len <= 10 THEN 1.0 ELSE 0.0 END)
      + 0.1 * (1.0 - least(digit_ratio * 5, 1.0)), 6) AS quality
FROM (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1.0) AS alpha_ratio,
    length(regexp_replace(text, '[^0-9]', '', 'g')) / greatest(length(text), 1.0) AS digit_ratio,
    len(list_filter(toks, x -> x IN ({_EN_STOPS}))) / greatest(len(toks), 1.0) AS stop_ratio,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE (length(text) - (length(text) - length(replace(text, ' ', ''))))
              / greatest(len(toks), 1.0) END AS mean_tok_len
  FROM (SELECT doc_id, text,
          CASE WHEN slug='' THEN []::VARCHAR[] ELSE string_split(slug,' ') END AS toks
        FROM (SELECT doc_id, text, {_SLUG} AS slug FROM documents))
)"""


_URL_FIXTURE = f"{FIXTURES}/url_docs.parquet"

def _surt_cte(src: str, prefix: str = "") -> str:
    """The DuckDB mirror of functions/urls.surt_key as a two-CTE block
    over any `(url_id, t)` source subquery (`t` = trimmed URL string).
    `prefix` namespaces the CTE names so one query can canonicalize two
    different URL columns (e.g. page URLs and resolved canonical hrefs)."""
    return rf"""
{prefix}parts AS (
  SELECT url_id,
    lower(regexp_extract(t, '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]*)', 1)) AS host0,
    regexp_extract(t, '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*([^?#]*)', 1) AS path0,
    regexp_extract(t, '^[^?#]*\?([^#]*)', 1) AS query0
  FROM ({src})),
{prefix}surts AS (
  SELECT url_id,
    array_to_string(list_reverse(string_split(
      regexp_replace(host1, ':[0-9]+$', ''), '.')), ',')
    || regexp_extract(host1, '(:[0-9]+)$', 1)
    || ')'
    || regexp_replace(regexp_replace(path0, '/index\.(html?|php)$', ''), '/+$', '')
    || CASE WHEN len(params) > 0
            THEN '?' || array_to_string(params, '&') ELSE '' END AS surt
  FROM (SELECT url_id,
          regexp_replace(regexp_replace(host0, '^www\.', ''),
                         ':(80|443)$', '') AS host1,
          path0,
          list_sort(list_filter(string_split(query0, '&'),
            p -> p <> '' AND NOT regexp_matches(p,
              '^(utm_[^=]*|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid|ref|ref_src)(=.*)?$')))
          AS params
        FROM {prefix}parts))"""


_SURT_CTE = _surt_cte(
    f"SELECT url_id, trim(url) AS t FROM '{_URL_FIXTURE}'"
)

_CANONICAL_PAIRS_SQL = f"""
WITH {_surt_cte(
    f"SELECT url_id, trim(url) AS t FROM '{_URL_FIXTURE}'", "a")},
{_surt_cte(f'''
  SELECT url_id, trim(
    CASE
      WHEN regexp_matches(c, '^(?i)https?://') THEN c
      WHEN c LIKE '//%' AND sch <> '' THEN sch || ':' || c
      WHEN c LIKE '/%' AND orig <> '' THEN orig || c
      ELSE NULL
    END) AS t
  FROM (SELECT url_id, trim(canonical) AS c,
          regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*):', 1) AS sch,
          regexp_extract(trim(url),
            '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS orig
        FROM '{_URL_FIXTURE}' WHERE canonical IS NOT NULL)''', "r")},
tmin AS (SELECT surt, min(url_id) AS canonical_id FROM asurts GROUP BY surt)
SELECT r.url_id AS id, tmin.canonical_id, r.surt
FROM rsurts r
JOIN asurts s ON r.url_id = s.url_id
JOIN tmin ON r.surt = tmin.surt
WHERE r.surt IS NOT NULL AND r.surt <> s.surt"""

_URL_CANONICAL_SQL = f"WITH {_SURT_CTE} SELECT url_id, surt FROM surts"

_URL_DUP_PAIRS_SQL = f"""
WITH {_SURT_CTE}
SELECT a.url_id AS id_a, b.url_id AS id_b, a.surt
FROM surts a JOIN surts b ON a.surt = b.surt AND a.url_id < b.url_id"""

_SIMHASH_SQL = """
WITH tk AS (
  SELECT doc_id,
    CASE WHEN slug='' THEN []::VARCHAR[] ELSE string_split(slug,' ') END AS toks
  FROM (SELECT doc_id, {slug} AS slug FROM documents)
),
tok_rows AS (SELECT doc_id, unnest(toks) AS tkn FROM tk),
h AS (SELECT doc_id, ('0x' || substr(md5(tkn), 1, 8))::BIGINT AS hv FROM tok_rows),
bits AS (
  SELECT doc_id, j,
    sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h CROSS JOIN (SELECT unnest(range(32)) AS j) b
  GROUP BY doc_id, j
),
fp AS (
  SELECT doc_id, sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT tk.doc_id,
  CAST(CASE WHEN len(tk.toks) = 0 THEN -1 ELSE fp.simhash END AS BIGINT) AS simhash
FROM tk LEFT JOIN fp ON tk.doc_id = fp.doc_id
ORDER BY tk.doc_id""".format(slug=_SLUG)

_COS_D = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)

_KNN_K = 5
_KNN_PROBES = 20

_KNN_SQL = f"""
SELECT probe_id, neighbor_id, rank FROM (
  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
    CAST(row_number() OVER (PARTITION BY a.vec_id
         ORDER BY round({_COS_D}, 9) DESC, b.vec_id) AS BIGINT) AS rank
  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
  WHERE a.vec_id < {_KNN_PROBES}
) WHERE rank <= {_KNN_K}"""

_SIM_THRESHOLD = 0.4

_SIMILAR_PAIRS_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_COS_D}, 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({_COS_D}, 9) >= {_SIM_THRESHOLD}"""


# ---------------------------------------------------------------------------
# Spark query implementations
# ---------------------------------------------------------------------------


def _spark_cosine(a, b):
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def _key_star_edges(spark, sf_dir, strategy):
    """The product's star edges of one key-equality strategy: each member
    of a key group links to the group's min id."""
    prep = prepare_pages(_docs(spark, sf_dir), "doc_id", "text")
    cfg = replace(DOC_CFG, strategies=(strategy,))
    return star_edges(prep, cfg).select("id_a", "id_b")


def q_exact_dup_pairs(spark, sf_dir):
    return _key_star_edges(spark, sf_dir, "exact")


def q_slug_dup_pairs(spark, sf_dir):
    return _key_star_edges(spark, sf_dir, "slug")


def q_cluster_size_histogram(spark, sf_dir):
    d = _docs(spark, sf_dir).select(content_hash("text").alias("k"))
    return (
        d.groupBy("k").agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def q_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", token_count("text").alias("n_tokens"))


def q_token_count_bpe(spark, sf_dir):
    from fuzzycat_spark.functions.text import bpe_ish_token_count

    return _docs(spark, sf_dir).select(
        "doc_id", bpe_ish_token_count("text").alias("n_bpe_tokens")
    )


def q_lang_id(spark, sf_dir):
    from fuzzycat_spark.functions.text import lang_id_table

    return lang_id_table(_docs(spark, sf_dir), "doc_id", "text")


def q_quality(spark, sf_dir):
    cols = quality_score_cols("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        cols["n_tokens"].alias("n_tokens"),
        F.round(cols["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(cols["digit_ratio"], 6).alias("digit_ratio"),
        F.round(cols["stop_ratio"], 6).alias("stop_ratio"),
        F.round(cols["mean_tok_len"], 6).alias("mean_tok_len"),
        F.round(cols["quality"], 6).alias("quality"),
    )


def q_url_canonical(spark, sf_dir):
    """SURT-style URL canonicalization (functions/urls.py): scheme/www/
    default-port/fragment/tracking-param/index-page variants collapse to
    one sort-friendly key; lookalikes (subdomains, param values, path
    case, non-default ports) stay distinct. Pure Catalyst regexp work."""
    from fuzzycat_spark.functions.urls import surt_key

    return spark.read.parquet(_URL_FIXTURE).select(
        "url_id", surt_key("url").alias("surt")
    )


def q_canonical_pairs(spark, sf_dir):
    """Publisher-declared dedup edges (functions/urls.py
    canonical_link_pairs): pages whose `rel=canonical` href — as
    `page_directives` extracts it — resolves (absolute / protocol-
    relative / root-relative, `resolve_href`) to another crawled page's
    SURT key. AMP/print/session variants cluster with zero text
    comparison; self-canonical no-ops, uncrawled targets, and
    document-relative hrefs emit no edge (all planted in the fixture)."""
    from fuzzycat_spark.functions.urls import canonical_link_pairs

    return canonical_link_pairs(
        spark.read.parquet(_URL_FIXTURE), id_col="url_id", url_col="url"
    )


def q_url_dup_pairs(spark, sf_dir):
    """URL-level exact dedup pairs: ids sharing a canonical SURT key —
    the zero-text first pass of web-crawl dedup."""
    from fuzzycat_spark.functions.urls import url_dup_pairs

    return url_dup_pairs(
        spark.read.parquet(_URL_FIXTURE), id_col="url_id", url_col="url"
    )


_PARAM_FIXTURE = f"{FIXTURES}/param_docs.parquet"


def q_tracking_params(spark, sf_dir):
    """Data-driven tracking-param mining (functions/urls.py
    mine_tracking_params): a query param is tracking-like on a host when
    stripping it merges distinct URLs over IDENTICAL content (session
    ids), and not when the merge changes the bytes (pagination) or never
    happens (real query params). The fixture plants all five verdicts:
    sid (mixed evidence, rate ~0.86 → tracking), page (dirty merges),
    q (no merges), flag (clean but support 1), once (clean but support 2
    < 3). Replaces hand-curation of the reference's literal param
    blacklists (fuzzycat/data.py) with corpus evidence."""
    from fuzzycat_spark.functions.urls import mine_tracking_params

    return mine_tracking_params(spark.read.parquet(_PARAM_FIXTURE))


def _tracking_params_sql() -> str:
    host = _surt_host_col_sql("h1")
    return rf"""
WITH parsed0 AS (
  SELECT
    lower(regexp_extract(t, '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]*)', 1)) AS host0,
    regexp_extract(t, '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*([^?#]*)', 1) AS path0,
    regexp_extract(t, '^[^?#]*\?([^#]*)', 1) AS query0,
    md5(text) AS h
  FROM (SELECT trim(url) AS t, text FROM '{_PARAM_FIXTURE}')),
parsed AS (
  SELECT {host} AS host,
    {host} || ')' ||
      regexp_replace(regexp_replace(path0, '/index\.(html?|php)$', ''),
                     '/+$', '') AS base,
    params, h
  FROM (SELECT
      regexp_replace(regexp_replace(host0, '^www\.', ''),
                     ':(80|443)$', '') AS h1,
      path0,
      list_filter(string_split(query0, '&'), p -> p <> '') AS params,
      h
    FROM parsed0)),
keyed AS (
  SELECT host, base, params, h,
    base || CASE WHEN len(params) > 0
      THEN '?' || array_to_string(list_sort(params), '&') ELSE '' END AS fullkey
  FROM parsed),
targets AS (
  SELECT fullkey AS residual, min(h) AS t_hash,
         count(DISTINCT h) AS n_t_hashes
  FROM keyed GROUP BY fullkey),
carried AS (
  SELECT host, fullkey, h, param,
    base || CASE WHEN len(rest) > 0
      THEN '?' || array_to_string(list_sort(rest), '&') ELSE '' END AS residual
  FROM (SELECT host, base, fullkey, h, param,
          list_filter(params, p -> string_split(p, '=')[1] <> param) AS rest
        FROM (SELECT host, base, fullkey, h, params,
                unnest(list_distinct(list_transform(params,
                  p -> string_split(p, '=')[1]))) AS param
              FROM keyed))),
judged AS (
  SELECT g.host, g.param, g.n_keys,
    (g.n_keys >= 2 OR t.t_hash IS NOT NULL) AS merged,
    ((g.n_keys >= 2 OR t.t_hash IS NOT NULL) AND g.n_hashes = 1
      AND (t.t_hash IS NULL
           OR (t.n_t_hashes = 1 AND t.t_hash = g.g_hash))) AS clean
  FROM (SELECT host, param, residual,
          count(DISTINCT fullkey) AS n_keys,
          count(DISTINCT h) AS n_hashes,
          min(h) AS g_hash
        FROM carried GROUP BY host, param, residual) g
  LEFT JOIN targets t ON g.residual = t.residual)
SELECT host, param, n_urls, n_merged, n_clean,
  CAST(n_clean AS DOUBLE) / n_urls AS clean_rate,
  (n_urls >= 3 AND CAST(n_clean AS DOUBLE) / n_urls >= 0.8) AS is_tracking
FROM (SELECT host, param,
        CAST(sum(n_keys) AS BIGINT) AS n_urls,
        CAST(sum(CASE WHEN merged THEN n_keys ELSE 0 END) AS BIGINT)
          AS n_merged,
        CAST(sum(CASE WHEN clean THEN n_keys ELSE 0 END) AS BIGINT)
          AS n_clean
      FROM judged GROUP BY host, param)"""


def q_url_canonical_mined(spark, sf_dir):
    """The apply half of tracking-param mining (functions/urls.py
    canonicalize_with_mined): canonical keys with each host's MINED
    params stripped on top of the static utm_* list — tracknews.com's
    session ids collapse their article variants while pagination, real
    query params, below-support params, and other hosts keep plain
    surt_key semantics. Strip lists broadcast; the corpus side is one
    BroadcastHashJoin with key arithmetic in codegen (zero shuffles)."""
    from fuzzycat_spark.functions.urls import (
        canonicalize_with_mined,
        mine_tracking_params,
    )

    docs = spark.read.parquet(_PARAM_FIXTURE)
    return canonicalize_with_mined(docs, mine_tracking_params(docs))


def _url_canonical_mined_sql() -> str:
    host = _surt_host_col_sql("h1")
    static = (
        "'^(utm_[^=]*|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid|ref|ref_src)"
        "(=.*)?$'"
    )
    return rf"""
WITH mined AS ({_tracking_params_sql()}),
strip AS (
  SELECT host, list_sort(list_distinct(list(param))) AS ps
  FROM mined WHERE is_tracking GROUP BY host),
parts0 AS (
  SELECT url_id,
    lower(regexp_extract(t, '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]*)', 1)) AS host0,
    regexp_extract(t, '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*([^?#]*)', 1) AS path0,
    regexp_extract(t, '^[^?#]*\?([^#]*)', 1) AS query0
  FROM (SELECT url_id, trim(url) AS t FROM '{_PARAM_FIXTURE}')),
parts AS (
  SELECT url_id, {host} AS host,
    {host} || ')' ||
      regexp_replace(regexp_replace(path0, '/index\.(html?|php)$', ''),
                     '/+$', '') AS base,
    list_filter(string_split(query0, '&'), p -> p <> '') AS params
  FROM (SELECT url_id, path0, query0,
          regexp_replace(regexp_replace(host0, '^www\.', ''),
                         ':(80|443)$', '') AS h1
        FROM parts0)),
j AS (
  SELECT p.url_id, p.base,
    list_sort(list_filter(p.params, q ->
      NOT regexp_matches(q, {static})
      AND NOT coalesce(list_contains(s.ps, string_split(q, '=')[1]),
                       false))) AS fp
  FROM parts p LEFT JOIN strip s ON p.host = s.host)
SELECT url_id AS id,
  base || CASE WHEN len(fp) > 0
    THEN '?' || array_to_string(fp, '&') ELSE '' END AS surt
FROM j"""


_TRAP_FIXTURE = f"{FIXTURES}/trap_docs.parquet"


def q_crawler_traps(spark, sf_dir):
    """Crawler-trap detection (functions/urls.crawler_traps): digit-run
    URL templates that explode into many URLs over few contents —
    planted infinite calendar (30 urls / 3 texts) and faceted search
    (12/2) flag; real content families (/post/N 10/10, /guide/N 4/4)
    and below-support singletons don't. ONE partial-agg shuffle of
    (key, hash) pairs per (host, template)."""
    from fuzzycat_spark.functions.urls import crawler_traps

    return crawler_traps(spark.read.parquet(_TRAP_FIXTURE))


def _crawler_traps_sql() -> str:
    host = _surt_host_col_sql("h1")
    static = (
        "'^(utm_[^=]*|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid|ref|ref_src)"
        "(=.*)?$'"
    )
    return rf"""
WITH parsed0 AS (
  SELECT
    lower(regexp_extract(t, '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]*)', 1)) AS host0,
    regexp_extract(t, '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*([^?#]*)', 1) AS path0,
    regexp_extract(t, '^[^?#]*\?([^#]*)', 1) AS query0,
    md5(text) AS h
  FROM (SELECT trim(url) AS t, text FROM '{_TRAP_FIXTURE}')),
parsed AS (
  SELECT {host} AS host,
    regexp_replace(path0 || CASE WHEN query0 <> ''
      THEN '?' || query0 ELSE '' END, '[0-9]+', 'N', 'g') AS template,
    {host} || ')' ||
      regexp_replace(regexp_replace(path0, '/index\.(html?|php)$', ''),
                     '/+$', '')
      || CASE WHEN len(params) > 0
         THEN '?' || array_to_string(list_sort(params), '&')
         ELSE '' END AS k,
    h
  FROM (SELECT host0, path0, query0, h,
          regexp_replace(regexp_replace(host0, '^www\.', ''),
                         ':(80|443)$', '') AS h1,
          list_sort(list_filter(string_split(query0, '&'),
            p -> p <> '' AND NOT regexp_matches(p, {static}))) AS params
        FROM parsed0))
SELECT host, template, n_urls, n_contents,
  CAST(n_contents AS DOUBLE) / n_urls AS content_ratio,
  (n_urls >= 8 AND CAST(n_contents AS DOUBLE) / n_urls <= 0.5) AS is_trap
FROM (SELECT host, template,
        CAST(count(DISTINCT k) AS BIGINT) AS n_urls,
        CAST(count(DISTINCT h) AS BIGINT) AS n_contents
      FROM parsed GROUP BY host, template)"""


def _doc_shingles(spark, sf_dir):
    """(doc_id, sh) with tokens materialized first — shingling over an
    attribute, not the tokenize expression (see prepare_pages). The
    attribute comes from a Generate barrier (explode of a one-struct
    array, same trick as verify._gen_barrier): evaluate-once semantics
    inside ONE stage, where a localCheckpoint would pay an eager extra
    pass plus block-manager round-trips for the same guarantee."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.array(F.struct(tokens_col("text").alias("toks")))).alias("_g")
    ).select("doc_id", F.col("_g.toks").alias("toks"))
    return toks.select(
        "doc_id", word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("sh")
    )


def q_fingerprint(spark, sf_dir):
    sh = F.col("sh")
    return _doc_shingles(spark, sf_dir).select(
        "doc_id",
        F.when(F.size(sh) == 0, F.md5(F.lit("").cast("binary")))
        .otherwise(F.array_min(F.transform(sh, lambda s: F.md5(s.cast("binary")))))
        .alias("fp"),
    )


def q_simhash(spark, sf_dir):
    # the exchange between the two projections is a CollapseProject barrier:
    # the 32 per-bit aggregates read the materialized `hashes` attribute
    # instead of re-hashing every token 32x. The shuffle-free Generate
    # barrier (explode of a one-struct array) is worse here: an exchange
    # lets column pruning drop the hash computation entirely for consumers
    # that don't read it (e.g. a bare count()), while a Generate must
    # evaluate its input struct to produce rows. No localCheckpoint
    # (block-manager round-trips don't guarantee a canonical layout, and
    # one once produced a hash mismatch against the oracle); the final
    # global sort makes the output row order deterministic and identical
    # to the oracle's ORDER BY.
    staged = (
        _docs(spark, sf_dir)
        .select("doc_id", token_hashes32(tokens_col("text")).alias("hashes"))
        .repartition("doc_id")
    )
    return staged.select(
        "doc_id", simhash32_from_hashes(F.col("hashes")).alias("simhash")
    ).orderBy("doc_id")


def q_minhash_sigs(spark, sf_dir):
    # base hash JVM-side (md5_h64 in codegen), numpy only mixes — identical
    # bits to a hashlib path and to the DuckDB oracle
    sig = minhash_from_h64_udf(NUM_PERM)(F.transform(F.col("sh"), md5_h64))
    return (
        _doc_shingles(spark, sf_dir)
        .select("doc_id", F.posexplode(sig).alias("perm_id", "sig"))
        .select("doc_id", F.col("perm_id").cast("long").alias("perm_id"), "sig")
    )


def _band_table(spark, sf_dir):
    return minhash_band_table(
        _doc_shingles(spark, sf_dir), "doc_id", "text", NUM_PERM, BANDS, ROWS,
        SHINGLE_N, unit_bands=UNIT_BANDS, shingles_col="sh",
    )


def q_lsh_bands(spark, sf_dir):
    return _band_table(spark, sf_dir).select(
        F.col("id").alias("doc_id"),
        F.col("band_id").cast("long").alias("band_id"),
        "band_hash",
    )


def q_lsh_candidates(spark, sf_dir):
    return lsh_candidate_pairs(_band_table(spark, sf_dir), MAX_BUCKET)


_NGRAM_JACCARD_T = 0.5


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-n-gram Jaccard near-dup — the classic candidate-then-
    verify composition: capped MinHash-LSH band candidates (the 100 TB
    path; never an all-pairs join), then the EXACT shingle-set Jaccard
    computed only for survivors, thresholded at 0.5. MinHash alone
    approximates the similarity; this emits the exact value, so the
    operator doubles as the precision back-stop the approximate tiers
    feed. Shingle arrays join in AFTER candidate generation — the band
    shuffle stays (id, band_id, band_hash)."""
    from fuzzycat_spark.functions.text import jaccard_col

    sh = _doc_shingles(spark, sf_dir)
    cands = lsh_candidate_pairs(_band_table(spark, sf_dir), MAX_BUCKET)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = jaccard_col(F.col("sh_a"), F.col("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.round(jac, 9) >= _NGRAM_JACCARD_T)
        .select("id_a", "id_b", F.round(jac, 6).alias("jac"))
    )


def q_candidates(spark, sf_dir):
    return candidate_pairs(_docs(spark, sf_dir), DOC_CFG)


def q_verified_pairs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    prep = prepare_pages(docs, "doc_id", "text")
    cands = candidate_pairs(docs, DOC_CFG, prep=prep)
    return verify_pairs(cands, prep)


def q_components(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    prep = prepare_pages(docs, "doc_id", "text")
    cands = candidate_pairs(docs, DOC_CFG, prep=prep)
    # no localCheckpoint: the verified frame has exactly ONE consumer here
    # (connected_components' own first checkpoint write materializes the
    # filtered edge set), so an eager extra materialization of the full
    # verdict table bought nothing — verify_pairs reads the prepared and
    # candidate frames, so a recompute re-runs only the cascade.
    verified = verify_pairs(cands, prep)
    edges = verified.filter(F.col("status").isin("exact", "strong"))
    cc = connected_components(edges)
    return (
        docs.select(F.col("doc_id").alias("id"))
        .join(cc, on="id", how="left")
        .select("id", F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"))
    )


def loop_only(query):
    """`query` with connected components held to its distributed rounds
    (no driver finish), so that the loop keeps its check against DuckDB."""

    def run(spark, sf_dir):
        with mock.patch.object(components, "driver_edge_cap", lambda spark: 0):
            return query(spark, sf_dir)

    return run


def q_components_all(spark, sf_dir):
    """The ONE-pipeline query: `dedup_pages` with EVERY strategy enabled
    (exact + slug star edges, MinHash-LSH + SimHash bucket candidates,
    exact-substring containment) composed through the verify cascade and
    connected components — the reference's single cluster|verify dataflow
    with all the strategies turned on at once. Returns (id, cluster_id)
    assignments."""
    _, assignments = dedup_pages(_docs(spark, sf_dir), ALL_CFG)
    return assignments


def q_dup_stats(spark, sf_dir):
    return dup_stats(q_components(spark, sf_dir))


def q_canonical_docs(spark, sf_dir):
    """Corpus-emitting end of the pipeline: one best-quality representative
    per duplicate cluster (ties -> min id), over the same assignments the
    `components` case checks. The window runs on the cluster_id shuffle;
    quality is the native Catalyst blend the `quality` case pins."""
    from fuzzycat_spark.operators.dedup import select_canonical

    return select_canonical(
        _docs(spark, sf_dir), q_components(spark, sf_dir), "doc_id", "text"
    )


def q_knn(spark, sf_dir):
    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("ea")).filter(
        F.col("probe_id") < _KNN_PROBES
    )
    b = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("eb"))
    sim = F.round(_spark_cosine(F.col("ea"), F.col("eb")), 9)
    joined = (
        a.join(F.broadcast(b), F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _KNN_K)
        .select("probe_id", "neighbor_id", "rank")
    )


def q_similar_embeddings(spark, sf_dir):
    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    cos = _spark_cosine(F.col("ea"), F.col("eb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(F.round(cos, 9) >= _SIM_THRESHOLD)
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
    )


_ANN_PLANES_N = 8
_ANN_DIM = 64


def _ann_planes():
    from fuzzycat_spark.operators.knn import hyperplane_planes

    return hyperplane_planes(_ANN_DIM, _ANN_PLANES_N, seed=42)


def q_ann_buckets(spark, sf_dir):
    from fuzzycat_spark.operators.knn import hyperplane_bucket_col

    return _emb(spark, sf_dir).select(
        "vec_id", hyperplane_bucket_col(F.col("embedding"), _ann_planes()).alias("bucket")
    )


# threshold below the sf0.001 embeddings' max pairwise cosine (~0.51)
# so the edge tier and multi-doc clusters are actually exercised — at the
# production default (0.9, DedupConfig.embedding_strong) this corpus has
# zero qualifying pairs and the case would pass on empty-set agreement
_EMB_STRONG = 0.45


def q_components_embedding(spark, sf_dir):
    """Semantic dedup end-to-end over the embeddings table: hyperplane
    buckets → capped candidates → cosine >= threshold becomes a strong
    EMBEDDING_COSINE edge → connected components. The DedupConfig
    'embedding' strategy exercised through the same dedup_pages pipeline
    as every text strategy (paraphrase dups have dissimilar text, so
    only the embedding tier can link them)."""
    e = _emb(spark, sf_dir)
    pages = e.select(
        F.col("vec_id").alias("url"),
        F.col("vec_id").cast("string").alias("text"),
        "embedding",
    )
    cfg = DedupConfig(
        strategies=("embedding",),
        embedding_col="embedding",
        embedding_dim=_ANN_DIM,
        embedding_planes=_ANN_PLANES_N,
        embedding_strong=_EMB_STRONG,
        max_bucket_size=MAX_BUCKET,
    )
    _, assign = dedup_pages(pages, cfg)
    return assign


def _components_embedding_sql() -> str:
    return f"""WITH RECURSIVE bk AS ({_ann_bucket_sql()}),
bkok AS (
  SELECT bucket FROM bk GROUP BY bucket HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT ba.vec_id AS id_a, bb.vec_id AS id_b
  FROM bk ba JOIN bkok USING (bucket) JOIN bk bb ON ba.bucket = bb.bucket
  WHERE ba.vec_id < bb.vec_id
),
epairs AS (
  SELECT id_a, id_b FROM cand
  JOIN embeddings a ON cand.id_a = a.vec_id
  JOIN embeddings b ON cand.id_b = b.vec_id
  WHERE round({_COS_D}, 9) >= {_EMB_STRONG}
),
eedges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM epairs
  UNION ALL SELECT id_b AS src, id_a AS dst FROM epairs
),
reach(id, r) AS (
  SELECT src, src FROM eedges
  UNION
  SELECT g.src, reach.r FROM eedges g JOIN reach ON g.dst = reach.id
),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT emb.vec_id AS id, coalesce(cc.cluster_id, emb.vec_id) AS cluster_id
FROM embeddings emb LEFT JOIN cc ON emb.vec_id = cc.id"""


_PLANTED_FIXTURE = f"{FIXTURES}/embeddings_planted.parquet"
_PLANTED_STRONG = 0.9  # the PRODUCTION default (DedupConfig.embedding_strong)


def q_components_embedding_planted(spark, sf_dir):
    """The embedding strategy end-to-end at embedding_strong=0.9 — the
    shipped production default — over the planted fixture: the five
    planted families must form five clusters, the 210-copy mega bucket
    must stay singletons (cap), fillers must stay singletons (threshold).
    The sf0.001 cases run at 0.45 because those embeddings are
    near-orthogonal; this case checks cluster formation at 0.9 on a
    corpus where 0.9 has real edges."""
    e = spark.read.parquet(_PLANTED_FIXTURE)
    pages = e.select(
        F.col("vec_id").alias("url"),
        F.col("vec_id").cast("string").alias("text"),
        "embedding",
    )
    cfg = DedupConfig(
        strategies=("embedding",),
        embedding_col="embedding",
        embedding_dim=_ANN_DIM,
        embedding_planes=_ANN_PLANES_N,
        embedding_strong=_PLANTED_STRONG,
        max_bucket_size=MAX_BUCKET,
    )
    _, assign = dedup_pages(pages, cfg)
    return assign


def _components_embedding_planted_sql() -> str:
    return f"""WITH RECURSIVE embeddings AS (SELECT * FROM '{_PLANTED_FIXTURE}'),
bk AS ({_ann_bucket_sql()}),
bkok AS (
  SELECT bucket FROM bk GROUP BY bucket HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT ba.vec_id AS id_a, bb.vec_id AS id_b
  FROM bk ba JOIN bkok USING (bucket) JOIN bk bb ON ba.bucket = bb.bucket
  WHERE ba.vec_id < bb.vec_id
),
epairs AS (
  SELECT id_a, id_b FROM cand
  JOIN embeddings a ON cand.id_a = a.vec_id
  JOIN embeddings b ON cand.id_b = b.vec_id
  WHERE round({_COS_D}, 9) >= {_PLANTED_STRONG}
),
eedges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM epairs
  UNION ALL SELECT id_b AS src, id_a AS dst FROM epairs
),
reach(id, r) AS (
  SELECT src, src FROM eedges
  UNION
  SELECT g.src, reach.r FROM eedges g JOIN reach ON g.dst = reach.id
),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT emb.vec_id AS id, coalesce(cc.cluster_id, emb.vec_id) AS cluster_id
FROM embeddings emb LEFT JOIN cc ON emb.vec_id = cc.id"""


def _ann_bucket_sql() -> str:
    bits = " || ".join(
        "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"CAST({p} AS DOUBLE[])) >= 0 THEN '1' ELSE '0' END)"
        for p in _ann_planes()
    )
    return f"SELECT vec_id, {bits} AS bucket FROM embeddings"


_WINNOW_W = 4


def q_winnow_fps(spark, sf_dir):
    """MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken 2004):
    rightmost-min of each w-window of shingle hashes — localized
    sub-document fingerprints for partial-overlap detection."""
    from fuzzycat_spark.operators.winnow import winnow_fingerprints

    return winnow_fingerprints(
        _docs(spark, sf_dir), "doc_id", "text", k=SHINGLE_N, w=_WINNOW_W
    ).select(F.col("id").alias("doc_id"), "fp", "pos")


def _winnow_sel_cte() -> str:
    """CTEs reproducing winnow_fingerprints: ordered shingles with
    position -> 40-bit-hash/20-bit-inverted-pos pack -> rightmost-min per
    w-window -> unpack. All-BIGINT arithmetic, bit-identical to Spark."""
    pm, hm = 1 << 20, 1 << 40
    return f"""
wt AS (SELECT doc_id, {_SLUG} AS slug FROM documents),
wtok AS (
  SELECT doc_id, CASE WHEN slug = '' THEN []::VARCHAR[]
                      ELSE string_split(slug, ' ') END AS toks
  FROM wt
),
wshl AS (
  SELECT doc_id, CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
    ELSE [array_to_string(toks[i:i+{SHINGLE_N - 1}], ' ')
          for i in range(1, greatest(len(toks) - {SHINGLE_N - 1}, 1) + 1)]
    END AS sarr
  FROM wtok
),
wexp AS (
  SELECT doc_id,
    unnest([{{'p': i - 1, 's': sarr[i]}} for i in range(1, len(sarr) + 1)]) AS u
  FROM wshl
),
wpacked AS (
  SELECT doc_id, u.p AS pos,
    (('0x' || substr(md5(u.s), 1, 16))::UBIGINT % {hm})::BIGINT * {pm}
      + ({pm - 1} - u.p) AS pack
  FROM wexp
  WHERE u.p < {pm - 1}
),
wsel AS (
  SELECT DISTINCT doc_id, win // {pm} AS fp, {pm - 1} - (win % {pm}) AS pos
  FROM (
    SELECT doc_id, pos,
      min(pack) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS win,
      count(*) OVER (PARTITION BY doc_id) AS n_sh
    FROM wpacked
  ) WHERE pos <= n_sh - {_WINNOW_W} OR (n_sh < {_WINNOW_W} AND pos = 0)
)"""


def _winnow_fps_sql() -> str:
    return f"WITH {_winnow_sel_cte()} SELECT doc_id, fp, pos FROM wsel"


_SUBSTR_K = 25


def q_substring_pairs(spark, sf_dir):
    """Exact-substring containment (suffix-array-style guarantee): probe =
    first token k-gram, index = all k-grams, contains() confirmation.
    Uncapped here so the result equals the O(n^2) oracle definition; the
    pipeline default applies the hot-bucket cap."""
    from fuzzycat_spark.operators.substring import exact_substring_pairs

    return exact_substring_pairs(
        _docs(spark, sf_dir), "doc_id", "text", k=_SUBSTR_K, max_bucket_size=None
    )


_FILTER_MIN_TOK = 10
_FILTER_MIN_QUALITY = 0.5
_FILTER_LANGS = ("en", "de", "fr", "es", "it", "pt")


_FILTER_MIN_CHARS = 20  # non-Latin admission: the ascii-slug token count
# is meaningless for CJK text, so the length screen is codepoints


def q_corpus_filter(spark, sf_dir):
    """The training-data keep decision: compose token count, quality
    score, language-ID, script detection, and the default web-boilerplate
    denylist into a single filter — the downstream consumer of the
    text-analysis operators. Returns the KEPT docs with the signals that
    admitted them. Denylisted slugs (error pages, auth walls, placeholder
    chrome — functions/denylist.py) are dropped regardless of scores.
    Non-Latin docs are admitted by SCRIPT (the lang-ID dictionary and the
    stopword-based quality score are Latin-trained, so only a
    codepoint-length screen applies to them)."""
    from fuzzycat_spark.functions.denylist import WEB_BOILERPLATE_DENYLIST
    from fuzzycat_spark.functions.text import NON_LATIN_SCRIPTS, script_of

    q = q_quality(spark, sf_dir).select("doc_id", "n_tokens", "quality")
    l = q_lang_id(spark, sf_dir)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        slug_text("text").alias("_slug"),
        script_of(F.col("text")).alias("script"),
        F.length("text").alias("_nchars"),
    ).filter(~F.col("_slug").isin(*WEB_BOILERPLATE_DENYLIST))
    latin_ok = (
        (F.col("n_tokens") >= _FILTER_MIN_TOK)
        & (F.col("quality") >= _FILTER_MIN_QUALITY)
        & F.col("lang_pred").isin(*_FILTER_LANGS)
    )
    non_latin_ok = F.col("script").isin(*NON_LATIN_SCRIPTS) & (
        F.col("_nchars") >= _FILTER_MIN_CHARS
    )
    return (
        q.join(l, on="doc_id")
        .join(d, on="doc_id")
        .filter(latin_ok | non_latin_ok)
        .select("doc_id", "lang_pred", "script", "n_tokens", "quality")
    )


def _script_case_sql(text_expr: str = "text") -> str:
    """DuckDB mirror of functions.text.script_of: per-class
    regexp_extract_all counts, argmax with the same tie precedence."""
    from fuzzycat_spark.functions.text import SCRIPT_CLASSES

    counts = {
        name: f"len(regexp_extract_all({text_expr}, '{cls}'))"
        for name, cls in SCRIPT_CLASSES
    }
    best = "greatest(" + ", ".join(counts.values()) + ")"
    arms = " ".join(
        f"WHEN {counts[name]} = best THEN '{name}'" for name, _ in SCRIPT_CLASSES
    )
    return f"""(SELECT CASE WHEN best > 0 THEN (CASE {arms} END) ELSE 'und' END
  FROM (SELECT {best} AS best))"""


def _corpus_filter_sql() -> str:
    from fuzzycat_spark.functions.denylist import WEB_BOILERPLATE_DENYLIST
    from fuzzycat_spark.functions.text import NON_LATIN_SCRIPTS

    langs = ", ".join(repr(x) for x in _FILTER_LANGS)
    deny = ", ".join(repr(x) for x in WEB_BOILERPLATE_DENYLIST)
    nls = ", ".join(repr(x) for x in NON_LATIN_SCRIPTS)
    return f"""
WITH q AS ({_QUALITY_SQL}), l AS ({_lang_vote_sql()}),
d AS (SELECT doc_id, slug, {_script_case_sql()} AS script, length(text) AS nchars
      FROM (SELECT doc_id, text, {_SLUG} AS slug FROM documents)
      WHERE slug NOT IN ({deny}))
SELECT q.doc_id, l.lang_pred, d.script, q.n_tokens, q.quality
FROM q JOIN l ON q.doc_id = l.doc_id
JOIN d ON q.doc_id = d.doc_id
WHERE (q.n_tokens >= {_FILTER_MIN_TOK}
       AND q.quality >= {_FILTER_MIN_QUALITY}
       AND l.lang_pred IN ({langs}))
   OR (d.script IN ({nls}) AND d.nchars >= {_FILTER_MIN_CHARS})"""


_UNICODE_FIXTURE = f"{FIXTURES}/unicode_docs.parquet"


def q_unicode_slug(spark, sf_dir):
    """Full-Unicode slug keys (NFKD + category strip + lowercase) over the
    committed non-Latin fixture corpus (Greek/Cyrillic/CJK/accented-Latin
    dup families — the shapes the ASCII fold keys on lossy residue). The
    oracle reads the fixture's `uslug` column, precomputed by the SCALAR
    slugifier at generation time, so this checks the distributed
    Arrow-batched UDF path row-for-row against the scalar reference."""
    from fuzzycat_spark.functions.normalize import unicode_slugify_udf

    return spark.read.parquet(_UNICODE_FIXTURE).select(
        "doc_id", unicode_slugify_udf(F.col("text")).alias("uslug")
    )


def q_components_unicode(spark, sf_dir):
    """End-to-end NON-LATIN dedup through the full pipeline: dedup_pages
    with slug_mode="unicode" (NFKD slug UDF + CJK-bigram tokens) over the
    committed Greek/Cyrillic/CJK/accented-Latin fixture — exact/slug star
    edges plus the unicode-aware SimHash strategy, verify cascade,
    connected components. The oracle rebuilds the same clusters from the
    fixture's precomputed scalar `uslug` column (the `unicode_slug` case
    checks UDF == scalar row-for-row; this one checks that the CLUSTERS
    land end-to-end, not just the keys)."""
    df = spark.read.parquet(_UNICODE_FIXTURE).select("doc_id", "text")
    cfg = DedupConfig(
        id_col="doc_id",
        text_col="text",
        strategies=("exact", "slug", "simhash"),
        slug_mode="unicode",
        max_bucket_size=MAX_BUCKET,
    )
    _, assign = dedup_pages(df, cfg)
    return assign


# DuckDB/RE2 class mirroring normalize.CJK_CLASS (no-space scripts)
_CJK_SQL = r"[぀-ヿ㐀-䶿一-鿿가-힯\x{F900}-\x{FAFF}\x{20000}-\x{3FFFF}]"


def _components_unicode_sql() -> str:
    """Oracle for q_components_unicode: unicode tokens come from the
    fixture's precomputed `uslug` (scalar slugifier output), CJK tokens
    are bigram-expanded exactly like expand_cjk_bigrams (fixture tokens
    are single-script runs, so plain per-token bigrams == run-split
    bigrams), then the same simhash-chunk candidates + verify cascade +
    star edges + recursive-CC as the ALL-strategy oracle."""
    return f"""WITH RECURSIVE f AS (
  SELECT doc_id, text, uslug FROM '{_UNICODE_FIXTURE}'
),
tok0 AS (
  SELECT doc_id, text, uslug,
         CASE WHEN uslug IS NULL OR uslug = '' THEN []::VARCHAR[]
              ELSE string_split(uslug, ' ') END AS rawtoks
  FROM f
),
tok AS (
  SELECT doc_id, text, uslug,
         flatten(list_transform(rawtoks, t ->
           CASE WHEN regexp_matches(t, '{_CJK_SQL}') AND length(t) >= 2
                THEN list_transform(range(1, length(t)), i -> substr(t, CAST(i AS INT), 2))
                ELSE [t] END)) AS toks
  FROM tok0
),
sh AS (
  SELECT *, CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
    ELSE list_distinct([array_to_string(toks[i:i+{SHINGLE_N - 1}], ' ')
                        for i in range(1, greatest(len(toks) - {SHINGLE_N - 1}, 1) + 1)])
    END AS shingles
  FROM tok
),
sh_fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS fp
  FROM (
    SELECT doc_id, j,
           sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
    FROM (SELECT doc_id, ('0x' || substr(md5(tkn), 1, 8))::BIGINT AS hv
          FROM (SELECT doc_id, unnest(toks) AS tkn FROM tok))
    CROSS JOIN (SELECT unnest(range(32)) AS j) bb
    GROUP BY doc_id, j
  ) GROUP BY doc_id
),
all_bands AS (
  SELECT doc_id, 'sh' || CAST(j AS VARCHAR) AS band_id,
         CAST((fp >> (j * 8)) & 255 AS VARCHAR) AS band_hash
  FROM sh_fp CROSS JOIN (SELECT unnest(range(4)) AS j) jj
  WHERE fp >= 0
),
bkt_ok AS (
  SELECT band_id, band_hash FROM all_bands
  GROUP BY band_id, band_hash HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}
),
abr AS (SELECT all_bands.* FROM all_bands JOIN bkt_ok USING (band_id, band_hash)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM abr a JOIN abr b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
),
feats AS (
  SELECT doc_id, md5(text) AS ch, uslug AS slug,
         regexp_replace(uslug, '[0-9]+', '<NUM>', 'g') AS nproj, toks,
         list_distinct(toks) AS tokset, shingles,
         CAST(len(toks) AS BIGINT) AS n_tok,
         CAST(NULL AS VARCHAR) AS lang
  FROM sh
),
pairrows AS (
  SELECT c.id_a, c.id_b,
         a.ch AS a_ch, b.ch AS b_ch, a.slug AS a_slug, b.slug AS b_slug,
         a.nproj AS a_nproj, b.nproj AS b_nproj,
         a.tokset AS a_tokset, b.tokset AS b_tokset,
         a.shingles AS a_sh, b.shingles AS b_sh,
         a.n_tok AS a_n_tok, b.n_tok AS b_n_tok,
         a.lang AS a_lang, b.lang AS b_lang
  FROM cand c
  JOIN feats a ON c.id_a = a.doc_id
  JOIN feats b ON c.id_b = b.doc_id
),
verified AS (
  SELECT id_a, id_b, v[1] AS status, v[2] AS reason
  FROM (SELECT id_a, id_b, {_VERIFY_CASE} AS v FROM pairrows)
),
star_exact AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, md5(text) AS kk FROM f WHERE text IS NOT NULL) a
  JOIN (SELECT doc_id, md5(text) AS kk FROM f WHERE text IS NOT NULL) b USING (kk)
  WHERE a.doc_id < b.doc_id
),
star_slug AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, slug FROM feats WHERE slug IS NOT NULL AND n_tok >= {SHORT_TOKENS}
          AND md5(slug) NOT IN ({_DENY_IN})) a
  JOIN (SELECT doc_id, slug FROM feats WHERE slug IS NOT NULL AND n_tok >= {SHORT_TOKENS}
          AND md5(slug) NOT IN ({_DENY_IN})) b
    ON a.slug = b.slug
  WHERE a.doc_id < b.doc_id
),
edges0 AS (
  SELECT id_a, id_b FROM verified WHERE status IN ('exact', 'strong')
  UNION SELECT * FROM star_exact
  UNION SELECT * FROM star_slug
),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM edges0
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT f.doc_id AS id, coalesce(cc.cluster_id, f.doc_id) AS cluster_id
FROM f LEFT JOIN cc ON f.doc_id = cc.id"""


_DENY_FIXTURE = f"{FIXTURES}/denylist_docs.parquet"

_DENY_CFG = DedupConfig(
    id_col="doc_id",
    text_col="text",
    strategies=("exact", "slug", "minhash"),
    num_perm=NUM_PERM,
    bands=BANDS,
    rows=ROWS,
    shingle_n=SHINGLE_N,
    max_bucket_size=MAX_BUCKET,
)


def q_denylist_pairs(spark, sf_dir):
    """The DEFAULT web denylist exercised with real pairs (sf0.001 holds
    no denylisted slug). The committed fixture plants two denylisted
    slug families whose near-identical token streams DO collide in MinHash
    bands: the cascade must answer ambiguous/BLACKLISTED (never
    SLUG_MATCH), byte-identical junk must still link via CONTENT_HASH
    stars, and a real slug family must keep its SLUG_MATCH star edge."""
    df = spark.read.parquet(_DENY_FIXTURE)
    verified, _ = dedup_pages(df, _DENY_CFG)
    return verified.select("id_a", "id_b", "status", "reason")


def q_components_denylist(spark, sf_dir):
    """Cluster assignments over the denylist fixture: denylisted families
    must NOT collapse into slug clusters (only the byte-identical pair
    links), the real family must cluster fully."""
    df = spark.read.parquet(_DENY_FIXTURE)
    _, assign = dedup_pages(df, _DENY_CFG)
    return assign


# min-id star edges of the key-equality strategies (operators/dedup.
# star_edges) over `t`/`tok` of _BASE_CTES: each member of a content-hash
# or slug-key group links to the group's min id; slug stars need
# SHORT_TOKENS tokens and a key off the default denylist
_STAR_CTES = f"""dstar_exact AS (
  SELECT least(rep, doc_id) AS id_a, greatest(rep, doc_id) AS id_b,
         'exact' AS status, 'CONTENT_HASH' AS reason
  FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
        FROM t WHERE text IS NOT NULL)
  WHERE doc_id != rep
),
dstar_slug AS (
  SELECT least(rep, doc_id) AS id_a, greatest(rep, doc_id) AS id_b,
         'exact' AS status, 'SLUG_MATCH' AS reason
  FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(slug)) AS rep
        FROM tok
        WHERE slug IS NOT NULL AND len(toks) >= {SHORT_TOKENS}
          AND md5(slug) NOT IN ({_DENY_IN}))
  WHERE doc_id != rep
)"""


def _denylist_ctes() -> str:
    """Shared oracle CTEs reproducing dedup_pages over the denylist
    fixture: MinHash band candidates (capped) -> cascade (with the
    BLACKLISTED rule), min-id star edges for content-hash and
    (denylist-filtered) slug keys, then per-pair priority dedup —
    the same composition operators/dedup.dedup_stages runs."""
    return f"""documents AS (SELECT doc_id, text, lang FROM '{_DENY_FIXTURE}'),
{_BAND_CTES},
dbucket_ok AS (
  SELECT band_id, band_hash FROM band_rows
  GROUP BY band_id, band_hash HAVING count(*) <= {MAX_BUCKET}
),
dbr AS (SELECT band_rows.* FROM band_rows JOIN dbucket_ok USING (band_id, band_hash)),
nearcand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM dbr a JOIN dbr b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
),
feats AS (
  SELECT doc_id, md5(text) AS ch, slug, {_NPROJ} AS nproj, toks,
         list_distinct(toks) AS tokset, shingles,
         CAST(len(toks) AS BIGINT) AS n_tok, lang
  FROM sh
),
pairrows AS (
  SELECT c.id_a, c.id_b,
         a.ch AS a_ch, b.ch AS b_ch, a.slug AS a_slug, b.slug AS b_slug,
         a.nproj AS a_nproj, b.nproj AS b_nproj,
         a.tokset AS a_tokset, b.tokset AS b_tokset,
         a.shingles AS a_sh, b.shingles AS b_sh,
         a.n_tok AS a_n_tok, b.n_tok AS b_n_tok,
         a.lang AS a_lang, b.lang AS b_lang
  FROM nearcand c
  JOIN feats a ON c.id_a = a.doc_id
  JOIN feats b ON c.id_b = b.doc_id
),
near_verified AS (
  SELECT id_a, id_b, v[1] AS status, v[2] AS reason
  FROM (SELECT id_a, id_b, {_VERIFY_CASE} AS v FROM pairrows)
),
{_STAR_CTES},
verified AS (
  SELECT id_a, id_b, status, reason FROM (
    SELECT *, row_number() OVER (PARTITION BY id_a, id_b ORDER BY
      CASE reason WHEN 'CONTENT_HASH' THEN 0 WHEN 'SLUG_MATCH' THEN 1 ELSE 2 END,
      reason) AS rn
    FROM (SELECT * FROM near_verified
          UNION ALL SELECT * FROM dstar_exact
          UNION ALL SELECT * FROM dstar_slug)
  ) WHERE rn = 1
)"""


def _denylist_pairs_sql() -> str:
    return f"WITH {_denylist_ctes()} SELECT id_a, id_b, status, reason FROM verified"


def _components_denylist_sql() -> str:
    return f"""WITH RECURSIVE {_denylist_ctes()},
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM verified WHERE status IN ('exact', 'strong')
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM verified WHERE status IN ('exact', 'strong')
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id AS id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN cc ON d.doc_id = cc.id"""


_NYSIIS_FIXTURE = f"{FIXTURES}/nysiis_docs.parquet"

_NYSIIS_CFG = DedupConfig(
    id_col="doc_id",
    text_col="text",
    strategies=("nysiis",),
    name_col="author",
    max_bucket_size=MAX_BUCKET,
)


def q_nysiis_pairs(spark, sf_dir):
    """The nysiis phonetic blocking strategy END-TO-END: candidates come only from
    equal NYSIIS full-name keys computed by the Arrow-batched UDF, then
    the text cascade verifies. The oracle blocks on the fixture's
    PRECOMPUTED scalar nysiis column (the state machine has no SQL form
    — the uslug-column trick), so UDF == scalar is pinned through the
    whole distributed pipeline: homophone authors with near-dup text
    link, homophone authors with unrelated text get cascade-rejected,
    null/digits-only authors never block."""
    df = spark.read.parquet(_NYSIIS_FIXTURE)
    verified, _ = dedup_pages(df, _NYSIIS_CFG)
    return verified.select("id_a", "id_b", "status", "reason")


def q_components_nysiis(spark, sf_dir):
    """Cluster assignments over the homophone fixture: the Smith and
    MacDonald families collapse, the rejected-candidates and
    never-blocked docs stay singletons."""
    df = spark.read.parquet(_NYSIIS_FIXTURE)
    _, assign = dedup_pages(df, _NYSIIS_CFG)
    return assign


def _nysiis_ctes() -> str:
    """Shared oracle CTEs: nysiis-key equality candidates (from the
    committed scalar `nkey` column, null/empty filtered, bucket-capped
    like every approximate strategy) -> the verify cascade."""
    return f"""documents AS (
  SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang FROM '{_NYSIIS_FIXTURE}'
),
{_BASE_CTES},
nk AS (
  SELECT doc_id, nkey FROM '{_NYSIIS_FIXTURE}'
  WHERE nkey IS NOT NULL AND nkey != ''
),
nkok AS (SELECT nkey FROM nk GROUP BY nkey HAVING count(*) <= {MAX_BUCKET}),
ncand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM nk a JOIN nkok USING (nkey) JOIN nk b USING (nkey)
  WHERE a.doc_id < b.doc_id
),
feats AS (
  SELECT doc_id, md5(text) AS ch, slug, {_NPROJ} AS nproj, toks,
         list_distinct(toks) AS tokset, shingles,
         CAST(len(toks) AS BIGINT) AS n_tok, lang
  FROM sh
),
pairrows AS (
  SELECT c.id_a, c.id_b,
         a.ch AS a_ch, b.ch AS b_ch, a.slug AS a_slug, b.slug AS b_slug,
         a.nproj AS a_nproj, b.nproj AS b_nproj,
         a.tokset AS a_tokset, b.tokset AS b_tokset,
         a.shingles AS a_sh, b.shingles AS b_sh,
         a.n_tok AS a_n_tok, b.n_tok AS b_n_tok,
         a.lang AS a_lang, b.lang AS b_lang
  FROM ncand c
  JOIN feats a ON c.id_a = a.doc_id
  JOIN feats b ON c.id_b = b.doc_id
),
verified AS (
  SELECT id_a, id_b, v[1] AS status, v[2] AS reason
  FROM (SELECT id_a, id_b, {_VERIFY_CASE} AS v FROM pairrows)
)"""


def _nysiis_pairs_sql() -> str:
    return f"WITH {_nysiis_ctes()} SELECT id_a, id_b, status, reason FROM verified"


def _components_nysiis_sql() -> str:
    return f"""WITH RECURSIVE {_nysiis_ctes()},
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM verified WHERE status IN ('exact', 'strong')
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM verified WHERE status IN ('exact', 'strong')
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id AS id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
FROM '{_NYSIIS_FIXTURE}' d LEFT JOIN cc ON d.doc_id = cc.id"""


_LEV_FIXTURE = f"{FIXTURES}/lev_docs.parquet"


def q_lev_pairs(spark, sf_dir):
    """The tier-4 edit-distance verify rules END-TO-END over the committed
    typo-noise corpus (fixture doc: tools/make_lev_fixture.py). Candidates
    are ALL unordered pairs — the unit under test is the cascade itself,
    like the 318-golden-pair metadata parity test, so blocking recall cannot mask
    a rule regression. The corpus plants pairs where alternating per-word
    typos destroy every shingle and most tokens (only the bounded-prefix
    Levenshtein rule links them), a word-reversed+typo pair only the
    token-sorted form links, and controls for every earlier cascade arm,
    so this case pins the FULL reason surface non-vacuously."""
    df = spark.read.parquet(_LEV_FIXTURE)
    prep = prepare_pages(df, "doc_id", "text")
    ids = df.select("doc_id")
    pairs = ids.select(F.col("doc_id").alias("id_a")).join(
        F.broadcast(ids.select(F.col("doc_id").alias("id_b"))),
        F.col("id_a") < F.col("id_b"),
    )
    return verify_pairs(pairs, prep).select("id_a", "id_b", "status", "reason")


def lev_pairs_sql() -> str:
    return f"""WITH documents AS (
  SELECT doc_id, text, lang FROM '{_LEV_FIXTURE}'
),
{_BASE_CTES},
feats AS (
  SELECT doc_id, md5(text) AS ch, slug, {_NPROJ} AS nproj, toks,
         list_distinct(toks) AS tokset, shingles,
         CAST(len(toks) AS BIGINT) AS n_tok, lang
  FROM sh
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
),
pairrows AS (
  SELECT c.id_a, c.id_b,
         a.ch AS a_ch, b.ch AS b_ch, a.slug AS a_slug, b.slug AS b_slug,
         a.nproj AS a_nproj, b.nproj AS b_nproj,
         a.tokset AS a_tokset, b.tokset AS b_tokset,
         a.shingles AS a_sh, b.shingles AS b_sh,
         a.n_tok AS a_n_tok, b.n_tok AS b_n_tok,
         a.lang AS a_lang, b.lang AS b_lang
  FROM cand c
  JOIN feats a ON c.id_a = a.doc_id
  JOIN feats b ON c.id_b = b.doc_id
)
SELECT id_a, id_b, v[1] AS status, v[2] AS reason
FROM (SELECT id_a, id_b, {_VERIFY_CASE} AS v FROM pairrows)"""


_HTML_FIXTURE = f"{FIXTURES}/html_docs.parquet"


def q_extract_text(spark, sf_dir):
    """The html→text extractor against its golden column: the distributed
    Arrow-batched UDF (sources/html_extract.py — comment strip, fixpoint
    boilerplate-subtree drop, block segmentation, entity decode) over the
    committed messy-page fixture. The oracle reads the fixture's `etext`
    column, precomputed by the SCALAR extractor at generation time
    (tools/make_html_fixture.py) — UDF == scalar row-for-row, the same
    golden pattern as unicode_slug."""
    from fuzzycat_spark.sources.html_extract import extract_text_udf

    return spark.read.parquet(_HTML_FIXTURE).select(
        "doc_id", extract_text_udf(F.col("html")).alias("etext")
    )


def q_page_directives(spark, sf_dir):
    """Page-level indexing directives (sources/html_extract.py
    page_directives_udf): robots meta noindex/nofollow (multi-tag union,
    'none' expansion, attr order/quoting agnostic, commented-out markup
    ignored) + first rel=canonical href — the publisher opt-out a crawl
    pipeline must honor and the publisher's own dedup hint. These live in
    the <head> the text extractor drops, so they are their own bounded
    regex pass over the raw bytes. Golden-column oracle: the fixture's
    noindex/nofollow/canonical were precomputed by the SCALAR
    page_directives at generation time (tools/make_html_fixture.py), so
    this checks the distributed Arrow-batched struct UDF row-for-row."""
    from fuzzycat_spark.sources.html_extract import page_directives_udf

    return spark.read.parquet(_HTML_FIXTURE).select(
        "doc_id", page_directives_udf(F.col("html")).alias("d")
    ).select("doc_id", "d.noindex", "d.nofollow", "d.canonical")


def q_page_meta(spark, sf_dir):
    """Head-metadata catalog pass (sources/html_extract.py
    page_meta_cols): title / meta description (both attribute orders) /
    charset / first h1 as PURE whole-stage-codegen regexps over the raw
    bytes — zero UDFs, zero shuffles, the per-page cost a 10^12-page
    catalog scan can afford. Two-engine oracle: DuckDB runs the
    IDENTICAL pattern strings (Java-regex ∩ RE2 subset) over the same
    fixture, including the comment-strip
    pre-pass (a commented-out <title> must not win on either engine)."""
    from fuzzycat_spark.sources.html_extract import page_meta_cols

    return spark.read.parquet(_HTML_FIXTURE).select(
        "doc_id", *page_meta_cols(F.col("html"))
    )


def _page_meta_sql() -> str:
    from fuzzycat_spark.sources import html_extract as hx

    def q(pat: str) -> str:
        return "'" + pat.replace("'", "''") + "'"

    def clean(expr: str) -> str:
        return f"trim(regexp_replace({expr}, {q(hx.PM_WS_RE)}, ' ', 'g'))"

    d1 = f"regexp_extract(s, {q(hx.PM_DESC_NAME_FIRST_RE)}, 1)"
    d2 = f"regexp_extract(s, {q(hx.PM_DESC_CONTENT_FIRST_RE)}, 1)"
    return f"""
WITH h AS (
  SELECT doc_id,
         regexp_replace(decode(html), {q(hx.PM_COMMENT_RE)}, '', 'g') AS s
  FROM '{_HTML_FIXTURE}'
)
SELECT doc_id,
  {clean(f"regexp_extract(s, {q(hx.PM_TITLE_RE)}, 1)")} AS title,
  {clean(f"CASE WHEN {d1} <> '' THEN {d1} ELSE {d2} END")} AS meta_description,
  lower(regexp_extract(s, {q(hx.PM_CHARSET_RE)}, 1)) AS charset,
  {clean(f"regexp_extract(s, {q(hx.PM_H1_RE)}, 1)")} AS h1
FROM h"""


_WARC_FIXTURE = f"{FIXTURES}/sample.warc.gz"
_WARC_EXPECTED = f"{FIXTURES}/warc_expected.parquet"


def q_warc_scan(spark, sf_dir):
    """Common-Crawl WARC ingestion (sources/warc.py): paths-only
    binaryFile listing → pyarrow.fs-streamed, Content-Length-driven
    record parsing in mapInPandas (per-record gzip members, the CC
    layout). The oracle is the golden table built from the SAME literals
    the committed archive was generated from (tools/make_warc_fixture.py)
    — url/timestamp/status/content-type plus a sha256 over every parsed
    payload, so a single shifted byte anywhere fails the case."""
    from fuzzycat_spark.sources.warc import read_warc

    return (
        read_warc(spark, _WARC_FIXTURE)
        .select(
            "url",
            "warc_ts",
            "http_status",
            "content_type",
            F.sha2(F.col("html"), 256).alias("payload_sha"),
            "n_bytes",
        )
    )


def _surt_host_col_sql(h1: str) -> str:
    """DuckDB SURT host from a cleaned (lowercased, www/default-port
    stripped) host expression — mirrors functions/urls.surt_host, same
    shape as _SURT_CTE."""
    return (
        f"array_to_string(list_reverse(string_split("
        f"regexp_replace({h1}, ':[0-9]+$', ''), '.')), ',')"
        f" || regexp_extract({h1}, '(:[0-9]+)$', 1)"
    )


def q_script_id(spark, sf_dir):
    """Script detection over the committed mixed-script fixture
    (Greek/Cyrillic/CJK/accented-Latin/plain ascii): majority codepoint
    class per doc — the router that sends non-Latin corpora to
    slug_mode='auto''s unicode path and feeds corpus_filter's
    script-aware admission."""
    from fuzzycat_spark.functions.text import script_of

    return spark.read.parquet(_UNICODE_FIXTURE).select(
        "doc_id", script_of(F.col("text")).alias("script")
    )


def q_streaming_pairs(spark, sf_dir):
    """The streaming surface against the batch oracle: drain the documents
    table as a real file-source stream (readStream → foreachBatch →
    availableNow) through run_incremental_dedup's crash-atomic epoch
    state, then return the COMMITTED pairs exactly as a downstream
    consumer would read them (read_pairs honors the commit pointer).
    One epoch == one batch here, so the oracle is the batch semantics:
    min-id star edges for the key strategies plus the cascade over the
    capped MinHash candidates, which `test_incremental_equals_batch_dedup`
    extends to the multi-batch case."""
    import os
    import shutil

    from fuzzycat_spark.streaming.dedup_stream import (
        read_pairs,
        run_incremental_dedup,
    )

    base = tempfile.mkdtemp(prefix="fuzzycat_stream_")
    docs = _docs(spark, sf_dir)
    # the file source requires a DIRECTORY; sf dirs ship single-file
    # tables, so stage the file(s) into one (all files -> ONE availableNow
    # epoch, matching the oracle's single-batch semantics)
    src_dir = os.path.join(base, "src")
    os.makedirs(src_dir)
    table = f"{sf_dir}/documents.parquet"
    if os.path.isdir(table):
        for name in os.listdir(table):
            if name.endswith(".parquet"):
                shutil.copy(os.path.join(table, name), src_dir)
    else:
        shutil.copy(table, src_dir)
    stream = spark.readStream.schema(docs.schema).parquet(src_dir)
    index, pairs = f"{base}/index", f"{base}/pairs"
    q = run_incremental_dedup(stream, index, pairs, f"{base}/ckpt", DOC_CFG)
    q.awaitTermination(600)
    out = read_pairs(spark, pairs, index)
    assert out is not None, "streaming drain committed no epoch"
    return out


def _streaming_pairs_sql() -> str:
    """Oracle for q_streaming_pairs: one availableNow epoch over the whole
    table == the batch semantics — min-id star edges for exact/slug key
    bands (slug honoring the SHORT_TOKENS screen), CONTENT_HASH winning
    the per-pair priority, and the verify cascade over the capped MinHash
    candidates that are not already star-linked."""
    return f"""WITH {_BAND_CTES},
bucket_ok AS (
  SELECT band_id, band_hash FROM band_rows
  GROUP BY band_id, band_hash HAVING count(*) <= {MAX_BUCKET}
),
br AS (SELECT band_rows.* FROM band_rows JOIN bucket_ok USING (band_id, band_hash)),
lsh_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM br a JOIN br b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
),
feats AS (
  SELECT doc_id, md5(text) AS ch, slug, {_NPROJ} AS nproj, toks,
         list_distinct(toks) AS tokset, shingles,
         CAST(len(toks) AS BIGINT) AS n_tok, lang
  FROM sh
),
star_raw AS (
  SELECT least(rep, doc_id) AS id_a, greatest(rep, doc_id) AS id_b,
         'CONTENT_HASH' AS reason, 0 AS prio
  FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
        FROM t WHERE text IS NOT NULL)
  WHERE doc_id != rep
  UNION ALL
  SELECT least(rep, doc_id) AS id_a, greatest(rep, doc_id) AS id_b,
         'SLUG_MATCH' AS reason, 1 AS prio
  FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(slug)) AS rep
        FROM feats WHERE slug IS NOT NULL AND n_tok >= {SHORT_TOKENS})
  WHERE doc_id != rep
),
star_all AS (
  SELECT id_a, id_b, 'exact' AS status, reason FROM (
    SELECT *, row_number() OVER (PARTITION BY id_a, id_b ORDER BY prio) AS rn
    FROM star_raw
  ) WHERE rn = 1
),
near AS (
  SELECT l.id_a, l.id_b FROM lsh_cand l
  ANTI JOIN star_all s ON l.id_a = s.id_a AND l.id_b = s.id_b
),
pairrows AS (
  SELECT c.id_a, c.id_b,
         a.ch AS a_ch, b.ch AS b_ch, a.slug AS a_slug, b.slug AS b_slug,
         a.nproj AS a_nproj, b.nproj AS b_nproj,
         a.tokset AS a_tokset, b.tokset AS b_tokset,
         a.shingles AS a_sh, b.shingles AS b_sh,
         a.n_tok AS a_n_tok, b.n_tok AS b_n_tok,
         a.lang AS a_lang, b.lang AS b_lang
  FROM near c
  JOIN feats a ON c.id_a = a.doc_id
  JOIN feats b ON c.id_b = b.doc_id
),
verified AS (
  SELECT id_a, id_b, v[1] AS status, v[2] AS reason
  FROM (SELECT id_a, id_b, {_VERIFY_CASE} AS v FROM pairrows)
)
SELECT id_a, id_b, status, reason FROM verified
UNION ALL
SELECT id_a, id_b, status, reason FROM star_all"""


def q_streaming_assignments(spark, sf_dir):
    """Incremental cluster assignments over a genuinely MULTI-EPOCH drain:
    the documents table is split into three files by doc_id hash and
    streamed with maxFilesPerTrigger=1, so the incremental path must link
    families ACROSS epochs (stream-static index joins, historical star
    reps, cross-epoch component merges through streaming/assignments.py's
    reduced-label-graph CC) and still land on exactly the batch
    assignments — which is what the oracle computes (single-table
    semantics; every band bucket in this corpus is far below the cap, so
    epoch order cannot change the pair set). Star representatives differ
    per epoch from the batch ones, but star edges are component-
    equivalent by key transitivity; `read_assignments` resolves the
    append-only label state through the composed remap snapshot."""
    import os

    from fuzzycat_spark.streaming.assignments import read_assignments
    from fuzzycat_spark.streaming.dedup_stream import run_incremental_dedup

    base = tempfile.mkdtemp(prefix="fuzzycat_assign_")
    docs = _docs(spark, sf_dir)
    src_dir = os.path.join(base, "src")
    os.makedirs(src_dir)
    # three deterministic shards -> three availableNow epochs
    for shard in range(3):
        docs.filter(F.abs(F.hash("doc_id")) % 3 == shard).coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(base, f"tmp{shard}"))
        for name in os.listdir(os.path.join(base, f"tmp{shard}")):
            if name.endswith(".parquet"):
                os.rename(
                    os.path.join(base, f"tmp{shard}", name),
                    os.path.join(src_dir, f"shard{shard}.parquet"),
                )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    index, pairs = f"{base}/index", f"{base}/pairs"
    q = run_incremental_dedup(stream, index, pairs, f"{base}/ckpt", DOC_CFG)
    q.awaitTermination(600)
    out = read_assignments(spark, index)
    assert out is not None, "streaming drain committed no epoch"
    return out


def _streaming_assignments_sql() -> str:
    """Oracle for q_streaming_assignments: the batch components over the
    streaming pair semantics — reuse _streaming_pairs_sql's CTE chain
    verbatim (so both cases stay pinned to the same pair model) and
    wrap it in the recursive-CTE connected components + singleton join."""
    pair_sql = _streaming_pairs_sql()
    tail = """SELECT id_a, id_b, status, reason FROM verified
UNION ALL
SELECT id_a, id_b, status, reason FROM star_all"""
    assert pair_sql.endswith(tail), "streaming pair oracle changed shape"
    body = pair_sql[: -len(tail)].rstrip() + ",\n"
    assert body.startswith("WITH ")
    return (
        "WITH RECURSIVE " + body[len("WITH "):]
        + """edges0 AS (
  SELECT id_a, id_b FROM verified WHERE status IN ('exact', 'strong')
  UNION
  SELECT id_a, id_b FROM star_all
),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM edges0
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id AS id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN cc ON d.doc_id = cc.id"""
    )


def q_lang_stats(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


_MULTILANG_FIXTURE = f"{FIXTURES}/multilang_docs.parquet"


def q_lang_id_script(spark, sf_dir):
    """Script-conditional language ID over the committed mixed-script
    fixture (ja/zh/ko/ru/uk/bg/sr/el/he/th/hi/ar/fa/ur + Latin stopword
    languages + und abstentions): the BATCH plan — script_of routes each
    doc, non-Latin docs are labeled by pure-codegen letter inventories
    and skip the stopword dictionary join entirely; only latin/und docs
    pay the explode + broadcast join (functions/text.py:lang_id_script_col).
    Ground-truth accuracy is asserted in tests/test_functions.py; this
    case checks that the Spark plan and the DuckDB mirror agree
    rule-for-rule."""
    from fuzzycat_spark.functions.text import lang_id_table

    df = spark.read.parquet(_MULTILANG_FIXTURE)
    return lang_id_table(df, "doc_id", "text", script_aware=True)


def _lang_id_script_sql() -> str:
    """DuckDB mirror of lang_id_script_col's dispatch: the script case,
    the per-script single-language map, the cyrillic distinctive-letter
    argmax (ties/zero → und), the arabic precedence chain, and the Latin
    stopword vote — every constant imported from functions.text so the
    two engines cannot drift."""
    from fuzzycat_spark.functions.text import (
        ARABIC_LANG_CHAIN,
        CYRILLIC_LANG_CHARS,
        SCRIPT_SINGLE_LANG,
    )

    cyr_votes = {
        lang: f"len(regexp_extract_all(text, '{cls}'))"
        for lang, cls in CYRILLIC_LANG_CHARS
    }
    cyr_best = "greatest(" + ", ".join(cyr_votes.values()) + ")"
    cyr_nbest = " + ".join(
        f"CASE WHEN {v} = {cyr_best} THEN 1 ELSE 0 END" for v in cyr_votes.values()
    )
    cyr_pick = "CASE " + " ".join(
        f"WHEN {v} = {cyr_best} THEN '{lang}'" for lang, v in cyr_votes.items()
    ) + " END"
    cyr = (
        f"CASE WHEN {cyr_best} > 0 AND ({cyr_nbest}) = 1 "
        f"THEN {cyr_pick} ELSE 'und' END"
    )
    ar = "CASE " + " ".join(
        f"WHEN len(regexp_extract_all(text, '{cls}')) > 0 THEN '{lang}'"
        for lang, cls in ARABIC_LANG_CHAIN
    ) + " ELSE 'ar' END"
    single = "CASE script " + " ".join(
        f"WHEN '{s}' THEN '{lang}'" for s, lang in SCRIPT_SINGLE_LANG
    ) + " ELSE 'und' END"
    return f"""
WITH documents AS (SELECT doc_id, text FROM '{_MULTILANG_FIXTURE}'),
v AS ({_lang_vote_sql()}),
s AS (SELECT doc_id, text, {_script_case_sql()} AS script FROM documents)
SELECT s.doc_id,
  CASE WHEN s.script IN ('latin', 'und') THEN v.lang_pred
       WHEN s.script = 'cyrillic' THEN {cyr}
       WHEN s.script = 'arabic' THEN {ar}
       ELSE {single} END AS lang_pred
FROM s JOIN v ON s.doc_id = v.doc_id"""


CASES = {
    "exact_dup_pairs": (
        q_exact_dup_pairs,
        f"WITH {_BASE_CTES},\n{_STAR_CTES}\nSELECT id_a, id_b FROM dstar_exact",
    ),
    "slug_dup_pairs": (
        q_slug_dup_pairs,
        f"WITH {_BASE_CTES},\n{_STAR_CTES}\nSELECT id_a, id_b FROM dstar_slug",
    ),
    "cluster_size_histogram": (
        q_cluster_size_histogram,
        """
            SELECT cluster_size, count(*) AS n_clusters FROM (
              SELECT md5(text) AS k, count(*) AS cluster_size FROM documents GROUP BY 1
            ) GROUP BY cluster_size""",
    ),
    "token_count": (
        q_token_count,
        f"""
            SELECT doc_id,
              CAST(CASE WHEN slug = '' THEN 0 ELSE len(string_split(slug, ' ')) END AS BIGINT) AS n_tokens
            FROM (SELECT doc_id, {_SLUG} AS slug FROM documents)""",
    ),
    "token_count_bpe": (
        q_token_count_bpe,
        r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe_tokens
            FROM documents""",
    ),
    "lang_id": (q_lang_id, _lang_vote_sql()),
    "quality": (q_quality, _QUALITY_SQL),
    "url_canonical": (q_url_canonical, _URL_CANONICAL_SQL),
    "url_dup_pairs": (q_url_dup_pairs, _URL_DUP_PAIRS_SQL),
    "tracking_params": (q_tracking_params, _tracking_params_sql()),
    "url_canonical_mined": (q_url_canonical_mined, _url_canonical_mined_sql()),
    "crawler_traps": (q_crawler_traps, _crawler_traps_sql()),
    "fingerprint": (
        q_fingerprint,
        f"""
            WITH {_BASE_CTES}
            SELECT doc_id,
              CASE WHEN len(shingles) = 0 THEN md5('')
                   ELSE list_min(list_transform(shingles, s -> md5(s))) END AS fp
            FROM sh""",
    ),
    "simhash": (q_simhash, _SIMHASH_SQL),
    "minhash_sigs": (
        q_minhash_sigs,
        f"""
            WITH {_SIG_CTES}
            SELECT doc_id, CAST(perm_id AS BIGINT) AS perm_id, sig FROM sigs""",
    ),
    "lsh_bands": (
        q_lsh_bands,
        f"""
            WITH {_BAND_CTES}
            SELECT doc_id, band_id, band_hash FROM band_rows""",
    ),
    "lsh_candidates": (
        q_lsh_candidates,
        f"""
            WITH {_BAND_CTES},
            bucket_ok AS (
              SELECT band_id, band_hash FROM band_rows
              GROUP BY band_id, band_hash HAVING count(*) <= {MAX_BUCKET}
            ),
            br AS (SELECT band_rows.* FROM band_rows JOIN bucket_ok USING (band_id, band_hash))
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM br a JOIN br b USING (band_id, band_hash)
            WHERE a.doc_id < b.doc_id""",
    ),
    "ngram_jaccard": (
        q_ngram_jaccard,
        f"""
            WITH {_BAND_CTES},
            bucket_ok AS (
              SELECT band_id, band_hash FROM band_rows
              GROUP BY band_id, band_hash HAVING count(*) <= {MAX_BUCKET}
            ),
            br AS (SELECT band_rows.* FROM band_rows JOIN bucket_ok USING (band_id, band_hash)),
            lsh_cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM br a JOIN br b USING (band_id, band_hash)
              WHERE a.doc_id < b.doc_id
            ),
            scored AS (
              SELECT c.id_a, c.id_b,
                     CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) = 0
                          THEN 0.0
                          ELSE len(list_intersect(a.shingles, b.shingles))
                               / len(list_distinct(list_concat(a.shingles, b.shingles)))
                     END AS j
              FROM lsh_cand c
              JOIN sh a ON c.id_a = a.doc_id
              JOIN sh b ON c.id_b = b.doc_id
            )
            SELECT id_a, id_b, round(j, 6) AS jac FROM scored
            WHERE round(j, 9) >= {_NGRAM_JACCARD_T}""",
    ),
    "candidates": (
        q_candidates,
        f"""
            WITH {_CAND_CTES}
            SELECT id_a, id_b FROM cand""",
    ),
    "verified_pairs": (
        q_verified_pairs,
        f"""
            WITH {_VERIFIED_CTES}
            SELECT id_a, id_b, status, reason FROM verified""",
    ),
    "components": (q_components, _CC_SQL),
    "components_loop": (loop_only(q_components), _CC_SQL),
    "canonical_docs": (
        q_canonical_docs,
        f"""
            WITH assignments AS ({_CC_SQL}),
            q AS ({_QUALITY_SQL})
            SELECT cluster_id, canonical_id, n_members, quality FROM (
              SELECT a.cluster_id, a.id AS canonical_id, q.quality,
                count(*) OVER (PARTITION BY a.cluster_id) AS n_members,
                row_number() OVER (
                  PARTITION BY a.cluster_id ORDER BY q.quality DESC, a.id ASC
                ) AS rn
              FROM assignments a JOIN q ON a.id = q.doc_id
            ) WHERE rn = 1""",
    ),
    "components_all": (q_components_all, _components_all_sql()),
    "components_embedding": (q_components_embedding, _components_embedding_sql()),
    "dup_stats": (
        q_dup_stats,
        f"""
            WITH assignments AS ({_CC_SQL})
            SELECT cluster_size, count(*) AS n_clusters FROM (
              SELECT cluster_id, count(*) AS cluster_size FROM assignments GROUP BY 1
            ) GROUP BY cluster_size""",
    ),
    "knn": (q_knn, _KNN_SQL),
    "similar_embeddings": (q_similar_embeddings, _SIMILAR_PAIRS_SQL),
    "ann_buckets": (q_ann_buckets, _ann_bucket_sql()),
    "lang_stats": (
        q_lang_stats,
        """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   round(avg(n_chars), 6) AS avg_chars
            FROM documents GROUP BY lang""",
    ),
    "substring_pairs": (
        q_substring_pairs,
        f"""
            WITH s AS (
              SELECT doc_id, slug FROM (SELECT doc_id, {_SLUG} AS slug FROM documents)
              WHERE slug != '' AND len(string_split(slug, ' ')) >= {_SUBSTR_K}
            )
            SELECT a.doc_id AS id_in, b.doc_id AS id_of
            FROM s a JOIN s b ON a.doc_id != b.doc_id
            WHERE strpos(b.slug, a.slug) > 0""",
    ),
    "winnow_fps": (q_winnow_fps, _winnow_fps_sql()),
    "corpus_filter": (q_corpus_filter, _corpus_filter_sql()),
    "page_directives": (
        q_page_directives,
        f"""
            SELECT doc_id, noindex, nofollow, canonical
            FROM '{_HTML_FIXTURE}'""",
    ),
    "canonical_pairs": (q_canonical_pairs, _CANONICAL_PAIRS_SQL),
    "unicode_slug": (
        q_unicode_slug,
        f"""
            SELECT doc_id, uslug FROM '{_UNICODE_FIXTURE}'""",
    ),
    "components_unicode": (q_components_unicode, _components_unicode_sql()),
    "streaming_pairs": (q_streaming_pairs, _streaming_pairs_sql()),
    "streaming_assignments": (q_streaming_assignments, _streaming_assignments_sql()),
    "script_id": (
        q_script_id,
        f"""
            SELECT doc_id, {_script_case_sql()} AS script
            FROM '{_UNICODE_FIXTURE}'""",
    ),
    "extract_text": (
        q_extract_text,
        f"""
            SELECT doc_id, etext FROM '{_HTML_FIXTURE}'""",
    ),
    "warc_scan": (
        q_warc_scan,
        f"""
            SELECT url, warc_ts, http_status, content_type, payload_sha,
                   n_bytes
            FROM '{_WARC_EXPECTED}'""",
    ),
    "denylist_pairs": (q_denylist_pairs, _denylist_pairs_sql()),
    "components_denylist": (q_components_denylist, _components_denylist_sql()),
    "components_embedding_planted": (
        q_components_embedding_planted,
        _components_embedding_planted_sql(),
    ),
    "page_meta": (q_page_meta, _page_meta_sql()),
    "lang_id_script": (q_lang_id_script, _lang_id_script_sql()),
    "nysiis_pairs": (q_nysiis_pairs, _nysiis_pairs_sql()),
    "lev_pairs": (q_lev_pairs, lev_pairs_sql()),
    "components_nysiis": (q_components_nysiis, _components_nysiis_sql()),
}

# sf0.001 holds no exact or slug duplicate pair, so these two cases run over
# sf0.001 plus planted copies (see `planted_sf`)
PLANTED = ("exact_dup_pairs", "slug_dup_pairs")


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def canon(rows, cols):
    return sorted(",".join(_norm_cell(r[c]) for c in cols) for r in rows)


@pytest.fixture(scope="module")
def planted_sf(tmp_path_factory):
    """A documents table of sf0.001 plus ten exact copies (doc_id % 50 == 0,
    new ids + 1000) and ten slug-equal variants (doc_id % 50 == 25, new ids
    + 2000: upper-cased text with trailing punctuation, so the content hash
    differs and the slug does not)."""
    out = tmp_path_factory.mktemp("planted_sf") / "documents.parquet"
    src = f"'{SF}/documents.parquet'"
    duckdb.connect().sql(f"""
        COPY (
          SELECT * FROM {src}
          UNION ALL
          SELECT * REPLACE (doc_id + 1000 AS doc_id) FROM {src}
          WHERE doc_id % 50 = 0
          UNION ALL
          SELECT * REPLACE (doc_id + 2000 AS doc_id, upper(text) || ' !!' AS text)
          FROM {src} WHERE doc_id % 50 = 25
        ) TO '{out}' (FORMAT parquet)""")
    return str(out.parent)


def compare(spark, name, spark_fn, sql, sf):
    """Run `spark_fn` over the tables of `sf` and `sql` in DuckDB over the
    same parquet files; require the same column names, row count and
    values, with at least one row."""
    sdf = spark_fn(spark, sf)
    cols = sorted(sdf.columns)
    srows = [r.asDict() for r in sdf.collect()]

    con = duckdb.connect()
    for table in sorted(Path(sf).glob("*.parquet")):
        con.sql(f"CREATE VIEW {table.stem} AS SELECT * FROM '{table}'")
    ddf = con.sql(sql)
    drows = [dict(zip(ddf.columns, row)) for row in ddf.fetchall()]

    assert sorted(ddf.columns) == cols
    assert len(srows) == len(drows)
    assert srows, f"{name} compares no rows"
    assert canon(srows, cols) == canon(drows, cols)


@pytest.mark.parametrize("name", list(CASES))
def test_oracle(spark, name, planted_sf, tmp_path, monkeypatch):
    spark_fn, sql = CASES[name]
    # the streaming cases stage their inputs and state under mkdtemp()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    compare(spark, name, spark_fn, sql, planted_sf if name in PLANTED else SF)
