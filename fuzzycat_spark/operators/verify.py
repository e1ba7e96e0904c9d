"""Pairwise verification cascade for web pages.

Re-targets fuzzycat's `verify(a, b) -> (status, reason)` first-match-wins
rule cascade (`/root/reference/fuzzycat/verify.py:154-617`, ~42 rules over
publication metadata) to the web-page payload, per the north star:

| reference rule family                      | web analog here               |
|--------------------------------------------|-------------------------------|
| DOI/work_id equality → EXACT               | content-hash equality         |
| SHORT_TITLE screens (verify.py:186-187)    | empty/short text screens      |
| title-slug equality → EXACT/STRONG         | slug equality                 |
| NUM_DIFF digit projection (verify.py:491)  | digit-projected slug equality |
| TITLE_ARTIFACT containment (verify.py:608) | shingle-containment ratio     |
| author jaccard (verify.py:575-578)         | shingle/token jaccard         |

Status enum mirrors `/root/reference/fuzzycat/common.py:4-16`:
exact | strong | weak | different | ambiguous.

The whole cascade is ONE Catalyst `when` chain — first-match-wins is
short-circuit evaluation inside whole-stage codegen, exactly the early-exit
ordering the reference hand-tuned (§4 of SURVEY.md). No Python in the pair
loop; the strict suffix-style substring check is the only optional UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fuzzycat_spark.functions.denylist import DEFAULT_DENYLIST_KEYS, denylisted
from fuzzycat_spark.functions.hashing import content_hash, md5_h64
from fuzzycat_spark.functions.normalize import num_project, word_shingles_from_tokens
from fuzzycat_spark.plans.checkpoint import materialize

# thresholds (the shingle/signature config that recall is measured at)
CONTAINMENT_MIN_RATIO = 0.8
STRONG_JACCARD = 0.7
WEAK_JACCARD = 0.4
SHORT_TOKENS = 5
SHINGLE_N = 3
# tier-4 edit-distance rules (reference analog: fuzzycat's token-ratio /
# Levenshtein verify checks on normalized fields, verify.py:480-520) run
# over BOUNDED slug prefixes so the DP cost is a constant per pair and
# the feature checkpoint stays fixed-width: ratio >= 0.9 over the first
# 96 normalized chars. LEV_MAX_EDITS bounds Spark's banded levenshtein
# (ratio >= 0.9 over <=96 chars implies distance <= 9, so 10 is lossless).
LEV_PFX = 96
LEV_STRONG_RATIO = 0.9
LEV_MAX_EDITS = int(LEV_PFX * (1 - LEV_STRONG_RATIO)) + 1


def _gen_barrier(df: DataFrame, keep: list[str], struct: Column) -> DataFrame:
    """Append `struct`'s fields as attributes behind a Generate barrier.

    explode(array(struct(...))) is a Generate node: it evaluates the struct
    ONCE per row, and neither CollapseProject nor higher-order-function
    lambda capture can fold downstream expressions back into it — each
    field becomes a real attribute. Shuffle-free, codegen-friendly; the
    in-stage replacement for materializing intermediate tables.
    """
    g = df.select(*keep, F.explode(F.array(struct)).alias("_g"))
    return g.select(*keep, "_g.*")


def prepare_pages(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    slug_mode: str = "ascii",
    with_token_hashes: bool = False,
    emb_col: str | None = None,
    out_path: str | None = None,
) -> DataFrame:
    """Single-stage materialized document preparation shared by blocking
    and verification: scan → slug/tokens → shingles/tokset → hashed forms,
    one parquet checkpoint of FIXED-WIDTH columns only.

    Staging is load-bearing, not cosmetic: higher-order-function lambdas
    re-evaluate captured expressions per array element, so computing
    shingles directly over the slug/split expression costs O(L^2) regex
    work per document (measured 13x on a 105k-doc corpus). Round 1 staged
    through TWO parquet round-trips; the Generate barriers (_gen_barrier)
    give the same evaluate-once guarantee inside ONE stage, so the only
    write is the final feature checkpoint — and that checkpoint carries no
    string arrays at all: the pair join and the band table consume hashed
    forms (set intersections are hash-invariant, equality becomes key
    equality), so at 100 TB the checkpoint and every downstream shuffle
    move int64 arrays and md5 keys, never tokens or shingles.

    `emb_col` carries an embedding column through as `_emb`, so the
    embedding tier scores candidates from the feature rows.

    `out_path` writes the features there (overwrite) instead of to an
    ephemeral checkpoint, and returns the re-read: a stream epoch's
    feature state is this write.
    """
    lang = (
        F.col("lang") if "lang" in df.columns else F.lit(None).cast("string")
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_text"),
        lang.alias("lang"),
        *([F.col(emb_col).alias("_emb")] if emb_col else []),
    )
    carry = ["id", "_text", "lang"] + (["_emb"] if emb_col else [])
    # barrier 1: slug evaluated once. slug_mode="ascii" (default) stays
    # pure-Catalyst; "unicode"/"auto" opt into the full NFKD/category
    # slugifier (space-preserving pandas UDF) so non-Latin corpora key on
    # real content instead of the ASCII fold's lossy residue. The dispatch
    # lives in slug_for_mode — the SAME expression simhash/substring use,
    # so every strategy agrees on normalization per mode.
    from fuzzycat_spark.functions.normalize import slug_for_mode

    slug_expr = slug_for_mode(F.col("_text"), slug_mode)
    s1 = _gen_barrier(
        base,
        carry,
        F.struct(slug_expr.alias("slug")),
    )
    # barrier 2: token array from the slug attribute
    toks_expr = F.when(
        F.col("slug") == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.col("slug"), " "))
    s2 = _gen_barrier(
        s1,
        [*carry, "slug"],
        F.struct(toks_expr.alias("toks")),
    )
    if slug_mode in ("unicode", "auto"):
        # barrier 2b: unicode-aware modes additionally split
        # no-space-script (CJK) runs into character bigrams — without
        # this a CJK document is ONE unsplittable token that trips the
        # SHORT_TEXT screen and yields no shingles at all. Own barrier so
        # the expansion reads the materialized token attribute (the HOF
        # lambda would otherwise re-evaluate the split per element).
        from fuzzycat_spark.functions.normalize import expand_cjk_bigrams

        s2 = _gen_barrier(
            s2.withColumnRenamed("toks", "_rawtoks"),
            [*carry, "slug"],
            F.struct(expand_cjk_bigrams(F.col("_rawtoks")).alias("toks")),
        )
    # barrier 3: shingles/tokset from the token attribute
    s3 = _gen_barrier(
        s2,
        [*carry, "slug", "toks"],
        F.struct(
            word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("shingles"),
            F.array_distinct(F.col("toks")).alias("tokset"),
        ),
    )
    shingles, tokset = F.col("shingles"), F.col("tokset")
    cols = [
        F.col("id"),
        content_hash(F.col("_text")).alias("ch"),
        F.col("lang"),
        F.size(F.col("toks")).alias("n_tok"),
        F.md5(F.col("slug").cast("binary")).alias("slug_key"),
        F.md5(num_project(F.col("slug")).cast("binary")).alias("nproj_key"),
        # ONE hash pass per shingle: the md5-derived int64 doubles as the
        # MinHash base hash (oracle-reproducible) AND the verify
        # intersection element (jaccard is invariant under any consistent
        # per-element hash) — no second xxhash64 array is stored
        F.transform(shingles, md5_h64).alias("shingles_h"),
        F.transform(tokset, lambda t: F.xxhash64(t)).alias("tokset_h"),
        # bounded normalized-string prefixes for the edit-distance verify
        # rules: raw slug order (LEVENSHTEIN) and token-sorted order
        # (TOKEN_SORT_RATIO, word-order invariant). Capped at LEV_PFX
        # chars these are fixed-width scalars, so the no-string-ARRAYS
        # checkpoint property still holds. The slice before the join is a
        # pure cost cut, not a semantic one: the first 96 chars of the
        # joined string come from at most 49 tokens (each token
        # contributes >= 1 char + separator), so joining the full sorted
        # array only to truncate it built a multi-KB string per doc for
        # nothing.
        F.substring(F.col("slug"), 1, LEV_PFX).alias("slug_pfx"),
        F.substring(
            F.array_join(F.slice(F.sort_array(tokset), 1, LEV_PFX), " "),
            1,
            LEV_PFX,
        ).alias("tsort_pfx"),
    ]
    if with_token_hashes:
        # per-token 32-bit hashes WITH duplicates (term-frequency weight)
        # — lets the simhash strategy fingerprint off this checkpoint
        # instead of re-scanning and re-tokenizing the raw text (a second
        # pandas-UDF pass under unicode modes). Still a fixed-width int64
        # array, so the no-string-arrays checkpoint property holds.
        from fuzzycat_spark.functions.hashing import token_hashes32

        cols.append(token_hashes32(F.col("toks")).alias("tok_h32"))
    if emb_col:
        cols.append(F.col("_emb"))
    out = s3.select(*cols)
    if out_path is None:
        return materialize(out, "prep_features")
    out.write.mode("overwrite").parquet(out_path)
    return out.sparkSession.read.schema(out.schema).parquet(out_path)


def _tier1_rules(
    denylist_keys: tuple[str, ...] = (),
) -> list[tuple[Column, str, str]]:
    """Cascade rules 1-6: scalar comparisons over the NARROW feature
    columns (content hash, token count, slug/nproj keys) — no arrays.
    The denylist screen sits before SLUG_MATCH, mirroring the reference's
    title-blacklist rule preceding its slug verdicts (verify.py:188-189 →
    ambiguous/"blacklisted"): boilerplate slug equality ("404 not found")
    is meaningless, but byte-identical junk still dedupes via rule 1."""
    a_ch, b_ch = F.col("a_ch"), F.col("b_ch")
    empty = (
        F.col("a_n_tok").isNull()
        | F.col("b_n_tok").isNull()
        | (F.col("a_n_tok") == 0)
        | (F.col("b_n_tok") == 0)
    )
    short = (F.col("a_n_tok") < SHORT_TOKENS) | (F.col("b_n_tok") < SHORT_TOKENS)
    rules = [
        (a_ch.isNotNull() & (a_ch == b_ch), "exact", "CONTENT_HASH"),
        (empty, "ambiguous", "EMPTY_TEXT"),
        (short, "ambiguous", "SHORT_TEXT"),
    ]
    if denylist_keys:
        rules.append(
            (
                denylisted("a_slug_key", denylist_keys)
                | denylisted("b_slug_key", denylist_keys),
                "ambiguous",
                "BLACKLISTED",
            )
        )
    rules += [
        (F.col("a_slug_key") == F.col("b_slug_key"), "exact", "SLUG_MATCH"),
        (F.col("a_nproj_key") == F.col("b_nproj_key"), "different", "NUM_DIFF"),
    ]
    return rules


def _jaccard_from_counts(i: Column, na: Column, nb: Column) -> Column:
    """|a∩b| / |a∪b| with |a∪b| = |a|+|b|-|a∩b| (arrays hold distinct
    hashes, so no array_union is ever built)."""
    union = (na + nb - i).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(i.cast("double") / union)


def _tier2_rules() -> list[tuple[Column, str, str]]:
    """Cascade rules 6-7 (shingle containment + strong shingle jaccard)
    over the `m.*` shingle intersect-count attributes."""
    m = F.col("m")
    jac_sh = _jaccard_from_counts(m.i, m.na, m.nb)
    min_sh = F.least(m.na, m.nb).cast("double")
    contain = F.when(min_sh <= 0, F.lit(0.0)).otherwise(
        m.i.cast("double") / min_sh
    )
    return [
        (
            (contain >= CONTAINMENT_MIN_RATIO) & (m.min_tok >= 10),
            "strong",
            "CONTAINMENT",
        ),
        (jac_sh >= STRONG_JACCARD, "strong", "SHINGLE_JACCARD"),
    ]


def _lev_ratio(a: Column, b: Column) -> Column:
    """Normalized Levenshtein similarity over two bounded prefixes:
    1 - dist/max(len). Spark's 3-arg levenshtein runs the banded DP and
    returns -1 past LEV_MAX_EDITS — lossless here because ratio >=
    LEV_STRONG_RATIO over <= LEV_PFX chars needs dist <= 9 < the band."""
    mx = F.greatest(F.length(a), F.length(b))
    d = F.levenshtein(a, b, LEV_MAX_EDITS)
    return F.when((mx == 0) | (d < 0), F.lit(0.0)).otherwise(
        F.lit(1.0) - d.cast("double") / mx.cast("double")
    )


def _tier3_rules() -> list[tuple[Column, str, str]]:
    """Cascade rules 8-12: token jaccard (the tokset arrays), the
    weak-shingle rule over the jac_sh scalar carried from tier 2, then the
    edit-distance last resort (fuzzycat's token-ratio/Levenshtein checks,
    verify.py:480-520, re-targeted to the page slug): heavy per-word typo
    noise destroys every shingle AND most tokens, so set rules miss pairs
    a character-level measure still catches — raw-prefix similarity first
    (LEVENSHTEIN), then the word-order-invariant token-sorted form
    (TOKEN_SORT_RATIO, fuzzywuzzy's token_sort over the distinct-token
    join), then the language screen.

    The lev ratios sit INSIDE the when-chain on purpose: CaseWhen codegen
    short-circuits, so the banded DP runs only for rows every set rule
    left unresolved (at most twice — status + reason chain). A measured
    alternative, a separate 4th tier with its own materialize + prefix
    join, cost +33% verify wall on the 1M campaign; this fusion keeps the
    cascade one terminal stage."""
    m = F.col("m")
    jac_tok = _jaccard_from_counts(m.i, m.na, m.nb)
    lev_r = _lev_ratio(m.a_pfx, m.b_pfx)
    ts_r = _lev_ratio(m.a_ts, m.b_ts)
    return [
        (jac_tok >= STRONG_JACCARD, "strong", "TOKEN_JACCARD"),
        (m.jac_sh >= WEAK_JACCARD, "weak", "SHINGLE_JACCARD_WEAK"),
        (lev_r >= LEV_STRONG_RATIO, "strong", "LEVENSHTEIN"),
        (ts_r >= LEV_STRONG_RATIO, "strong", "TOKEN_SORT_RATIO"),
        (m.lang_diff, "different", "LANGUAGE"),
    ]


def _when_chain(
    rules: list[tuple[Column, Column | str, Column | str]],
    default: tuple[Column, Column] | None,
) -> tuple[Column, Column]:
    status = None
    reason = None
    for cond, s, r in rules:
        status = F.when(cond, s) if status is None else status.when(cond, s)
        reason = F.when(cond, r) if reason is None else reason.when(cond, r)
    if default is None:
        return status, reason  # unresolved rows -> NULL
    return status.otherwise(default[0]), reason.otherwise(default[1])


def _pair_join(pairs: DataFrame, features: DataFrame, cols: list[str]) -> DataFrame:
    fa = features.select([F.col(c).alias(f"a_{c}") for c in cols])
    fb = features.select([F.col(c).alias(f"b_{c}") for c in cols])
    return (
        pairs.select("id_a", "id_b")
        .join(fa, on=F.col("id_a") == F.col("a_id"))
        .join(fb, on=F.col("id_b") == F.col("b_id"))
    )


def _open_join(todo: DataFrame, side: DataFrame, key: str, side_key: str) -> DataFrame:
    """Left join of one side's feature columns onto the pairs the earlier
    tiers left open (`status IS NULL`): closed pairs pass through with null
    feature columns, so they cross the join's shuffle as narrow rows."""
    return todo.join(
        side, (F.col(key) == F.col(side_key)) & F.col("status").isNull(), "left"
    )


def _array_tier(
    todo: DataFrame,
    features: DataFrame,
    arr_col: str,
    carry: list[str],
    extra: dict[str, str] | None = None,
) -> DataFrame:
    """Join ONE hash-array column (plus the `extra` feature columns, as
    `a_<name>`/`b_<name>`) for both sides of the OPEN pairs and expose
    intersect counts (i, na, nb), the carried scalars and the extras as
    `m.*` attributes behind a Generate barrier (explode of a 1-element
    struct array — a node CollapseProject cannot fold the downstream
    `when`-chains into; without it each measure re-runs per when-arm,
    measured ~15x the necessary per-pair CPU). Only intersections are
    materialized; unions are arithmetic (see _jaccard_from_counts). Every
    pair of `todo` comes out once, with its `status`/`reason` as they
    were."""
    extra = extra or {}

    def side(s: str) -> DataFrame:
        return features.select(
            F.col("id").alias(f"{s}_id"),
            F.col(arr_col).alias(f"{s}_arr"),
            *[F.col(c).alias(f"f_{s}_{n}") for n, c in extra.items()],
        )

    j = _open_join(_open_join(todo, side("a"), "id_a", "a_id"), side("b"), "id_b", "b_id")
    fields = [
        F.size(F.array_intersect(F.col("a_arr"), F.col("b_arr"))).alias("i"),
        F.size(F.col("a_arr")).alias("na"),
        F.size(F.col("b_arr")).alias("nb"),
        *[F.col(c).alias(c) for c in carry],
        *[F.col(f"f_{s}_{n}").alias(f"{s}_{n}") for n in extra for s in ("a", "b")],
    ]
    return j.select(
        "id_a", "id_b", "status", "reason",
        F.explode(F.array(F.struct(*fields))).alias("m"),
    )


def _kept() -> list[tuple[Column, Column, Column]]:
    """The first arm of every later tier: a verdict an earlier tier reached
    stands."""
    return [(F.col("status").isNotNull(), F.col("status"), F.col("reason"))]


def verify_pairs(
    pairs: DataFrame,
    features: DataFrame,
    denylist_keys: tuple[str, ...] | None = None,
) -> DataFrame:
    """(id_a, id_b, status, reason) for every candidate pair — the cascade
    as a THREE-TIER distributed plan with rule-for-rule identical
    semantics to the reference's early-exit ordering:

    - Tier 1 joins only scalar feature columns (content hash, slug/nproj
      keys, token count — ~60 B/side) and resolves cascade rules 1-6
      (including the denylist screen); in a dedup-heavy corpus that
      settles every exact/slug family.
    - Tier 2 joins the shingle-hash arrays and settles containment +
      strong shingle jaccard.
    - Tier 3 (terminal) joins the tokset-hash arrays plus the two bounded
      normalized prefixes: token jaccard, the weak-shingle rule over the
      jac_sh scalar carried from tier 2, the short-circuited edit-distance
      rules (LEVENSHTEIN, TOKEN_SORT_RATIO — the reference's
      token-ratio/Levenshtein checks), then the language screen;
      unresolved pairs default to ambiguous/UNKNOWN.

    One cascade, no materialization and no union: every pair flows through
    the three tiers once. Tiers 2 and 3 are LEFT joins whose condition
    includes `status IS NULL`, so the arrays ride only on the pairs the
    earlier tiers left open, and each tier's `when` chain keeps an earlier
    verdict as its first arm. The trade: closed pairs still cross the
    later tiers' shuffles, as narrow (id_a, id_b, status, reason) rows,
    in exchange for no per-tier write, re-read and union. Each tier's
    wide shuffle is bounded by the open fraction and one array family at
    a time: the 1M-doc profile measured 7.3 GB when every pair carried
    BOTH docs' full feature rows through one fat join.
    """
    if denylist_keys is None:
        denylist_keys = DEFAULT_DENYLIST_KEYS
    tier1_cols = ["id", "ch", "slug_key", "nproj_key", "n_tok", "lang"]
    j1 = _pair_join(pairs, features.select(*tier1_cols), tier1_cols)
    status1, reason1 = _when_chain(_tier1_rules(denylist_keys), None)
    t1 = j1.select(
        "id_a",
        "id_b",
        status1.alias("status"),
        reason1.alias("reason"),
        # later tiers need these scalars; carrying them on the pair rows
        # avoids extra feature joins
        F.least(F.col("a_n_tok"), F.col("b_n_tok")).alias("min_tok"),
        (
            F.col("a_lang").isNotNull()
            & F.col("b_lang").isNotNull()
            & (F.col("a_lang") != F.col("b_lang"))
        ).alias("lang_diff"),
    )

    m2 = _array_tier(t1, features, "shingles_h", ["min_tok", "lang_diff"])
    status2, reason2 = _when_chain(_kept() + _tier2_rules(), None)
    m = F.col("m")
    t2 = m2.select(
        "id_a",
        "id_b",
        status2.alias("status"),
        reason2.alias("reason"),
        _jaccard_from_counts(m.i, m.na, m.nb).alias("jac_sh"),
        m.lang_diff.alias("lang_diff"),
    )

    # terminal fused tier 3+4: ONE feature join carrying the tokset-hash
    # arrays AND the two bounded prefixes per side (~200 B extra per open
    # pair). The lev DPs live inside the when-chain and short-circuit
    # behind the set rules (_tier3_rules docstring).
    m3 = _array_tier(
        t2, features, "tokset_h", ["jac_sh", "lang_diff"],
        extra={"pfx": "slug_pfx", "ts": "tsort_pfx"},
    )
    status3, reason3 = _when_chain(
        _kept() + _tier3_rules(), (F.lit("ambiguous"), F.lit("UNKNOWN"))
    )
    return m3.select("id_a", "id_b", status3.alias("status"), reason3.alias("reason"))
