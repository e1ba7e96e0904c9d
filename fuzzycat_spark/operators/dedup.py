"""End-to-end dedup pipelines: blocking → candidates → verify → components.

The full graft of the reference's `cluster | verify` dataflow
(`/root/reference/notes/old_pipeline.md:13-27` + `fuzzycat/verify.py:100-147`)
onto web pages. Deterministic key-equality strategies (exact content
hash, slug key) link clusters via O(n) star edges (`star_edges`);
approximate strategies (MinHash-LSH, SimHash buckets) go through capped
pair expansion + the verify cascade; real connected components replace
"cluster = records sharing one key".

Every block key that crosses a shuffle is a fixed-width hash (md5/long),
never the raw slug/text — at 100 TB the shuffle payload is (id, key) only.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fuzzycat_spark.functions.denylist import DEFAULT_DENYLIST_KEYS, denylisted
from fuzzycat_spark.operators.lsh import (
    lsh_candidate_pairs,
    minhash_band_table,
    simhash_bucket_table,
)
from fuzzycat_spark.operators.components import connected_components
from fuzzycat_spark.plans.checkpoint import materialize
from fuzzycat_spark.operators.verify import prepare_pages, verify_pairs

EDGE_STATUSES = ("exact", "strong")  # statuses that link a cluster, like the
# reference's STATUS_SORT keep-set (/root/reference/fuzzycat/simple.py:40-47
# drops TODO/DIFFERENT; we additionally exclude weak/ambiguous from edges)


@dataclass
class DedupConfig:
    id_col: str = "url"
    text_col: str = "text"
    strategies: tuple[str, ...] = ("exact", "slug", "minhash")
    num_perm: int = 32
    bands: int = 16
    rows: int = 2
    shingle_n: int = 3
    max_bucket_size: int = 200
    simhash_band_bits: int = 8
    # "substring" strategy: guaranteed-recall containment candidates
    # (operators/substring.py) — catches short-doc-in-long-doc dups whose
    # jaccard is too low for any LSH band; min contained length in tokens
    substring_k: int = 25
    # slug normalization for keys/tokens/shingles: "ascii" (pure-Catalyst
    # fold, Latin corpora), "unicode" (NFKD/category-strip pandas UDF, the
    # reference sandcrawler normalizer's scope), or "auto" (per-row:
    # unicode for rows containing non-ASCII, ascii fold otherwise)
    slug_mode: str = "ascii"
    # "nysiis" strategy: phonetic blocking over a NAME column (the
    # reference ran NYSIIS as a first-class key algorithm,
    # notes/matching_metrics.md:13-14) — homophone families bucket
    # together, then the cascade verifies like any approximate strategy
    name_col: str | None = None
    # "winnow" strategy: winnowing fingerprints (SIGMOD'04) as band keys —
    # two docs sharing a token run of >= winnow_w + winnow_k - 1 are
    # GUARANTEED a common bucket, catching shared-paragraph partial
    # overlap whose whole-doc jaccard is below every LSH band's reach
    winnow_k: int = 3
    winnow_w: int = 4
    # "embedding" strategy: semantic near-dup via an embedding column —
    # hyperplane-LSH buckets generate candidates, and pairs whose cosine
    # >= embedding_strong get ('strong', 'EMBEDDING_COSINE') BEFORE the
    # text cascade (paraphrase dups have dissimilar text by definition,
    # so the text rules alone would refuse them). embedding_dim is
    # required with the strategy (schema carries no array length).
    embedding_col: str | None = None
    embedding_dim: int | None = None
    embedding_planes: int = 8
    embedding_strong: float = 0.9
    # boilerplate denylist (the graft of the reference's blacklist data,
    # data.py:12-34): md5 slug keys whose SLUG equality is meaningless —
    # they never form slug star edges, and the cascade marks their pairs
    # ambiguous/"BLACKLISTED" (byte-identical junk still dedupes via
    # CONTENT_HASH). Defaults to the committed web-boilerplate list; pass
    # () to disable, or your own denylist_slug_keys(...) tuple.
    denylist_keys: tuple[str, ...] | None = None
    # mega-cluster softener: when > 0, buckets over their cap are re-keyed
    # into this many salted shards BEFORE the cap filter, so a hot bucket
    # keeps ~1/salt_hot of its pairs (sharded) instead of yielding zero —
    # the shards reconnect through connected components when any member
    # links them. 0 (default) = capped buckets drop entirely, the
    # reference's max-cluster-size behavior (verify.py:130-131).
    salt_hot: int = 0
    # publisher-declared edges: when set, <link rel=canonical> hrefs in
    # this column (as sources/html_extract.page_directives extracts them)
    # become ('exact', 'CANONICAL_LINK') edges via
    # functions/urls.canonical_link_pairs — AMP/print/session variants
    # cluster with zero text comparison. canonical_url_col is the page-URL
    # column hrefs resolve against (defaults to id_col, which IS the url
    # in the web pipeline).
    canonical_col: str | None = None
    canonical_url_col: str | None = None
    edge_statuses: tuple[str, ...] = field(default_factory=lambda: EDGE_STATUSES)


# band id under which substring gram buckets keep their cumulative counts
# in `Prior.sizes` (gram buckets are probe-joined, never pair-expanded)
GRAM_BAND = "ssgram"

# the deterministic key-equality strategies: linked by `star_edges`, never
# by band rows, so no bucket cap applies to them
KEY_STRATEGIES = frozenset({"exact", "slug"})


@dataclass(frozen=True)
class Prior:
    """The committed state of earlier stream epochs: the prior input of
    `dedup_stages`. Batch passes none, which is the one-epoch case.

    - bands:    band rows (id, band_id, band_hash) of the approximate
                strategies
    - features: `prepare_pages` rows (with `_emb` for the embedding tier)
    - grams:    substring k-gram index rows (id, gh)
    - probes:   substring probe rows (id, gh0, slug)
    - sizes:    cumulative per-bucket counts (band_id, band_hash, n);
                gram buckets under band id GRAM_BAND
    """

    bands: DataFrame | None = None
    features: DataFrame | None = None
    grams: DataFrame | None = None
    probes: DataFrame | None = None
    sizes: DataFrame | None = None


def _deny(cfg: "DedupConfig") -> tuple[str, ...]:
    """Resolve cfg.denylist_keys (None -> the default web denylist)."""
    if cfg.denylist_keys is None:
        return DEFAULT_DENYLIST_KEYS
    return cfg.denylist_keys


def strategy_band_table(
    prep: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    pages: DataFrame | None = None,
) -> DataFrame:
    """(id, band_id, band_hash) rows for every enabled APPROXIMATE
    blocking strategy — the shared candidate-generation surface for the
    batch pipeline AND the streaming index (which persists these rows as
    its grow-only LSH state). The key-equality strategies (KEY_STRATEGIES)
    have no band rows: `star_edges` links them.

    Every bucket gets the same cap downstream, cfg.max_bucket_size.
    SimHash fingerprints off prep's per-token hashes
    (`prepare_pages(with_token_hashes=True)`); `pages` is only needed for
    the embedding, winnow and nysiis strategies.
    """
    tables = []
    if "minhash" in cfg.strategies:
        tables.append(
            minhash_band_table(
                prep, "id", cfg.text_col, cfg.num_perm, cfg.bands,
                cfg.rows, cfg.shingle_n, h64_col="shingles_h",
            ).select("id", F.col("band_id").cast("string").alias("band_id"), "band_hash")
        )
    if "simhash" in cfg.strategies:
        if "tok_h32" not in prep.columns:
            raise ValueError(
                "simhash strategy needs prep with tok_h32 "
                "(prepare_pages(..., with_token_hashes=True))"
            )
        tables.append(
            simhash_bucket_table(prep, cfg.simhash_band_bits).select(
                "id",
                F.concat(F.lit("sh"), F.col("band_id").cast("string")).alias("band_id"),
                "band_hash",
            )
        )
    if "embedding" in cfg.strategies:
        if pages is None or cfg.embedding_col is None or cfg.embedding_dim is None:
            raise ValueError(
                "embedding strategy needs the raw pages frame plus "
                "cfg.embedding_col and cfg.embedding_dim"
            )
        from fuzzycat_spark.operators.knn import (
            hyperplane_bucket_col,
            hyperplane_planes,
        )

        # seeded hyperplanes hash identically in every epoch, so a stream's
        # grow-only index and a batch run bucket the same vector alike
        planes = hyperplane_planes(cfg.embedding_dim, cfg.embedding_planes)
        tables.append(
            pages.select(
                F.col(cfg.id_col).alias("id"),
                F.lit("emb").alias("band_id"),
                hyperplane_bucket_col(F.col(cfg.embedding_col), planes).alias(
                    "band_hash"
                ),
            ).filter(F.col("band_hash").isNotNull())
        )
    if "winnow" in cfg.strategies:
        if pages is None:
            raise ValueError("winnow strategy needs the raw pages frame")
        from fuzzycat_spark.operators.winnow import winnow_fingerprints

        tables.append(
            winnow_fingerprints(
                pages, cfg.id_col, cfg.text_col, k=cfg.winnow_k, w=cfg.winnow_w,
                slug_mode=cfg.slug_mode,
            )
            .select(
                "id",
                F.lit("winnow").alias("band_id"),
                F.col("fp").cast("string").alias("band_hash"),
            )
            .distinct()
        )
    if "nysiis" in cfg.strategies:
        if pages is None or cfg.name_col is None:
            raise ValueError(
                "nysiis strategy needs the raw pages frame and cfg.name_col"
            )
        from fuzzycat_spark.functions.phonetic import nysiis_name_key

        tables.append(
            pages.select(
                F.col(cfg.id_col).alias("id"),
                F.lit("nysiis").alias("band_id"),
                nysiis_name_key(F.col(cfg.name_col)).alias("band_hash"),
            ).filter(F.col("band_hash").isNotNull() & (F.col("band_hash") != ""))
        )
    if not tables:
        raise ValueError(f"no approximate strategies enabled: {cfg.strategies}")
    bands = tables[0]
    for t in tables[1:]:
        bands = bands.unionByName(t)
    return bands


def _star_edges_for_key(
    members: DataFrame, key: str, reason: str, prior: DataFrame | None = None
) -> DataFrame:
    """member→representative edges for one equality key column: the min id
    of the key's `prior` members (earlier stream epochs) when it has any,
    else the min id of `members`. Edges are made for `members` only.

    groupBy + equi-join, NOT Window.partitionBy(key): the window form
    funnels an entire key group through one task — exactly the 10^6-copy
    hot-key case star edges exist to handle. The groupBy reduces map-side
    (one row per key per partition crosses the shuffle), and the join back
    is AQE-skew-splittable (the hot key's member partition splits, the
    single rep row replicates) or broadcast when the rep table is small.
    (A round-6 experiment unioning both key families through ONE
    groupBy+join measured consistently SLOWER on the 105k-doc e2e —
    per-family subplans it is.)
    """
    reps = members.groupBy(key).agg(F.min("id").alias("_rep"))
    if prior is not None:
        old = prior.groupBy(key).agg(F.min("id").alias("_old"))
        reps = reps.join(old, on=key, how="left").select(
            key, F.coalesce("_old", "_rep").alias("_rep")
        )
    return (
        members.join(reps, on=key)
        .filter(F.col("id") != F.col("_rep"))
        .select(
            F.least("_rep", "id").alias("id_a"),
            F.greatest("_rep", "id").alias("id_b"),
            F.lit("exact").alias("status"),
            F.lit(reason).alias("reason"),
        )
    )


def star_edges(
    prep: DataFrame, cfg: DedupConfig = DedupConfig(), prior: Prior | None = None
) -> DataFrame | None:
    """(id_a, id_b, status, reason) star edges for the DETERMINISTIC
    key-equality strategies: every member of a content-hash / slug-key
    group links to the group's min-id representative — the min over the
    prior feature rows when the key was seen in an earlier epoch.

    Key equality is transitive, so a group of n docs needs only n-1 edges
    for connected components to recover the full cluster — pair
    ENUMERATION (C(n,2)) is both unnecessary and the thing the bucket cap
    had to truncate. This is the hot-key answer for boilerplate mega-
    clusters (the reference's pathological case, `fuzzycat/__main__.py:
    220-223`): a 10^6-copy template page costs 10^6-1 edges, zero
    verification, no cap, full recall. Caps/salting remain on the
    APPROXIMATE (LSH) strategies, where a bucket collision is a
    hypothesis, not a verdict.

    Mirrors the cascade's rule order: CONTENT_HASH stars are
    unconditional (rule 1 precedes the length screens); SLUG_MATCH stars
    only cover docs the length screens would let through (empty/short
    docs fall to the pairwise cascade's ambiguous statuses, which never
    form edges).
    """
    from fuzzycat_spark.operators.verify import SHORT_TOKENS

    families = []
    if "exact" in cfg.strategies:
        families.append(("ch", "CONTENT_HASH", F.col("ch").isNotNull()))
    if "slug" in cfg.strategies:
        member = F.col("slug_key").isNotNull() & (F.col("n_tok") >= SHORT_TOKENS)
        deny = _deny(cfg)
        if deny:
            # denylisted slugs never star: a corpus full of "404 not
            # found" pages must not collapse into one SLUG_MATCH cluster
            member = member & ~denylisted("slug_key", deny)
        families.append(("slug_key", "SLUG_MATCH", member))
    if not families:
        return None
    old = prior.features if prior is not None else None
    outs = [
        _star_edges_for_key(
            prep.filter(member).select("id", key),
            key,
            reason,
            None if old is None else old.filter(member).select("id", key),
        )
        for key, reason, member in families
    ]
    out = outs[0]
    for t in outs[1:]:
        out = out.unionByName(t)
    return out


def index_rows(
    pages: DataFrame, prep: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame | None, DataFrame | None]:
    """(bands, grams): the candidate index rows of `pages` — the band table
    of the approximate strategies (`strategy_band_table`), and the
    substring k-gram rows (`substring_doc_grams`) when that strategy is
    on. The key-equality strategies have no index rows. A stream epoch
    persists both as its index state."""
    band_strategies = tuple(
        s for s in cfg.strategies if s not in KEY_STRATEGIES and s != "substring"
    )
    bands = grams = None
    if band_strategies:
        bands = strategy_band_table(
            prep, replace(cfg, strategies=band_strategies), pages=pages
        )
    if "substring" in cfg.strategies:
        from fuzzycat_spark.operators.substring import substring_doc_grams

        grams = substring_doc_grams(
            pages, cfg.id_col, cfg.text_col, k=cfg.substring_k,
            slug_mode=cfg.slug_mode,
        )
    return bands, grams


def index_candidates(
    bands: DataFrame | None,
    grams: DataFrame | None,
    cfg: DedupConfig,
    prior: Prior | None = None,
) -> DataFrame:
    """(id_a, id_b) candidates from one epoch's index rows (`index_rows`):
    bucket-capped pair expansion of the band table plus confirmed
    substring containment, against the `prior` epochs' rows when given
    (caps on cumulative sizes; only pairs with a new id)."""
    p = prior or Prior()
    sizes = p.sizes
    pairs = None
    if bands is not None:
        if cfg.salt_hot:
            from fuzzycat_spark.operators.lsh import salt_hot_buckets

            bands = salt_hot_buckets(bands, cfg.max_bucket_size, cfg.salt_hot)
        pairs = lsh_candidate_pairs(
            bands, cfg.max_bucket_size, prior_bands=p.bands, prior_sizes=sizes
        )
    if grams is not None:
        from fuzzycat_spark.operators.substring import substring_pairs

        ss = substring_pairs(
            grams,
            cfg.max_bucket_size,
            prior_grams=p.grams,
            prior_probes=p.probes,
            prior_sizes=None if sizes is None else sizes.filter(
                F.col("band_id") == GRAM_BAND
            ).select(F.col("band_hash").cast("long").alias("gh"), "n"),
        ).select(
            F.least(F.col("id_in"), F.col("id_of")).alias("id_a"),
            F.greatest(F.col("id_in"), F.col("id_of")).alias("id_b"),
        )
        pairs = ss.distinct() if pairs is None else pairs.unionByName(ss).distinct()
    if pairs is None:
        raise ValueError(f"no approximate strategies enabled: {cfg.strategies}")
    return pairs


def candidate_pairs(
    pages: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    prep: DataFrame | None = None,
) -> DataFrame:
    """The candidates of the approximate strategies — the plan's
    "candidates" stage for one epoch (`dedup_stages` builds it from the same
    `index_rows` + `index_candidates`). The key-equality strategies yield
    none here: `star_edges` links them.

    Every approximate strategy is just a (id, band_id, band_hash)
    generator; unioning the band *tables* before a single bucket-capped
    pair expansion replaces per-strategy join+distinct subplans with one
    shuffle + one distinct: same pair set, ~1/3 the stages.

    `prep` is the materialized table from `prepare_pages` — pass it when
    the caller also verifies, so normalization runs once for both phases.
    """
    if prep is None:
        prep = prepare_pages(
            pages, cfg.id_col, cfg.text_col, slug_mode=cfg.slug_mode,
            with_token_hashes="simhash" in cfg.strategies,
        )
    return index_candidates(*index_rows(pages, prep, cfg), cfg)


def dedup_stages(
    pages: DataFrame,
    cfg: DedupConfig,
    stage,
    cc_checkpointer=None,
    prior: Prior | None = None,
    prep_path: str | None = None,
) -> dict[str, DataFrame]:
    """THE dedup plan, parameterized over stage materialization and over
    the committed state of earlier epochs — the single source of truth
    shared by `dedup_pages` (ephemeral checkpoints),
    `plans.pipeline.run_dedup_pipeline` (named resumable checkpoints) and
    each epoch of `streaming.dedup_stream.incremental_dedup_batch`.
    `stage(name, build)` must materialize `build()` and return the re-read
    frame; `cc_checkpointer` optionally threads a StageCheckpointer into
    the CC loop so its per-iteration tables land in the resumable dir.

    `prep_path` is where `prepare_pages` writes the features (a stream
    epoch's feature state); None keeps its ephemeral checkpoint.

    `prior` is the committed state of a stream (`Prior`); batch passes
    none and is the one-epoch case. Three steps read it, and each reduces
    to its batch form when it is empty:
    - star edges: a key seen before keeps its prior min-id representative,
      and edges are made for the new ids only;
    - capped pair expansion: caps apply to cumulative bucket sizes, and
      only pairs with at least one new id are emitted;
    - substring candidates: new probes join new and prior grams, prior
      probes join new grams.
    Verification reads the new feature rows plus the prior ones of the
    candidates' ids. With a prior, the epoch's index rows also pass
    through `stage("bands")` / `stage("grams")` so the caller can persist
    them, and a caller that folds components itself may return None for
    "assignments".

    Plan shape (see the stage comments below): one materialized narrow
    preparation feeds blocking AND verification; deterministic key-equality
    strategies (exact hash, slug) link via O(n) star edges — no pair
    enumeration, no cap, full recall on boilerplate mega-clusters
    (`star_edges`; the reference's max-cluster-size drop, verify.py:130-131,
    is exactly what the stars replace); only the APPROXIMATE strategies go
    through capped pair expansion + the verify cascade, with the embedding
    cosine tier ahead of the text rules when enabled.

    Returns {"prepared", "bands"/"grams" (the epoch's index rows, None for
    strategies that have none), "candidates" (None when only key-equality
    strategies are enabled), "verified", "assignments"}.
    """
    emb_on = "embedding" in cfg.strategies and cfg.embedding_col is not None
    # narrow projection: no html/text payload past here (SURVEY §4's
    # "shuffle only verify columns"); the simhash strategy additionally
    # fingerprints off the prep token hashes, so raw text is scanned once
    prep = stage(
        "prepared",
        lambda: prepare_pages(
            pages, cfg.id_col, cfg.text_col, slug_mode=cfg.slug_mode,
            with_token_hashes="simhash" in cfg.strategies,
            emb_col=cfg.embedding_col if emb_on else None,
            out_path=prep_path,
        ),
    )
    stars = star_edges(prep, cfg, prior)
    bands = grams = cands = verified_near = None
    if set(cfg.strategies) - KEY_STRATEGIES:
        bands, grams = index_rows(pages, prep, cfg)
        if prior is not None:
            # a stream persists its index rows: one materialization feeds
            # the candidates and the state writes
            if bands is not None:
                bands = stage("bands", lambda b=bands: b)
            if grams is not None:
                grams = stage("grams", lambda g=grams: g)
        # materialize candidates before the feature joins: with the lazy
        # window+join+distinct plan inline, the verify joins get planned
        # without row statistics and run ~5x slower
        cands = stage(
            "candidates", lambda: index_candidates(bands, grams, cfg, prior)
        )
        feats = prep
        if prior is not None and prior.features is not None:
            # prior feature rows only for the ids that collided
            hit = cands.select(F.col("id_a").alias("id")).unionByName(
                cands.select(F.col("id_b").alias("id"))
            )
            feats = prep.unionByName(
                prior.features.join(hit, on="id", how="left_semi")
            )
        if emb_on:
            # embedding tier BEFORE the text cascade: paraphrase dups have
            # dissimilar text by definition, so the text rules would
            # refuse them — cosine >= embedding_strong is the verdict,
            # and only the unresolved remainder pays the text joins
            from fuzzycat_spark.operators.knn import cosine_col

            emb = feats.select("id", F.col("_emb").alias("e"))

            def build_emb_pairs() -> DataFrame:
                scored = (
                    cands.join(
                        emb.select(F.col("id").alias("id_a"), F.col("e").alias("_ea")),
                        on="id_a",
                    )
                    .join(
                        emb.select(F.col("id").alias("id_b"), F.col("e").alias("_eb")),
                        on="id_b",
                    )
                    .select(
                        "id_a",
                        "id_b",
                        F.round(cosine_col(F.col("_ea"), F.col("_eb")), 9).alias("_cos"),
                    )
                )
                return scored.filter(F.col("_cos") >= cfg.embedding_strong).select(
                    "id_a",
                    "id_b",
                    F.lit("strong").alias("status"),
                    F.lit("EMBEDDING_COSINE").alias("reason"),
                )

            emb_pairs = stage("emb_pairs", build_emb_pairs)
            rest = cands.join(
                emb_pairs.select("id_a", "id_b"), on=["id_a", "id_b"], how="left_anti"
            )
            verified_near = verify_pairs(
                rest, feats, denylist_keys=_deny(cfg)
            ).unionByName(emb_pairs)
        else:
            verified_near = verify_pairs(cands, feats, denylist_keys=_deny(cfg))
    canon = None
    if cfg.canonical_col:
        from fuzzycat_spark.functions.urls import canonical_link_pairs

        # publisher-declared edges ride the same union as the stars: two
        # narrow projections + one N:1 key join, no text, no cap needed
        # (the join fans IN to the canonical target)
        canon = canonical_link_pairs(
            pages,
            id_col=cfg.id_col,
            url_col=cfg.canonical_url_col or cfg.id_col,
            canonical_col=cfg.canonical_col,
        ).select(
            F.least("id", "canonical_id").alias("id_a"),
            F.greatest("id", "canonical_id").alias("id_b"),
            F.lit("exact").alias("status"),
            F.lit("CANONICAL_LINK").alias("reason"),
        )
    # union star + canonical + verified pairs, one row per pair with the
    # cascade's precedence (CONTENT_HASH < SLUG_MATCH < pairwise verdict);
    # materialize: connected components iterates over the edge list, and
    # without a checkpoint every CC action would re-run blocking+verify
    # (on a cluster this is the Iceberg stage checkpoint)
    parts = [p for p in (stars, canon, verified_near) if p is not None]
    if not parts:
        raise ValueError(f"no blocking strategies enabled: {cfg.strategies}")

    def build_verified() -> DataFrame:
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)
        # CANONICAL_LINK gets an explicit rank: like CONTENT_HASH it is
        # text-independent (a publisher declaration), so it must outrank
        # any cascade verdict — without a rank it tied at the bottom and
        # the alphabetical tiebreak let a BLACKLISTED verdict on the same
        # pair silently drop the declared edge
        prio = (
            F.when(F.col("reason") == "CONTENT_HASH", 0)
            .when(F.col("reason") == "SLUG_MATCH", 1)
            .when(F.col("reason") == "CANONICAL_LINK", 2)
            .otherwise(3)
        )
        # min(packed string) instead of a row_number window: same winner
        # per pair — (prio, reason, status) packed with a ' ' separator
        # compares lexicographically exactly like the tuple (the separator
        # sorts below every identifier character, and reason → status is a
        # function, so this ≡ the old (prio, reason) window order) — but
        # an aggregate does map-side partial aggregation (duplicate
        # verdicts collapse BEFORE the exchange), and a STRING min stays a
        # HashAggregate where a struct min falls back to SortAggregate and
        # reintroduces the per-partition sorts (measured ~1 s on the
        # 105k-doc e2e).
        packed = F.concat_ws(
            " ", prio.cast("string"), F.col("reason"), F.col("status")
        )
        sp = F.split(F.col("_b"), " ")
        return (
            unioned.groupBy("id_a", "id_b")
            .agg(F.min(packed).alias("_b"))
            .select(
                "id_a",
                "id_b",
                sp.getItem(2).alias("status"),
                sp.getItem(1).alias("reason"),
            )
        )

    verified = stage("verified", build_verified)

    def build_assignments() -> DataFrame:
        edges = verified.filter(F.col("status").isin(*cfg.edge_statuses))
        cc = connected_components(edges, checkpointer=cc_checkpointer)
        # id universe from the PREP checkpoint, not the raw pages: prep is
        # row-for-row with the input (pure projections, no filter), so the
        # id multiset is identical — and reading one narrow column of the
        # feature parquet replaces a second full scan of the text corpus
        # (column pruning cannot reach an opaque/localCheckpointed source).
        return (
            prep.select("id")
            .join(cc, on="id", how="left")
            .select(
                "id", F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id")
            )
        )

    assignments = stage("assignments", build_assignments)
    return {
        "prepared": prep,
        "bands": bands,
        "grams": grams,
        "candidates": cands,
        "verified": verified,
        "assignments": assignments,
    }


# stages every caller must hard-materialize (plan-statistics / lineage-cut
# boundaries); "prepared" checkpoints inside prepare_pages itself and
# "assignments" is terminal, so the ephemeral path skips re-writing those.
# "verified" is soft here: its only in-pipeline consumer is connected
# components, whose own first checkpoint write materializes the filtered
# edge set — a second eager write of the full verdict table cost ~2s per
# 105k-doc run and bought nothing. verify_pairs writes nothing either, so
# a caller reading dedup_pages' returned verified frame re-runs the
# cascade (and the stars) from the prepared and candidates checkpoints.
# The durable CLI path (plans.pipeline) still names and checkpoints every
# stage, including verified.
HARD_STAGES = frozenset({"candidates", "emb_pairs"})


def dedup_pages(
    pages: DataFrame, cfg: DedupConfig = DedupConfig()
) -> tuple[DataFrame, DataFrame]:
    """Run the full pipeline with ephemeral (session-temp) checkpoints.

    Returns (verified_pairs, assignments):
      verified_pairs — (id_a, id_b, status, reason), id_a < id_b
      assignments    — (id, cluster_id); singletons get their own id,
                       cluster_id = min id in the component (FIXTURES.md §5).

    The plan is `dedup_stages` — byte-identical to what the spark-submit
    path (`plans.pipeline.run_dedup_pipeline`) runs, minus the durable
    checkpoint dir (pinned by tests/test_dedup_e2e.py's CLI parity test).
    """

    def stage(name: str, build) -> DataFrame:
        df = build()
        return materialize(df, name) if name in HARD_STAGES else df

    out = dedup_stages(pages, cfg, stage)
    return out["verified"], out["assignments"]


def dup_stats(assignments: DataFrame) -> DataFrame:
    """Cluster-size histogram + dup-rate — the reference's summary metrics
    (`notes/2020_11_testruns.md:58-82`, `notes/old_pipeline.md:119`)."""
    sizes = assignments.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    ).orderBy("cluster_size")


def select_canonical(
    pages: DataFrame,
    assignments: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    quality_col: str | None = None,
) -> DataFrame:
    """One kept representative per duplicate cluster — the corpus-emitting
    end of the pipeline (what a training-data run actually writes out).
    The reference keeps whichever record sorts first in the cluster slab
    (`cluster.py`'s sorted key groups); here the keep rule is explicit:
    highest quality score, ties broken by min id, so the choice is
    deterministic and independent of partitioning.

    `assignments` is `dedup_pages`/`dedup_stages` output (id, cluster_id);
    `quality_col` names a precomputed [0,1] column on `pages`, else the
    native `quality_score_cols` blend is computed on the fly (pure
    Catalyst, no Python).

    Returns (cluster_id, canonical_id, n_members, quality) — one row per
    cluster, `quality` rounded to 6 so cross-engine comparisons are exact.

    Scale: one narrow projection of pages (id + one double), one shuffle
    to join assignments on id, one shuffle for the per-cluster window.
    Singleton clusters (the overwhelming majority of a web corpus)
    cost one window row each; no skew concern because the window state is
    a row counter, not a buffer: row_number streams within each partition.
    """
    from pyspark.sql.window import Window

    from fuzzycat_spark.functions.text import quality_score_cols

    if quality_col is None:
        q = F.round(quality_score_cols(text_col)["quality"], 6)
    else:
        q = F.round(F.col(quality_col).cast("double"), 6)
    scored = pages.select(F.col(id_col).alias("id"), q.alias("quality")).join(
        assignments, on="id"
    )
    w = Window.partitionBy("cluster_id")
    wo = w.orderBy(F.col("quality").desc(), F.col("id").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(wo))
        .withColumn("n_members", F.count(F.lit(1)).over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("id").alias("canonical_id"),
            "n_members",
            "quality",
        )
    )


def dedup_corpus(
    pages: DataFrame, cfg: DedupConfig = DedupConfig()
) -> DataFrame:
    """End-to-end corpus dedup: run the flagship pipeline, keep one
    best-quality page per cluster, return the kept pages with their
    cluster metadata (original schema + cluster_id + n_members). The
    left-semi shape keeps the full-width page payload out of every
    shuffle except the final keep join."""
    _, assignments = dedup_pages(pages, cfg)
    keep = select_canonical(pages, assignments, cfg.id_col, cfg.text_col)
    return pages.join(
        keep.select(
            F.col("canonical_id").alias(cfg.id_col), "cluster_id", "n_members"
        ),
        on=cfg.id_col,
    )
