"""Plan-shape assertions: the properties the 100 TB story depends on are
visible in the physical plan, so they are tested like behavior — column
pruning reaches the parquet scan, no operator introduces a cartesian
product, and the pair-generation path contains exactly the expected
shuffle structure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from _paths import FIXTURES

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_token_count_prunes_scan_columns(spark):
    from test_oracles import q_token_count

    plan = _plan(q_token_count(spark, SF))
    # the documents table carries text/html-ish payloads; the count query
    # must read only (doc_id, text)
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, plan
    for l in scan_lines:
        schema = l.split("ReadSchema:")[1]
        assert "doc_id" in schema and "text" in schema
        assert "html" not in schema and "lang" not in schema


def test_no_cartesian_products_in_pipeline(spark):
    from test_oracles import q_candidates, q_substring_pairs, q_verified_pairs

    for q in (q_candidates, q_verified_pairs, q_substring_pairs):
        plan = _plan(q(spark, SF))
        assert "CartesianProduct" not in plan, f"{q.__name__} plan has a cartesian:\n{plan[:2000]}"


def test_candidates_single_band_shuffle(spark):
    """The band table is consumed by exactly ONE shuffle (window+groupBy
    reuse the same hash partitioning) — a second exchange over band keys
    would mean the single-shuffle design regressed."""
    from test_oracles import q_lsh_candidates

    plan = _plan(q_lsh_candidates(spark, SF))
    band_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "band_hash" in l
    ]
    assert len(band_exchanges) <= 1, plan


def test_verify_tier1_join_is_narrow(spark):
    """Tier-1 feature joins must not carry the hash arrays: no shuffle of
    shingles_h/tokset_h before the tier-1 verdict filter."""
    from fuzzycat_spark.operators.dedup import DedupConfig, candidate_pairs
    from fuzzycat_spark.operators.verify import prepare_pages, _pair_join, _tier1_rules, _when_chain

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    prep = prepare_pages(docs, "doc_id", "text")
    cands = candidate_pairs(docs, DedupConfig(id_col="doc_id"), prep=prep)
    cols = ["id", "ch", "slug_key", "nproj_key", "n_tok", "lang"]
    j1 = _pair_join(cands, prep.select(*cols), cols)
    plan = _plan(j1)
    # the candidates lineage legitimately reads shingles_h (band table);
    # what must NOT exist is an a_*/b_* pair-side projection of any array
    for side in ("a", "b"):
        assert f"{side}_shingles_h" not in plan
        assert f"{side}_tokset_h" not in plan


def test_verify_pairs_writes_nothing_and_unions_nothing(spark, monkeypatch):
    """verify_pairs is one cascade: no tier is checkpointed and no union
    puts the tiers back together — tiers 2 and 3 are left joins on the
    pairs the earlier tiers left open, so each pair flows through once."""
    from fuzzycat_spark.operators.dedup import DedupConfig, candidate_pairs
    from fuzzycat_spark.operators.verify import prepare_pages, verify_pairs
    from fuzzycat_spark.plans.checkpoint import StageCheckpointer, materialize

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    prep = prepare_pages(docs, "doc_id", "text")
    cands = materialize(candidate_pairs(docs, DedupConfig(id_col="doc_id"), prep=prep))
    written = []
    orig = StageCheckpointer.write

    def write(self, df, name):
        written.append(name)
        return orig(self, df, name)

    monkeypatch.setattr(StageCheckpointer, "write", write)
    verified = verify_pairs(cands, prep)
    plan = _plan(verified)
    assert written == []
    assert "Union" not in plan, plan[:3000]
    assert verified.count() == cands.count()


def test_denylist_screens_are_one_literal_each(spark, monkeypatch):
    """The verify and star-edge denylist screens are one IN-list literal
    each: building them costs the same py4j round trips whatever the
    list's length (an `isin(*keys)` makes one per key), the optimized plan
    keeps its InSet, and the screen keeps the keys `isin` keeps."""
    from fuzzycat_spark.functions.denylist import DEFAULT_DENYLIST_KEYS, denylisted
    from fuzzycat_spark.operators.dedup import DedupConfig, star_edges
    from fuzzycat_spark.operators.verify import _tier1_rules

    keys = DEFAULT_DENYLIST_KEYS
    prep = spark.createDataFrame(
        [("u1", keys[0], 9), ("u2", keys[0], 9), ("u3", "k", 9), ("u4", "k", 9)],
        "id string, slug_key string, n_tok int",
    ).withColumn("ch", F.lit(None).cast("string"))
    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    send = client.send_command

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)

    def round_trips(deny: tuple[str, ...]) -> int:
        before = calls[0]
        _tier1_rules(deny)
        star_edges(prep, DedupConfig(strategies=("slug",), denylist_keys=deny))
        return calls[0] - before

    round_trips(keys[:2])  # first-call caches
    assert round_trips(keys) == round_trips(keys[:2])

    # a quote in a key stays inside its literal
    deny = (*keys, "o'k")
    frame = spark.createDataFrame([(k,) for k in (*keys[:3], "k", "o'k")], "slug_key string")
    screened = frame.filter(denylisted("slug_key", deny))
    assert "INSET" in screened._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(screened.collect()) == sorted(frame.filter(F.col("slug_key").isin(*deny)).collect())
    assert screened.count() == 4
    edges = star_edges(prep, DedupConfig(strategies=("slug",), denylist_keys=keys))
    assert {(r.id_a, r.id_b) for r in edges.collect()} == {("u3", "u4")}


def test_components_all_candidates_have_no_cartesian(spark):
    """The ALL-strategy candidate union (minhash + simhash bands +
    substring index) must stay join-shaped — no strategy may introduce a
    cartesian product."""
    from test_oracles import ALL_CFG

    from fuzzycat_spark.operators.dedup import candidate_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cands = candidate_pairs(docs, ALL_CFG)
    assert "CartesianProduct" not in _plan(cands)


def test_lang_id_table_uses_broadcast_join(spark):
    """The stopword dictionary must broadcast (BroadcastHashJoin), never
    shuffle the exploded token stream against it."""
    from fuzzycat_spark.functions.text import lang_id_table

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(lang_id_table(docs, "doc_id", "text"))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_salt_hot_buckets_single_exchange_and_partial_survival(spark):
    """salt_hot_buckets must size buckets with a window count (ONE
    exchange over the band table — the round-3 groupBy+join paid two),
    and salting must let a capped mega-bucket keep SOME pairs: with
    salt_hot on, shards of the hot bucket surface ~1/salt of the pairs a
    cap alone would drop to zero."""
    from fuzzycat_spark.operators.dedup import DedupConfig, candidate_pairs
    from fuzzycat_spark.operators.lsh import salt_hot_buckets

    rows = [(f"u{i}", "exact same spam text repeated forever and ever again") for i in range(40)]
    rows += [("v1", "one normal document with plenty of distinct words in it today"),
             ("v2", "one normal document with plenty of distinct words in it today maybe")]
    df = spark.createDataFrame(rows, "url string, text string")

    bands = spark.createDataFrame(
        [(f"u{i}", "b0", "h", 10) for i in range(40)],
        "id string, band_id string, band_hash string, cap int",
    )
    salted = salt_hot_buckets(bands, 10, salt_buckets=8)
    plan = _plan(salted)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "cap" in salted.columns  # extra columns pass through

    base = DedupConfig(strategies=("minhash",), max_bucket_size=10)
    capped = candidate_pairs(df, base)
    softened = candidate_pairs(
        df, DedupConfig(strategies=("minhash",), max_bucket_size=10, salt_hot=8)
    )
    spam_capped = capped.filter(
        F.col("id_a").startswith("u") & F.col("id_b").startswith("u")
    ).count()
    spam_salted = softened.filter(
        F.col("id_a").startswith("u") & F.col("id_b").startswith("u")
    ).count()
    assert spam_capped == 0  # cap alone drops the 40-copy bucket entirely
    assert 0 < spam_salted < 40 * 39 / 2  # shards keep a partial pair set
    # the normal pair is untouched either way
    for c in (capped, softened):
        assert c.filter((F.col("id_a") == "v1") & (F.col("id_b") == "v2")).count() == 1


def test_all_strategy_bands_share_one_shuffle(spark):
    """Adding band strategies must cost band ROWS, not stages: the
    minhash + simhash + winnow band tables union before the single
    bucket-cap window + pair expansion, so the whole six-strategy
    candidate plan contains exactly ONE (band_id, band_hash) exchange."""
    from test_oracles import ALL_CFG

    from fuzzycat_spark.operators.dedup import candidate_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(candidate_pairs(docs, ALL_CFG))
    band_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "band_hash" in l
    ]
    assert len(band_exchanges) == 1, plan[:3000]


def test_robots_rules_single_hosts_shuffle_no_udf(spark):
    """robots.txt parsing is native Catalyst end-to-end: the two group-
    tracking windows share ONE (host) exchange and no Python UDF ever
    touches a line."""
    from fuzzycat_spark.operators.robots import robots_rules

    rules = robots_rules(
        spark.read.parquet(f"{FIXTURES}/robots_docs.parquet")
    )
    plan = rules._jdf.queryExecution().executedPlan().toString()
    assert "pythonUDF" not in plan.lower()
    # lag + running sum share the (host, pos-sorted) partitioning: one
    # hashpartitioning(host) exchange feeds both windows; the trailing
    # exchanges belong to the distinct aggregate, not the line pass
    assert plan.count("Exchange hashpartitioning(host") <= 2
