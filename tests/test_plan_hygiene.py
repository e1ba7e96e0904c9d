"""Plan-shape assertions: the properties the 100 TB story depends on are
visible in the physical plan, so they are tested like behavior — column
pruning reaches the parquet scan, no operator introduces a cartesian
product, and the pair-generation path contains exactly the expected
shuffle structure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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


def test_ann_bucket_cap_excludes_and_counts_mega_bucket(spark):
    """The standalone embedding ANN entry points get the same skew guard
    as the text LSH path: a planted
    mega-bucket — 30 degenerate near-identical vectors, the all-same-sign
    hot case — must be EXCLUDED from the quadratic join when over the cap
    and COUNTED by oversize_ann_buckets, while normal buckets keep their
    pairs."""
    from fuzzycat_spark.operators.knn import (
        bucketed_similar_pairs,
        hyperplane_knn,
        oversize_ann_buckets,
    )

    dim, planes = 4, 3
    hot = [(i, [1.0, 1.0, 1.0, 1.0]) for i in range(30)]
    # two near-identical cool vectors (their own small bucket)
    cool = [(100, [-1.0, 0.9, -0.8, 0.7]), (101, [-1.0, 0.9, -0.8, 0.71])]
    e = spark.createDataFrame(hot + cool, "vec_id long, embedding array<double>")

    over = oversize_ann_buckets(
        e, n_planes=planes, dim=dim, max_bucket_size=10
    ).collect()
    assert len(over) == 1 and over[0].bucket_size == 30

    pairs = bucketed_similar_pairs(
        e, 0.5, n_planes=planes, dim=dim, max_bucket_size=10
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (100, 101) in got  # cool bucket survives
    assert all(a >= 100 for a, _ in got)  # mega-bucket contributed nothing

    knn = hyperplane_knn(
        e, e, k=3, n_planes=planes, dim=dim, max_bucket_size=10
    ).collect()
    assert {r.probe_id for r in knn} == {100, 101}

    # uncapped: the mega bucket explodes quadratically (30*29 ordered pairs)
    assert (
        bucketed_similar_pairs(
            e, 0.5, n_planes=planes, dim=dim, max_bucket_size=None
        ).count()
        == 30 * 29 / 2 + 1
    )


def test_ann_bucket_shuffle_is_narrow(spark):
    """The ANN bucket-join shuffle must move (id, bucket) only — the
    vector column may not ride any bucket exchange (it joins back for
    surviving candidates). The exchange's child may CONSUME the embedding
    to compute the bucket, but must not carry it as an output column
    (aliased ea/eb, the pre-round-4 shape)."""
    from fuzzycat_spark.operators.knn import bucketed_similar_pairs, hyperplane_knn

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    for df in (
        bucketed_similar_pairs(e, 0.5, n_planes=8, dim=64),
        hyperplane_knn(e, e, k=3, n_planes=8, dim=64),
    ):
        plan = _plan(df)
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "Exchange hashpartitioning" not in l:
                continue
            if "band_hash" not in l and "bucket" not in l:
                continue
            child = lines[i + 1] if i + 1 < len(lines) else ""
            for carried in (" AS ea#", " AS eb#", " AS _ea#", " AS _eb#"):
                assert carried not in child, (
                    f"vector rides the bucket shuffle:\n{l}\n{child}"
                )


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


def test_lm_scores_all_jvm_and_narrow(spark):
    """The bigram-LM scorer must stay whole-stage-codegen (no Python
    workers) and shuffle only 8-byte hash rows — never token text."""
    from test_oracles import _docs

    from fuzzycat_spark.operators.lm import doc_lm_scores

    plan = _plan(doc_lm_scores(_docs(spark, SF), scale=1_000_000_000))
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the 1-row vocab scalar joins via broadcast nested loop; that must
    # be the ONLY nested-loop join in the plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_kmeans_seed_selection_is_heap_not_global_sort(spark):
    """kmeans_seeds (k smallest md5(id)) must plan as
    TakeOrderedAndProject, never a range-partitioned global sort."""
    from fuzzycat_spark.operators.kmeans import kmeans_fit

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    assign, cents = kmeans_fit(e, k=4, iters=0)
    plan = _plan(cents)
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_kmeans_assignment_join_is_broadcast(spark):
    """Cluster assignment must join the k-row centroid table by
    broadcast — a shuffle join here would repartition the whole vector
    corpus per Lloyd iteration."""
    from fuzzycat_spark.operators.kmeans import kmeans_fit

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    assign, _ = kmeans_fit(e, k=4, iters=1)
    plan = _plan(assign)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pagerank_shuffles_are_host_int64_only(spark):
    """PageRank iteration shuffles must carry (host, int64) rows — the
    edge list and score vector — never page html/urls; and the loop must
    not introduce a cartesian."""
    from fuzzycat_spark.operators.linkgraph import (
        extract_links,
        host_graph,
        pagerank_fp,
    )

    pages = spark.read.parquet("/root/repo/fixtures/link_docs.parquet")
    pr = pagerank_fp(host_graph(extract_links(pages)), iters=2)
    plan = _plan(pr)
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "html" not in line and "dst_url" not in line, line


def test_semantic_contamination_brute_is_broadcast_no_shuffle_of_corpus(spark):
    """The brute semantic screen must evaluate |corpus| x |eval| cosines
    via a BROADCAST nested-loop join — the corpus side never shuffles
    vectors, and no Python UDF appears (cosine is zip_with/aggregate)."""
    from fuzzycat_spark.operators.decontaminate import semantic_contamination

    e = spark.read.parquet("/root/repo/fixtures/embeddings_planted.parquet")
    out = semantic_contamination(
        e.filter("vec_id >= 20"), e.filter("vec_id < 20"), threshold=0.9
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "pythonUDF" not in plan.lower()


def test_robots_rules_single_hosts_shuffle_no_udf(spark):
    """robots.txt parsing is native Catalyst end-to-end: the two group-
    tracking windows share ONE (host) exchange and no Python UDF ever
    touches a line."""
    from fuzzycat_spark.operators.robots import robots_rules

    rules = robots_rules(
        spark.read.parquet("/root/repo/fixtures/robots_docs.parquet")
    )
    plan = rules._jdf.queryExecution().executedPlan().toString()
    assert "pythonUDF" not in plan.lower()
    # lag + running sum share the (host, pos-sorted) partitioning: one
    # hashpartitioning(host) exchange feeds both windows; the trailing
    # exchanges belong to the distinct aggregate, not the line pass
    assert plan.count("Exchange hashpartitioning(host") <= 2
