"""Operator-level tests: candidate strategies, LSH, verify cascade,
connected components."""

from __future__ import annotations

import random

import pytest

from fuzzycat_spark.operators import components
from fuzzycat_spark.operators.components import connected_components
from fuzzycat_spark.operators.lsh import lsh_candidate_pairs, minhash_band_table
from fuzzycat_spark.operators.verify import prepare_pages, verify_pairs


@pytest.fixture
def loop_only(monkeypatch):
    """Run connected components through its distributed rounds only."""
    monkeypatch.setattr(components, "driver_edge_cap", lambda spark: 0)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("u1", "the quick brown fox jumps over the lazy dog today", "en"),
        ("u2", "the quick brown fox jumps over the lazy dog today", "en"),  # exact dup
        ("u3", "The quick brown fox jumps over the lazy dog, today!", "en"),  # slug dup
        ("u4", "something entirely different about spark engines", "en"),
        ("u5", "", "en"),  # empty
        ("u6", None, "en"),  # null
    ]
    return spark.createDataFrame(rows, "url string, text string, lang string")


def test_lsh_finds_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    edited = base.replace("delta", "memo", 2)
    rows = [("a", base), ("b", edited), ("c", "totally unrelated words without any overlap whatsoever in this document")]
    df = spark.createDataFrame(rows, "url string, text string")
    pairs = lsh_candidate_pairs(minhash_band_table(df), None).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert ("a", "b") in got
    assert ("a", "c") not in got and ("b", "c") not in got


def test_verify_cascade_statuses(spark):
    rows = [
        ("exact1", "the quick brown fox jumps over the lazy dog again and again", "en"),
        ("exact2", "the quick brown fox jumps over the lazy dog again and again", "en"),
        ("slugv", "The quick brown fox: jumps over the lazy dog again, and again?", "en"),
        ("short1", "tiny text", "en"),
        ("short2", "tiny text two", "en"),
        ("contai", "the quick brown fox jumps over the lazy dog again and again plus an extra trailing sentence of new words", "en"),
        ("numed1", "chapter 12 begins on page 100 of the printed book edition series", "en"),
        ("numed2", "chapter 13 begins on page 150 of the printed book edition series", "en"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    pairs = spark.createDataFrame(
        [("exact1", "exact2"), ("exact1", "slugv"), ("short1", "short2"),
         ("contai", "exact1"), ("numed1", "numed2")],
        "id_a string, id_b string",
    )
    got = {
        (r.id_a, r.id_b): (r.status, r.reason)
        for r in verify_pairs(pairs, prepare_pages(df)).collect()
    }
    assert got[("exact1", "exact2")] == ("exact", "CONTENT_HASH")
    assert got[("exact1", "slugv")] == ("exact", "SLUG_MATCH")
    assert got[("short1", "short2")] == ("ambiguous", "SHORT_TEXT")
    assert got[("contai", "exact1")] == ("strong", "CONTAINMENT")
    assert got[("numed1", "numed2")] == ("different", "NUM_DIFF")


def test_connected_components_shapes(spark):
    # chain a-b-c-d, triangle e-f-g, isolated pair h-i
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("f", "g"), ("e", "g"), ("h", "i")],
        "id_a string, id_b string",
    )
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "e": "e", "f": "e", "g": "e",
        "h": "h", "i": "h",
    }


def test_connected_components_long_chain(spark, loop_only):
    # 33-node chain exercises sublinear convergence (contraction + doubling)
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(32)], "id_a string, id_b string"
    )
    labels = connected_components(edges, max_iterations=8).collect()
    assert {r.cluster_id for r in labels} == {"n00"}
    assert len(labels) == 33


def test_connected_components_pathological_chain_shapes(spark, loop_only):
    """The two linear-convergence pathologies, both fixed by contraction +
    cumulative-map pointer doubling: a shuffled-id path (static-edge min
    propagation advanced ~1 hop/round — >60 rounds at n=1000) and a
    monotone-id path (contraction with only in-round jumps removed O(1)
    nodes/round). Both must converge to ONE component well inside the
    default round budget; web containment chains take exactly these
    shapes."""
    from fuzzycat_spark.plans import checkpoint as cp

    rounds: list[int] = []
    orig = cp.StageCheckpointer.record_counters

    def spy(self, name, counters):
        if name.startswith("cc_iter"):
            rounds.append(counters["remaining_edges"])
        return orig(self, name, counters)

    cp.StageCheckpointer.record_counters = spy
    try:
        n = 400
        shuffled = list(range(n))
        random.Random(7).shuffle(shuffled)
        for ids in (shuffled, list(range(n - 1, -1, -1))):
            rounds.clear()
            edges = spark.createDataFrame(
                [(ids[i], ids[i + 1]) for i in range(n - 1)],
                "id_a: long, id_b: long",
            )
            got = connected_components(edges).collect()
            assert {r.cluster_id for r in got} == {0}
            assert len(got) == n
            assert len(rounds) <= 8, rounds
    finally:
        cp.StageCheckpointer.record_counters = orig


def test_connected_components_raises_when_rounds_exhausted(spark, loop_only):
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a: long, id_b: long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=1)


def test_connected_components_leaves_caller_session_conf_alone(spark, loop_only):
    """The CC loop sizes its shuffles in a CHILD session: a concurrent
    query on the caller's session must never observe the reduced
    shuffle-partition count (the round-3 set/restore raced concurrent
    queries — streaming foreachBatch plus an ad-hoc batch query)."""
    import threading

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    seen: set[str] = set()
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            seen.add(spark.conf.get("spark.sql.shuffle.partitions"))

    t = threading.Thread(target=poll)
    t.start()
    try:
        edges = spark.createDataFrame(
            [(f"c{i}", f"c{i+1}") for i in range(12)], "id_a string, id_b string"
        )
        got = connected_components(edges).collect()
    finally:
        stop.set()
        t.join()
    assert {r.cluster_id for r in got} == {"c0"}
    assert seen == {prev}, f"caller conf leaked loop partitioning: {seen}"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_connected_components_counters_survive_in_caller_manifest(spark, tmp_path, loop_only):
    """The child-session loop's cc_iter convergence counters must land in
    the CALLER's manifest (and survive a later caller-side flush) — the
    per-iteration metrics are part of the resumability/lineage story."""
    import json

    from fuzzycat_spark.plans.checkpoint import StageCheckpointer

    ck = StageCheckpointer(spark, str(tmp_path))
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string"
    )
    connected_components(edges, checkpointer=ck)
    ck.record_counters("after", {"x": 1})  # a later flush must not clobber
    m = json.load(open(f"{tmp_path}/_manifest.json"))
    iters = [k for k in m if k.startswith("cc_iter_")]
    assert iters, list(m)
    assert all("counters" in m[k] for k in iters)
    assert m[iters[-1]]["counters"]["remaining_edges"] == 0  # converged


def _random_graph(seed: int, n: int = 300) -> list[tuple[int, int]]:
    """Chains, stars and cliques over shuffled node ids, with repeated and
    reversed edges and a few nodes whose only edge is a self-loop."""
    rng = random.Random(seed)
    ids = list(range(n))
    rng.shuffle(ids)
    edges, pos = [(x, x) for x in ids[:12]], 12
    while pos < n:
        size = rng.randint(2, 24)
        comp, pos = ids[pos : pos + size], pos + size
        shape = rng.choice(("chain", "star", "clique"))
        if shape == "chain":
            edges += list(zip(comp, comp[1:]))
        elif shape == "star":
            edges += [(comp[0], x) for x in comp[1:]]
        else:
            edges += [(a, b) for i, a in enumerate(comp) for b in comp[i + 1 :]]
    edges += [(b, a) for a, b in rng.sample(edges, 20)] + rng.sample(edges, 20)
    rng.shuffle(edges)
    return edges


def _component_minima(rows) -> set:
    """(id, component minimum) by breadth-first search, for reference."""
    adj: dict = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out, seen = set(), set()
    for start in adj:
        if start in seen:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            frontier = [y for x in frontier for y in adj[x] if y not in comp]
            comp.update(frontier)
        seen |= comp
        out |= {(x, min(comp)) for x in comp}
    return out


def _cc_rows(edges, monkeypatch, cap: int, **kwargs) -> set:
    monkeypatch.setattr(components, "driver_edge_cap", lambda spark: cap)
    return {tuple(r) for r in connected_components(edges, **kwargs).collect()}


@pytest.mark.parametrize("id_type", ["string", "long"])
def test_driver_finish_matches_loop_on_random_graphs(spark, monkeypatch, tmp_path, id_type):
    """Finished on the driver before round 0, components give the same
    (id, cluster_id) rows as the distributed rounds, self-loop-only nodes
    included, from one checkpoint write and no round."""
    import json

    from fuzzycat_spark.plans.checkpoint import StageCheckpointer

    cast = str if id_type == "string" else int
    for seed in (1, 2):
        rows = [(cast(a), cast(b)) for a, b in _random_graph(seed)]
        edges = spark.createDataFrame(rows, f"id_a {id_type}, id_b {id_type}")
        ck = StageCheckpointer(spark, str(tmp_path / f"{id_type}{seed}"))
        local = _cc_rows(edges, monkeypatch, 10**9, checkpointer=ck)
        loop = _cc_rows(edges, monkeypatch, 0)
        assert local == loop == _component_minima(rows)
        loners = {a for a, b in rows if a == b}
        assert {(x, x) for x in loners} <= local and len(loners) >= 12
        m = json.load(open(tmp_path / f"{id_type}{seed}" / "_manifest.json"))
        assert not [k for k in m if k.startswith(("cc_iter_", "cc_labels_"))]
        assert m["cc_local"]["counters"]["edges"] == 2 * len(rows)
        assert m["cc_local"]["counters"]["nodes"] == len(local)
        assert m["cc_local"]["counters"]["rounds"] == 0


def test_loop_resolves_label_chains_left_by_pointer_doubling(spark, monkeypatch):
    """On an ascending 18-node chain the rounds' contraction empties the
    edge set while node 17 is still labelled 1 (whose label is 0); the
    loop must follow such links to the component minimum."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(17)], "id_a: long, id_b: long"
    )
    assert _cc_rows(edges, monkeypatch, 0) == {(x, 0) for x in range(18)}


def test_driver_finish_keeps_self_loop_nodes(spark, monkeypatch):
    edges = spark.createDataFrame(
        [("a", "a"), ("c", "b"), ("b", "b")], "id_a string, id_b string"
    )
    want = {("a", "a"), ("b", "b"), ("c", "b")}
    assert _cc_rows(edges, monkeypatch, 10**9) == want
    assert _cc_rows(edges, monkeypatch, 0) == want


def test_driver_finish_string_minimum_matches_spark(spark, monkeypatch):
    """Python orders str by code point and Spark by UTF-8 bytes, which
    agree; UTF-16 order would not (U+1D538 sorts below U+FF45 in UTF-16
    and above it by code point). Mixed lengths and a shared prefix with a
    non-ASCII tail pick the same minimum too."""
    from pyspark.sql import functions as F

    ids = ["ｅ", "\U0001d538", "é", "e\u0301", "ee", "e", "z", "日本", "ß", "aa\u00e9", "aaz"]
    for group in (ids, ["\U0001d538", "ｅ"]):
        edges = spark.createDataFrame(
            list(zip(group, group[1:])), "id_a string, id_b string"
        )
        assert edges.select(F.least(F.min("id_a"), F.min("id_b"))).first()[0] == min(group)
        want = {(x, min(group)) for x in group}
        assert _cc_rows(edges, monkeypatch, 10**9) == want
        assert _cc_rows(edges, monkeypatch, 0) == want


def test_driver_finish_mid_loop_on_chains(spark, monkeypatch, tmp_path):
    """A cap just below the edge count entering round r makes the 400-node
    shuffled and monotone chains run round r, then finish on the driver as
    soon as the contracted edges plus the label links fit: the loop's rows,
    never more rounds than the loop, and on each chain in fewer."""
    import json

    from fuzzycat_spark.plans.checkpoint import StageCheckpointer

    n = 400
    shuffled = list(range(n))
    random.Random(7).shuffle(shuffled)
    for shape, ids in (("shuffled", shuffled), ("monotone", list(range(n - 1, -1, -1)))):
        edges = spark.createDataFrame(
            [(ids[i], ids[i + 1]) for i in range(n - 1)], "id_a: long, id_b: long"
        )
        ck = StageCheckpointer(spark, str(tmp_path / shape))
        loop = _cc_rows(edges, monkeypatch, 0, checkpointer=ck)
        assert loop == {(x, 0) for x in range(n)}
        m = json.load(open(tmp_path / shape / "_manifest.json"))
        sizes = [m[f"cc_iter_{i}"]["counters"]["remaining_edges"]
                 for i in range(sum(k.startswith("cc_iter_") for k in m))]
        early = 0
        for r, entering in enumerate([2 * (n - 1)] + sizes[:2]):
            base = tmp_path / f"{shape}_{r}"
            ck = StageCheckpointer(spark, str(base))
            assert _cc_rows(edges, monkeypatch, entering - 1, checkpointer=ck) == loop
            m = json.load(open(base / "_manifest.json"))
            iters = sum(k.startswith("cc_iter_") for k in m)
            assert r + 1 <= iters <= len(sizes), (r, iters, sizes)
            if "cc_local" in m:
                c = m["cc_local"]["counters"]
                assert c["rounds"] == iters and c["edges"] == sizes[iters - 1]
                assert c["edges"] + c["links"] <= entering - 1
                early += iters < len(sizes)
        assert early, (shape, sizes)


def test_exact_substring_pairs_short_contained_doc(spark):
    """The tier shingle-containment misses: a 30-token doc inside a
    600-token doc (shingle jaccard ~0.05) MUST surface via the
    first-k-gram probe against the all-k-grams index (guaranteed recall
    for full containment)."""
    from fuzzycat_spark.operators.substring import exact_substring_pairs

    words = [f"w{i}" for i in range(600)]
    big = " ".join(words)
    small = " ".join(words[200:230])          # 30 tokens, verbatim run
    unrelated = " ".join(f"z{i}" for i in range(80))
    partial = " ".join(words[580:600] + ["q1", "q2", "q3", "q4", "q5"] * 2)
    df = spark.createDataFrame(
        [("big", big), ("small", small), ("other", unrelated), ("partial", partial)],
        "url string, text string",
    )
    got = {(r.id_in, r.id_of) for r in exact_substring_pairs(df, k=25).collect()}
    assert ("small", "big") in got
    # partial overlap (20 shared tokens < its full text) must NOT match
    assert all(p[0] != "partial" for p in got)
    assert all("other" not in p for p in got)


def test_exact_substring_pairs_mutual_for_identical(spark):
    from fuzzycat_spark.operators.substring import exact_substring_pairs

    text = " ".join(f"t{i}" for i in range(40))
    df = spark.createDataFrame(
        [("a", text), ("b", text)], "url string, text string"
    )
    got = {(r.id_in, r.id_of) for r in exact_substring_pairs(df, k=25).collect()}
    assert got == {("a", "b"), ("b", "a")}


# --- winnowing fingerprints --------------------------------------------------


def test_winnow_guarantee_shared_run(spark):
    """Two docs sharing a run of >= w+k-1 tokens share >= 1 fingerprint
    (the SIGMOD'04 winnowing guarantee), even when the run sits at
    different positions and the rest of the text is disjoint."""
    from fuzzycat_spark.operators.winnow import winnow_fingerprints

    k, w = 3, 4
    shared = " ".join(f"common{i}" for i in range(k + w - 1 + 3))
    a = "alpha beta gamma " + shared + " delta epsilon"
    b = "one two three four five six " + shared
    c = "totally unrelated words nothing in common here at all folks"
    df = spark.createDataFrame(
        [("a", a), ("b", b), ("c", c)], "doc_id string, text string"
    )
    fps = winnow_fingerprints(df, "doc_id", "text", k=k, w=w)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.id, set()).add(r.fp)
    assert by_doc["a"] & by_doc["b"], "shared run must yield a common fingerprint"
    assert not (by_doc["a"] & by_doc["c"])
    assert not (by_doc["b"] & by_doc["c"])


def test_winnow_density_and_overlap_pairs(spark):
    """Fingerprint count stays a small fraction of the shingle count.
    Partial-overlap pairing by the winnow strategy, which uses the
    fingerprints as band keys, is test_winnow_strategy_surfaces_partial_overlap."""
    from fuzzycat_spark.operators.winnow import winnow_fingerprints

    para = " ".join(f"para{i}" for i in range(30))
    docs = [("x", " ".join(f"xw{i}" for i in range(200)) + " " + para),
            ("y", para + " " + " ".join(f"yw{i}" for i in range(200))),
            ("z", " ".join(f"zw{i}" for i in range(200)))]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", k=3, w=4)
    n_fp = fps.count()
    # ~2/(w+1) density: 3 docs x ~230 shingles -> well under half selected
    assert n_fp < 3 * 230 * 0.6


def test_nysiis_strategy_blocks_homophone_names(spark):
    """The reference ran NYSIIS as a first-class blocking key
    (notes/matching_metrics.md:13-14): homophone author names must land in
    the same bucket and surface as a candidate pair; unrelated names must
    not pair."""
    from fuzzycat_spark.operators.dedup import DedupConfig, candidate_pairs, dedup_pages

    rows = [
        ("a", "John Knight", "alpha beta gamma delta epsilon zeta eta theta"),
        ("b", "Jon Night", "one two three four five six seven eight nine"),
        ("c", "Mary Jones", "red orange yellow green blue indigo violet"),
    ]
    df = spark.createDataFrame(rows, "url string, author string, text string")
    cfg = DedupConfig(strategies=("nysiis",), name_col="author")
    got = {(r.id_a, r.id_b) for r in candidate_pairs(df, cfg).collect()}
    assert got == {("a", "b")}
    # the full pipeline composes: candidates go through the cascade (texts
    # differ, so the pair must NOT merge into one cluster)
    _, assign = dedup_pages(df, cfg)
    clusters = {r.id: r.cluster_id for r in assign.collect()}
    assert len(set(clusters.values())) == 3


def test_nysiis_strategy_requires_name_col(spark):
    from fuzzycat_spark.operators.dedup import DedupConfig, candidate_pairs

    df = spark.createDataFrame([("a", "t")], "url string, text string")
    with pytest.raises(ValueError, match="name_col"):
        candidate_pairs(df, DedupConfig(strategies=("nysiis",)))


def test_winnow_strategy_surfaces_partial_overlap(spark):
    """Two large documents sharing only a paragraph (~40 of 300+ tokens):
    whole-doc MinHash jaccard is far below every band's reach, but the
    winnowing strategy guarantees a shared fingerprint bucket — the pair
    must surface as a candidate, and the cascade must still NOT merge
    them (partial overlap is weak evidence, not a dup verdict)."""
    from fuzzycat_spark.operators.dedup import DedupConfig, candidate_pairs, dedup_pages

    para = " ".join(f"shared{i}" for i in range(40))
    rows = [
        ("x", " ".join(f"ax{i}" for i in range(150)) + " " + para + " "
              + " ".join(f"bx{i}" for i in range(150))),
        ("y", " ".join(f"cy{i}" for i in range(150)) + " " + para + " "
              + " ".join(f"dy{i}" for i in range(150))),
        ("z", " ".join(f"ez{i}" for i in range(300))),
    ]
    df = spark.createDataFrame(rows, "url string, text string")

    # winnow ALONE guarantees the shared-run pair (>= w+k-1 common
    # tokens => shared fingerprint bucket) — no reliance on a lucky
    # MinHash unit-band collision
    wonly = DedupConfig(strategies=("winnow",))
    got = {(r.id_a, r.id_b) for r in candidate_pairs(df, wonly).collect()}
    assert ("x", "y") in got
    assert not any("z" in p for p in got)

    ww = DedupConfig(strategies=("minhash", "winnow"))

    verified, assign = dedup_pages(df, ww)
    vmap = {(r.id_a, r.id_b): r.status for r in verified.collect()}
    assert vmap[("x", "y")] in ("weak", "ambiguous", "different")
    clusters = {r.id: r.cluster_id for r in assign.collect()}
    assert len(set(clusters.values())) == 3


def test_embedding_strategy_clusters_paraphrases(spark):
    """Semantic near-dups: two documents with completely different text
    but near-identical embeddings must cluster via the embedding strategy
    (hyperplane buckets -> cosine tier -> EMBEDDING_COSINE strong edge);
    text-only strategies must NOT find them, and an orthogonal-embedding
    doc must stay apart."""
    from fuzzycat_spark.operators.dedup import DedupConfig, dedup_pages

    va = [1.0, 0.2, -0.5, 0.8, 0.1, -0.3, 0.6, -0.9]
    vb = [x * 0.97 for x in va]          # same direction -> cosine ~1.0
    vc = [-0.8, 0.9, 0.3, -0.1, 0.7, 0.5, -0.4, 0.2]
    rows = [
        ("p1", "the quick brown fox jumps over the lazy dog tonight", va),
        ("p2", "a speedy auburn vulpine leaps above an idle canine now", vb),
        ("p3", "completely unrelated text about databases and storage", vc),
    ]
    df = spark.createDataFrame(rows, "url string, text string, embedding array<double>")

    text_only = DedupConfig(strategies=("exact", "slug", "minhash"))
    _, a0 = dedup_pages(df, text_only)
    got0 = {r.id: r.cluster_id for r in a0.collect()}
    assert got0["p1"] != got0["p2"]

    cfg = DedupConfig(
        strategies=("exact", "slug", "minhash", "embedding"),
        embedding_col="embedding",
        embedding_dim=8,
    )
    verified, assign = dedup_pages(df, cfg)
    got = {r.id: r.cluster_id for r in assign.collect()}
    vmap = {(r.id_a, r.id_b): (r.status, r.reason) for r in verified.collect()}
    assert got["p1"] == got["p2"]
    assert got["p3"] != got["p1"]
    assert vmap[("p1", "p2")] == ("strong", "EMBEDDING_COSINE")


def test_simhash_strategy_requires_token_hashes(docs):
    """SimHash fingerprints only off prep's per-token hashes: prep built
    without them is refused, never re-tokenized from the raw text."""
    from fuzzycat_spark.operators.dedup import DedupConfig, strategy_band_table

    prep = prepare_pages(docs, "url", "text")
    with pytest.raises(ValueError, match="with_token_hashes"):
        strategy_band_table(prep, DedupConfig(strategies=("simhash",)))


def test_embedding_strategy_requires_config(spark):
    from fuzzycat_spark.operators.dedup import DedupConfig, candidate_pairs

    df = spark.createDataFrame([("a", "t")], "url string, text string")
    with pytest.raises(ValueError, match="embedding"):
        candidate_pairs(df, DedupConfig(strategies=("embedding",)))


def test_key_strategies_link_only_through_stars(spark):
    """exact and slug have one path, the star edges: they add no band rows,
    so the bucket cap never drops a key group. Five byte-identical pages
    over a cap of 3 yield no candidate pair, and still form one cluster."""
    from fuzzycat_spark.operators.dedup import (
        DedupConfig,
        candidate_pairs,
        dedup_pages,
        strategy_band_table,
    )

    copy = "the same boilerplate footer text repeated on every page of the site"
    rows = [(f"c{i}", copy) for i in range(5)]
    rows.append(("z", "an unrelated article about river ecology and fish ladders"))
    df = spark.createDataFrame(rows, "url string, text string")
    cfg = DedupConfig(strategies=("exact", "slug", "minhash"), max_bucket_size=3)

    bands = strategy_band_table(prepare_pages(df, "url", "text"), cfg)
    assert bands.columns == ["id", "band_id", "band_hash"]
    band_ids = {r.band_id for r in bands.select("band_id").distinct().collect()}
    assert not band_ids & {"exact", "slug"}, band_ids

    copies = {f"c{i}" for i in range(5)}
    cands = {(r.id_a, r.id_b) for r in candidate_pairs(df, cfg).collect()}
    assert not {p for p in cands if set(p) <= copies}, cands

    _, assign = dedup_pages(df, cfg)
    clusters = {r.id: r.cluster_id for r in assign.collect()}
    assert {clusters[c] for c in copies} == {"c0"}
    assert clusters["z"] == "z"
