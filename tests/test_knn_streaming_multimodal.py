"""Tests for streaming incremental dedup (the embedding tier included)."""

from __future__ import annotations

import tempfile

import numpy as np
import pytest

from fuzzycat_spark.streaming.dedup_stream import incremental_dedup_batch
from fuzzycat_spark.operators.dedup import DedupConfig


def test_incremental_dedup_across_batches(spark):
    tmp = tempfile.mkdtemp()
    index, pairs = f"{tmp}/index", f"{tmp}/pairs"
    text = "the quick brown fox jumps over the lazy dog again and again today fine"
    b1 = spark.createDataFrame([("u1", text), ("u2", "completely unrelated document text here")],
                               "url string, text string")
    b2 = spark.createDataFrame([("u3", text)], "url string, text string")  # dup of u1, earlier batch
    cfg = DedupConfig(strategies=("exact", "slug", "minhash"))
    incremental_dedup_batch(b1, index, pairs, cfg)
    incremental_dedup_batch(b2, index, pairs, cfg)
    got = {(r.id_a, r.id_b): r.status for r in spark.read.parquet(pairs).collect()}
    assert got.get(("u1", "u3")) == "exact"


def test_incremental_equals_batch_dedup(spark):
    """Three micro-batches through the incremental path must surface the
    SAME exact/strong pair set as one batch dedup over the union — the
    stream-static index join is the batch self-join, split by time."""
    import tempfile

    from fuzzycat_spark.operators.dedup import DedupConfig, dedup_pages
    from fuzzycat_spark.streaming.dedup_stream import incremental_dedup_batch

    fam = "the quick brown fox jumps over the lazy dog again and again today fine"
    rows = [
        ("a1", fam),
        ("a2", fam + " extra"),
        ("b1", "completely unrelated text about database systems and storage"),
        ("a3", fam),
        ("b2", "completely unrelated text about database systems and storage!"),
        ("c1", "third family of documents discussing weather patterns in spring"),
        ("a4", fam + " extra words"),
        ("c2", "third family of documents discussing weather patterns in spring today"),
    ]
    cfg = DedupConfig(strategies=("exact", "slug", "minhash"))
    df = spark.createDataFrame(rows, "url string, text string")
    batch_pairs = {
        (r.id_a, r.id_b)
        for r in dedup_pages(df, cfg)[0]
        .filter("status in ('exact','strong')")
        .collect()
    }

    # one segment (empty prior) and three (committed prior)
    for splits in (((0, 8),), ((0, 3), (3, 6), (6, 8))):
        tmp = tempfile.mkdtemp(prefix="inc_eq_")
        index, pairs_path = f"{tmp}/index", f"{tmp}/pairs"
        for lo, hi in splits:
            b = spark.createDataFrame(rows[lo:hi], "url string, text string")
            incremental_dedup_batch(b, index, pairs_path, cfg)
        inc_pairs = {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(pairs_path)
            .filter("status in ('exact','strong')")
            .collect()
        }
        assert inc_pairs == batch_pairs, splits


def test_streaming_state_survives_mid_write_kill(spark, monkeypatch, tmp_path):
    """Kill an epoch AFTER its pairs/index/feature/sizes dirs are written
    but BEFORE the commit pointer swaps: reads must still see only the
    previous epoch, and a replay of the same epoch must converge to
    exactly the clean two-epoch state (no duplicated pairs/index rows, no
    lost cumulative hot-band sizes)."""
    import fuzzycat_spark.streaming.dedup_stream as ds

    fam = "the quick brown fox jumps over the lazy dog again and again today fine"
    rows1 = [("u1", fam), ("u2", "completely unrelated document text here today")]
    rows2 = [("u3", fam), ("u4", fam + " and one more trailing token")]
    cfg = DedupConfig(strategies=("exact", "slug", "minhash"))
    schema = "url string, text string"

    def run(base, crash_second_epoch):
        index, pairs = f"{base}/index", f"{base}/pairs"
        ds.incremental_dedup_batch(
            spark.createDataFrame(rows1, schema), index, pairs, cfg, epoch_id=0
        )
        if crash_second_epoch:
            real = ds._commit_pointer

            def boom(index_path, epoch):
                raise RuntimeError("simulated kill before pointer swap")

            monkeypatch.setattr(ds, "_commit_pointer", boom)
            with pytest.raises(RuntimeError, match="simulated kill"):
                ds.incremental_dedup_batch(
                    spark.createDataFrame(rows2, schema), index, pairs, cfg, epoch_id=1
                )
            monkeypatch.setattr(ds, "_commit_pointer", real)
            # mid-crash: pointer still at epoch 0, so committed reads see
            # NO epoch-1 rows even though the dirs exist on disk
            assert ds.committed_epoch(index) == 0
            crashed_pairs = ds.read_pairs(spark, pairs, index)
            assert {r.id_a for r in crashed_pairs.collect()} <= {"u1", "u2"}
            # replay of the SAME epoch (what foreachBatch does on restart)
            ds.incremental_dedup_batch(
                spark.createDataFrame(rows2, schema), index, pairs, cfg, epoch_id=1
            )
        else:
            ds.incremental_dedup_batch(
                spark.createDataFrame(rows2, schema), index, pairs, cfg, epoch_id=1
            )
        assert ds.committed_epoch(index) == 1
        pair_rows = sorted(
            (r.id_a, r.id_b, r.status, r.reason)
            for r in ds.read_pairs(spark, pairs, index).collect()
        )
        index_rows = sorted(
            (r.id, r.band_id, r.band_hash)
            for r in ds._read_state(spark, index, 1).collect()
        )
        sizes_rows = sorted(
            (r.band_id, r.band_hash, r.n)
            for r in spark.read.parquet(f"{index}_sizes/epoch=1").collect()
        )
        return pair_rows, index_rows, sizes_rows

    clean = run(str(tmp_path / "clean"), crash_second_epoch=False)
    crashed = run(str(tmp_path / "crashed"), crash_second_epoch=True)
    assert crashed == clean
    # no duplicated state rows after the replay
    assert len(clean[1]) == len(set(clean[1]))


def test_replay_of_committed_epoch_is_a_noop(spark, tmp_path):
    """foreachBatch is at-least-once: a crash AFTER the pointer swap but
    BEFORE Spark records the batch in its streaming checkpoint replays
    epoch N with committed == N. The replay must be a no-op — re-running
    it would overwrite the epoch's pairs/index/features with EMPTY tables
    (every id is dropped by the idempotency guard), permanently losing
    committed state."""
    import fuzzycat_spark.streaming.dedup_stream as ds

    fam = "the quick brown fox jumps over the lazy dog again and again today fine"
    rows = [("u1", fam), ("u2", fam), ("u3", "completely unrelated text here today")]
    cfg = DedupConfig(strategies=("exact", "slug", "minhash"))
    base = str(tmp_path)
    index, pairs = f"{base}/index", f"{base}/pairs"
    batch = spark.createDataFrame(rows, "url string, text string")

    ds.incremental_dedup_batch(batch, index, pairs, cfg, epoch_id=0)
    assert ds.committed_epoch(index) == 0
    before_pairs = sorted(
        (r.id_a, r.id_b, r.status) for r in ds.read_pairs(spark, pairs, index).collect()
    )
    before_index = sorted(
        (r.id, r.band_id, r.band_hash)
        for r in ds._read_state(spark, index, 0).collect()
    )
    assert before_pairs  # the committed epoch has real state to lose

    # replay the SAME epoch (restart after a post-commit crash)
    ds.incremental_dedup_batch(batch, index, pairs, cfg, epoch_id=0)

    assert ds.committed_epoch(index) == 0
    after_pairs = sorted(
        (r.id_a, r.id_b, r.status) for r in ds.read_pairs(spark, pairs, index).collect()
    )
    after_index = sorted(
        (r.id, r.band_id, r.band_hash)
        for r in ds._read_state(spark, index, 0).collect()
    )
    assert after_pairs == before_pairs
    assert after_index == before_index

    # a fresh checkpoint_dir restarting epoch ids at 0 must not regress
    # the pointer over committed history either
    ds.incremental_dedup_batch(batch, index, pairs, cfg, epoch_id=1)
    assert ds.committed_epoch(index) == 1
    ds.incremental_dedup_batch(batch, index, pairs, cfg, epoch_id=0)
    assert ds.committed_epoch(index) == 1

    # every committed epoch carries a per-partition lineage manifest
    # (footer row counts, the streaming twin of the batch stage lineage)
    m = ds.read_epoch_manifest(index, 0)
    assert m is not None and m["epoch"] == 0
    assert m["tables"]["pairs"]["rows"] == len(before_pairs)
    assert m["tables"]["features"]["rows"] == 3
    assert all("partitions" in t for t in m["tables"].values())


def test_fresh_checkpoint_with_new_data_fails_loudly(spark, tmp_path):
    """A FRESH checkpoint_dir pointed at existing index/pairs paths
    restarts foreachBatch epoch ids at 0; if batch 0 of the new stream
    contains NEW source files, silently skipping it as a replay would
    permanently lose that data (the new streaming checkpoint marks it
    consumed). The replay guard must distinguish this from a true
    at-least-once replay (same ids) and raise."""
    import fuzzycat_spark.streaming.dedup_stream as ds

    cfg = DedupConfig(strategies=("exact", "slug", "minhash"))
    index, pairs = f"{tmp_path}/index", f"{tmp_path}/pairs"
    old = spark.createDataFrame(
        [("u1", "some committed document text here today")],
        "url string, text string",
    )
    ds.incremental_dedup_batch(old, index, pairs, cfg, epoch_id=0)
    assert ds.committed_epoch(index) == 0

    # true replay (identical ids) stays a silent no-op
    ds.incremental_dedup_batch(old, index, pairs, cfg, epoch_id=0)

    # fresh-restart batch 0 with an unseen id must raise, not skip
    fresh = spark.createDataFrame(
        [("u1", "some committed document text here today"),
         ("u_new", "a brand new document the committed state never saw")],
        "url string, text string",
    )
    with pytest.raises(RuntimeError, match="unsupported"):
        ds.incremental_dedup_batch(fresh, index, pairs, cfg, epoch_id=0)


def test_run_incremental_dedup_via_writestream(spark, tmp_path):
    """The real streaming entry point: a parquet file source drained with
    availableNow through run_incremental_dedup must commit its epochs via
    foreachBatch's epoch ids and surface the cross-batch dup pair through
    the committed read."""
    import shutil

    from fuzzycat_spark.streaming.dedup_stream import (
        committed_epoch,
        read_pairs,
        run_incremental_dedup,
    )

    base = str(tmp_path)
    src = f"{base}/src"
    fam = "the quick brown fox jumps over the lazy dog again and again today fine"
    rows = [("u1", fam), ("u2", "completely unrelated document text here today"), ("u3", fam)]
    df = spark.createDataFrame(rows, "url string, text string")
    df.coalesce(1).write.parquet(f"{base}/staged")
    import glob
    import os

    os.makedirs(src)
    shutil.copy(glob.glob(f"{base}/staged/part-*.parquet")[0], f"{src}/b0.parquet")

    stream = spark.readStream.schema(df.schema).parquet(src)
    index, pairs = f"{base}/index", f"{base}/pairs"
    cfg = DedupConfig(strategies=("exact", "slug", "minhash"))
    q = run_incremental_dedup(stream, index, pairs, f"{base}/ckpt", cfg)
    q.awaitTermination(180)

    assert committed_epoch(index) == 0
    got = {(r.id_a, r.id_b): r.status for r in read_pairs(spark, pairs, index).collect()}
    assert got.get(("u1", "u3")) == "exact"


def test_run_incremental_dedup_continuous_keeps_consuming(spark, tmp_path):
    """continuous=True sets no trigger: the query stays up after draining
    what exists and links a segment that arrives later to the committed
    state."""
    import glob
    import os

    from fuzzycat_spark.streaming.dedup_stream import (
        committed_epoch,
        read_pairs,
        run_incremental_dedup,
    )

    base = str(tmp_path)
    src = f"{base}/src"
    os.makedirs(src)
    fam = "the quick brown fox jumps over the lazy dog again and again today fine"
    schema = "url string, text string"

    def arrive(name, url):
        # written elsewhere, then renamed in: the source never lists a
        # half-written file
        staged = f"{base}/staged_{name}"
        spark.createDataFrame([(url, fam)], schema).coalesce(1).write.parquet(staged)
        os.rename(glob.glob(f"{staged}/part-*.parquet")[0], f"{src}/{name}.parquet")

    arrive("b0", "u1")
    stream = spark.readStream.schema(schema).parquet(src)
    index, pairs = f"{base}/index", f"{base}/pairs"
    cfg = DedupConfig(strategies=("exact", "minhash"))
    q = run_incremental_dedup(
        stream, index, pairs, f"{base}/ckpt", cfg, continuous=True
    )
    try:
        q.processAllAvailable()
        assert q.isActive and committed_epoch(index) == 0
        arrive("b1", "u3")
        q.processAllAvailable()
        assert q.isActive and committed_epoch(index) == 1
    finally:
        q.stop()
    got = {(r.id_a, r.id_b): r.status for r in read_pairs(spark, pairs, index).collect()}
    assert got.get(("u1", "u3")) == "exact"


def test_incremental_equals_batch_winnow_substring(spark, tmp_path):
    """The round-4 gap: winnow and substring were batch-only. Split a
    corpus with (a) a shared-paragraph partial-overlap family (winnow's
    tier — whole-doc jaccard below every LSH band's reach) and (b) full
    containment pairs in BOTH temporal orders (contained-then-container
    and container-then-contained) across three micro-batches; the
    incremental path must surface the same exact/strong pair set as one
    batch run over the union."""
    from fuzzycat_spark.operators.dedup import dedup_pages
    from fuzzycat_spark.streaming.dedup_stream import incremental_dedup_batch

    para = (
        "shared paragraph about the migration of arctic terns across "
        "hemispheres every single year without fail"
    )
    core = (
        "a compact note on tidal pools and the creatures living between "
        "the tides on rocky shores"
    )
    rows = [
        # batch 1
        ("w1", para + " unique opening for the first winnow document here"),
        ("s_in", core),  # contained doc arrives BEFORE its container
        ("big_a", "giant wrapper starts here " + core + " and keeps going with more prose"),
        # batch 2
        ("s_of", "totally different preamble then " + core + " plus a distinct coda section"),
        ("w2", para + " a different unique ending for the second document"),
        ("x1", "unrelated filler text about compiler design and register allocation strategies"),
        # batch 3
        ("s_in2", core),  # second contained doc arrives AFTER a container
        ("w3", para + " third framing sentence that shares only the paragraph"),
    ]
    cfg = DedupConfig(
        strategies=("winnow", "substring"),
        substring_k=5,
    )
    df = spark.createDataFrame(rows, "url string, text string")
    batch_pairs = {
        (r.id_a, r.id_b, r.status)
        for r in dedup_pages(df, cfg)[0]
        .filter("status in ('exact','strong')")
        .collect()
    }

    # one segment (empty prior) and three (committed prior)
    for splits in (((0, 8),), ((0, 3), (3, 6), (6, 8))):
        base = f"{tmp_path}/{len(splits)}"
        index, pairs_path = f"{base}/index", f"{base}/pairs"
        for lo, hi in splits:
            b = spark.createDataFrame(rows[lo:hi], "url string, text string")
            incremental_dedup_batch(b, index, pairs_path, cfg)
        inc_pairs = {
            (r.id_a, r.id_b, r.status)
            for r in spark.read.parquet(pairs_path)
            .filter("status in ('exact','strong')")
            .collect()
        }
        assert inc_pairs == batch_pairs, splits
        # the containment pairs must actually be present (both directions)
        flat = {(a, b) for a, b, _ in inc_pairs}
        assert ("big_a", "s_in") in flat
        assert ("s_in2", "s_of") in flat or ("s_of", "s_in2") in flat


def test_incremental_embedding_cosine_links_across_batches(spark, tmp_path):
    """Paraphrase dups (similar embedding, dissimilar text) must link via
    the streaming cosine tier exactly as in batch: the second doc arrives
    in a LATER epoch, so the pair exercises the persisted _emb feature
    state and the deterministic hyperplane index."""
    from fuzzycat_spark.operators.dedup import dedup_pages
    from fuzzycat_spark.streaming.dedup_stream import incremental_dedup_batch

    rng = np.random.RandomState(7)
    v = rng.standard_normal(16)
    v = (v / np.linalg.norm(v)).tolist()
    v2 = [x + 0.01 for x in v]  # cosine ~1
    w = rng.standard_normal(16)
    w = (w / np.linalg.norm(w)).tolist()
    rows = [
        ("p1", "the original phrasing of a subtle argument about causality", v),
        ("q1", "completely different words for the very same underlying claim", v2),
        ("r1", "an unrelated grocery list with apples and flour and yeast", w),
    ]
    schema = "url string, text string, emb array<double>"
    cfg = DedupConfig(
        strategies=("exact", "slug", "embedding"),
        embedding_col="emb",
        embedding_dim=16,
        embedding_planes=4,
        embedding_strong=0.95,
    )
    df = spark.createDataFrame(rows, schema)
    batch_pairs = {
        (r.id_a, r.id_b, r.status, r.reason)
        for r in dedup_pages(df, cfg)[0]
        .filter("status in ('exact','strong')")
        .collect()
    }
    assert ("p1", "q1", "strong", "EMBEDDING_COSINE") in batch_pairs

    # one segment (empty prior) and two (committed prior)
    for splits in (((0, 3),), ((0, 1), (1, 3))):
        base = f"{tmp_path}/{len(splits)}"
        index, pairs_path = f"{base}/index", f"{base}/pairs"
        for lo, hi in splits:
            b = spark.createDataFrame(rows[lo:hi], schema)
            incremental_dedup_batch(b, index, pairs_path, cfg)
        inc_pairs = {
            (r.id_a, r.id_b, r.status, r.reason)
            for r in spark.read.parquet(pairs_path)
            .filter("status in ('exact','strong')")
            .collect()
        }
        assert inc_pairs == batch_pairs, splits


@pytest.mark.parametrize(
    "opts", [{"salt_hot": 8}, {"canonical_col": "canonical"}], ids=["salt_hot", "canonical"]
)
def test_incremental_refuses_whole_corpus_options(spark, tmp_path, opts):
    """Salted shards follow a bucket's cumulative size and canonical hrefs
    resolve against every page url: neither is decidable per epoch."""
    cfg = DedupConfig(**opts)
    b = spark.createDataFrame([("u1", "text")], "url string, text string")
    with pytest.raises(ValueError, match="does not support"):
        incremental_dedup_batch(b, f"{tmp_path}/i", f"{tmp_path}/p", cfg)


def test_incremental_embedding_config_change_fails_loudly(spark, tmp_path):
    """Enabling the embedding strategy against feature state written
    without it must fail loudly (the historical vectors the cosine tier
    needs were never persisted)."""
    base = str(tmp_path)
    index, pairs_path = f"{base}/index", f"{base}/pairs"
    plain = DedupConfig(strategies=("exact", "slug"))
    b1 = spark.createDataFrame(
        [("u1", "some web page text body", [0.1, 0.2])],
        "url string, text string, emb array<double>",
    )
    incremental_dedup_batch(b1, index, pairs_path, plain)
    emb_cfg = DedupConfig(
        strategies=("exact", "slug", "embedding"),
        embedding_col="emb",
        embedding_dim=2,
    )
    b2 = spark.createDataFrame(
        [("u2", "other web page text body", [0.3, 0.4])],
        "url string, text string, emb array<double>",
    )
    with pytest.raises(ValueError, match="must not change"):
        incremental_dedup_batch(b2, index, pairs_path, emb_cfg)


