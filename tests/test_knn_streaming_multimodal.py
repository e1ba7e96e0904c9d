"""Tests for similarity search, streaming incremental dedup, and multimodal
feature plumbing."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pyspark.sql.functions as F
import pytest

from fuzzycat_spark.operators.knn import (
    brute_force_knn,
    hyperplane_knn,
)
from fuzzycat_spark.sources.multimodal import (
    MEDIA_SCHEMA,
    deterministic_fake_decoder,
    extract_media_features,
    sample_video_frames,
    strict_decoder,
)
from fuzzycat_spark.streaming.dedup_stream import incremental_dedup_batch
from fuzzycat_spark.operators.dedup import DedupConfig


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(0)
    base = rng.standard_normal((40, 16)).astype(float)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # a near-duplicate neighbor for every 4th vector
        if i % 4 == 0:
            noisy = v + rng.standard_normal(16) * 0.05
            rows.append((1000 + i, [float(x) for x in noisy]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_brute_force_knn_finds_planted_neighbor(vectors):
    res = brute_force_knn(vectors, vectors, k=1)
    top1 = {r.probe_id: r.neighbor_id for r in res.collect()}
    planted = [i for i in range(0, 40, 4)]
    hits = sum(1 for i in planted if top1[i] == 1000 + i)
    assert hits == len(planted)


def test_hyperplane_knn_recall(vectors):
    exact = {r.probe_id: r.neighbor_id for r in brute_force_knn(vectors, vectors, k=1).collect()}
    approx = {r.probe_id: r.neighbor_id for r in hyperplane_knn(vectors, vectors, k=1, n_planes=6, dim=16).collect()}
    planted = [i for i in range(0, 40, 4)]
    # planted near-dups are nearly-parallel vectors -> same bucket with high prob
    recall = sum(1 for i in planted if approx.get(i) == exact[i]) / len(planted)
    assert recall >= 0.7
    # multiprobe (one-bit flips, probe side only) can only add candidates
    multi = {r.probe_id: r.neighbor_id for r in hyperplane_knn(
        vectors, vectors, k=1, n_planes=6, dim=16, multiprobe=1).collect()}
    recall_m = sum(1 for i in planted if multi.get(i) == exact[i]) / len(planted)
    assert recall_m >= recall


def test_hyperplane_knn_requires_dim(vectors):
    with pytest.raises(ValueError):
        hyperplane_knn(vectors, vectors, k=1, n_planes=6)


def test_bucketed_similar_pairs_subset_of_exact(vectors, spark):
    from fuzzycat_spark.operators.knn import bucketed_similar_pairs, cosine_col

    got = {(r.id_a, r.id_b) for r in bucketed_similar_pairs(
        vectors, 0.9, n_planes=4, dim=16, id_col="vec_id").collect()}
    a = vectors.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = vectors.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    exact = {(r.id_a, r.id_b) for r in a.join(b, F.col("id_a") < F.col("id_b"))
             .filter(cosine_col(F.col("ea"), F.col("eb")) >= 0.9)
             .select("id_a", "id_b").collect()}
    assert got <= exact          # never invents pairs
    assert len(got) >= len(exact) * 0.5   # planted parallel pairs mostly co-bucket


def test_ivf_assign_partitions_index(vectors):
    from fuzzycat_spark.operators.knn import ivf_assign, ivf_centroids

    cents = ivf_centroids(vectors, k=4, n_iter=1)
    rows = cents.collect()
    assert 1 <= len(rows) <= 4
    assert all(len(r.centroid) == 16 for r in rows)
    asg = ivf_assign(vectors, cents).collect()
    # exactly one list per vector (unlike multiprobe LSH: no distinct needed)
    assert len(asg) == vectors.count()
    assert len({r.vec_id_ for r in asg}) == len(asg)
    assert {r.cid for r in asg} <= {r.cid for r in rows}


def test_ivf_knn_recall_and_exactness_at_full_probe(vectors):
    from fuzzycat_spark.operators.knn import ivf_centroids, ivf_knn

    cents = ivf_centroids(vectors, k=4, n_iter=1)
    exact = {r.probe_id: r.neighbor_id for r in brute_force_knn(vectors, vectors, k=1).collect()}
    # nprobe == k probes every list -> identical to brute force
    full = {r.probe_id: r.neighbor_id
            for r in ivf_knn(vectors, vectors, cents, k=1, nprobe=4).collect()}
    assert full == exact
    # nprobe=2 scans half the index; planted near-dups land in the same
    # list as their original, so recall on top-1 stays high
    approx = {r.probe_id: r.neighbor_id
              for r in ivf_knn(vectors, vectors, cents, k=1, nprobe=2).collect()}
    planted = [i for i in range(0, 40, 4)]
    hits = sum(1 for p in planted if approx.get(p) == 1000 + p)
    assert hits >= len(planted) * 0.8


def test_embedding_strategy_ivf_clusters_planted_family(spark):
    """DedupConfig(embedding_index='ivf'): a planted near-identical
    vector family lands in one inverted list and clusters through the
    cosine tier, while well-separated vectors stay singletons — the same
    pipeline semantics as the hyperplane index, different candidate
    geometry."""
    import numpy as np

    from fuzzycat_spark.operators.dedup import DedupConfig, dedup_pages

    rng = np.random.RandomState(7)
    base = rng.standard_normal(16)
    fam = [base + rng.standard_normal(16) * 0.01 for _ in range(3)]
    others = [rng.standard_normal(16) * (i + 1) for i in range(12)]
    rows = [(i, v.tolist()) for i, v in enumerate(fam + others)]
    pages = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).select(
        F.col("vec_id").alias("url"),
        F.col("vec_id").cast("string").alias("text"),
        "embedding",
    )
    cfg = DedupConfig(
        strategies=("embedding",),
        embedding_col="embedding",
        embedding_dim=16,
        embedding_index="ivf",
        embedding_ivf_k=4,
        embedding_strong=0.95,
    )
    _, assign = dedup_pages(pages, cfg)
    got = {r.id: r.cluster_id for r in assign.collect()}
    assert got[0] == got[1] == got[2] == 0
    assert len({v for k, v in got.items() if k >= 3}) == 12  # others singletons


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


def test_media_features_deterministic_and_distributed(spark):
    rows = [
        ("m1", "image", "image/png", b"\x89PNGfakebytes1", 8, 8, None),
        ("m2", "image", "image/png", b"\x89PNGfakebytes1", 8, 8, None),  # same bytes
        ("m3", "audio", "audio/wav", b"RIFFfakeaudio", None, None, 2500),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_media_features(media).collect()}
    assert feats["m1"].content_sha == feats["m2"].content_sha
    assert feats["m1"].embedding == feats["m2"].embedding
    assert feats["m1"].content_sha != feats["m3"].content_sha
    assert len(feats["m3"].embedding) == 16


def test_video_frame_sampling_schedule(spark):
    rows = [("v1", "video", "video/mp4", b"fakevideobytes", None, None, 3500)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = sample_video_frames(media, every_ms=1000).collect()
    assert [f.frame_ts_ms for f in frames] == [0, 1000, 2000, 3000]
    assert all(f.frame_ref.endswith(f"@{f.frame_ts_ms}") for f in frames)


def test_strict_decoder_marks_integration_point():
    with pytest.raises(NotImplementedError):
        strict_decoder(b"x", "image")
    # the fake decoder is deterministic on content
    a = deterministic_fake_decoder(b"same", "image")
    b = deterministic_fake_decoder(b"same", "image")
    assert (a == b).all()


_MEDIA_FIXTURE = "/root/repo/fixtures/media_docs.parquet"


def test_real_decoder_round_trips_committed_fixture():
    """Byte-identity of the real codec: every committed payload (BMP
    bottom-up/top-down/padded, PPM with comment, PGM, 8/16-bit PCM WAV)
    decodes to exactly the source sample array recorded at fixture
    generation time (tools/make_media_fixture.py) — scalar path, no Spark."""
    import hashlib

    import pyarrow.parquet as pq

    from fuzzycat_spark.sources.multimodal import real_decoder

    t = pq.read_table(_MEDIA_FIXTURE).to_pydict()
    assert len(t["media_id"]) >= 7
    for mid, raw, kind, n, s, sha in zip(
        t["media_id"], t["bytes"], t["kind"], t["px_count"], t["px_sum"], t["px_sha"]
    ):
        px = real_decoder(raw, kind).astype(np.uint8)
        assert px.size == n, mid
        assert int(px.astype(np.int64).sum()) == s, mid
        assert hashlib.sha256(px.tobytes()).hexdigest() == sha, mid


def test_real_decoder_rejects_what_it_cannot_parse():
    from fuzzycat_spark.sources.multimodal import real_decoder

    with pytest.raises(NotImplementedError):  # JPEG = the remaining seam
        real_decoder(b"\xff\xd8\xff\xe0rest-of-jpeg", "image")
    with pytest.raises(ValueError):  # PNG signature but no chunks
        real_decoder(b"\x89PNG\r\n\x1a\nrest", "image")
    with pytest.raises(NotImplementedError):  # 16-bit PNG unsupported
        import struct as _s
        import zlib as _z

        ihdr = _s.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
        chunk = _s.pack(">I", len(ihdr)) + b"IHDR" + ihdr + _s.pack(
            ">I", _z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
        )
        body = _z.compress(b"\x00\x00\x00")
        idat = _s.pack(">I", len(body)) + b"IDAT" + body + _s.pack(
            ">I", _z.crc32(b"IDAT" + body) & 0xFFFFFFFF
        )
        real_decoder(b"\x89PNG\r\n\x1a\n" + chunk + idat, "image")
    with pytest.raises(NotImplementedError):  # 32bpp BMP unsupported
        bad = bytearray(60)
        bad[:2] = b"BM"
        bad[28] = 32
        real_decoder(bytes(bad), "image")
    with pytest.raises(ValueError):  # truncated BMP header
        real_decoder(b"BM\x00", "image")
    with pytest.raises(ValueError):  # PNM raster shorter than header claims
        real_decoder(b"P6\n4 4\n255\n\x00\x00", "image")
    with pytest.raises(NotImplementedError):  # 2-byte PNM samples
        real_decoder(b"P5\n1 1\n65535\n\x00\x00", "image")
    with pytest.raises(NotImplementedError):  # non-PCM WAV
        wav = (
            b"RIFF\x24\x00\x00\x00WAVEfmt \x10\x00\x00\x00"
            + (3).to_bytes(2, "little")  # IEEE float, not PCM
            + b"\x01\x00" + b"\x40\x1f\x00\x00" + b"\x80\x3e\x00\x00"
            + b"\x02\x00\x10\x00" + b"data\x00\x00\x00\x00"
        )
        real_decoder(wav, "audio")


def test_decode_media_stats_distributed_matches_fixture(spark):
    """The mapInPandas decode audit (default codec = real_decoder) over
    the committed fixture reproduces the generation-time scalars — the
    same invariant the media_decode driver gate pins at sf0.01."""
    from fuzzycat_spark.sources.multimodal import decode_media_stats

    media = spark.read.parquet(_MEDIA_FIXTURE)
    want = {
        r.media_id: (r.px_count, r.px_sum, r.px_sha)
        for r in media.select("media_id", "px_count", "px_sum", "px_sha").collect()
    }
    got = {
        r.media_id: (r.px_count, r.px_sum, r.px_sha)
        for r in decode_media_stats(media).collect()
    }
    assert got == want


def test_resize_nearest_kernel():
    from fuzzycat_spark.sources.multimodal import resize_nearest

    # identity: same dims returns the samples unchanged
    img = np.arange(2 * 3 * 3, dtype=np.uint8)
    assert np.array_equal(resize_nearest(img, 2, 3, 2, 3), img)
    # 2x upscale duplicates each pixel into a 2x2 block (floor grid)
    tiny = np.array([[1, 2], [3, 4]], dtype=np.uint8).reshape(-1)
    up = resize_nearest(tiny, 2, 2, 4, 4).reshape(4, 4)
    assert np.array_equal(
        up,
        np.array([[1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 4, 4], [3, 3, 4, 4]]),
    )
    # downsample picks the floor-mapped source pixels: yi = y*4 // 2 = 0,2
    big = np.arange(16, dtype=np.uint8)
    down = resize_nearest(big, 4, 4, 2, 2)
    assert np.array_equal(down, np.array([0, 2, 8, 10]))
    # metadata that does not tile the payload fails loudly
    with pytest.raises(ValueError, match="do not tile"):
        resize_nearest(np.zeros(10, np.uint8), 3, 3, 2, 2)
    with pytest.raises(ValueError, match="degenerate"):
        resize_nearest(tiny, 0, 2, 2, 2)


def test_resize_media_distributed_matches_fixture(spark):
    """resize_media over the committed fixture reproduces the
    generation-time 8x8 scalars (the media_resize driver gate) and
    excludes audio rows."""
    from fuzzycat_spark.sources.multimodal import resize_media

    media = spark.read.parquet(_MEDIA_FIXTURE)
    want = {
        r.media_id: (r.rs8_count, r.rs8_sum, r.rs8_sha)
        for r in media.filter(F.col("kind") == "image")
        .select("media_id", "rs8_count", "rs8_sum", "rs8_sha")
        .collect()
    }
    got = {
        r.media_id: (r.rs_count, r.rs_sum, r.rs_sha)
        for r in resize_media(media, 8, 8).collect()
    }
    assert got == want
    assert "wav_pcm16" not in got and len(got) == 13


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


def test_incremental_embedding_ivf_fails_loudly(spark, tmp_path):
    cfg = DedupConfig(
        strategies=("embedding",),
        embedding_col="emb",
        embedding_dim=4,
        embedding_index="ivf",
    )
    b = spark.createDataFrame(
        [("u1", "text", [0.1, 0.2, 0.3, 0.4])],
        "url string, text string, emb array<double>",
    )
    with pytest.raises(ValueError, match="hyperplane"):
        incremental_dedup_batch(b, f"{tmp_path}/i", f"{tmp_path}/p", cfg)


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


def test_frame_stats_hand_computed():
    from fuzzycat_spark.sources.multimodal import frame_stats_u8

    # x - 128 = [0, -1, 0, 1]: energy 2, sign flips at 0->-1 and -1->0
    got = frame_stats_u8(np.array([128, 127, 128, 129], np.uint8), 4)
    assert got == [(0, 4, 2, 2)]
    # partial trailing frame is kept and indexes sequentially
    got = frame_stats_u8(np.array([128, 127, 128, 129, 255], np.uint8), 2)
    assert got == [(0, 2, 1, 1), (1, 2, 1, 0), (2, 1, 127 * 127, 0)]
    assert frame_stats_u8(np.array([], np.uint8), 4) == []


def test_audio_frame_stats_excludes_images_and_matches_kernel(spark):
    from fuzzycat_spark.sources.multimodal import (
        audio_frame_stats,
        frame_stats_u8,
    )

    raw = bytes(range(40))
    rows = [
        ("aud", "audio", None, raw, None, None, None),
        ("img", "image", None, b"\x01\x02", 2, 1, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    passthrough = lambda b, k: np.frombuffer(b, np.uint8)  # noqa: E731
    got = sorted(
        (r.media_id, r.frame_idx, r.n_samples, r.energy, r.zero_crossings)
        for r in audio_frame_stats(media, frame_len=16, decode=passthrough)
        .collect()
    )
    want = sorted(
        ("aud", i, n, e, z)
        for i, n, e, z in frame_stats_u8(np.frombuffer(raw, np.uint8), 16)
    )
    assert got == want and len(got) == 3


def test_audio_frame_stats_fixture_parity(spark):
    from fuzzycat_spark.sources.multimodal import audio_frame_stats
    import pyarrow.parquet as pq

    media = spark.read.parquet(_MEDIA_FIXTURE)
    got = {
        (r.media_id, r.frame_idx): (r.n_samples, r.energy, r.zero_crossings)
        for r in audio_frame_stats(media, frame_len=16).collect()
    }
    t = pq.read_table(
        "/root/repo/fixtures/media_audio_frames.parquet"
    ).to_pydict()
    want = {
        (m, i): (n, e, z)
        for m, i, n, e, z in zip(
            t["media_id"], t["frame_idx"], t["n_samples"], t["energy"],
            t["zero_crossings"],
        )
    }
    assert got == want and len(got) == 7


def test_ahash_invariant_across_containers_and_layouts():
    from fuzzycat_spark.sources.multimodal import ahash64, real_decoder
    import pyarrow.parquet as pq

    t = pq.read_table(_MEDIA_FIXTURE).to_pydict()
    row = {m: i for i, m in enumerate(t["media_id"])}

    def ah(mid):
        i = row[mid]
        px = real_decoder(t["bytes"][i], "image")
        return ahash64(px, t["height"][i], t["width"][i])

    # same pixels, three containers -> identical hash
    assert ah("bmp_grad") == ah("bmp_grad_dup") == ah("png_grad")
    # pinned column matches the decode path
    assert ah("bmp_grad") == t["ahash"][row["bmp_grad"]]
    # one-pixel tweak flips few bits
    d = ah("bmp_grad") ^ ah("bmp_grad_tweak")
    assert 1 <= bin(d & ((1 << 64) - 1)).count("1") <= 7


def test_image_dup_pairs_finds_family_and_skips_random(spark):
    from fuzzycat_spark.sources.multimodal import image_dup_pairs

    media = spark.read.parquet(_MEDIA_FIXTURE)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in image_dup_pairs(media).collect()
    }
    fam = {"bmp_grad", "bmp_grad_dup", "png_grad"}
    for a in fam:
        for b in fam:
            if a < b:
                assert got[(a, b)] == 0
    for a in sorted(fam):
        pair = tuple(sorted((a, "bmp_grad_tweak")))
        assert got[pair] == 6
    # nothing outside the planted family pairs up
    outside = {p for p in got if not set(p) <= fam | {"bmp_grad_tweak"}}
    assert outside == set()
