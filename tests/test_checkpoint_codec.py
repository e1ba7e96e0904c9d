"""Ephemeral tmpfs checkpoints skip parquet compression; durable ones
keep the session codec (round-6 optimization: the codec is pure CPU when
the pages are RAM-resident either way)."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq

from fuzzycat_spark.plans.checkpoint import StageCheckpointer


def _codec_of(path: str) -> str:
    f = glob.glob(os.path.join(path, "*.parquet"))[0]
    md = pq.read_metadata(f)
    return md.row_group(0).column(0).compression


def test_ephemeral_tmpfs_checkpoint_uncompressed(spark, tmp_path, request):
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    ck = StageCheckpointer(spark)  # ephemeral
    request.addfinalizer(lambda: shutil.rmtree(ck.base_dir, ignore_errors=True))
    if ck.base_dir.startswith("/dev/shm"):
        assert ck.codec == "uncompressed"
        out = ck.write(df, "codec_probe")
        assert out.count() == 10
        assert _codec_of(ck.path("codec_probe")) == "UNCOMPRESSED"
    # durable checkpointer keeps the session default (snappy) regardless
    dck = StageCheckpointer(spark, base_dir=str(tmp_path / "durable"))
    assert dck.codec is None
    out = dck.write(df, "codec_probe")
    assert out.count() == 10
    assert _codec_of(dck.path("codec_probe")) == "SNAPPY"
