"""Failures around the incremental dedup state are loud: an unreadable
committed table raises instead of reading as empty history, and a failed
epoch manifest write is logged (the epoch still commits)."""

from __future__ import annotations

import logging
import os

import pytest

import fuzzycat_spark.streaming.dedup_stream as ds
from fuzzycat_spark.operators.dedup import DedupConfig

CFG = DedupConfig(strategies=("exact", "slug", "minhash"))
SCHEMA = "url string, text string"
FAM = "the quick brown fox jumps over the lazy dog again and again today fine"


def test_missing_state_table_reads_as_absent(spark, tmp_path):
    assert ds.try_read_parquet(spark, f"{tmp_path}/never_written") is None


def test_state_table_without_data_files_raises(spark, tmp_path):
    # a directory that exists but holds no parquet file is not "absent"
    os.makedirs(f"{tmp_path}/t/epoch=0")
    open(f"{tmp_path}/t/epoch=0/_SUCCESS", "w").close()
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        ds.try_read_parquet(spark, f"{tmp_path}/t")


def test_unreadable_committed_features_fail_the_epoch(spark, tmp_path, monkeypatch):
    """With epoch 0 committed, a feature table that cannot be read must
    stop epoch 1: read as empty history it would drop the idempotency
    guard and every cross-epoch candidate."""
    from pyspark.sql.readwriter import DataFrameReader

    index, pairs = f"{tmp_path}/index", f"{tmp_path}/pairs"
    ds.incremental_dedup_batch(
        spark.createDataFrame([("u1", FAM)], SCHEMA), index, pairs, CFG
    )
    assert ds.committed_epoch(index) == 0

    real = DataFrameReader.parquet

    def broken(self, *paths, **kwargs):
        if any("_features" in p for p in paths):
            raise RuntimeError("footer unreadable: not a Parquet file")
        return real(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", broken)
    with pytest.raises(RuntimeError, match="not a Parquet file"):
        ds.incremental_dedup_batch(
            spark.createDataFrame([("u1", FAM), ("u2", FAM)], SCHEMA),
            index,
            pairs,
            CFG,
        )
    assert ds.committed_epoch(index) == 0


def test_manifest_write_failure_is_logged_and_epoch_commits(
    spark, tmp_path, monkeypatch, caplog
):
    real = ds._resolve_fs

    def failing(path):
        if "_manifest_epoch_" in path:
            raise OSError("no space left on device")
        return real(path)

    monkeypatch.setattr(ds, "_resolve_fs", failing)
    index, pairs = f"{tmp_path}/index", f"{tmp_path}/pairs"
    with caplog.at_level(logging.WARNING, logger=ds.__name__):
        ds.incremental_dedup_batch(
            spark.createDataFrame([("u1", FAM), ("u2", FAM)], SCHEMA),
            index,
            pairs,
            CFG,
        )
    assert ds.committed_epoch(index) == 0
    msgs = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert any(
        "_manifest_epoch_0.json" in m and "no space left on device" in m for m in msgs
    ), msgs
    assert ds.read_epoch_manifest(index, 0) is None
