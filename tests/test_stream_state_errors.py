"""Failures around the incremental dedup state are loud: an unreadable
committed table or a garbled commit pointer, base pointer or epoch manifest
raises instead of reading as empty history, and a failed epoch manifest
write is logged (the epoch still commits). A sizes snapshot written with an
extra column of an earlier layout still resumes, and a relative or
`file:` state root works like an absolute path."""

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


def test_garbled_epoch_manifest_raises_with_its_path(spark, tmp_path):
    """Only a manifest that was never written reads as None; one that does
    not parse is not "no manifest"."""
    index, pairs = f"{tmp_path}/index", f"{tmp_path}/pairs"
    ds.incremental_dedup_batch(
        spark.createDataFrame([("u1", FAM)], SCHEMA), index, pairs, CFG, assign=False
    )
    assert ds.read_epoch_manifest(index, 0)["epoch"] == 0
    assert ds.read_epoch_manifest(index, 1) is None
    with open(f"{index}_sizes/_manifest_epoch_0.json", "w") as f:
        f.write('{"epoch": 0, "tables"')
    with pytest.raises(RuntimeError, match="_manifest_epoch_0.json"):
        ds.read_epoch_manifest(index, 0)


@pytest.mark.parametrize("form", ["relative", "file_uri", "qualified"])
def test_state_root_forms_commit_and_read_back(spark, tmp_path, form):
    """Pointer and manifest I/O reach the state Spark wrote for a relative
    root, a Hadoop single-slash `file:/...` URI, and a relative root
    qualified through Spark as the stream job does. A relative path, not a
    chdir: the Spark JVM resolves relative paths against the directory it
    started in."""
    from fuzzycat_spark.plans.checkpoint import qualify_path

    rel = os.path.relpath(tmp_path)
    assert not os.path.isabs(rel)
    root = {
        "relative": rel,
        "file_uri": f"file:{tmp_path}",
        "qualified": qualify_path(spark, rel),
    }[form]
    if form == "qualified":
        assert root == f"file:{tmp_path}"
    index, pairs = f"{root}/index", f"{root}/pairs"
    for rows in ([("u1", FAM), ("u2", "an unrelated page about tides")], [("u3", FAM)]):
        ds.incremental_dedup_batch(
            spark.createDataFrame(rows, SCHEMA), index, pairs, CFG, assign=False
        )
    assert ds.committed_epoch(index) == 1
    assert os.path.exists(f"{tmp_path}/index_sizes/_CURRENT")
    got = {(r.id_a, r.id_b): r.status for r in ds.read_pairs(spark, pairs, index).collect()}
    assert got.get(("u1", "u3")) == "exact"
    lineage = ds.read_epoch_manifest(index, 1)["tables"]["pairs"]
    assert "error" not in lineage and lineage["rows"] == 1, lineage


def test_sizes_snapshot_with_cap_column_still_resumes(spark, tmp_path):
    """A sizes snapshot written with the earlier per-row `cap` column must
    resume: epoch 1 over it gives the pairs and sizes of a clean run."""
    import shutil

    from pyspark.sql import functions as F

    near = FAM.replace("fine", "good")
    epochs = (
        [("u1", FAM), ("u2", "a different page about rivers and fish ladders here")],
        [("u3", FAM), ("u4", near)],
    )

    clean, resumed = f"{tmp_path}/clean", f"{tmp_path}/resumed"
    ds.incremental_dedup_batch(
        spark.createDataFrame(epochs[0], SCHEMA),
        f"{clean}/index", f"{clean}/pairs", CFG, assign=False,
    )
    shutil.copytree(clean, resumed)
    snap = f"{resumed}/index_sizes/epoch=0"
    spark.read.parquet(snap).select(
        "band_id", "band_hash", F.lit(200).cast("int").alias("cap"), "n"
    ).write.parquet(f"{tmp_path}/capped")
    shutil.rmtree(snap)
    shutil.move(f"{tmp_path}/capped", snap)
    assert "cap" in spark.read.parquet(snap).columns

    def epoch1(root: str):
        index, pairs = f"{root}/index", f"{root}/pairs"
        ds.incremental_dedup_batch(
            spark.createDataFrame(epochs[1], SCHEMA), index, pairs, CFG, assign=False
        )
        assert ds.committed_epoch(index) == 1
        got_pairs = sorted(
            tuple(r) for r in ds.read_pairs(spark, pairs, index)
            .select("id_a", "id_b", "status", "reason").collect()
        )
        got_sizes = sorted(
            tuple(r) for r in spark.read.parquet(f"{index}_sizes/epoch=1")
            .select("band_id", "band_hash", "n").collect()
        )
        return got_pairs, got_sizes

    want = epoch1(clean)
    assert want[0], "the fixture must yield pairs"
    assert epoch1(resumed) == want


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_garbled_commit_pointer_raises_and_keeps_committed_state(spark, tmp_path):
    """A commit pointer that does not parse is not "no commits": read that
    way, a direct call would take epoch 0 and overwrite the committed
    epoch 0 state."""
    index, pairs = f"{tmp_path}/index", f"{tmp_path}/pairs"
    ds.incremental_dedup_batch(
        spark.createDataFrame([("u1", FAM)], SCHEMA), index, pairs, CFG, assign=False
    )
    feat0 = f"{index}_features/epoch=0"
    before = _tree(feat0)
    with open(f"{index}_sizes/_CURRENT", "w") as f:
        f.write("7}garbled")
    with pytest.raises(RuntimeError, match="commit pointer"):
        ds.incremental_dedup_batch(
            spark.createDataFrame([("u2", FAM)], SCHEMA), index, pairs, CFG, assign=False
        )
    assert _tree(feat0) == before


def test_garbled_base_pointer_fails_the_read(spark, tmp_path):
    """A base pointer that does not parse is not "never compacted": read
    that way, `_read_state` would serve only the tail left after
    compaction."""
    from fuzzycat_spark.streaming.compaction import compact_state

    index, pairs = f"{tmp_path}/index", f"{tmp_path}/pairs"
    ds.incremental_dedup_batch(
        spark.createDataFrame([("u1", FAM), ("u2", FAM)], SCHEMA),
        index, pairs, CFG, assign=False,
    )
    compact_state(spark, index, pairs)
    assert ds.read_pairs(spark, pairs, index).count() == 1
    with open(f"{pairs}/_BASE", "w") as f:
        f.write('{"gen": 0, "upto"')
    with pytest.raises(RuntimeError, match="base pointer"):
        ds._read_state(spark, pairs, ds.committed_epoch(index))
