"""Each table of a stream epoch is written once: the feature, band-index and
pairs state are the epoch's stage checkpoints, and the only other copies
are its reuse boundaries. Every state read passes the schema recorded in a
committed footer, an epoch without band rows included."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

from fuzzycat_spark.operators.dedup import DedupConfig
from fuzzycat_spark.plans.checkpoint import StageCheckpointer
from fuzzycat_spark.streaming import dedup_stream as ds
from fuzzycat_spark.streaming.assignments import read_assignments

CFG = DedupConfig(strategies=("exact", "slug", "minhash"))
SCHEMA = "url string, text string"
FAM = "the quick brown fox jumps over the lazy dog again and again today fine"
NEAR = FAM.replace("fine", "good")
OTHER = "a different page about rivers and fish ladders here and there"


@pytest.fixture
def writes(monkeypatch):
    """Paths of every DataFrameWriter.parquet call, and the stage names of
    every StageCheckpointer.write (the `_<n>` suffix of `materialize`
    stripped)."""
    paths: list[str] = []
    stages: list[str] = []
    orig_parquet, orig_write = DataFrameWriter.parquet, StageCheckpointer.write

    def parquet(self, path, *args, **kwargs):
        paths.append(str(path))
        return orig_parquet(self, path, *args, **kwargs)

    def write(self, df, name):
        stages.append(name if name.startswith("cc_") else re.sub(r"_\d+$", "", name))
        return orig_write(self, df, name)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(StageCheckpointer, "write", write)
    return paths, stages


def test_two_epochs_write_each_state_path_once(spark, tmp_path, writes):
    paths, stages = writes
    index, pairs = f"{tmp_path}/index", f"{tmp_path}/pairs"
    per_epoch = []
    for rows in ([("u1", FAM), ("u2", OTHER)], [("u3", FAM), ("u4", NEAR)]):
        before = len(stages)
        ds.incremental_dedup_batch(spark.createDataFrame(rows, SCHEMA), index, pairs, CFG)
        per_epoch.append(sorted(stages[before:]))

    state = Counter(p for p in paths if p.startswith(str(tmp_path)))
    assert [p for p, n in state.items() if n > 1] == []
    tables = ("pairs", "index", "index_features", "index_sizes", "index_labels", "index_remap")
    assert set(state) == {f"{tmp_path}/{t}/epoch={e}" for t in tables for e in (0, 1)}
    assert per_epoch == [
        ["assign_cur", "cc_edges_0", "stream_candidates"],
        ["assign_cur", "cc_edges_0", "stream_batch_new", "stream_candidates"],
    ]
    got = {(r.id_a, r.id_b): r.status for r in ds.read_pairs(spark, pairs, index).collect()}
    assert got.get(("u1", "u3")) == "exact" and ("u1", "u4") in got


def test_state_reads_pass_their_schema_across_an_empty_band_epoch(
    spark, tmp_path, monkeypatch
):
    """Epoch 1 re-delivers epoch 0's ids only, so its band table is empty
    and its index dir holds no data file. No read of the state runs
    without a schema, and epoch 2 still links to epoch 0's doc."""
    index, pairs = f"{tmp_path}/index", f"{tmp_path}/pairs"
    inferred: list[tuple[str, ...]] = []
    orig_schema, orig_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._passed_schema = s
        return orig_schema(self, s)

    def parquet(self, *paths, **kwargs):
        if getattr(self, "_passed_schema", None) is None:
            inferred.append(paths)
        return orig_parquet(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    epochs = ([("u1", FAM), ("u2", OTHER)], [("u1", FAM)], [("u3", NEAR)])
    for rows in epochs:
        ds.incremental_dedup_batch(spark.createDataFrame(rows, SCHEMA), index, pairs, CFG)
    assert ds.committed_epoch(index) == 2
    assert [p for p in (tmp_path / "index" / "epoch=1").rglob("*.parquet")] == []

    links = {
        (r.id_a, r.id_b): r.status for r in ds.read_pairs(spark, pairs, index).collect()
    }
    assert links.get(("u1", "u3")) == "strong", links
    labels = {r.id: r.cluster_id for r in read_assignments(spark, index).collect()}
    assert labels == {"u1": "u1", "u2": "u2", "u3": "u1"}
    assert dict(ds._read_state(spark, index, 2).dtypes)["band_id"] == "string"
    assert inferred == []
