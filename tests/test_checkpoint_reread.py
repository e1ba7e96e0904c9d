"""Checkpoint re-reads pass the written frame's schema instead of inferring
it from the parquet footers (one Spark job fewer per checkpoint), and the
connected-components scratch checkpoints live inside the session's
ephemeral dir, so its exit-time removal covers them."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.types import ArrayType, MapType, StructType

from fuzzycat_spark.operators import components
from fuzzycat_spark.operators.dedup import DedupConfig, dedup_pages
from fuzzycat_spark.plans import checkpoint
from fuzzycat_spark.sources import synth_pages
from fuzzycat_spark.streaming.dedup_stream import incremental_dedup_batch

_CFG = DedupConfig(strategies=("exact", "slug", "minhash", "simhash", "winnow"))


def _types(dt):
    """Every data type nested in `dt`, `dt` included."""
    yield dt
    if isinstance(dt, StructType):
        for f in dt.fields:
            yield from _types(f.dataType)
    elif isinstance(dt, ArrayType):
        yield from _types(dt.elementType)
    elif isinstance(dt, MapType):
        yield from _types(dt.keyType)
        yield from _types(dt.valueType)


@pytest.fixture
def schema_reads(monkeypatch):
    """(path, schema read with the passed schema, inferred schema) of every
    parquet read that passes a schema, compared at the time of the read."""
    seen: list[tuple[str, StructType, StructType]] = []
    orig_schema, orig_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._passed_schema = s
        return orig_schema(self, s)

    def parquet(self, *paths, **kwargs):
        out = orig_parquet(self, *paths, **kwargs)
        if getattr(self, "_passed_schema", None) is not None:
            inferred = self._spark.read.parquet(*paths).schema
            seen.append((paths[0], out.schema, inferred))
        return out

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    return seen


def test_passed_schema_equals_inferred_for_every_written_stage(
    spark, tmp_path, monkeypatch, schema_reads
):
    pages = synth_pages(spark, n_families=12, n_spam=6).select("url", "text", "lang")
    # batch, with the components loop's own re-reads
    monkeypatch.setattr(components, "driver_edge_cap", lambda spark: 0)
    verified, assign = dedup_pages(pages, _CFG)
    assert verified.filter(F.col("status") == "exact").count() > 0
    assert assign.count() == pages.count()
    monkeypatch.setattr(components, "driver_edge_cap", lambda spark: 10**9)
    # a two-epoch stream: the pairs sink and the epoch's stage writes
    index, pairs = f"{tmp_path}/index", f"{tmp_path}/pairs"
    rows = pages.orderBy("url").collect()
    for chunk in (rows[: len(rows) // 2], rows[len(rows) // 2 :]):
        incremental_dedup_batch(
            spark.createDataFrame(chunk, pages.schema), index, pairs, _CFG
        )

    # the stages carry arrays but no nested struct or map: pin those, and
    # non-nullable fields, through a probe frame
    probe = spark.range(3).select(
        "id",
        F.struct("id", F.lit("x").alias("s")).alias("st"),
        F.array(F.struct(F.col("id").alias("z"))).alias("arr_st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
    )
    assert checkpoint.materialize(probe, "nested_probe").count() == 3

    names = {p.rstrip("/").rsplit("/", 1)[-1].rsplit("_", 1)[0] for p, *_ in schema_reads}
    for stage in ("prep_features", "candidates", "cc_edges", "cc_labels", "nested_probe"):
        assert stage in names, sorted(names)
    assert {p for p, *_ in schema_reads} >= {
        f"{state}/epoch={e}" for state in (pairs, index, f"{index}_features") for e in (0, 1)
    }
    types = {type(t) for _, passed, _ in schema_reads for f in passed for t in _types(f.dataType)}
    assert {ArrayType, StructType, MapType} <= types
    for path, passed, inferred in schema_reads:
        assert passed == inferred, path


def test_components_scratch_dirs_stay_in_the_session_dir(spark, tmp_path, monkeypatch):
    """Two dedup_pages calls add no `fuzzycat_ckpt_*` dir of their own: the
    components scratch dirs go inside the session's ephemeral dir (removed
    with it at exit), and a driver finish before round 0 removes its own
    at once."""
    monkeypatch.setenv("FUZZYCAT_CKPT_DIR", str(tmp_path))
    pages = synth_pages(spark, n_families=8, n_spam=4).select("url", "text", "lang")
    own = Path(checkpoint._session_checkpointer(spark).base_dir)
    for cap, kept in ((10**9, 0), (0, 2)):
        monkeypatch.setattr(components, "driver_edge_cap", lambda spark: cap)
        before = set(own.glob("cc_*"))
        for _ in range(2):
            assert dedup_pages(pages, DedupConfig())[1].count() == pages.count()
        assert len(set(own.glob("cc_*")) - before) == kept
    assert [p for p in tmp_path.glob("fuzzycat_ckpt_*") if p != own] == []
