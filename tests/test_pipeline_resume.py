"""Resumable pipeline: stage checkpoints, lineage counters and resume-from-
last-stage."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from fuzzycat_spark.operators.dedup import DedupConfig, dedup_pages
from fuzzycat_spark.plans.checkpoint import StageCheckpointer
from fuzzycat_spark.plans.pipeline import run_dedup_pipeline
from fuzzycat_spark.sources import synth_pages


def test_pipeline_stages_and_resume(spark):
    base = tempfile.mkdtemp()
    pages = synth_pages(spark, n_families=30, n_spam=10)
    ck = StageCheckpointer(spark, base)
    out = run_dedup_pipeline(pages, ck, DedupConfig())
    n = out["assignments"].count()
    assert n == 30 * 4 + 10
    manifest = json.load(open(os.path.join(base, "_manifest.json")))
    for stage in ("prepared", "candidates", "verified", "assignments"):
        assert stage in manifest
        assert manifest[stage]["rows"] > 0
        assert manifest[stage]["files"] >= 1
    assert "verdicts" in manifest

    # resume: same checkpointer dir loads instead of recomputing — verify by
    # corrupting nothing and checking the stage parquet mtimes are reused
    ck2 = StageCheckpointer(spark, base)
    before = os.path.getmtime(manifest["verified"]["path"])
    out2 = run_dedup_pipeline(pages, ck2, DedupConfig(), lineage=False)
    assert out2["assignments"].count() == n
    assert os.path.getmtime(manifest["verified"]["path"]) == before  # not rewritten


def test_cli_pipeline_matches_flagship_on_mega_cluster(spark, tmp_path):
    """run_dedup_pipeline (the spark-submit path) must produce EXACTLY the
    flagship dedup_pages pair set — including on a slug-equal template
    family over the bucket cap. The round-4 CLI path routed exact/slug
    through the capped band table, so a mega-cluster's buckets exceeded
    the cap and yielded ZERO pairs (the reference's drop-big-clusters
    pathology, verify.py:130-131, that star edges exist to fix); it also
    re-scanned text for simhash. Both paths now run
    operators.dedup.dedup_stages."""
    corpus = synth_pages(spark, n_families=20, n_spam=0)
    # 120 slug-equal pages (punctuation-only variants -> one slug key, many
    # content hashes), over the bucket cap of 100 set below
    mega = spark.range(120).select(
        F.concat(F.lit("https://mega.example/p/"), F.col("id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(
            F.lit("boilerplate template body with many repeated tokens for the mega cluster fixture"),
            F.repeat(F.lit("!"), F.pmod(F.col("id"), F.lit(7)).cast("int")),
        ).alias("text"),
        F.lit("en").alias("lang"),
    )
    pages = corpus.unionByName(mega)
    cfg = DedupConfig(
        strategies=("exact", "slug", "minhash", "simhash"), max_bucket_size=100
    )

    v_flag, a_flag = dedup_pages(pages, cfg)
    flag_pairs = {(r.id_a, r.id_b, r.status, r.reason) for r in v_flag.collect()}

    ck = StageCheckpointer(spark, str(tmp_path / "ck"))
    out = run_dedup_pipeline(pages, ck, cfg, lineage=False)
    cli_pairs = {
        (r.id_a, r.id_b, r.status, r.reason) for r in out["verified"].collect()
    }
    assert cli_pairs == flag_pairs

    # the mega family is fully recovered through the CLI path: one cluster
    mega_clusters = {
        r.cluster_id
        for r in out["assignments"].collect()
        if r.id.startswith("https://mega.example/")
    }
    assert len(mega_clusters) == 1
    # and assignments agree doc-for-doc with the flagship
    flag_assign = {(r.id, r.cluster_id) for r in a_flag.collect()}
    cli_assign = {(r.id, r.cluster_id) for r in out["assignments"].collect()}
    assert cli_assign == flag_assign


def test_sweep_spares_live_dir_with_fresh_heartbeat(tmp_path):
    """A session in a long compute phase (dir mtime hours old, heartbeat
    fresh) must survive a concurrent sweep; a truly dead dir must not."""
    import os
    import time as _time

    from fuzzycat_spark.plans.checkpoint import (
        HEARTBEAT,
        _sweep_stale,
        _touch_heartbeat,
    )

    root = str(tmp_path)
    old = 4 * 3600
    live = os.path.join(root, "fuzzycat_ckpt_live")
    dead = os.path.join(root, "fuzzycat_ckpt_dead")
    for d in (live, dead):
        os.makedirs(d)
    _touch_heartbeat(live)
    stale = _time.time() - old
    # age the dirs themselves AND the dead dir's contents
    os.utime(live, (stale, stale))
    os.utime(dead, (stale, stale))
    hb = os.path.join(live, HEARTBEAT)
    assert os.path.exists(hb)  # heartbeat mtime stays fresh
    _sweep_stale(root, "fuzzycat_ckpt_")
    assert os.path.isdir(live)
    assert not os.path.exists(dead)


def test_stage_lineage_from_footers(spark, tmp_path, request):
    """Durable stages record per-partition lineage + counters (north rule)
    from parquet footers only: manifest carries the aggregates (rows,
    files, bytes, skew spread), the stage dir a per-file sidecar."""
    import json
    import os

    ck = StageCheckpointer(spark, str(tmp_path / "ck"))
    df = spark.range(1000).repartition(4)
    ck.write(df, "stage_a")
    m = ck._manifest["stage_a"]
    assert m["rows"] == 1000 and m["files"] == 4
    assert m["min_file_rows"] >= 1 and m["max_file_rows"] <= 1000
    assert m["bytes"] > 0
    with open(os.path.join(m["path"], "_lineage.json")) as f:
        parts = json.load(f)
    assert len(parts) == 4
    assert sum(p["rows"] for p in parts) == 1000
    # ephemeral checkpointers (materialize barriers) skip the footer scan
    eph = StageCheckpointer(spark)
    request.addfinalizer(lambda: shutil.rmtree(eph.base_dir, ignore_errors=True))
    eph.write(df, "mat_1")
    assert "files" not in eph._manifest["mat_1"]


def test_dedup_job_cli_canonical_col_arm(spark, tmp_path, monkeypatch, capsys):
    """jobs/dedup_job.py --canonical-col: the spark-submit CLI exposes
    the publisher-edge config — the AMP stub whose text shares nothing
    with its article lands in the article's cluster through the
    checkpointed pipeline path."""
    import sys

    from jobs import dedup_job

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    rows = [
        ("https://example.com/articles/42",
         "the full article text about rivers bridges canals ferries "
         "locks and harbors at length", None),
        ("https://amp.example.com/a42/amp",
         "amp stub entirely different words truncated teaser here",
         "https://example.com/articles/42"),
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "url string, text string, canonical string"
    ).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    old = sys.argv
    sys.argv = ["dedup_job.py", "--input", src, "--output", out,
                "--checkpoint", ckpt, "--strategies", "exact,slug",
                "--canonical-col", "canonical"]
    try:
        dedup_job.main()
    finally:
        sys.argv = old
    a = {r.id: r.cluster_id for r in
         spark.read.parquet(f"{out}/assignments").collect()}
    assert a["https://amp.example.com/a42/amp"] == a[
        "https://example.com/articles/42"
    ]
    v = spark.read.parquet(f"{out}/verified_pairs")
    assert v.filter(F.col("reason") == "CANONICAL_LINK").count() == 1


def test_resumed_stage_loads_with_its_recorded_schema(spark, tmp_path, monkeypatch):
    """A resumed stage is re-read with the schema its write recorded in the
    manifest, so the load runs no inference job and types match the write."""
    from pyspark.sql.readwriter import DataFrameReader

    base = str(tmp_path / "ck")
    df = spark.range(5).selectExpr("id", "array(id, id) AS arr", "CAST(id AS STRING) AS s")
    StageCheckpointer(spark, base).write(df, "stage_a")
    passed = []
    orig = DataFrameReader.schema

    def schema(self, s):
        passed.append(s)
        return orig(self, s)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    out = StageCheckpointer(spark, base).stage("stage_a", lambda: pytest.fail("rebuilt"))
    assert [s.fieldNames() for s in passed] == [["id", "arr", "s"]]
    assert out.dtypes == [("id", "bigint"), ("arr", "array<bigint>"), ("s", "string")]
    assert out.count() == 5
