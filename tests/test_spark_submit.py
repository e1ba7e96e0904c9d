"""The north rule's deployment clause, exercised for real: the dedup job
runs under `spark-submit --py-files fuzzycat_spark.zip` — a fresh JVM, a
fresh Python, and NO repo on sys.path, so every import must resolve from
the shipped zip exactly as it would on a cluster's executors.

Reference analog: fuzzycat runs as `python -m fuzzycat <cmd>` on one
machine; this is the distributed-submission equivalent of that CLI.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from _paths import ROOT


def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    # -- corpus: reuse the session fixture to write a small skewed corpus
    from fuzzycat_spark.sources import synth_pages

    pages_dir = str(tmp_path / "pages")
    synth_pages(spark, 60, 30).write.mode("overwrite").parquet(pages_dir)

    # -- package zip, built the same way `make dist` does
    zip_path = shutil.make_archive(
        str(tmp_path / "fuzzycat_spark"), "zip", ROOT, "fuzzycat_spark"
    )

    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
    )
    out_dir, ckpt_dir = str(tmp_path / "out"), str(tmp_path / "ckpt")
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)  # nothing may leak the repo onto the path
    }
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--driver-memory", "4g",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            os.path.join(ROOT, "jobs", "dedup_job.py"),
            "--input", pages_dir,
            "--output", out_dir,
            "--checkpoint", ckpt_dir,
            "--strategies", "exact,slug,minhash",
        ],
        cwd=str(tmp_path),  # NOT the repo: imports must come from the zip
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    # the job prints one JSON line listing completed checkpoint stages
    stages_line = [
        ln for ln in proc.stdout.splitlines() if ln.startswith('{"stages"')
    ]
    assert stages_line, proc.stdout[-2000:]
    stages = json.loads(stages_line[-1])["stages"]
    assert "verified" in " ".join(stages) or len(stages) >= 2

    # outputs: every doc got a cluster assignment, dup pairs were found
    a = spark.read.parquet(f"{out_dir}/assignments")
    v = spark.read.parquet(f"{out_dir}/verified_pairs")
    n_docs = spark.read.parquet(pages_dir).count()
    assert a.count() == n_docs
    assert {"url", "cluster_id"} <= set(a.columns) or len(a.columns) >= 2
    assert v.count() > 0
