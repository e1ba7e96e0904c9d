"""Per-stage profile of one scaling level: runs the same pipeline as
tools/scaling_worker.py with the Spark event log enabled, then summarizes
every stage (duration, task time, CPU time, GC time, shuffle bytes, python
time) so 8-core vs 32-core differences are localized to specific stages
instead of guessed at.

Usage: python tools/profile_scaling.py <cores> <corpus> [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)

sys.path.insert(0, ROOT)

from fuzzycat_spark import get_spark
from fuzzycat_spark.operators.dedup import DedupConfig, dedup_pages


def main() -> None:
    cores = int(sys.argv[1])
    corpus_path = sys.argv[2]
    out_path = sys.argv[3] if len(sys.argv) > 3 else None
    evt_dir = tempfile.mkdtemp(prefix=f"evt_{cores}_")
    parts = 64
    spark = get_spark(
        app_name=f"profile-{cores}",
        cores=cores,
        shuffle_partitions=parts,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evt_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    from fuzzycat_spark.operators.components import connected_components
    from fuzzycat_spark.operators.dedup import candidate_pairs
    from fuzzycat_spark.operators.verify import prepare_pages, verify_pairs
    from fuzzycat_spark.plans.checkpoint import materialize

    pages = spark.read.parquet(corpus_path).repartition(parts).localCheckpoint()
    n = pages.count()
    warm_pages = pages.sample(0.02, seed=1).repartition(parts).localCheckpoint()
    _, warm = dedup_pages(warm_pages, DedupConfig())
    warm.count()

    cfg = DedupConfig()
    spark.sparkContext.setJobGroup("prepare", "prepare")
    t0 = time.time()
    prep = prepare_pages(pages, cfg.id_col, cfg.text_col)
    t_prep = time.time() - t0
    spark.sparkContext.setJobGroup("candidates", "candidates")
    t = time.time()
    cands = materialize(candidate_pairs(pages, cfg, prep=prep), "candidates")
    t_cand = time.time() - t
    spark.sparkContext.setJobGroup("verify", "verify")
    t = time.time()
    verified = materialize(verify_pairs(cands, prep), "verified")
    t_ver = time.time() - t
    spark.sparkContext.setJobGroup("cc", "cc")
    t = time.time()
    cc = connected_components(
        verified.filter(F.col("status").isin(*cfg.edge_statuses))
    )
    assign = (
        pages.select(F.col(cfg.id_col).alias("id"))
        .join(cc, on="id", how="left")
        .select("id", F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"))
    )
    n_assign = assign.count()
    t_cc = time.time() - t
    wall = time.time() - t0
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # -- parse the event log (Spark 4 writes a rolling dir) ------------------
    candidates = []
    for root, _dirs, files in os.walk(evt_dir):
        for fn in files:
            if app_id in fn or app_id in root:
                candidates.append(os.path.join(root, fn))
    lines: list[str] = []
    for path in sorted(candidates):
        if "appstatus" in os.path.basename(path):
            continue
        with open(path, errors="ignore") as f:
            lines.extend(f)
    stages: dict[int, dict] = {}
    job_group_of_job: dict[int, str] = {}
    stage_to_job: dict[int, int] = {}
    if True:
        for line in lines:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                job_group_of_job[jid] = (e.get("Properties") or {}).get(
                    "spark.jobGroup.id", ""
                )
                for sinfo in e.get("Stage Infos", []):
                    stage_to_job[sinfo["Stage ID"]] = jid
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sid = si["Stage ID"]
                dur = (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3
                st = stages.setdefault(sid, {
                    "stage": sid, "run_ms": 0, "cpu_ms": 0, "gc_ms": 0,
                    "py_ms": 0, "shuffle_write_mb": 0.0, "deser_ms": 0,
                    "sched_delay_ms": 0,
                })
                st["name"] = si.get("Stage Name", "")[:80]
                st["tasks"] = si.get("Number of Tasks")
                st["wall_sec"] = round(dur, 2)
                st["group"] = job_group_of_job.get(stage_to_job.get(sid, -1), "")
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                # TaskEnd events precede their StageCompleted — accumulate
                # into a default record and merge identity fields later
                st = stages.setdefault(
                    sid,
                    {
                        "stage": sid,
                        "name": "",
                        "tasks": None,
                        "wall_sec": 0.0,
                        "group": "",
                        "run_ms": 0,
                        "cpu_ms": 0,
                        "gc_ms": 0,
                        "py_ms": 0,
                        "shuffle_write_mb": 0.0,
                        "deser_ms": 0,
                        "sched_delay_ms": 0,
                    },
                )
                tm = e.get("Task Metrics") or {}
                ti = e.get("Task Info") or {}
                st["run_ms"] += tm.get("Executor Run Time", 0)
                st["cpu_ms"] += int(tm.get("Executor CPU Time", 0) / 1e6)
                st["gc_ms"] += tm.get("JVM GC Time", 0)
                st["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                launch = ti.get("Launch Time", 0)
                finish = ti.get("Finish Time", 0)
                if finish and launch:
                    st["sched_delay_ms"] += (
                        (finish - launch)
                        - tm.get("Executor Run Time", 0)
                        - tm.get("Executor Deserialize Time", 0)
                        - tm.get("Result Serialization Time", 0)
                    )
                # python worker time hides in accumulables
                for acc in ti.get("Accumulables", []):
                    if "python" in (acc.get("Name") or "").lower():
                        try:
                            st["py_ms"] += int(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            pass

    summary = {
        "cores": cores,
        "docs": n,
        "assignments": n_assign,
        "wall_sec": round(wall, 2),
        "phases": {
            "prepare": round(t_prep, 1),
            "candidates": round(t_cand, 1),
            "verify": round(t_ver, 1),
            "cc_assign": round(t_cc, 1),
        },
        "stages": sorted(
            (s for s in stages.values() if s["wall_sec"] > 0.2),
            key=lambda s: -s["wall_sec"],
        )[:30],
    }
    text = json.dumps(summary, indent=1)
    if out_path:
        with open(out_path, "w") as f:
            f.write(text)
    print(text)


if __name__ == "__main__":
    main()
