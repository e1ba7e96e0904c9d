"""One scaling-bench level: run the full dedup pipeline on a parquet corpus
at a given core count. Usage: python tools/scaling_worker.py <cores> <corpus>.
Prints one JSON line. Used by tools/bench_scaling.py and ad-hoc runs."""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)

sys.path.insert(0, ROOT)

from fuzzycat_spark import get_spark
from fuzzycat_spark.operators.dedup import DedupConfig, dedup_pages


def main() -> None:
    cores = int(sys.argv[1])
    corpus_path = sys.argv[2]
    # identical logical plan at every level: same partition counts, only
    # the executor-slot count varies (what "add executors" means on a real
    # cluster); AQE coalesces where the data is small
    parts = 64
    spark = get_spark(
        app_name=f"scaling-{cores}", cores=cores, shuffle_partitions=parts
    )
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(corpus_path)
    # a 100 TB input arrives in many splits; a single local parquet file
    # does not, so spread it the way the real scan would be
    pages = pages.repartition(parts).localCheckpoint()
    n = pages.count()
    # warmup: JVM/codegen/Python-worker spinup outside the timed window.
    # The warm frame keeps all `parts` partitions so every executor slot
    # forks+imports its resident Python worker BEFORE the timed window —
    # a fixed per-process cost, not a scaling property (cluster executors
    # on a long-running job are warm).
    warm_pages = pages.sample(0.02, seed=1).repartition(parts).localCheckpoint()
    _, warm = dedup_pages(warm_pages, DedupConfig())
    warm.count()
    from fuzzycat_spark.operators.dedup import candidate_pairs
    from fuzzycat_spark.operators.verify import prepare_pages, verify_pairs
    from fuzzycat_spark.operators.components import connected_components
    from fuzzycat_spark.plans.checkpoint import materialize
    from pyspark.sql import functions as F

    cfg = DedupConfig()
    phases = {}
    t0 = time.time()
    prep = prepare_pages(pages, cfg.id_col, cfg.text_col)
    phases["prepare"] = round(time.time() - t0, 1)
    t = time.time()
    cands = materialize(candidate_pairs(pages, cfg, prep=prep), "candidates")
    phases["candidates"] = round(time.time() - t, 1)
    t = time.time()
    verified = materialize(verify_pairs(cands, prep), "verified")
    phases["verify"] = round(time.time() - t, 1)
    t = time.time()
    cc = connected_components(verified.filter(F.col("status").isin(*cfg.edge_statuses)))
    assign = (
        pages.select(F.col(cfg.id_col).alias("id"))
        .join(cc, on="id", how="left")
        .select("id", F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"))
    )
    n_assign = assign.count()
    phases["cc_assign"] = round(time.time() - t, 1)
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "cores": cores,
                "docs": n,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n / wall, 1),
                "assignments": n_assign,
                "phases": phases,
            }
        )
    )


if __name__ == "__main__":
    main()
