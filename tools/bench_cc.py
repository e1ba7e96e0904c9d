"""Connected-components convergence benchmark on adversarial shapes at
>= 1M edges: a single long CHAIN (worst diameter — stresses pointer
jumping), a STAR (worst hub skew), and a forest of mid-sized cliques (the
dedup-realistic shape). Runs each shape twice, finishing on the driver
once the contracted edges fit `driver_edge_cap` ("driver") and through the
distributed rounds only ("loop"), and prints one JSON line per run with
rounds, the driver finish, wall, and correctness (every node must land on
the component minimum).

Usage: python tools/bench_cc.py [n_edges] [cores]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)

sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from fuzzycat_spark import get_spark
from fuzzycat_spark.operators import components
from fuzzycat_spark.plans.checkpoint import scratch_checkpointer

N_EDGES = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
CORES = int(sys.argv[2]) if len(sys.argv) > 2 else 32


def main() -> None:
    spark = get_spark(app_name="cc-bench", cores=CORES, shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    n = N_EDGES

    shapes = {
        # chain: 0-1-2-...-n  (diameter n — ~log_8 rounds via composed-map doubling)
        "chain": spark.range(n).select(
            F.format_string("n%09d", F.col("id")).alias("id_a"),
            F.format_string("n%09d", F.col("id") + 1).alias("id_b"),
        ),
        # chain with order-DESTROYED ids: reversing the zero-padded digits
        # is a bijection, so the graph is the same path but min-propagation
        # can't ride monotone ids — the shape that defeated the static-edge
        # formulation (>60 rounds at n=1000); contraction handles it
        "chain_shuffled": spark.range(n).select(
            F.concat(F.lit("n"), F.reverse(F.format_string("%09d", F.col("id")))).alias("id_a"),
            F.concat(F.lit("n"), F.reverse(F.format_string("%09d", F.col("id") + 1))).alias("id_b"),
        ),
        # star: hub-spoke_i (one mega-degree node)
        "star": spark.range(n).select(
            F.lit("hub").alias("id_a"),
            F.format_string("s%09d", F.col("id") + 1).alias("id_b"),
        ),
        # paths of 32 nodes (diameter 31) x ~2k components — family-ish shape
        # with non-trivial diameter; 1M edge rows collapse to ~62k distinct
        "paths32": spark.range(n).select(
            F.format_string(
                "c%08d_%02d", F.floor(F.col("id") / 496).cast("long"), F.col("id") % 31
            ).alias("id_a"),
            F.format_string(
                "c%08d_%02d", F.floor(F.col("id") / 496).cast("long"), (F.col("id") % 31) + 1
            ).alias("id_b"),
        ),
    }
    # a single component each, except one path per 496-id block
    expected = {"chain": 1, "chain_shuffled": 1, "star": 1, "paths32": -(-n // 496)}
    driver_cap = components.driver_edge_cap
    for name, edges in shapes.items():
        # default: finish on the driver once the edges fit its cap;
        # loop: the distributed rounds only (cap 0)
        for path, cap in (("driver", driver_cap), ("loop", lambda spark: 0)):
            components.driver_edge_cap = cap
            ck = scratch_checkpointer(spark, "bench_cc_")
            t0 = time.time()
            cc = components.connected_components(edges, max_iterations=64, checkpointer=ck)
            # correctness: every cluster is labelled with its own minimum id
            # and there are as many clusters as components
            per = cc.groupBy("cluster_id").agg(F.min("id").alias("lo"))
            agg = per.agg(
                F.count(F.lit(1)).alias("n_components"),
                F.sum((F.col("lo") != F.col("cluster_id")).cast("int")).alias("bad"),
            ).first()
            n_nodes = cc.count()
            wall = time.time() - t0
            rounds = sum(1 for k in ck._manifest if k.startswith("cc_iter_"))
            local = ck._manifest.get("cc_local", {}).get("counters")
            print(
                json.dumps(
                    {
                        "shape": name,
                        "path": path,
                        "edges": n,
                        "nodes": n_nodes,
                        "components": int(agg["n_components"]),
                        "rounds": rounds,
                        "driver_finish": local,
                        "wall_sec": round(wall, 2),
                        "correct": agg["bad"] == 0
                        and agg["n_components"] == expected[name],
                    }
                ),
                flush=True,
            )
    components.driver_edge_cap = driver_cap

if __name__ == "__main__":
    main()
