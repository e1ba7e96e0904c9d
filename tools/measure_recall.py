"""Dup-pair recall/precision evidence for the north rule (recall >= 0.99)
at a configurable corpus size — the at-scale companion to
tests/test_dedup_e2e.py's 270-doc gate.

Usage: python tools/measure_recall.py [n_families] [n_spam] [cores]
Prints one JSON line with pair-level recall/precision plus the
cluster-exact-match rate (fraction of docs whose predicted cluster is
exactly its true cluster's member set).

Metrics are computed distributed (joins on cluster ids), never via
driver-side pair enumeration; truth clusters are bounded (families of 4,
spam split into 3 template clusters), so the metric joins stay small
relative to the pipeline itself.
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
from fuzzycat_spark.operators.dedup import DedupConfig, dedup_pages
from fuzzycat_spark.sources import synth_pages


def main() -> None:
    n_families = int(sys.argv[1]) if len(sys.argv) > 1 else 24000
    n_spam = int(sys.argv[2]) if len(sys.argv) > 2 else 9000
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    spark = get_spark(app_name="measure-recall", cores=cores, shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    corpus = synth_pages(
        spark, n_families=n_families, n_spam=n_spam, with_labels=True
    ).localCheckpoint()
    pages = corpus.select("url", "warc_ts", "html", "text", "lang")
    t0 = time.time()
    _, assign = dedup_pages(pages, DedupConfig())
    labeled = (
        assign.join(corpus.select(F.col("url").alias("id"), "true_cluster_id"), on="id")
        .select("id", "cluster_id", "true_cluster_id")
        .localCheckpoint()
    )
    n_docs = labeled.count()
    wall = round(time.time() - t0, 2)

    x, y = labeled.alias("x"), labeled.alias("y")
    tp = x.join(
        y,
        (F.col("x.true_cluster_id") == F.col("y.true_cluster_id"))
        & (F.col("x.id") < F.col("y.id")),
    )
    # stratify by cluster kind: spam templates (true_cluster_id < 0) are
    # exact-copy mega-clusters trivially linked by content-hash star edges
    # and dominate the aggregate pair count ~45:1; the near-dup FAMILY
    # recall is the number that actually evidences the LSH+verify path
    tp = tp.withColumn("_spam", F.col("x.true_cluster_id") < 0)
    strat = {
        (r["_spam"], r["_hit"]): r["n"]
        for r in tp.groupBy(
            "_spam", (F.col("x.cluster_id") == F.col("y.cluster_id")).alias("_hit")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    fam_tot = strat.get((False, True), 0) + strat.get((False, False), 0)
    fam_hit = strat.get((False, True), 0)
    spam_tot = strat.get((True, True), 0) + strat.get((True, False), 0)
    spam_hit = strat.get((True, True), 0)
    tot = fam_tot + spam_tot
    hit = fam_hit + spam_hit
    pp = x.join(
        y,
        (F.col("x.cluster_id") == F.col("y.cluster_id"))
        & (F.col("x.id") < F.col("y.id")),
    )
    ptot = pp.count()
    phit = pp.filter(F.col("x.true_cluster_id") == F.col("y.true_cluster_id")).count()

    # cluster-exact-match: a doc counts when its predicted cluster contains
    # exactly its true cluster's members (set equality via two counts)
    per_pred = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("pred_size"),
        F.count_distinct("true_cluster_id").alias("n_truths"),
    )
    per_true = labeled.groupBy("true_cluster_id").agg(
        F.count(F.lit(1)).alias("true_size")
    )
    exact = (
        labeled.join(per_pred, on="cluster_id")
        .join(per_true, on="true_cluster_id")
        .filter(
            (F.col("n_truths") == 1) & (F.col("pred_size") == F.col("true_size"))
        )
        .count()
    )

    print(
        json.dumps(
            {
                "metric": "dup_pair_recall",
                "n_docs": n_docs,
                "cores": cores,
                "pipeline_wall_sec": wall,
                "true_pairs": tot,
                "pair_recall": round(hit / max(tot, 1), 6),
                "family_true_pairs": fam_tot,
                "family_pair_recall": round(fam_hit / max(fam_tot, 1), 6),
                "spam_true_pairs": spam_tot,
                "spam_pair_recall": round(spam_hit / max(spam_tot, 1), 6),
                "pair_precision": round(phit / max(ptot, 1), 6),
                "cluster_exact_match_rate": round(exact / max(n_docs, 1), 6),
            }
        )
    )


if __name__ == "__main__":
    main()
