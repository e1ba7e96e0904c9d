"""Incremental cluster assignments for the streaming dedup path.

The batch pipeline's end product is `assignments` (id -> cluster_id =
min id over the connected component of the verified edge set,
`operators/dedup.dedup_stages`). The streaming path historically stopped
at the pairs sink; this module maintains the SAME assignment table
incrementally, one micro-batch at a time, without ever re-running
connected components over the full accumulated edge set (the reference
rebuilds clusters from scratch per run,
`/root/reference/notes/2021_09_review.md:97-101` — this is the Spark
incremental answer to that).

State (epoch-partitioned next to the band index, same crash-atomic
pointer discipline as `dedup_stream`):

- `<index>_labels/epoch=N/`  (id, label): ids FIRST SEEN in epoch N with
  their canonical label at write time. Append-only — an id's row is
  written once, ever, so the table costs O(new docs) per epoch no matter
  how large the corpus grows.
- `<index>_remap/epoch=N/`   (old_label, cur_label): the FULLY COMPOSED
  non-identity remap as of epoch N — every label that has ever been
  merged away points DIRECTLY at its current canonical (path-compressed,
  no chains). Reads use only the snapshot at the committed epoch, so
  resolution is one left join. The snapshot is bounded by the number of
  merged-away canonicals (strictly less than the number of non-singleton
  docs, in practice orders of magnitude below the corpus), which is the
  price of O(1)-join reads; a per-epoch-delta layout would shrink writes
  but make every read compose a chain of deltas.

Per epoch the update runs connected components ONLY on the REDUCED label
graph: new edges with both endpoints mapped to their current canonical
(touched ids only — everything is semi-joined down to the ids that
actually appear in this epoch's pairs). Two historical clusters can only
merge through a path of new edges (every new pair has >= 1 new-doc
endpoint), so the reduced graph — O(new pairs) edges — captures every
merge. Min-label semantics compose: each canonical IS the min id of its
component, so the min over a merged component equals the min over its
member canonicals plus any new ids, which is exactly what
`connected_components` returns on the reduced graph. By induction the
resolved state after epoch N is identical to batch CC over the union of
all committed epochs' edges.

Invariant with the batch pipeline: `read_assignments` after draining a
stream == `dedup_pages(all docs).assignments`, given equal pair sets
(pinned by tests/test_streaming_assignments.py; star representatives may
differ across epochs, but star edges are component-equivalent by key
transitivity).

Scale note: the per-epoch update semi-joins the label state down to the
touched ids — with a small touched set Spark broadcasts it, so the label
table costs one columnar scan of two fixed-width columns per epoch (the
same cost class as the stream-static band-index join the dedup batch
already pays). On an Iceberg deployment the labels table would
additionally carry an id bloom filter / bucket layout so the scan prunes
to the touched buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _resolve(labels: DataFrame, remap: DataFrame | None) -> DataFrame:
    """(id, label) base rows -> (id, cluster_id) through the composed
    remap: one left join, coalesce to the base label (identity rows are
    never stored)."""
    if remap is None:
        return labels.select("id", F.col("label").alias("cluster_id"))
    return labels.join(
        remap, labels["label"] == remap["old_label"], "left"
    ).select(
        "id", F.coalesce(F.col("cur_label"), F.col("label")).alias("cluster_id")
    )


def _read_remap_snapshot(
    spark: SparkSession, index_path: str, committed: int | None
) -> DataFrame | None:
    from fuzzycat_spark.streaming.dedup_stream import try_read_parquet

    if committed is None:
        return None
    return try_read_parquet(spark, f"{index_path}_remap/epoch={committed}")


def read_assignments(spark: SparkSession, index_path: str) -> DataFrame | None:
    """Consumer-facing read: (id, cluster_id) over all COMMITTED epochs —
    the streaming twin of `dedup_stages`' assignments output."""
    from fuzzycat_spark.streaming.dedup_stream import (
        _read_state,
        committed_epoch,
    )

    committed = committed_epoch(index_path)
    labels = _read_state(spark, index_path + "_labels", committed)
    if labels is None:
        return None
    return _resolve(labels, _read_remap_snapshot(spark, index_path, committed))


def update_assignments(
    spark: SparkSession,
    pairs_epoch: DataFrame,
    new_ids: DataFrame,
    index_path: str,
    epoch_id: int,
    committed: int | None,
    edge_statuses: tuple[str, ...] = ("exact", "strong"),
) -> None:
    """Fold one epoch's verified pairs into the label state. Writes
    `<index>_labels/epoch=N` and `<index>_remap/epoch=N` with overwrite
    semantics (idempotent under replay of the same epoch); the caller
    swaps the commit pointer afterwards, so a crash mid-update leaves the
    previous epoch's state authoritative.

    `new_ids` must be this epoch's NEW doc ids (post idempotency guard) —
    one (id) column; `pairs_epoch` the epoch's (id_a, id_b, status, ...)
    rows as written to the pairs sink.
    """
    from fuzzycat_spark.operators.components import connected_components
    from fuzzycat_spark.plans.checkpoint import materialize
    from fuzzycat_spark.streaming.dedup_stream import _read_state

    edges = pairs_epoch.filter(F.col("status").isin(*edge_statuses)).select(
        "id_a", "id_b"
    )
    labels_hist = _read_state(spark, index_path + "_labels", committed)
    remap_hist = _read_remap_snapshot(spark, index_path, committed)

    # current canonical of every TOUCHED id: historical ids resolve through
    # the committed state (`hist`, null for ids new this epoch), ids new
    # this epoch are their own label. The label state is semi-joined down
    # to the touched set before the resolution join — the update never
    # scans labels proportional to the corpus, only to this epoch's pairs.
    # One copy, `assign_cur`, feeds the reduced graph and the remap below.
    touched = (
        edges.select(F.col("id_a").alias("id"))
        .unionByName(edges.select(F.col("id_b").alias("id")))
        .distinct()
    )
    if labels_hist is not None:
        hist = _resolve(
            labels_hist.join(touched, on="id", how="left_semi"), remap_hist
        ).select("id", F.col("cluster_id").alias("hist"))
        touched = touched.join(hist, on="id", how="left")
    else:
        no_label = F.lit(None).cast(edges.schema["id_a"].dataType)
        touched = touched.withColumn("hist", no_label)
    cur = materialize(
        touched.select("id", F.coalesce(F.col("hist"), F.col("id")).alias("cur"), "hist"),
        "assign_cur",
        keep_last=2,
    )

    # reduced label graph: O(|new pairs|) edges over canonicals + new ids
    reduced = (
        edges.join(cur.select(F.col("id").alias("id_a"), F.col("cur").alias("la")), on="id_a")
        .join(cur.select(F.col("id").alias("id_b"), F.col("cur").alias("lb")), on="id_b")
        .filter(F.col("la") != F.col("lb"))
        .select("la", "lb")
        .distinct()
    )
    # no copy: connected_components returns a parquet read (plus a join
    # onto the driver's map when it finished mid-loop) or a local relation,
    # both cheap to read three times below
    merge_map = connected_components(reduced, id_a="la", id_b="lb").select(
        F.col("id").alias("node"), F.col("cluster_id").alias("canon")
    )

    # base rows for ids first seen this epoch, already path-compressed
    new_base = (
        new_ids.select(F.col(new_ids.columns[0]).alias("id"))
        .join(merge_map.withColumnRenamed("node", "id"), on="id", how="left")
        .select("id", F.coalesce(F.col("canon"), F.col("id")).alias("label"))
    )

    # composed remap snapshot:
    #  1. historical entries re-pointed through this epoch's merges
    #  2. historical canonicals merged away THIS epoch (merge-map nodes
    #     that came from the historical side and changed label)
    # New-id nodes never enter the remap — their base rows above are
    # written already-resolved. Identity rows are dropped.
    hist_nodes = cur.select(F.col("hist").alias("node")).dropna().distinct()
    new_remap_rows = merge_map.join(hist_nodes, on="node", how="left_semi").filter(
        F.col("node") != F.col("canon")
    ).select(F.col("node").alias("old_label"), F.col("canon").alias("cur_label"))
    if remap_hist is not None:
        repointed = (
            remap_hist.join(
                merge_map, remap_hist["cur_label"] == merge_map["node"], "left"
            )
            .select(
                "old_label",
                F.coalesce(F.col("canon"), F.col("cur_label")).alias("cur_label"),
            )
        )
        remap_next = repointed.unionByName(new_remap_rows)
    else:
        remap_next = new_remap_rows
    remap_next = remap_next.filter(F.col("old_label") != F.col("cur_label"))

    new_base.write.mode("overwrite").parquet(
        f"{index_path}_labels/epoch={epoch_id}"
    )
    remap_next.write.mode("overwrite").parquet(
        f"{index_path}_remap/epoch={epoch_id}"
    )
