"""Structured-streaming incremental dedup.

The reference is strictly batch and rebuilds from scratch per run
(`/root/reference/notes/2021_09_review.md:97-101`); its "online" path
(`simple.py:50-87`) verifies one probe at a time against an ES index. This
module is the Spark-native version of that incremental story:

- `streaming_exact_dedup`: readStream → watermarked dropDuplicates on the
  content hash — exact dups within the watermark horizon never reach the
  sink twice.
- `incremental_dedup_batch` (used via foreachBatch): each micro-batch runs
  through the ONE dedup plan, `operators.dedup.dedup_stages`, with the
  committed state of earlier epochs as its prior input (`Prior`) — the
  probe-against-store with a single code path. Batch `dedup_pages` is the
  one-epoch case of the same plan, so stream == batch holds by
  construction rather than by a second copy kept in step.

Strategy scope: what `dedup_stages` runs, with the prior read in three
places: key-equality stars keep a key's historical min-id representative;
the capped pair expansion caps on cumulative bucket sizes and emits only
pairs with a new id; substring probes join new and historical grams in
both temporal orders. Options whose result depends on the whole corpus at
once are refused loudly: embedding_index="ivf" (per-batch k-means
centroids are not stable across epochs — streams use the seeded
hyperplane index), salt_hot and canonical_col. A stream's DedupConfig
must not change over its lifetime — the embedding column in particular is
persisted into the feature state, and enabling it mid-stream fails loudly.

State layout (all object-store-safe: existence = try-read, never
os.path); each table is one field of the prior:
- `<index>/epoch=N/`          band rows (id, band_id, band_hash) of the
                              approximate strategies, sub-partitioned by
                              band_id (`Prior.bands`)
- `<index>_features/epoch=N/` per-id verify features (hashed forms only;
                              plus `_emb` when the embedding strategy is
                              enabled): verification and the cosine tier
                              of historical docs, and the key-equality
                              representatives (`Prior.features`)
- `<index>_ssgrams/epoch=N/`  substring k-gram index rows (id, gh)
                              (`Prior.grams`)
- `<index>_ssmeta/epoch=N/`   substring probe rows (id, gh0, slug): the
                              first-window hash plus the normalized slug
                              for the exact containment confirmation
                              (`Prior.probes`)
- `<index>_sizes/epoch=N/`    cumulative per-bucket counts SNAPSHOT, gram
                              buckets under band id "ssgram" — the caps
                              apply to these, so a bucket grown hot never
                              reads its historical rows (`Prior.sizes`)
- `<pairs>/epoch=N/`          the verified-pair sink (the plan's
                              "verified" stage)
- `<index>_sizes/_CURRENT`    the commit pointer: the highest epoch whose
                              writes ALL completed

Crash atomicity: every state table is written per-epoch with overwrite
semantics and the pointer is swapped LAST (a single small-file rename
locally, a single PUT on an object store). foreachBatch re-runs a failed
epoch under the SAME epoch id, so a replay overwrites the partial
epoch=N dirs in place and only then commits the pointer — reads filter
to epochs <= pointer, so a kill between any two writes can neither lose
the cumulative hot-band state (the round-2 in-place sizes overwrite
could) nor double-append pairs/index/feature rows.

foreachBatch is the idiomatic pattern here because the per-batch logic
needs multi-output writes (pairs sink + index/feature/size appends), which
pure streaming operators cannot express.
"""

from __future__ import annotations

import logging

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fuzzycat_spark.functions.hashing import content_hash
from fuzzycat_spark.operators.dedup import (
    GRAM_BAND,
    HARD_STAGES,
    DedupConfig,
    Prior,
    dedup_stages,
)
from fuzzycat_spark.plans.checkpoint import materialize

# not used here: perfbench/tracing.py looks these names up on this module
from fuzzycat_spark.operators.dedup import strategy_band_table  # noqa: F401
from fuzzycat_spark.operators.lsh import lsh_candidate_pairs  # noqa: F401
from fuzzycat_spark.operators.verify import prepare_pages, verify_pairs  # noqa: F401

logger = logging.getLogger(__name__)


def streaming_exact_dedup(
    stream: DataFrame,
    watermark_col: str = "warc_ts",
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Exact-dup suppression on a streaming pages DataFrame.

    State is bounded by the watermark: a page is a duplicate if its content
    hash was seen within the horizon (dropDuplicatesWithinWatermark).
    """
    return (
        stream.withColumn("ch", content_hash(text_col))
        .withWatermark(watermark_col, watermark)
        .dropDuplicatesWithinWatermark(["ch"])
        .drop("ch")
    )


def try_read_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """Object-store-safe existence probe: attempt the read and treat a path
    that does not exist as no table. `os.path.exists` is wrong for
    s3a://-style URIs; the read attempt is the portable check. Any other
    failure raises: reading an unreadable committed table as empty history
    would silently drop the idempotency guard and the cross-epoch
    candidates."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def _pointer_path(sizes_path: str) -> str:
    return sizes_path + "/_CURRENT"


def _resolve_fs(path: str):
    """(filesystem, fs_path) — shared scheme-mapping helper, see
    plans.checkpoint.resolve_fs."""
    from fuzzycat_spark.plans.checkpoint import resolve_fs

    return resolve_fs(path)


def committed_epoch(index_path: str) -> int | None:
    """Highest epoch whose state writes all completed (None = no commits).
    One read of one small key, resolved through pyarrow.fs so s3a://-style
    index paths work, not just local directories."""
    try:
        fs, p = _resolve_fs(_pointer_path(index_path + "_sizes"))
        with fs.open_input_stream(p) as f:
            return int(f.read().decode("utf-8").strip())
    except (OSError, ValueError, FileNotFoundError):
        return None


def _commit_pointer(index_path: str, epoch: int) -> None:
    """Swap the commit pointer — the LAST write of an epoch (atomic
    visibility via plans.checkpoint.atomic_put: local rename / single
    object-store PUT)."""
    from fuzzycat_spark.plans.checkpoint import atomic_put

    atomic_put(_pointer_path(index_path + "_sizes"), str(epoch))


def _read_state(
    spark: SparkSession, parent: str, upto_epoch: int | None
) -> DataFrame | None:
    """Read a per-epoch state table, keeping only COMMITTED epochs: the
    epoch dirs are listed and only those up to the pointer are read, so a
    crashed attempt's dir (present but not pointed to, possibly holding
    nothing but a `_temporary` dir) is never touched.

    Compaction-aware (streaming/compaction.py): if the table carries a
    base pointer, the view is base(gen) ∪ epochs in (base_upto, committed]
    — one compacted table plus the short post-compaction tail, instead of
    a union over every epoch directory the stream has ever written. The
    `_base` subdirectory is underscore-prefixed, so the tail's partition
    discovery never sees it."""
    if upto_epoch is None:
        return None
    from fuzzycat_spark.streaming.compaction import _epoch_dirs, base_pointer

    ptr = base_pointer(parent)
    after = -1 if ptr is None else ptr[1]
    dirs = [f"{parent}/{d}" for e, d in _epoch_dirs(parent) if after < e <= upto_epoch]
    tail = (
        spark.read.option("basePath", parent).parquet(*dirs).drop("epoch")
        if dirs
        else None
    )
    if ptr is None:
        return tail
    gen, base_upto = ptr
    base = try_read_parquet(spark, f"{parent}/_base/gen={gen}")
    if base is None:
        # A base pointer without a readable gen dir means compacted
        # history is GONE (partial copy of the state tree, manual
        # cleanup, object-store listing failure) — serving just the
        # tail would make the idempotency guard re-index every
        # historical doc and silently corrupt cumulative state. Same
        # fail-loudly policy as the fresh-checkpoint replay guard.
        raise RuntimeError(
            f"state table {parent} has base pointer gen={gen} "
            f"(upto epoch {base_upto}) but _base/gen={gen} is unreadable; "
            "refusing to serve a truncated view"
        )
    return base if tail is None else base.unionByName(tail)


def read_pairs(spark: SparkSession, pairs_path: str, index_path: str) -> DataFrame | None:
    """The consumer-facing read of the pairs sink: committed epochs only."""
    return _read_state(spark, pairs_path, committed_epoch(index_path))


def _check_incremental(cfg: DedupConfig) -> None:
    """Refuse the options whose result depends on the whole corpus at once,
    which an epoch never sees."""
    if "embedding" in cfg.strategies and cfg.embedding_index != "hyperplane":
        raise ValueError(
            "incremental dedup supports embedding_index='hyperplane' only: "
            "seeded hyperplanes hash identically across epochs, but IVF "
            "centroids are fit per batch, so cell ids written in one epoch "
            "would not match the next epoch's — the grow-only index would "
            "silently stop linking cross-batch embedding dups. Use "
            "hyperplane for streams (IVF stays a batch-pipeline index)."
        )
    if cfg.salt_hot:
        raise ValueError(
            "incremental dedup does not support salt_hot: a bucket's salted "
            "shards depend on its cumulative size, so rows indexed before it "
            "grew hot would sit under the unsalted key"
        )
    if cfg.canonical_col:
        raise ValueError(
            "incremental dedup does not support canonical_col: a canonical "
            "href resolves against the page urls of the whole corpus"
        )


def _cumulative_sizes(
    spark: SparkSession,
    bands: DataFrame | None,
    grams: DataFrame | None,
    cfg: DedupConfig,
    prior: DataFrame | None,
) -> DataFrame:
    """The epoch's per-bucket count snapshot: the committed one plus this
    epoch's band and substring gram buckets."""
    parts = [] if prior is None else [prior]
    if bands is not None:
        parts.append(
            bands.groupBy("band_id", "band_hash", "cap").agg(F.count(F.lit(1)).alias("n"))
        )
    if grams is not None:
        parts.append(
            grams.select(F.explode("grams").alias("gh"))
            .groupBy("gh")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit(GRAM_BAND).alias("band_id"),
                F.col("gh").cast("string").alias("band_hash"),
                F.lit(cfg.max_bucket_size).alias("cap"),
                "n",
            )
        )
    if not parts:
        return spark.createDataFrame([], "band_id string, band_hash string, cap int, n bigint")
    if len(parts) == 1:
        return parts[0]
    out = parts[0]
    for t in parts[1:]:
        out = out.unionByName(t)
    return out.groupBy("band_id", "band_hash", "cap").agg(F.sum("n").alias("n"))


def incremental_dedup_batch(
    batch: DataFrame,
    index_path: str,
    pairs_path: str,
    cfg: DedupConfig = DedupConfig(),
    epoch_id: int | None = None,
    assign: bool = True,
) -> None:
    """foreachBatch body: run `batch` through the dedup plan
    (`operators.dedup.dedup_stages`) with the committed state as its prior
    input, write the epoch's state, then commit it.

    Only the stream-specific steps live here:
    - the replay guard (a committed epoch never re-runs) and the
      idempotency filter (re-delivered ids are dropped before any work);
    - the committed-state reads that make up the prior;
    - `update_assignments`, which folds the epoch's pairs into the label
      state in place of the plan's batch connected components;
    - the per-epoch overwrite writes, the manifest, and the pointer swap
      last.
    """
    spark = batch.sparkSession
    feat_path = index_path + "_features"
    sizes_path = index_path + "_sizes"
    committed = committed_epoch(index_path)
    if epoch_id is None:
        # direct (non-foreachBatch) callers: next epoch after the commit
        epoch_id = 0 if committed is None else committed + 1
    elif committed is not None and epoch_id <= committed:
        # foreachBatch is at-least-once: a crash AFTER _commit_pointer(N)
        # but BEFORE Spark records batch N in the streaming checkpoint
        # replays epoch N with committed == N. Re-running it would be
        # catastrophic, not merely wasteful: the idempotency guard below
        # drops every id (their features are already in epoch <= committed),
        # so the per-epoch overwrite writes would REPLACE pairs/index/
        # features epoch=N with empty tables. The pointer swap is the LAST
        # write of an epoch, so committed == N proves epoch N is fully
        # durable — skip the replay.
        #
        # The skip is only safe when the replayed batch is the SAME data,
        # which a true at-least-once replay guarantees. The other way to
        # land here is a FRESH checkpoint_dir pointed at existing index/
        # pairs paths: foreachBatch restarts epoch ids at 0, and batch 0
        # of the new stream may contain NEW source files — silently
        # skipping those would lose them forever (the new streaming
        # checkpoint marks them consumed). Distinguish the two cases by
        # probing for ids absent from the committed feature state: a true
        # replay has none; a fresh-restart batch with new data does, and
        # must fail loudly so the operator re-runs with either the
        # original checkpoint_dir or fresh state paths.
        logger.warning(
            "incremental_dedup_batch: skipping epoch %d (already committed "
            "through epoch %d) — verifying the skipped batch carries no "
            "unseen ids",
            epoch_id,
            committed,
        )
        feat_hist = _read_state(spark, feat_path, committed)
        ids = batch.select(F.col(cfg.id_col).alias("id"))
        unseen = (
            ids if feat_hist is None
            else ids.join(feat_hist.select("id"), on="id", how="left_anti")
        ).limit(1).count()
        if unseen:
            raise RuntimeError(
                f"incremental_dedup_batch: epoch {epoch_id} <= committed "
                f"epoch {committed} but the batch contains ids absent from "
                "the committed state. This means a NEW checkpoint_dir was "
                "started against EXISTING index/pairs paths, which is "
                "unsupported (epoch ids restart at 0 and committed epochs "
                "are skipped as replays — new data in them would be lost). "
                "Restore the original checkpoint_dir, or point the stream "
                "at fresh index_path/pairs_path state."
            )
        return

    _check_incremental(cfg)
    batch = materialize(batch, "stream_batch", keep_last=2)
    feat_hist = _read_state(spark, feat_path, committed)
    if feat_hist is not None:
        if "embedding" in cfg.strategies and "_emb" not in feat_hist.columns:
            raise ValueError(
                "the committed feature state carries no embedding column: "
                "this stream's earlier epochs ran WITHOUT the embedding "
                "strategy. A stream's DedupConfig must not change over its "
                "lifetime — start fresh state paths to enable embeddings."
            )
        # idempotency guard: drop ids the index already carries BEFORE any
        # feature/band/gram work — every strategy sees only new docs
        batch = materialize(
            batch.join(
                feat_hist.select(F.col("id").alias(cfg.id_col)),
                on=cfg.id_col,
                how="left_anti",
            ),
            "stream_batch_new",
            keep_last=2,
        )
    # the index tables of the strategies this config runs
    index = grams = probes = None
    if set(cfg.strategies) - {"exact", "slug", "substring"}:
        index = _read_state(spark, index_path, committed)
    if "substring" in cfg.strategies:
        grams = _read_state(spark, index_path + "_ssgrams", committed)
        probes = _read_state(spark, index_path + "_ssmeta", committed)
    prior = Prior(
        # partition discovery types an all-digit band_id (minhash bands) as int
        bands=None if index is None else index.withColumn(
            "band_id", F.col("band_id").cast("string")
        ),
        features=feat_hist,
        grams=grams,
        probes=probes,
        sizes=None if committed is None else try_read_parquet(
            spark, f"{sizes_path}/epoch={committed}"
        ),
    )

    def stage(name: str, build) -> DataFrame | None:
        if name == "assignments":
            return None  # update_assignments folds the epoch's pairs below
        if name == "verified":
            # the epoch's pairs sink is the verified stage's checkpoint
            build().write.mode("overwrite").parquet(f"{pairs_path}/epoch={epoch_id}")
            return spark.read.parquet(f"{pairs_path}/epoch={epoch_id}")
        df = build()
        if name in HARD_STAGES or name in ("bands", "grams"):
            df = materialize(df, f"stream_{name}", keep_last=2)
        return df

    out = dedup_stages(batch, cfg, stage, prior=prior)
    prep, bands, grams = out["prepared"], out["bands"], out["grams"]
    # every state write (the pairs sink in the "verified" stage included)
    # is per-epoch + overwrite (idempotent under replay of the same
    # epoch); the pointer swap LAST makes the epoch atomic —
    # a kill between any two writes leaves the pointer at the previous
    # epoch, and the replay overwrites the partial dirs
    if assign:
        # incremental cluster assignments (streaming/assignments.py):
        # labels/remap are written BEFORE the pointer swap so assignments
        # commit atomically with the epoch
        from fuzzycat_spark.streaming.assignments import update_assignments

        update_assignments(
            spark,
            out["verified"],
            prep.select("id"),
            index_path,
            epoch_id,
            committed,
            edge_statuses=cfg.edge_statuses,
        )
    # an empty partitioned write leaves no data file, and a later read of
    # the index could not infer its schema
    if bands is not None and not bands.isEmpty():
        # one file per band per epoch, not one per input partition and band
        bands.select("id", "band_id", "band_hash").repartition("band_id").write.partitionBy(
            "band_id"
        ).mode("overwrite").parquet(f"{index_path}/epoch={epoch_id}")
    prep.write.mode("overwrite").parquet(f"{feat_path}/epoch={epoch_id}")
    _cumulative_sizes(spark, bands, grams, cfg, prior.sizes).write.mode(
        "overwrite"
    ).parquet(f"{sizes_path}/epoch={epoch_id}")
    extra_tables: tuple[tuple[str, str], ...] = ()
    if grams is not None:
        grams.select("id", F.explode("grams").alias("gh")).write.mode(
            "overwrite"
        ).parquet(f"{index_path}_ssgrams/epoch={epoch_id}")
        grams.select("id", "gh0", "slug").write.mode("overwrite").parquet(
            f"{index_path}_ssmeta/epoch={epoch_id}"
        )
        extra_tables = (
            ("ssgrams", index_path + "_ssgrams"),
            ("ssmeta", index_path + "_ssmeta"),
        )
    if assign:
        extra_tables = extra_tables + (
            ("labels", index_path + "_labels"),
            ("remap", index_path + "_remap"),
        )
    _write_epoch_manifest(index_path, pairs_path, epoch_id, extra_tables)
    _commit_pointer(index_path, epoch_id)


def _write_epoch_manifest(
    index_path: str,
    pairs_path: str,
    epoch_id: int,
    extra_tables: tuple[tuple[str, str], ...] = (),
) -> None:
    """Per-epoch lineage record (north rule: "per-partition lineage +
    metrics" for EVERY stage, streaming included): parquet-footer row
    counts per partition for each state table of the epoch — metadata
    reads only, zero Spark jobs, same mechanism as the batch pipeline's
    stage lineage (plans/checkpoint.partition_lineage). Written BEFORE the
    pointer swap so a committed epoch always has its manifest; a failed
    write is logged as a warning and never blocks the commit."""
    import json

    from fuzzycat_spark.plans.checkpoint import partition_lineage

    manifest = {
        "epoch": epoch_id,
        "tables": {
            name: partition_lineage(f"{parent}/epoch={epoch_id}")
            for name, parent in (
                ("pairs", pairs_path),
                ("features", index_path + "_features"),
                ("sizes", index_path + "_sizes"),
                *extra_tables,
            )
        },
    }
    path = f"{index_path}_sizes/_manifest_epoch_{epoch_id}.json"
    try:
        fs, p = _resolve_fs(path)
        with fs.open_output_stream(p) as f:
            f.write(json.dumps(manifest, indent=1).encode("utf-8"))
    except Exception as e:
        # lineage is telemetry: the epoch still commits, but says so
        logger.warning(
            "epoch %d manifest not written to %s: %r", epoch_id, path, e, exc_info=True
        )


def read_epoch_manifest(index_path: str, epoch_id: int) -> dict | None:
    """Load one epoch's lineage manifest (None if absent/unreadable)."""
    import json

    try:
        fs, p = _resolve_fs(
            f"{index_path}_sizes/_manifest_epoch_{epoch_id}.json"
        )
        with fs.open_input_stream(p) as f:
            return json.loads(f.read().decode("utf-8"))
    except Exception:
        return None


def run_incremental_dedup(
    stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    cfg: DedupConfig = DedupConfig(),
    assign: bool = True,
):
    """Wire a streaming pages source into the incremental dedup sink.
    Returns the StreamingQuery (caller awaits/stops it). `assign=True`
    additionally maintains incremental cluster assignments (the batch
    pipeline's end product) — see streaming/assignments.py."""
    return (
        stream.writeStream.foreachBatch(
            lambda df, epoch: incremental_dedup_batch(
                df, index_path, pairs_path, cfg, epoch_id=epoch, assign=assign
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
