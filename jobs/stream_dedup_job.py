"""spark-submit entrypoint for ONLINE dedup: a directory of arriving
crawl segments (WARC) or page files (parquet/jsonl) is consumed as a
stream, and the incremental dedup state — cross-epoch candidate index,
verified pairs, cluster assignments — grows exactly-once per segment.

Usage:
    spark-submit --py-files dist/fuzzycat_spark.zip jobs/stream_dedup_job.py \
        --input <dir being filled with segments> --state <state root> \
        [--input-format warc|parquet|jsonl] [--max-files-per-trigger 4] \
        [--continuous]      # default drains what exists (availableNow) and exits

State layout under --state: index/ (per-strategy band state), pairs/
(append-only verified pairs per epoch + lineage manifests), assignments
via the epoch manifests, checkpoint/ (the streaming source's
exactly-once file log). Re-running resumes; killing mid-epoch replays
that epoch idempotently (crash-atomic pointer swap — see
streaming/dedup_stream.py).

Reference analog: fuzzycat's online path (`simple.py:50-87`) retrieves
candidates per NEW record against an Elasticsearch index; this job is
that loop as a Structured Streaming query against grow-only parquet
state.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None,
                   help="streaming source dir (required unless "
                   "--compact-only)")
    p.add_argument("--state", required=True)
    p.add_argument("--input-format", default="warc",
                   choices=("warc", "parquet", "jsonl"))
    p.add_argument("--id-col", default="url")
    p.add_argument("--text-col", default="text")
    p.add_argument("--strategies", default="exact,slug,minhash")
    p.add_argument("--slug-mode", default="auto",
                   choices=("ascii", "unicode", "auto"))
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--no-assign", action="store_true",
                   help="maintain pairs only, skip incremental assignments")
    p.add_argument("--continuous", action="store_true",
                   help="keep running on a processing-time trigger instead "
                   "of draining available segments and exiting")
    p.add_argument("--schema", default=None,
                   help="DDL schema for parquet/jsonl streaming sources "
                   "(file streams require one); default: url/warc_ts/text/lang")
    p.add_argument("--compact-state", action="store_true",
                   help="after the drain, merge committed epoch dirs into "
                   "the compacted base tables (streaming/compaction.py) — "
                   "the small-file maintenance action; run it periodically "
                   "on long-lived state")
    p.add_argument("--compact-only", action="store_true",
                   help="skip consuming the stream; just compact existing "
                   "state and exit (offline maintenance run)")
    args = p.parse_args()

    from fuzzycat_spark.config import with_session_conf
    from fuzzycat_spark.operators.dedup import DedupConfig
    from fuzzycat_spark.plans.checkpoint import qualify_path
    from fuzzycat_spark.sources.html_extract import extract_text_udf
    from fuzzycat_spark.sources.warc import stream_warc
    from fuzzycat_spark.streaming.dedup_stream import run_incremental_dedup

    spark = (
        with_session_conf(SparkSession.builder)
        .appName("fuzzycat-spark-stream")
        .getOrCreate()
    )

    # one URI for Spark's table writes and the pointer/listing I/O: a
    # relative root would otherwise resolve against fs.defaultFS on one
    # side and the driver's local working directory on the other
    state = qualify_path(spark, args.state)
    index_path = f"{state}/index"
    pairs_path = f"{state}/pairs"
    if args.compact_only:
        # pure maintenance: no source construction, no --input needed
        from fuzzycat_spark.streaming.compaction import compact_state

        print(json.dumps(compact_state(spark, index_path, pairs_path)))
        spark.stop()
        return
    if args.input is None:
        p.error("--input is required unless --compact-only")

    if args.input_format == "warc":
        stream = (
            stream_warc(
                spark, args.input,
                max_files_per_trigger=args.max_files_per_trigger,
            )
            .filter(F.col("http_status") == 200)
            .filter(
                F.col("content_type").startswith("text/html")
                | F.col("content_type").startswith("application/xhtml")
            )
            .select(
                F.col("url").alias(args.id_col),  # the record URL is the id
                extract_text_udf(F.col("html")).alias(args.text_col),
            )
        )
    else:
        schema = args.schema or (
            f"{args.id_col} string, warc_ts timestamp, "
            f"{args.text_col} string, lang string"
        )
        reader = spark.readStream.schema(schema)
        if args.max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", str(args.max_files_per_trigger)
            )
        stream = (
            reader.parquet(args.input)
            if args.input_format == "parquet"
            else reader.json(args.input)
        )

    cfg = DedupConfig(
        id_col=args.id_col,
        text_col=args.text_col,
        strategies=tuple(s for s in args.strategies.split(",") if s),
        slug_mode=args.slug_mode,
    )
    run_incremental_dedup(
        stream, index_path, pairs_path, f"{state}/checkpoint", cfg,
        assign=not args.no_assign, continuous=args.continuous,
    ).awaitTermination()
    if args.compact_state:
        from fuzzycat_spark.streaming.compaction import compact_state

        print(json.dumps(compact_state(spark, index_path, pairs_path)))
    spark.stop()


if __name__ == "__main__":
    main()
