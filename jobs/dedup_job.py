"""spark-submit entrypoint for the full dedup pipeline.

Usage (cluster):
    spark-submit --py-files dist/fuzzycat_spark.zip jobs/dedup_job.py \
        --input  <parquet path or table of (url, warc_ts, html, text, lang)> \
        --output <dir for assignments/ and verified_pairs/> \
        --checkpoint <resumable stage dir>

Against an Iceberg warehouse (jars via --packages iceberg-spark-runtime):
    ... --iceberg-catalog lake --iceberg-warehouse s3a://bucket/wh \
        --input lake.web.pages --output lake.web.dedup_run1

The session comes from the cluster (no master set here); locally,
`make submit-local` runs the same file under spark-submit --master local[*].
Re-running with the same --checkpoint resumes after the last completed
stage.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--num-perm", type=int, default=32)
    p.add_argument("--bands", type=int, default=16)
    p.add_argument("--rows", type=int, default=2)
    p.add_argument("--shingle-n", type=int, default=3)
    p.add_argument("--max-bucket-size", type=int, default=200)
    p.add_argument("--id-col", default="url")
    p.add_argument("--text-col", default="text")
    p.add_argument(
        "--strategies",
        default="exact,slug,minhash",
        help="comma list: exact,slug,minhash,simhash,substring,winnow,"
        "embedding,nysiis",
    )
    p.add_argument(
        "--slug-mode",
        default="ascii",
        choices=("ascii", "unicode", "auto"),
        help="normalizer: ascii fold, full NFKD+CJK-bigram, or per-row auto",
    )
    p.add_argument("--substring-k", type=int, default=25)
    p.add_argument("--simhash-band-bits", type=int, default=8)
    p.add_argument("--winnow-k", type=int, default=3)
    p.add_argument("--winnow-w", type=int, default=4)
    p.add_argument(
        "--name-col", default=None,
        help="name column for the nysiis phonetic strategy",
    )
    p.add_argument(
        "--embedding-col", default=None,
        help="array<float> column for the embedding strategy",
    )
    p.add_argument(
        "--embedding-dim", type=int, default=None,
        help="width of --embedding-col (required with the embedding strategy)",
    )
    p.add_argument(
        "--embedding-planes", type=int, default=8,
        help="seeded random hyperplanes of the embedding index: 2^N buckets, "
        "the same in batch and stream",
    )
    p.add_argument(
        "--embedding-strong", type=float, default=0.9,
        help="cosine at/above which a candidate pair is a strong dup",
    )
    p.add_argument(
        "--canonical-col", default=None,
        help="column of rel=canonical hrefs (as "
        "sources/html_extract.page_directives extracts them): publisher-"
        "declared ('exact', CANONICAL_LINK) edges join the dedup graph",
    )
    p.add_argument(
        "--canonical-url-col", default=None,
        help="page-URL column canonical hrefs resolve against "
        "(default: --id-col)",
    )
    p.add_argument(
        "--salt-hot", type=int, default=0,
        help="shard over-cap buckets into N salted sub-buckets (0 = drop them)",
    )
    p.add_argument(
        "--no-denylist", action="store_true",
        help="disable the default web-boilerplate slug denylist",
    )
    p.add_argument(
        "--iceberg-catalog", default=None,
        help="register an Iceberg catalog of this name on the session "
        "(requires the iceberg-spark-runtime jars on the cluster)",
    )
    p.add_argument(
        "--iceberg-warehouse", default=None,
        help="warehouse path/URI for --iceberg-catalog",
    )
    p.add_argument(
        "--iceberg-catalog-type", default="hadoop",
        help="Iceberg catalog type: hadoop, hive, rest, ...",
    )
    args = p.parse_args()

    # --py-files ships the package; imports resolve on the executors too
    from fuzzycat_spark.config import with_session_conf
    from fuzzycat_spark.operators.dedup import DedupConfig
    from fuzzycat_spark.plans.checkpoint import StageCheckpointer
    from fuzzycat_spark.plans.pipeline import run_dedup_pipeline
    from fuzzycat_spark.sources.tables import (
        iceberg_session_conf,
        read_pages,
        write_output,
    )

    builder = with_session_conf(SparkSession.builder).appName("fuzzycat-spark-dedup")
    if args.iceberg_catalog:
        for k, v in iceberg_session_conf(
            args.iceberg_catalog,
            args.iceberg_warehouse or "",
            args.iceberg_catalog_type,
        ).items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    cfg = DedupConfig(
        id_col=args.id_col,
        text_col=args.text_col,
        strategies=tuple(s for s in args.strategies.split(",") if s),
        slug_mode=args.slug_mode,
        num_perm=args.num_perm,
        bands=args.bands,
        rows=args.rows,
        shingle_n=args.shingle_n,
        substring_k=args.substring_k,
        simhash_band_bits=args.simhash_band_bits,
        winnow_k=args.winnow_k,
        winnow_w=args.winnow_w,
        name_col=args.name_col,
        embedding_col=args.embedding_col,
        embedding_dim=args.embedding_dim,
        embedding_planes=args.embedding_planes,
        embedding_strong=args.embedding_strong,
        canonical_col=args.canonical_col,
        canonical_url_col=args.canonical_url_col,
        salt_hot=args.salt_hot,
        denylist_keys=() if args.no_denylist else None,
        max_bucket_size=args.max_bucket_size,
    )
    pages = read_pages(spark, args.input)
    ck = StageCheckpointer(spark, args.checkpoint)
    out = run_dedup_pipeline(pages, ck, cfg)
    # --output may be a directory (parquet subdirs) or a catalog namespace
    # like `cat.db.run1` (Iceberg tables `<ns>_verified_pairs` / `<ns>_assignments`)
    if "/" in args.output:
        write_output(out["verified"], f"{args.output}/verified_pairs")
        write_output(out["assignments"], f"{args.output}/assignments")
    else:
        write_output(out["verified"], f"{args.output}_verified_pairs")
        write_output(out["assignments"], f"{args.output}_assignments")
    print(json.dumps({"stages": list(ck._manifest)}))
    spark.stop()


if __name__ == "__main__":
    main()
