#!/usr/bin/env python3
"""spark-submit entry point for a cluster index build.

The north-rule deployment shape: the package ships as a zip via
--py-files and the build runs on a multi-executor cluster, e.g.

    python scripts/package.py                       # -> dist/text_search_spark.zip
    spark-submit \
      --master yarn --deploy-mode cluster \
      --num-executors 1000 --executor-cores 8 --executor-memory 16g \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.shuffle.partitions=8000 \
      --py-files dist/text_search_spark.zip \
      scripts/submit_build.py \
      --input  s3://bucket/commoncrawl/pages/   \
      --index  /shared/indexes/cc-main          \
      --url-col url --text-col text \
      --bucket-groups 16

--input takes a PARQUET directory (read via spark.read.parquet); for an
Iceberg or other catalog table use `--input-table catalog.db.pages`
instead. The index lands at --index as the engine's term-partitioned
layout with the manifest as the atomic commit. --index must be a LOCAL
(or locally-mounted, e.g. NFS/fuse) path that every executor sees: an
object-store URI (s3://, gs://, ...) is rejected at startup, since the
manifest and the data-file landing use os-level IO
(format.require_local_index). Re-running the same command after a
failure RESUMES from the last completed stage (bucket-group lineage in
the manifest). Sizing (n_buckets x n_shards) auto-derives from corpus
volume unless given.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="path of the corpus (parquet dir)")
    src.add_argument("--input-table", help="catalog table (e.g. Iceberg)")
    ap.add_argument("--index", required=True,
                    help="output index directory (local/mounted path; URI "
                         "schemes other than file:// are rejected)")
    ap.add_argument("--url-col", default="url")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--doc-id-col", default=None,
                    help="use an existing id column instead of hashing url")
    ap.add_argument("--n-buckets", type=int, default=None)
    ap.add_argument("--n-shards", type=int, default=None)
    ap.add_argument("--bucket-groups", type=int, default=8,
                    help="resumable units; >1 materializes tokens_tmp")
    ap.add_argument("--run-id", default="submit")
    args = ap.parse_args()

    from text_search_spark.index import format as fmt

    try:
        args.index = fmt.require_local_index(args.index)
    except ValueError as e:
        ap.error(str(e))

    from pyspark.sql import SparkSession

    from text_search_spark.index.build import build_index, prepare_corpus

    spark = SparkSession.builder.appName("tss-index-build").getOrCreate()
    df = (
        spark.read.table(args.input_table)
        if args.input_table
        else spark.read.parquet(args.input)
    )
    corpus = prepare_corpus(
        df,
        doc_id_col=args.doc_id_col,
        url_col=args.url_col,
        text_col=args.text_col,
    )
    build_index(
        spark,
        corpus,
        args.index,
        n_buckets=args.n_buckets,
        n_shards=args.n_shards,
        bucket_groups=args.bucket_groups,
        run_id=args.run_id,
    )
    spark.stop()


if __name__ == "__main__":
    main()
