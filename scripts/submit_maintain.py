#!/usr/bin/env python3
"""Index lifecycle maintenance via spark-submit --py-files — the ops
surface of the snapshot machinery (compaction, vacuum, history, deletes,
time travel):

  spark-submit --py-files tss.zip scripts/submit_maintain.py \
      --index /shared/indexes/ix compact [--factor 2]
  ... vacuum [--grace-s 3600] [--retain-last 1]
  ... expire [--retain-last 2]
  ... delete --ids-parquet /data/takedowns.parquet [--id-col doc_id]
  ... stats (--fold [--max-delta-files 64] | --rebuild)
  ... history

--index must be a LOCAL (or locally-mounted, e.g. NFS/fuse) path:
manifest, snapshot-claim, tombstone, and vacuum IO go through os-level
primitives (the CAS claim is an atomic hardlink — see
index/format.py's backend note). An object-store URI (s3://, gs://,
...) is rejected at startup (format.require_local_index) rather than
silently creating a LOCAL 's3:/bucket/...' directory and reporting a
takedown applied that never touched the real index. --ids-parquet MAY
be any Spark-readable URI — it is read by Spark, not os APIs.

Every mutating subcommand commits through the optimistic-CAS protocol
(index/format.py), so it is safe to run while an indexing or upsert
stream is live — concurrent COMPACTIONS are one-at-a-time, enforced by
an atomic generation lock (the second run fails loudly).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index", required=True,
                    help="index directory (local/mounted path; URI "
                         "schemes other than file:// are rejected)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("compact", help="in-place compaction (+ purge)")
    c.add_argument("--factor", type=int, default=1)
    c.add_argument("--multi-file-buckets", action="store_true",
                   help="skip the one-file-per-bucket rewrite")

    v = sub.add_parser("vacuum", help="expire unreferenced data files")
    v.add_argument("--grace-s", type=float, default=3600.0)
    v.add_argument("--retain-last", type=int, default=1)

    e = sub.add_parser("expire", help="bound snapshot history")
    e.add_argument("--retain-last", type=int, default=2)

    d = sub.add_parser("delete", help="tombstone doc_ids from a parquet")
    d.add_argument("--ids-parquet", required=True)
    d.add_argument("--id-col", default="doc_id")

    s = sub.add_parser(
        "stats",
        help="term_stats maintenance: --fold bounds the per-batch "
             "delta-file list (cheap, batch-sized); --rebuild "
             "re-baselines from a full segment scan (first build or "
             "post-purge)",
    )
    g = s.add_mutually_exclusive_group(required=True)
    g.add_argument("--fold", action="store_true")
    g.add_argument("--rebuild", action="store_true")
    s.add_argument("--max-delta-files", type=int, default=64)

    sub.add_parser("history", help="list retained snapshots")

    args = ap.parse_args()

    from text_search_spark.index import format as fmt

    try:
        args.index = fmt.require_local_index(args.index)
    except ValueError as e:
        ap.error(str(e))

    if args.cmd == "expire":
        n = fmt.expire_snapshots(args.index, retain_last=args.retain_last)
        print(json.dumps({"expired": n}))
        return
    if args.cmd == "history":
        print(json.dumps(fmt.snapshot_history(args.index), indent=2))
        return

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("tss-maintain").getOrCreate()
    if args.cmd == "compact":
        from text_search_spark.index.merge import compact_in_place

        compact_in_place(
            spark,
            args.index,
            factor=args.factor,
            one_file_per_bucket=not args.multi_file_buckets,
        )
        man = fmt.load_manifest(args.index)
        print(json.dumps({
            "snapshot_id": man.snapshot_id,
            "n_shards": man.n_shards,
            "n_files": len(man.segment_files or []),
        }))
    elif args.cmd == "vacuum":
        from text_search_spark.index.merge import vacuum_segments

        n = vacuum_segments(
            args.index, grace_s=args.grace_s, retain_last=args.retain_last
        )
        print(json.dumps({"removed": n}))
    elif args.cmd == "delete":
        from text_search_spark.index.delete import delete_docs

        ids = spark.read.parquet(args.ids_parquet)
        n = delete_docs(spark, args.index, ids, id_col=args.id_col)
        print(json.dumps({"tombstoned": n}))
    elif args.cmd == "stats":
        from text_search_spark.streaming.incremental import (
            fold_term_stats_deltas,
            rebuild_term_stats,
        )

        if args.rebuild:
            rebuild_term_stats(spark, args.index)
            man = fmt.load_manifest(args.index)
            print(json.dumps({
                "rebuilt": True,
                "term_stats_valid": bool(man.stages.get("term_stats")),
            }))
        else:
            ran = fold_term_stats_deltas(
                spark, args.index, max_delta_files=args.max_delta_files
            )
            man = fmt.load_manifest(args.index)
            print(json.dumps({
                "folded": ran,
                "delta_files": len(man.term_stats_delta_files or []),
            }))
    spark.stop()


if __name__ == "__main__":
    main()
