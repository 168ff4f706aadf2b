#!/usr/bin/env python3
"""Benchmark harness (driver contract): runs the headline operators at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "extra": {...}}

Headline queries:
  index_build      — full inverted-index build over `documents` (fresh dir)
  bm25_batch       — 50 derived queries (30 single / 10 AND / 10 OR) in one
                     batched engine call
  bm25_seq10       — 10 single-term queries executed one-by-one (per-query
                     latency; p50/p95 reported in extra)
  tokenize_count   — full corpus tokenize + explode + count
  dedup_minhash    — minhash signatures + LSH candidate pairs
  dedup_exact      — md5 exact-dup grouping
  simhash          — 60-bit simhash over all docs
  embedding_knn    — brute-force cosine top-5, 5 queries
  quality          — quality feature extraction

Scaling evidence (two-parallelism run for BENCH.md) lives in
bench_scaling.py — kept out of the default bench to bound runtime.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "?"

    from pyspark.sql import functions as F

    from text_search_spark.index import format as ixfmt
    from text_search_spark.index.build import build_index, prepare_corpus
    from text_search_spark.index.query import (
        IndexReader,
        QuerySpec,
        bm25_topk_df,
        bm25_topk_rows,
    )
    from text_search_spark.operators import ann, dedup, textstats
    from text_search_spark.session import get_spark
    from text_search_spark.textnorm import spark_tokens

    spark = get_spark("bench", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # A single-file parquet arrives as 1-2 splits and would serialize every
    # downstream stage to one task — a harness artifact (real corpora arrive
    # in thousands of splits; see BENCH.md war story #1). Normalize the
    # input layout once, outside the timed region.
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .repartition(cpus)
    )
    n_docs = docs.count()
    timings: dict[str, float] = {}
    extra: dict[str, object] = {"n_docs": n_docs, "cpus": cpus}

    def timed(name, fn, sink=None):
        t0 = time.perf_counter()
        r = fn()
        (timings if sink is None else sink)[name] = round(
            time.perf_counter() - t0, 3
        )
        return r

    index_dir = os.path.join(
        os.environ.get("TSS_BENCH_DIR", "/tmp/tss_bench"), "index"
    )
    shutil.rmtree(index_dir, ignore_errors=True)

    corpus = prepare_corpus(docs, doc_id_col="doc_id")

    # ---- warmup (untimed): JVM codegen + Python/Arrow worker spawn, so the
    # timings below measure steady-state, not first-job compilation ----
    # Spawn ALL `cpus` Python workers up front: a small warm build only
    # forks ~8 of them, and on this host a cold worker (fork + numpy/pandas
    # /pyarrow import + first-touch faults) costs ~1-2 s — 24 cold spawns
    # inside the first timed job would bill ~17 s of one-time host overhead
    # to index_build (measured: first build 23.6 s, steady-state 6.8 s).
    import pandas as _pd

    def _touch(it):
        import numpy as _np  # noqa: F401 — force the worker's imports

        for b in it:
            yield _pd.DataFrame({"x": [1]})

    (
        spark.range(cpus * 4, numPartitions=cpus)
        .mapInPandas(_touch, schema="x long")
        .count()
    )
    warm_dir = index_dir + "_warm"
    shutil.rmtree(warm_dir, ignore_errors=True)
    # warm build sized ~20% of the corpus: big enough to reach the same
    # codegen, shuffle and Arrow-worker paths as the timed build (a
    # 50-doc build leaves them cold and the first full build measured
    # ~1.5x steady state), small enough to stay a warmup
    warm_docs = docs.limit(max(50, n_docs // 5)).cache()
    warm_docs.count()
    build_index(
        spark,
        prepare_corpus(warm_docs, doc_id_col="doc_id"),
        warm_dir,
        n_buckets=4,
        n_shards=2,
        bucket_groups=1,
    )
    bm25_topk_df(
        spark, warm_dir, [QuerySpec("w", ["warmup"], "or")], k=1
    ).collect()
    dedup.simhash(warm_docs).count()
    dedup.lsh_candidate_pairs(dedup.minhash_signatures(warm_docs)).count()
    warm_docs.unpersist()
    shutil.rmtree(warm_dir, ignore_errors=True)
    # "driver" below build.DRIVER_BUILD_MAX_TOKENS (one collect, landed
    # in process), "spark" above it
    extra["index_build_route"] = timed(
        "index_build",
        lambda: build_index(
            spark,
            corpus,
            index_dir,
            n_buckets=None,  # auto-sized from corpus volume
            n_shards=None,
            bucket_groups=1,
        ),
    )
    extra["index_docs_per_sec"] = round(n_docs / timings["index_build"], 1)

    # derive a deterministic query workload from the index's term stats
    ts = spark.read.parquet(ixfmt.term_stats_dir(index_dir))
    terms = [
        r.term
        for r in ts.where(F.length("term") >= 4)
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(40)
        .collect()
    ]
    # the workload below indexes up to terms[21]; fail fast with a clear
    # message on a toy corpus instead of an IndexError after the timed build
    if len(terms) < 22:
        raise SystemExit(
            f"corpus too small for the bench workload: {len(terms)} "
            "qualifying terms (need >= 22)"
        )
    specs = [QuerySpec(f"s{i}", [t], "or") for i, t in enumerate(terms[:30])]
    specs += [
        QuerySpec(f"a{i}", [terms[i], terms[i + 1]], "and") for i in range(10)
    ]
    specs += [
        QuerySpec(f"o{i}", [terms[i + 10], terms[i + 11]], "or")
        for i in range(10)
    ]
    reader = IndexReader(spark, index_dir)
    timed(
        "bm25_batch",
        lambda: bm25_topk_df(
            spark, index_dir, specs, k=10, reader=reader
        ).collect(),
    )

    lat = []
    phases: dict[str, float] = {}

    def seq10():
        # single-query latency path: bm25_topk_rows scores these small
        # single-term queries on the driver — no Spark job. phase_sink
        # accumulates per-phase wall time across the 10 queries so a
        # cross-round latency shift is attributable to planning vs
        # sidecar read vs decode/score vs merge (round-4 verdict item 1:
        # the driver env showed 12.1 ms p50 where the builder's host
        # shows ~4.4 ms — the breakdown distinguishes host from code).
        for i in range(10):
            t0 = time.perf_counter()
            rows = bm25_topk_rows(
                spark,
                index_dir,
                [QuerySpec(f"q{i}", [terms[i]], "or")],
                k=10,
                reader=reader,
                phase_sink=phases,
            )
            assert rows, f"empty top-k for q{i}"
            lat.append(time.perf_counter() - t0)
    timed("bm25_seq10", seq10)
    # phase_sink accumulates seconds under *_s keys; re-suffix to _ms
    # with the unit conversion so the triage table reads correctly
    extra["bm25_seq10_phases_ms"] = {
        (k_[:-2] + "_ms" if k_.endswith("_s") else k_): round(v * 1000, 2)
        for k_, v in phases.items()
        if isinstance(v, float)
    }
    extra["bm25_seq10_path"] = phases.get("path", "?")
    extra["bm25_p50_ms"] = round(statistics.median(lat) * 1000, 1)
    # same 10 queries again on the SAME reader: its term cache
    # (IndexReader.term_postings, shared with multi-term batches) answers
    # without the sidecar read — the repeat/warm p50 a real query mix
    # would see
    rlat = []
    for i in range(10):
        t0 = time.perf_counter()
        bm25_topk_rows(
            spark,
            index_dir,
            [QuerySpec(f"q{i}", [terms[i]], "or")],
            k=10,
            reader=reader,
        )
        rlat.append(time.perf_counter() - t0)
    extra["bm25_repeat_p50_ms"] = round(statistics.median(rlat) * 1000, 2)
    # in-place compaction (snapshot flip) + the same 10 queries cold
    # against the compacted snapshot: quantifies the per-file latency
    # floor (BENCH.md round-5: 61 -> ~n_buckets files) in this env
    from text_search_spark.index.merge import compact_in_place

    t0 = time.perf_counter()
    compact_in_place(spark, index_dir)
    extra["compact_s"] = round(time.perf_counter() - t0, 3)
    creader = IndexReader(spark, index_dir)
    clat = []
    for i in range(10):
        t0 = time.perf_counter()
        rows = bm25_topk_rows(
            spark,
            index_dir,
            [QuerySpec(f"q{i}", [terms[i]], "or")],
            k=10,
            reader=creader,
        )
        assert rows, f"empty top-k post-compaction for q{i}"
        clat.append(time.perf_counter() - t0)
    extra["bm25_compacted_p50_ms"] = round(
        statistics.median(clat) * 1000, 2
    )
    # nearest-rank p95: ceil(0.95 n) - 1 (for n=10 that is the max;
    # the previous int(n*0.95)-1 picked the 9th of 10 = p90)
    extra["bm25_p95_ms"] = round(
        sorted(lat)[max(0, math.ceil(len(lat) * 0.95) - 1)] * 1000, 1
    )

    timed(
        "tokenize_count",
        lambda: docs.select(
            F.posexplode(spark_tokens(F.col("text"))).alias("p", "t")
        ).count(),
    )
    # the pair count rides along so a seconds shift is attributable to
    # recall (more pairs emitted — e.g. the round-6 capped-bucket
    # recovery tripled pairs at the same signatures) vs a regression
    extra["dedup_minhash_pairs"] = timed(
        "dedup_minhash",
        lambda: dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs)
        ).count(),
    )
    timed("dedup_exact", lambda: dedup.exact_duplicates(docs).count())
    timed("simhash", lambda: dedup.simhash(docs).count())

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    timed("embedding_knn", lambda: ann.cosine_topk(emb, qs, k=5).collect())
    timed("quality", lambda: textstats.quality_stats(docs).count())

    # round-3 operators, reported in extra (not in the headline total,
    # which stays row-comparable with earlier rounds): IVF with the
    # trained quantizer (mostly MLlib training fixed cost at this scale)
    # and the segmented long-query alignment (>20k symbols; the
    # unsegmented DP on the same pair is ~6.5x slower)
    from text_search_spark.operators.align import (
        align_spans,
        synthetic_long_pair,
    )

    timed(
        "ann_ivf_kmeans_s",
        lambda: ann.ivf_topk(
            emb, qs, k=5, n_cells=16, nprobe=4, quantizer="kmeans"
        ).collect(),
        sink=extra,
    )
    # round-4: the deterministic Lloyd trained quantizer (the driver-
    # gated path) and the trained char-n-gram language scorer
    timed(
        "ann_ivf_lloyd_s",
        lambda: ann.ivf_topk(
            emb, qs, k=5, n_cells=16, nprobe=4, quantizer="lloyd"
        ).collect(),
        sink=extra,
    )
    timed(
        "langid_ngram_s", lambda: textstats.langid_ngram(docs).count(),
        sink=extra,
    )
    # round-4: crawl-table operators over a derived (url, ts) shape
    # with refetch churn (11x13 urls -> many snapshots per url)
    from text_search_spark.operators import webtext

    d = F.col("doc_id")
    pages = docs.select(
        F.concat(
            F.lit("https://s"), (d % 11).cast("string"),
            F.lit(".example/p"), (d % 13).cast("string"),
        ).alias("url"),
        ((d * 131) % 10007).alias("ts_s"),
        "doc_id", "text", "lang",
    )
    timed(
        "url_latest_snapshot_s",
        lambda: webtext.latest_snapshot(
            pages, ts_col="ts_s", tiebreak_col="doc_id"
        ).count(),
        sink=extra,
    )
    timed(
        "host_stats_s", lambda: webtext.host_stats(pages).count(),
        sink=extra,
    )

    lq, ld = synthetic_long_pair()
    lpairs = spark.createDataFrame(
        [("lq", lq, 0, ld)],
        "query_id string, query_text string, doc_id long, doc_text string",
    )
    timed("align_long_s", lambda: align_spans(lpairs).collect(), sink=extra)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "index-build + BM25 top-10 + pipeline ops wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extra": extra,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
