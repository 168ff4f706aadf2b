#!/usr/bin/env python3
"""Single-query BM25 latency against a BIG index (round-7, VERDICT
item 1): p50/p95 + the per-phase split (plan / sidecar read / score /
driver merge) at >=400k docs — the states a real user cares about:

  fresh       multi-file index (batch base + 4 streamed appends: the
              long-lived-stream state whose per-bucket file count is
              the measured latency driver)
  tombstoned  after a 1% takedown-sized delete (driver tombstone
              regime — the numpy union rides the fast path)
  mass_probe  the SAME tombstones forced over the driver gate
              (TOMBSTONE_DRIVER_MAX=0): queries route to the cogrouped
              executor path — quantifies the documented latency trade
              of the fully-distributed delete regime
  compacted   after compact_in_place purged the tombstones down to one
              file per bucket

Usage: python bench_latency_big.py      (writes BENCH_LATENCY_<N>.json)
Env: TSS_LAT_DOCS (default 400_000), TSS_LAT_CORES (default 16).

The index is rebuilt each run (state transitions mutate it); the
corpus parquet shards are cached under /tmp and shared with
bench_scaling/bench_bigcorpus conventions.
"""

from __future__ import annotations

import json
import math
import multiprocessing as mp
import os
import shutil
import statistics
import sys
import time

N_DOCS = int(os.environ.get("TSS_LAT_DOCS", "400000"))
CORES = int(os.environ.get("TSS_LAT_CORES", "16"))
SHARD_DOCS = 100_000
CORPUS_DIR = f"/tmp/tss_lat_corpus_{N_DOCS}"
INDEX_DIR = f"/tmp/tss_lat_ix_{N_DOCS}"
N_Q = 20  # sequential single-term queries per state
APPEND_BATCHES = 4  # streamed tail appended after the batch base
APPEND_FRACTION = 0.10  # of the corpus, split across those batches


def _gen_shard(args) -> str:
    shard, n = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from text_search_spark.corpus import SEED, generate_pages, pages_to_pandas

    path = os.path.join(CORPUS_DIR, f"part-{shard:03d}.parquet")
    if os.path.exists(path):
        return path  # committed (written via tmp + os.replace)
    pdf = pages_to_pandas(generate_pages(n, seed=SEED + shard))
    pdf["url"] = pdf["url"].str.replace(
        ".example/", f".example/s{shard:03d}/", regex=False
    )
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    tmp = path + ".tmp"
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema), tmp, row_group_size=2000
    )
    os.replace(tmp, path)
    return path


def ensure_corpus() -> None:
    os.makedirs(CORPUS_DIR, exist_ok=True)
    n_shards = max(1, (N_DOCS + SHARD_DOCS - 1) // SHARD_DOCS)
    shards = [
        (s, min(SHARD_DOCS, N_DOCS - s * SHARD_DOCS))
        for s in range(n_shards)
    ]
    with mp.Pool(min(6, len(shards))) as pool:
        for p in pool.imap_unordered(_gen_shard, shards):
            print(f"corpus shard ready: {p}", file=sys.stderr)


def _seq_latency(spark, reader, terms, phases):
    """Run N_Q single-term queries one-by-one on `reader`, accumulating
    phase seconds into `phases`; returns per-query seconds."""
    from text_search_spark.index.query import QuerySpec, bm25_topk_rows

    lat = []
    for i, t in enumerate(terms[:N_Q]):
        t0 = time.perf_counter()
        rows = bm25_topk_rows(
            spark,
            INDEX_DIR,
            [QuerySpec(f"q{i}", [t], "or")],
            k=10,
            reader=reader,
            phase_sink=phases,
        )
        assert rows, f"empty top-k for {t!r}"
        lat.append(time.perf_counter() - t0)
    return lat


def _stats(lat, phases, n_files):
    n = len(lat)
    return {
        "n_queries": n,
        "p50_ms": round(statistics.median(lat) * 1000, 2),
        "p95_ms": round(
            sorted(lat)[max(0, math.ceil(n * 0.95) - 1)] * 1000, 2
        ),
        "phases_ms": {
            (k[:-2] + "_ms" if k.endswith("_s") else k): round(v * 1000, 2)
            for k, v in phases.items()
            if isinstance(v, float)
        },
        "path": phases.get("path", "?"),
        "n_segment_files": n_files,
    }


def main() -> None:
    ensure_corpus()

    from pyspark.sql import functions as F

    from text_search_spark.index import format as ixfmt
    from text_search_spark.index.build import build_index, prepare_corpus
    from text_search_spark.index.delete import delete_docs
    from text_search_spark.index.merge import compact_in_place
    from text_search_spark.index.query import (
        IndexReader,
        QuerySpec,
        bm25_topk_rows,
    )
    from text_search_spark.session import get_spark
    from text_search_spark.streaming.incremental import _append_batch

    spark = get_spark("latency_big", cores=CORES,
                      shuffle_partitions=2 * CORES)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_docs": N_DOCS, "cpus": CORES}

    pages = spark.read.parquet(CORPUS_DIR)
    corpus = prepare_corpus(pages, url_col="url").persist()
    n_total = corpus.count()
    assert n_total == N_DOCS, (n_total, N_DOCS)

    # ---- build: batch base (90%) + 4 streamed appends (10%) ----
    shutil.rmtree(INDEX_DIR, ignore_errors=True)
    # deterministic split on doc_id hash, not order
    tail_mod = int(1 / (APPEND_FRACTION / APPEND_BATCHES))  # 40
    base = corpus.where(F.pmod(F.xxhash64("doc_id"), F.lit(tail_mod))
                        >= APPEND_BATCHES)
    t0 = time.perf_counter()
    build_index(spark, base, INDEX_DIR, n_buckets=None, n_shards=None)
    out["build_base_s"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    for b in range(APPEND_BATCHES):
        _append_batch(
            spark,
            corpus.where(
                F.pmod(F.xxhash64("doc_id"), F.lit(tail_mod)) == b
            ),
            INDEX_DIR,
            batch_id=b,
        )
    out["append_4_batches_s"] = round(time.perf_counter() - t0, 2)
    corpus.unpersist()

    man = ixfmt.load_manifest(INDEX_DIR)
    out["n_buckets"], out["n_shards"] = man.n_buckets, man.n_shards

    # deterministic head-term workload (same rule as bench.py):
    # term_stats is a view of the committed segments, exact across appends
    reader = IndexReader(spark, INDEX_DIR)
    terms = [
        r.term
        for r in reader.term_stats()
        .where(F.length("term") >= 5)
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(N_Q)
        .collect()
    ]
    assert len(terms) == N_Q

    def n_files():
        return len(ixfmt.load_manifest(INDEX_DIR).segment_files or [])

    # ---- state 1: fresh multi-file index ----
    phases: dict = {}
    lat = _seq_latency(spark, reader, terms, phases)
    out["fresh"] = _stats(lat, phases, n_files())
    # warm repeat on the same reader (decoded-postings cache)
    rlat = []
    for i, t in enumerate(terms[:N_Q]):
        t0 = time.perf_counter()
        bm25_topk_rows(spark, INDEX_DIR,
                       [QuerySpec(f"q{i}", [t], "or")], k=10,
                       reader=reader)
        rlat.append(time.perf_counter() - t0)
    out["fresh"]["repeat_p50_ms"] = round(
        statistics.median(rlat) * 1000, 2
    )

    # ---- state 2: 1% tombstoned (driver regime) ----
    victims = reader.doc_stats().select("doc_id").sample(
        0.01, seed=7
    )
    t0 = time.perf_counter()
    n_del = delete_docs(spark, INDEX_DIR, victims)
    out["delete_1pct_s"] = round(time.perf_counter() - t0, 2)
    out["n_tombstoned"] = n_del
    reader = IndexReader(spark, INDEX_DIR)
    assert not reader.tombstones_distributed()
    phases = {}
    lat = _seq_latency(spark, reader, terms, phases)
    out["tombstoned"] = _stats(lat, phases, n_files())

    # ---- state 3: same tombstones forced over the driver gate ----
    import text_search_spark.index.delete as delete_mod

    saved = delete_mod.TOMBSTONE_DRIVER_MAX
    delete_mod.TOMBSTONE_DRIVER_MAX = 0
    try:
        mreader = IndexReader(spark, INDEX_DIR)
        assert mreader.tombstones_distributed()
        mlat = []
        for i, t in enumerate(terms[:10]):
            t0 = time.perf_counter()
            rows = bm25_topk_rows(
                spark, INDEX_DIR,
                [QuerySpec(f"m{i}", [t], "or")], k=10, reader=mreader,
            )
            assert rows
            mlat.append(time.perf_counter() - t0)
        out["mass_probe"] = {
            "n_queries": len(mlat),
            "p50_ms": round(statistics.median(mlat) * 1000, 2),
            "note": "cogrouped executor path (TOMBSTONE_DRIVER_MAX=0)",
        }
    finally:
        delete_mod.TOMBSTONE_DRIVER_MAX = saved

    # ---- state 4: compacted (tombstones purged) ----
    t0 = time.perf_counter()
    compact_in_place(spark, INDEX_DIR)
    out["compact_s"] = round(time.perf_counter() - t0, 2)
    reader = IndexReader(spark, INDEX_DIR)
    assert reader.tombstones().size == 0
    phases = {}
    lat = _seq_latency(spark, reader, terms, phases)
    out["compacted"] = _stats(lat, phases, n_files())

    line = json.dumps(out)
    print(line)
    with open(f"BENCH_LATENCY_{N_DOCS}.json", "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
