#!/usr/bin/env python3
"""Bigger-than-heap e2e build (round-3 item: VERDICT.md next-round #5).

Builds the full index over a 4M-doc synthetic Common-Crawl-style corpus —
~440M tokens, a posting relation (~430M rows, >10 GB) several times the
8 GB driver/executor JVM heap, forcing the materialized tokens_tmp path,
shuffle spill, and the bucket-group checkpoint machinery to carry the
build — with a mid-run injected crash + resume, then a DuckDB oracle
spot-check of single-term BM25 top-10 on sampled head terms.

Usage: python bench_bigcorpus.py          (writes BENCH_BIG.json)
Env: TSS_BIG_DOCS (default 4_000_000), TSS_BIG_CORES (default 16).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import sys
import time

N_DOCS = int(os.environ.get("TSS_BIG_DOCS", "4000000"))
CORES = int(os.environ.get("TSS_BIG_CORES", "16"))
SHARD_DOCS = 500_000
CORPUS_DIR = f"/tmp/tss_big_corpus_{N_DOCS}"
INDEX_DIR = f"/tmp/tss_big_ix_{N_DOCS}"
N_CHECK_TERMS = 8


def _gen_shard(args) -> str:
    shard, n = args
    from text_search_spark.corpus import SEED, generate_pages, pages_to_pandas

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(CORPUS_DIR, f"part-{shard:03d}.parquet")
    if os.path.exists(path):
        # only a COMMITTED file short-circuits: writes go to a temp path
        # and os.replace in — a run killed mid-write leaves no part file
        # to be silently reused as truncated parquet
        return path
    pages = generate_pages(n, seed=SEED + shard)
    pdf = pages_to_pandas(pages)
    # different seeds give different content; a per-shard url namespace
    # keeps doc_ids (md5 of url) globally unique
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
    os.replace(tmp, path)  # atomic commit of the shard file
    return path


def ensure_corpus() -> float:
    os.makedirs(CORPUS_DIR, exist_ok=True)
    n_shards = max(1, (N_DOCS + SHARD_DOCS - 1) // SHARD_DOCS)
    shards = [
        (s, min(SHARD_DOCS, N_DOCS - s * SHARD_DOCS))
        for s in range(n_shards)
    ]
    t0 = time.perf_counter()
    with mp.Pool(min(6, len(shards))) as pool:
        for p in pool.imap_unordered(_gen_shard, shards):
            print(f"corpus shard ready: {p}", file=sys.stderr)
    return time.perf_counter() - t0


def main() -> None:
    gen_s = ensure_corpus()

    from pyspark.sql import functions as F

    from text_search_spark.index import format as ixfmt
    from text_search_spark.index.build import build_index, prepare_corpus
    from text_search_spark.index.query import (
        IndexReader,
        QuerySpec,
        bm25_topk_df,
    )
    from text_search_spark.session import get_spark

    spark = get_spark("bigcorpus", cores=CORES, shuffle_partitions=2 * CORES)
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(CORPUS_DIR)
    corpus = prepare_corpus(pages, url_col="url")

    shutil.rmtree(INDEX_DIR, ignore_errors=True)

    # ---- build with an injected mid-run crash, then resume ----
    print("building (with injected crash)...", file=sys.stderr)
    t0 = time.perf_counter()
    crashed = False
    try:
        build_index(
            spark,
            corpus,
            INDEX_DIR,
            n_buckets=None,
            n_shards=None,
            bucket_groups=4,
            fail_after="segments:1",
            cleanup_tmp=False,
        )
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise  # a REAL build failure must surface, not be relabeled
        crashed = True
    build1_s = time.perf_counter() - t0
    assert crashed, "expected the injected mid-run failure"
    man = ixfmt.load_manifest(INDEX_DIR)
    done_before = sorted(k for k, v in man.stages.items() if v)

    print(f"crashed after {build1_s:.0f}s with stages {done_before}; resuming...",
          file=sys.stderr)
    t0 = time.perf_counter()
    build_index(
        spark,
        corpus,
        INDEX_DIR,
        n_buckets=None,
        n_shards=None,
        bucket_groups=4,
        cleanup_tmp=False,  # keep tokens_tmp measurable; removed below
    )
    resume_s = time.perf_counter() - t0
    man = ixfmt.load_manifest(INDEX_DIR)
    assert man.complete
    total_s = build1_s + resume_s

    # ---- oracle spot-check: single-term BM25 top-10 on head terms ----
    ts = IndexReader(spark, INDEX_DIR).term_stats()
    terms = [
        r.term
        for r in ts.where(F.length("term") >= 5)
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(N_CHECK_TERMS)
        .collect()
    ]
    print(f"resume done; engine query spot-check on {terms}", file=sys.stderr)
    reader = IndexReader(spark, INDEX_DIR)
    specs = [QuerySpec(t, [t], "or") for t in terms]
    t0 = time.perf_counter()
    got = (
        bm25_topk_df(spark, INDEX_DIR, specs, k=10, reader=reader)
        .select(
            "query_id", "rank", "doc_id", F.round("score", 6).alias("score_r")
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    query_s = time.perf_counter() - t0

    import duckdb

    from text_search_spark.index.build import duckdb_doc_id_sql
    from text_search_spark.textnorm import duckdb_tokens_sql

    con = duckdb.connect()
    con.execute(f"SET threads={CORES}")
    con.execute("SET memory_limit='24GB'")
    con.execute("SET temp_directory='/tmp/duck_spill'")
    con.execute(
        f"CREATE VIEW documents AS SELECT {duckdb_doc_id_sql('url')} AS "
        f"doc_id, text FROM '{CORPUS_DIR}/*.parquet'"
    )
    # materialize the token relation ONCE (several CTE consumers) with
    # out-of-core spill, instead of re-evaluating the tokenizer per use
    con.execute(
        f"CREATE TEMP TABLE toks AS SELECT doc_id, "
        f"unnest({duckdb_tokens_sql('text')}) AS term FROM documents"
    )
    qlist = ", ".join(f"('{t}')" for t in terms)
    idf = "ln(1.0 + ((SELECT n FROM g) - d.df + 0.5) / (d.df + 0.5))"
    denom = (
        "(t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.doc_len / "
        "(SELECT avgdl FROM g)))"
    )
    sql = f"""
WITH tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1),
g AS (SELECT (SELECT count(*) FROM documents) AS n,
             CAST((SELECT sum(doc_len) FROM dl) AS DOUBLE)
             / (SELECT count(*) FROM documents) AS avgdl),
q(term) AS (VALUES {qlist}),
scored AS (
  SELECT q.term AS query_id, t.doc_id,
         (({idf}) * (t.tf * (1.2 + 1.0))) / {denom} AS score
  FROM q JOIN tf t ON t.term = q.term JOIN dfs d ON d.term = q.term
  JOIN dl l ON l.doc_id = t.doc_id
),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
  ORDER BY score DESC, doc_id ASC) AS rank, doc_id,
  round(score, 6) AS score_r FROM scored)
SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score_r
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""
    print("running DuckDB oracle...", file=sys.stderr)
    t0 = time.perf_counter()
    want = con.execute(sql).fetchdf().reset_index(drop=True)
    oracle_s = time.perf_counter() - t0
    ok = got.astype(str).equals(want.astype(str))

    tmp_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(os.path.join(INDEX_DIR, "tokens_tmp"))
        for f in fs
    ) if os.path.isdir(os.path.join(INDEX_DIR, "tokens_tmp")) else 0

    shutil.rmtree(os.path.join(INDEX_DIR, "tokens_tmp"), ignore_errors=True)

    result = {
        "metric": "bigger-than-heap e2e build + resume + oracle spot-check",
        "n_docs": N_DOCS,
        "cores": CORES,
        "gen_s": round(gen_s, 1),
        "build_to_crash_s": round(build1_s, 1),
        "resume_s": round(resume_s, 1),
        "total_build_s": round(total_s, 1),
        "docs_per_s": round(N_DOCS / total_s, 1),
        "stages_done_at_crash": done_before,
        "n_buckets": man.n_buckets,
        "n_shards": man.n_shards,
        "total_tokens": man.total_tokens,
        "tokens_tmp_bytes": tmp_bytes,
        "driver_heap": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "oracle_terms": terms,
        "query8_s": round(query_s, 2),
        "oracle_s": round(oracle_s, 1),
        "oracle_ok": bool(ok),
    }
    print(json.dumps(result))
    with open(
        os.path.join(os.path.dirname(__file__) or ".", "BENCH_BIG.json"), "w"
    ) as f:
        json.dump(result, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
