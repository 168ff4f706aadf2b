"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Engine-backed entries (bm25_*) build the real on-disk inverted index
(text_search_spark.index) over the ``documents`` table and answer through
it; their DuckDB oracles recompute BM25 from first principles in SQL.
Float discipline: scores are float64 with identical operation order and
rounded to 6 digits on both sides; rankings order by the rounded value with
doc_id tie-break, so cross-engine last-ulp noise cannot flip a rank.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import math
import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from text_search_spark.index import format as ixfmt
from text_search_spark.index.build import build_index, prepare_corpus
from text_search_spark.index.query import IndexReader, QuerySpec, bm25_topk_df
from text_search_spark.operators import ann, dedup, textstats, webtext
from text_search_spark.functions.text import shingles
from text_search_spark.textnorm import duckdb_tokens_sql, spark_tokens

K1, B = 1.2, 0.75

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


@functools.lru_cache(maxsize=None)
def _source_fingerprint() -> str:
    """md5 over the text_search_spark package's .py sources (relative
    path and bytes): a cached index built by other code is never
    reused."""
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "text_search_spark")
    h = hashlib.md5()
    for p in sorted(glob.glob(os.path.join(root, "**", "*.py"),
                              recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _index_dir_for(sf_dir: str) -> str:
    key = hashlib.md5(
        (sf_dir + _source_fingerprint()).encode()
    ).hexdigest()[:10]
    return os.path.join(
        os.environ.get("TSS_CACHE", "/tmp/tss_cache"), f"ix_{key}"
    )


def _cached_manifest(d: str):
    """The manifest of the cached index at d when it can be reused as
    is (complete, current format, both committed file lists), else
    None — the caller rebuilds."""
    man = ixfmt.load_manifest(d)
    if (
        man is None
        or not man.complete
        or man.format_version != ixfmt.FORMAT_VERSION
        or man.segment_files is None
        or man.doc_stats_files is None
    ):
        return None
    return man


def _build_fresh(spark: SparkSession, sf_dir: str, d: str) -> None:
    """(Re)build the inverted index over documents(doc_id, text) at d."""
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    corpus = prepare_corpus(
        _t(spark, sf_dir, "documents"), doc_id_col="doc_id"
    )
    build_index(spark, corpus, d, n_buckets=8, n_shards=4, bucket_groups=2)


def _ensure_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the inverted index over documents(doc_id, text)."""
    d = _index_dir_for(sf_dir)
    if _cached_manifest(d) is None:
        _build_fresh(spark, sf_dir, d)
    return d


def _ensure_deleted_index(spark: SparkSession, sf_dir: str) -> str:
    """A second cached index over the same corpus with a deterministic
    tombstone set applied (doc_id % 5 == 2) — the delete-semantics
    driver gate (index/delete.py)."""
    d = _index_dir_for(sf_dir) + "_del"
    man = _cached_manifest(d)
    if man is None or not man.tombstone_files:
        from text_search_spark.index.delete import delete_docs

        _build_fresh(spark, sf_dir, d)
        docs = _t(spark, sf_dir, "documents")
        delete_docs(
            spark, d, docs.where(F.col("doc_id") % 5 == 2).select("doc_id")
        )
    return d


def _top_terms(spark: SparkSession, index_dir: str, k: int, min_len: int = 5):
    """Deterministic query-term derivation: top-k terms by (cf desc, term
    asc) among terms of length >= min_len. Same rule as the SQL oracles."""
    ts = IndexReader(spark, index_dir).term_stats()
    rows = (
        ts.where(F.length("term") >= min_len)
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(k)
        .collect()
    )
    return [r.term for r in rows]


# shared DuckDB CTE: canonical tokenization of documents
_TOKS = (
    "toks AS (SELECT doc_id, unnest(ts) AS term, "
    "generate_subscripts(ts, 1) - 1 AS pos "
    f"FROM (SELECT doc_id, {duckdb_tokens_sql('text')} AS ts "
    "FROM documents) _d)"
)

# shared DuckDB CTEs for BM25 (identical float-op order to the engine)
_BM25_CTES = f"""
{_TOKS},
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM tf GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1),
g AS (SELECT (SELECT count(*) FROM documents) AS n,
             CAST((SELECT coalesce(sum(doc_len), 0) FROM dl) AS DOUBLE)
             / (SELECT count(*) FROM documents) AS avgdl),
qterms AS (SELECT term, row_number() OVER (ORDER BY cf DESC, term ASC) AS r
           FROM dfs WHERE length(term) >= 5)
"""


def _bm25_partial_sql(tf="t.tf", df="d.df", dl="l.doc_len"):
    """BM25 per-term partial with the engine's exact parenthesization:
    (idf * (tf * (k1+1))) / (tf + k1*(1 - b + b*dl/avgdl))."""
    idf = f"ln(1.0 + ((SELECT n FROM g) - {df} + 0.5) / ({df} + 0.5))"
    denom = f"({tf} + 1.2 * (1.0 - 0.75 + 0.75 * {dl} / (SELECT avgdl FROM g)))"
    return f"(({idf}) * ({tf} * (1.2 + 1.0))) / {denom}"


def _bm25_engine_query(mode: str, n_terms: int):
    """Engine-backed callable: derive terms, answer via the on-disk index."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ix = _ensure_index(spark, sf_dir)
        terms = _top_terms(spark, ix, n_terms)
        if mode == "single":
            specs = [QuerySpec(t, [t], "or") for t in terms]
        elif mode == "near":
            specs = [
                QuerySpec(f"near:{'+'.join(terms)}", terms, "near", window=6)
            ]
        else:
            specs = [QuerySpec(f"{mode}:{'+'.join(terms)}", terms, mode)]
        out = bm25_topk_df(spark, ix, specs, k=10)
        return out.select(
            "query_id",
            "rank",
            "doc_id",
            F.round("score", 6).alias("score_r"),
        )

    return run


# ---------------------------------------------------------------------------
# entry / queries / oracle_sql
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index on sf0.001 documents, answer the
    derived single-term query set through it (BM25 top-10)."""
    return _bm25_engine_query("single", 5)(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- tokenizer / stats layer (SURVEY §2.1-S1, §2.2-P1, §2.4-A1) ----
    def tokenize_explode(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        return d.select(
            "doc_id",
            F.posexplode(spark_tokens(F.col("text"))).alias("pos", "term"),
        ).select("doc_id", "pos", "term")

    q["tokenize_explode"] = tokenize_explode

    def term_stats(spark, sf_dir):
        toks = tokenize_explode(spark, sf_dir)
        return (
            toks.groupBy("term", "doc_id")
            .agg(F.count("*").alias("tf"))
            .groupBy("term")
            .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        )

    q["term_stats"] = term_stats

    def postings(spark, sf_dir):
        toks = tokenize_explode(spark, sf_dir)
        return toks.groupBy("term", "doc_id").agg(
            F.count("*").alias("tf"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("pos")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("positions"),
        )

    q["postings"] = postings

    # ---- BM25 through the real index engine (SURVEY §2.3 J1/J3, §2.5 T3)
    q["bm25_single"] = _bm25_engine_query("single", 5)

    def _ensure_merged(spark, sf_dir):
        # a second build of the same corpus, its 4 shards compacted in
        # place to 2
        from text_search_spark.index.merge import compact_in_place

        merged = _index_dir_for(sf_dir) + "_m2"
        man = _cached_manifest(merged)
        if man is None or man.n_shards != 2:
            _build_fresh(spark, sf_dir, merged)
            compact_in_place(spark, merged, factor=2)
        return merged

    def bm25_after_merge(spark, sf_dir):
        # merge/compaction pinned through the driver gate: halve the
        # shard count (hierarchical segment merge, index/merge.py) and
        # answer the SAME single-term workload — results must be rank-
        # and score-identical to the SQL oracle (a doc's postings for a
        # term live in one shard; the merge concatenates doc-disjoint
        # runs, so per-doc float summation order is unchanged)
        merged = _ensure_merged(spark, sf_dir)
        terms = _top_terms(spark, merged, 5)
        specs = [QuerySpec(t, [t], "or") for t in terms]
        out = bm25_topk_df(spark, merged, specs, k=10)
        return out.select(
            "query_id",
            "rank",
            "doc_id",
            F.round("score", 6).alias("score_r"),
        )

    q["bm25_after_merge"] = bm25_after_merge

    def bm25_near_after_merge(spark, sf_dir):
        # positions sidecar across the shard merge: NEAR/6 on the MERGED
        # index must match the oracle — the merge concatenates
        # doc-disjoint positions payloads per (term, new_shard) and
        # rewrites block directories; a single byte slip anywhere breaks
        # proximity matching
        merged = _ensure_merged(spark, sf_dir)
        terms = _top_terms(spark, merged, 2)
        specs = [
            QuerySpec(f"near:{'+'.join(terms)}", terms, "near", window=6)
        ]
        out = bm25_topk_df(spark, merged, specs, k=10)
        return out.select(
            "query_id",
            "rank",
            "doc_id",
            F.round("score", 6).alias("score_r"),
        )

    q["bm25_near_after_merge"] = bm25_near_after_merge

    def bm25_incremental(spark, sf_dir):
        # the streaming append path pinned through the driver gate: the
        # corpus arrives as TWO micro-batches through the foreachBatch
        # body (streaming/incremental._append_batch — same code the
        # Structured Streaming query runs), then the same single-term
        # workload — must equal the batch-built oracle exactly (scoring
        # stats come from the final manifest; segments append per batch
        # and the scorer merges rows per (term, shard))
        import shutil

        from text_search_spark.streaming.incremental import _append_batch

        d = _index_dir_for(sf_dir) + "_inc"
        man = _cached_manifest(d)
        if man is None or not man.stages.get("stream:1"):
            shutil.rmtree(d, ignore_errors=True)
            docs = prepare_corpus(
                _t(spark, sf_dir, "documents"), doc_id_col="doc_id"
            )
            half = docs.where(F.col("doc_id") % 2 == 0)
            rest = docs.where(F.col("doc_id") % 2 == 1)
            _append_batch(spark, half, d, 0)
            _append_batch(spark, rest, d, 1)
        terms = _top_terms(spark, d, 5)
        specs = [QuerySpec(t, [t], "or") for t in terms]
        out = bm25_topk_df(spark, d, specs, k=10)
        return out.select(
            "query_id",
            "rank",
            "doc_id",
            F.round("score", 6).alias("score_r"),
        )

    q["bm25_incremental"] = bm25_incremental

    def bm25_spilled(spark, sf_dir):
        # the defensive spill path pinned through the driver gate: build
        # with tiny chunk/spill thresholds so common-term (term, shard)
        # groups take the spool -> streaming-block-encode route
        # (index/build._encode_group_streaming), then answer the same
        # workload — must be byte-for-byte the oracle's answer
        import shutil

        import text_search_spark.index.build as B

        d = _index_dir_for(sf_dir) + "_spill"
        if _cached_manifest(d) is None:
            shutil.rmtree(d, ignore_errors=True)
            corpus = prepare_corpus(
                _t(spark, sf_dir, "documents"), doc_id_col="doc_id"
            )
            old = (B._CHUNK_ROWS, B._SPILL_GROUP_ROWS)
            B._CHUNK_ROWS, B._SPILL_GROUP_ROWS = 64, 8
            try:
                build_index(
                    spark, corpus, d, n_buckets=8, n_shards=4,
                    bucket_groups=2,
                )
            finally:
                B._CHUNK_ROWS, B._SPILL_GROUP_ROWS = old
        terms = _top_terms(spark, d, 5)
        specs = [QuerySpec(t, [t], "or") for t in terms]
        out = bm25_topk_df(spark, d, specs, k=10)
        return out.select(
            "query_id",
            "rank",
            "doc_id",
            F.round("score", 6).alias("score_r"),
        )

    q["bm25_spilled"] = bm25_spilled

    def bm25_bool(spark, sf_dir):
        # 2-term AND + OR through the engine, method-tagged into one
        # union entry (round-4 precedent: lsh_pairs/ann_ivf_topk) —
        # frees one census slot for bm25_deleted while both variants
        # stay fully hash-gated inside the union
        a = _bm25_engine_query("and", 2)(spark, sf_dir).withColumn(
            "variant", F.lit("and2")
        )
        o2 = _bm25_engine_query("or", 2)(spark, sf_dir).withColumn(
            "variant", F.lit("or2")
        )
        return a.unionByName(o2)

    q["bm25_bool"] = bm25_bool
    q["bm25_near2"] = _bm25_engine_query("near", 2)

    def bm25_deleted(spark, sf_dir):
        # tombstone-delete gate: docs with doc_id % 5 == 2 deleted from
        # a dedicated index copy; results must exclude them while
        # surviving docs keep FULL-corpus scores (Lucene deleted-docs
        # semantics pre-purge — the oracle replicates exactly that:
        # full-corpus stats, candidates filtered)
        ix = _ensure_deleted_index(spark, sf_dir)
        terms = _top_terms(spark, ix, 5)
        specs = [QuerySpec(t, [t], "or") for t in terms]
        out = bm25_topk_df(spark, ix, specs, k=10)
        return out.select(
            "query_id",
            "rank",
            "doc_id",
            F.round("score", 6).alias("score_r"),
        )

    q["bm25_deleted"] = bm25_deleted

    # ---- phrase/positional op (SURVEY §2.6 posting intersection) ----
    def top_bigram_matches(spark, sf_dir):
        toks = tokenize_explode(spark, sf_dir)
        a, b = toks.alias("a"), toks.alias("b")
        big = a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        ).select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.pos").alias("pos"),
            F.concat_ws(" ", "a.term", "b.term").alias("bigram"),
        )
        top = (
            big.groupBy("bigram")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("bigram"))
            .limit(1)
        )
        return big.join(F.broadcast(top), "bigram").select(
            "bigram", "doc_id", "pos"
        )

    q["top_bigram_matches"] = top_bigram_matches

    # ---- dedup family ----
    def dedup_exact(spark, sf_dir):
        return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))

    q["dedup_exact"] = dedup_exact

    def minhash_sigs(spark, sf_dir):
        return dedup.minhash_signatures(_t(spark, sf_dir, "documents"))

    q["minhash_sigs"] = minhash_sigs

    def lsh_pairs(spark, sf_dir):
        # both LSH configurations, method-tagged in one gated entry:
        # 'term' = term-set minhash (4 bands of 2 rows), 'shingle3' = the
        # web-scale near-dup configuration — 3-token-shingle minhash +
        # 4-row bands (collision prob s^4 per band), where candidate
        # pairs are actual near-duplicates, not same-language
        # vocabulary overlap
        # recover_capped=False on 'term'/'shingle3': those variants'
        # oracles model the pure cap semantics (WHERE bsz <= 1000).
        # 'term_rec8' (round-7, VERDICT item 3) gates the round-6
        # chunk-clique+bridge RECOVERY itself: max_bucket=8 forces the
        # term config's same-language vocabulary buckets over the cap
        # even at sf0.01, and the DuckDB oracle reproduces the exact
        # expansion (sort members by (sec, id), window into chunks of
        # 8, clique within chunk, bridge chunk heads to chunk 0's head)
        # — the recovery order is deterministic because (sec, id) is
        # unique per bucket and both engines compare md5 hex strings
        # identically (functions/text.py:21).
        docs = _t(spark, sf_dir, "documents")
        sigs_term = dedup.minhash_signatures(docs)
        term = dedup.lsh_candidate_pairs(
            sigs_term, recover_capped=False
        ).withColumn("variant", F.lit("term"))
        rec8 = dedup.lsh_candidate_pairs(
            sigs_term, max_bucket=8, recover_capped=True
        ).withColumn("variant", F.lit("term_rec8"))
        sh3 = dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs, shingle_n=3),
            rows_per_band=4,
            recover_capped=False,
        ).withColumn("variant", F.lit("shingle3"))
        return term.unionByName(rec8).unionByName(sh3)

    q["lsh_pairs"] = lsh_pairs

    def simhash(spark, sf_dir):
        return dedup.simhash(_t(spark, sf_dir, "documents"))

    q["simhash"] = simhash

    def ngram_jaccard(spark, sf_dir):
        return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))

    q["ngram_jaccard"] = ngram_jaccard

    def dedup_resolve(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        pairs = dedup.ngram_jaccard_pairs(docs)
        return dedup.dedup_resolve(docs, pairs)

    q["dedup_resolve"] = dedup_resolve

    # ---- crawl-table (Common-Crawl-shaped) operators ----
    # The sf tables have no url/warc_ts columns, so both entries derive
    # a deterministic crawl shape from documents (11 hosts x 13 pages =
    # 143 urls -> ~3.5 snapshots per url at sf0.01; pseudo-random
    # fetch seconds) with pure JVM expressions the oracle repeats
    # verbatim. Real crawl input uses the same operators directly on
    # (url, warc_ts, ...) — tests/test_webtext.py covers that shape.
    def _crawl_pages(spark, sf_dir):
        d = F.col("doc_id")
        return _t(spark, sf_dir, "documents").select(
            F.concat(
                F.lit("https://s"),
                (d % 11).cast("string"),
                F.lit(".example/p"),
                (d % 13).cast("string"),
            ).alias("url"),
            ((d * 131) % 10007).alias("ts_s"),
            "doc_id",
            "text",
            "lang",
        )

    def url_latest_snapshot(spark, sf_dir):
        # crawl refetch dedup: one row per url, newest fetch wins
        # (combiner-friendly max(struct), no window) — the Iceberg
        # MERGE-by-url shape
        return webtext.latest_snapshot(
            _crawl_pages(spark, sf_dir).select(
                "url", "ts_s", "doc_id", "lang"
            ),
            ts_col="ts_s",
            tiebreak_col="doc_id",
        )

    q["url_latest_snapshot"] = url_latest_snapshot

    def host_stats(spark, sf_dir):
        # per-host rollup (C4/RefinedWeb-style domain quality signal);
        # avg_chars is dropped from the gated projection only because
        # Spark and DuckDB may round half-way cases differently —
        # n_docs/total_chars gate the same information
        return webtext.host_stats(_crawl_pages(spark, sf_dir)).select(
            "host", "n_docs", "total_chars", "n_langs"
        )

    q["host_stats"] = host_stats

    # ---- similarity search ----
    def embedding_knn(spark, sf_dir):
        e = _t(spark, sf_dir, "embeddings")
        qs = e.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        return ann.cosine_topk(e, qs, k=5)

    q["embedding_knn"] = embedding_knn

    def ann_lsh_topk(spark, sf_dir):
        # both probe configurations, variant-tagged in one gated entry:
        # 'single' = classic single-probe; 'probe1' = multi-probe LSH
        # (round-7) — the query also probes every bucket at Hamming
        # distance 1 from its signature, recovering neighbors that
        # disagree on exactly one hyperplane sign. The DuckDB oracle
        # replays both (xor on the bucket long).
        e = _t(spark, sf_dir, "embeddings")
        qs = e.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        single = ann.lsh_cosine_topk(e, qs, k=5).withColumn(
            "variant", F.lit("single")
        )
        probe1 = ann.lsh_cosine_topk(
            e, qs, k=5, probe_hamming=1
        ).withColumn("variant", F.lit("probe1"))
        return single.unionByName(probe1)

    q["ann_lsh_topk"] = ann_lsh_topk

    def ann_ivf_topk(spark, sf_dir):
        # IVF scale path, both assignment modes method-tagged in one
        # gated entry: 'single' = coarse-quantizer cells + nprobe
        # probing (cell assignment is a per-row JVM array argmax, no
        # shuffle); 'multi2' = n_assign=2 multi-assignment (the
        # standard recall lever: each vector lives in its 2 nearest
        # cells, candidates dedupe before top-k). Deterministic
        # quantizer so DuckDB replays both verbatim.
        e = _t(spark, sf_dir, "embeddings")
        qs = e.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        single = ann.ivf_topk(e, qs, k=5, n_cells=16, nprobe=4).withColumn(
            "variant", F.lit("single")
        )
        multi = ann.ivf_topk(
            e, qs, k=5, n_cells=16, nprobe=4, n_assign=2
        ).withColumn("variant", F.lit("multi2"))
        return single.unionByName(multi)

    q["ann_ivf_topk"] = ann_ivf_topk

    def ann_ivf_kmeans(spark, sf_dir):
        # TRAINED quantizer, fully driver-gated: deterministic
        # distributed Lloyd's spherical k-means (2 rounds, centroids
        # rounded each round) — the DuckDB oracle unrolls the identical
        # training, so the whole trained path (init -> assign -> centroid
        # update -> probe -> top-k) is hash-checked, not rows-only. The
        # seeded MLlib variant (quantizer="kmeans") stays recall-pinned
        # in tests/test_ann_recall.py.
        e = _t(spark, sf_dir, "embeddings")
        qs = e.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        return ann.ivf_topk(
            e, qs, k=5, n_cells=16, nprobe=4, quantizer="lloyd"
        )

    q["ann_ivf_kmeans"] = ann_ivf_kmeans

    def repetition_stats_q(spark, sf_dir):
        # Gopher-style repetition signals (dup-line fractions are pure
        # per-row JVM expressions; top-bigram is one map-side-combined
        # agg per distinct (doc, bigram))
        from text_search_spark.operators.textstats import repetition_stats

        return repetition_stats(_t(spark, sf_dir, "documents"))

    q["repetition_stats"] = repetition_stats_q

    def dedup_lines_q(spark, sf_dir):
        # corpus-wide first-occurrence line dedup (RefinedWeb/Dolma
        # shape); owner per line = map-side-combined min(struct), never
        # a per-line window
        from text_search_spark.operators.dedup import dedup_lines

        return dedup_lines(_t(spark, sf_dir, "documents"))

    q["dedup_lines"] = dedup_lines_q

    def pii_stats_q(spark, sf_dir):
        # PII counts + masked-text fingerprint over a corpus seeded with
        # synthetic PII rows (the base table has none — the union makes
        # the check exercise every pattern)
        from text_search_spark.operators.pii import pii_stats

        d = _t(spark, sf_dir, "documents").select("doc_id", "text")
        seeded = spark.createDataFrame(
            [
                (10**9 + 1,
                 "contact bob.smith+x@mail-host.org or 10.0.255.7 now"),
                (10**9 + 2,
                 "call 555-123-4567 or 555.1234.5678; ip 1.2.3.4 twice "
                 "1.2.3.4; mail a@b.co"),
                (10**9 + 3, "no pii here at all"),
            ],
            "doc_id long, text string",
        )
        return pii_stats(d.unionByName(seeded))

    q["pii_stats"] = pii_stats_q

    # ---- text analysis: the fused single-scan profile (token counts +
    # langid heuristic + quality + fingerprint + BPE counts + doc_len in
    # ONE select, zero shuffles — each family stays importable alone) ----
    def textstats_profile(spark, sf_dir):
        return textstats.profile(_t(spark, sf_dir, "documents"))

    q["textstats_profile"] = textstats_profile

    def langid_ngram_q(spark, sf_dir):
        # trained char-n-gram linear scorer (deterministic integer
        # weights checked into the repo; scripts/train_langid.py); the
        # marker-stopword heuristic stays as the baseline inside
        # textstats_profile
        return textstats.langid_ngram(_t(spark, sf_dir, "documents"))

    q["langid_ngram"] = langid_ngram_q

    # ---- chunk split/merge round trip (SURVEY §2.3 J7, §2.8) ----
    def chunk_roundtrip(spark, sf_dir):
        from text_search_spark.operators.chunks import (
            merge_chunks,
            split_chunks,
        )

        d = _t(spark, sf_dir, "documents")
        toks = d.select(
            F.col("doc_id").alias("id"),
            spark_tokens(F.col("text")).alias("tokens"),
        ).withColumn(
            "times",
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.lit(1), F.size("tokens"))
                ),
                lambda i: (i - 1).cast("double"),
            ),
        ).withColumn("times", F.slice("times", 1, F.size("tokens")))
        merged = merge_chunks(split_chunks(toks, window=50, extra=5))
        return merged.select(
            F.col("id").alias("doc_id"),
            F.md5(F.array_join("merged_terms", " ")).alias("merged_fp"),
        )

    q["chunk_roundtrip"] = chunk_roundtrip

    # ---- windowed / interval ops over events (SURVEY §2.4 A4, §2.3 J6) --
    def events_window(spark, sf_dir):
        # A4 sliding window + A3 running prefix sum in one pass (both
        # ride the SAME partitionBy(user_id) sort — one shuffle)
        e = _t(spark, sf_dir, "events")
        base = Window.partitionBy("user_id").orderBy("ts", "event_id")
        dec = F.col("value").cast("decimal(18,6)")
        return e.select(
            "event_id",
            F.sum(dec)
            .over(base.rowsBetween(-3, 3))
            .cast("double")
            .alias("win_sum"),
            F.sum(dec)
            .over(
                base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("double")
            .alias("cum_value"),
        )

    q["events_window"] = events_window

    def events_tumbling_window(spark, sf_dir):
        # the streaming windowed-agg operator in batch form — the SAME
        # expression runs with withWatermark on a stream (equivalence
        # pinned by tests/test_stream_windows.py)
        from text_search_spark.streaming.windows import windowed_event_stats

        return windowed_event_stats(_t(spark, sf_dir, "events")).select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            "sum_value",
        )

    q["events_tumbling_window"] = events_tumbling_window

    def interval_overlap(spark, sf_dir):
        e = _t(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        us = F.expr(
            "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
        )
        x = e.select(
            "user_id",
            us.alias("ts_us"),
            F.lag(us).over(w).alias("pts_us"),
            F.lag("value").over(w).alias("pv"),
        )
        return (
            x.where(
                F.col("pts_us").isNotNull()
                & (
                    F.col("ts_us").cast("double")
                    < F.col("pts_us").cast("double")
                    + F.col("pv") * F.lit(1000000.0)
                )
            )
            .groupBy("user_id")
            .agg(F.count("*").alias("n_overlaps"))
        )

    q["interval_overlap"] = interval_overlap

    # ---- relational breadth (scan/filter/agg/join; SURVEY §2.4/§2.3) ----
    def tpch_q1(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        return (
            li.where(F.col("l_shipdate").cast("string") <= "1998-09-02 00:00:00")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.col("l_quantity").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_qty"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_base_price"),
                F.count("*").alias("count_order"),
            )
        )

    q["tpch_q1"] = tpch_q1

    # ---- union / provenance-filter / running aggregates / argmax ----
    def corpus_union(spark, sf_dir):
        # P2 append_texts analog: disjoint doc_id ranges, union, stats
        d = _t(spark, sf_dir, "documents").select("doc_id", "text")
        d2 = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        u = d.unionByName(d2)
        toks = u.select(
            "doc_id",
            F.posexplode(spark_tokens(F.col("text"))).alias("pos", "term"),
        )
        return (
            toks.groupBy("term", "doc_id")
            .agg(F.count("*").alias("tf"))
            .groupBy("term")
            .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        )

    q["corpus_union"] = corpus_union

    def filtered_postings(spark, sf_dir):
        # P3 filter_texts analog: drop stop-terms, positions survive
        stop = [s.upper() for s in
                ["the", "a", "key", "row", "data", "table", "value"]]
        toks = tokenize_explode(spark, sf_dir).where(~F.col("term").isin(stop))
        return toks.groupBy("term", "doc_id").agg(
            F.count("*").alias("tf"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("pos")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("positions"),
        )

    q["filtered_postings"] = filtered_postings

    def argmax_doc(spark, sf_dir):
        # T6 candidate-range argmax analog: per lang, doc with max n_chars
        d = _t(spark, sf_dir, "documents")
        return d.groupBy("lang").agg(
            F.max_by(
                "doc_id",
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd")),
            ).alias("best_doc"),
            F.max("n_chars").alias("max_chars"),
        )

    q["argmax_doc"] = argmax_doc

    def embedding_dups(spark, sf_dir):
        # embedding-cosine near-dup pairs, BOTH paths in one gated entry:
        # method='brute' is the all-pairs crossJoin demo baseline
        # (labeled small-scale only), method='lsh' is the bucketed scale
        # path (hyperplane-sign equi-join, NO CartesianProduct — plan
        # pinned by tests/test_plans.py)
        e = _t(spark, sf_dir, "embeddings")
        a = e.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").cast("array<double>").alias("va"),
        )
        b = e.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").cast("array<double>").alias("vb"),
        )
        j = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        dot = F.aggregate(
            F.zip_with("va", "vb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        na = F.sqrt(F.aggregate(F.transform("va", lambda x: x * x),
                                F.lit(0.0), lambda acc, x: acc + x))
        nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x * x),
                                F.lit(0.0), lambda acc, x: acc + x))
        cos = F.round(dot / (na * nb), 4)
        brute = (
            j.select("id_a", "id_b", cos.alias("cos"))
            .where(F.col("cos") >= 0.5)
            .withColumn("method", F.lit("brute"))
        )
        lsh = ann.lsh_dup_pairs(e, threshold=0.3).withColumn(
            "method", F.lit("lsh")
        )
        # 'lsh_b4' (round-7): BANDED sign-LSH — 4 bands of 4 planes; a
        # pair is a candidate when ANY band agrees (the recall tail the
        # 400k bench showed single-band missing); oracle replays the
        # band split verbatim
        lsh_b4 = ann.lsh_dup_pairs(
            e, threshold=0.3, n_planes=4, n_bands=4
        ).withColumn("method", F.lit("lsh_b4"))
        return brute.unionByName(lsh).unionByName(lsh_b4)

    q["embedding_dups"] = embedding_dups

    def interval_select(spark, sf_dir):
        # J6 is_overlap greedy suppression per user (order-dependent ->
        # grouped kernel; rows-only driver check, golden-pinned in pytest)
        import pandas as pd

        from text_search_spark.kernels import is_overlap

        e = _t(spark, sf_dir, "events").select(
            "user_id",
            "event_id",
            F.expr(
                "timestampdiff(MICROSECOND, "
                "timestamp_ntz'1970-01-01 00:00:00', ts)"
            ).alias("ts_us"),
            "value",
        )

        def pick(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["ts_us", "event_id"]).reset_index(drop=True)
            ranges, idxs = [], []
            kept = []
            for i in range(len(pdf)):
                start = float(i)
                dur = max(0.1, float(pdf["value"].iat[i]) / 10.0)
                ok, evicted = is_overlap(
                    ranges, idxs, (start, start + dur), i
                )
                if not ok:
                    kept.append(i)
                elif evicted is not None:
                    kept = [k for k in kept if k != evicted] + [i]
            sel = pdf.iloc[sorted(kept)]
            return pd.DataFrame(
                {
                    "user_id": sel["user_id"],
                    "event_id": sel["event_id"],
                }
            )

        return e.groupBy("user_id").applyInPandas(
            pick, schema="user_id long, event_id long"
        )

    q["interval_select"] = interval_select

    def align_spans_demo(spark, sf_dir):
        # J1+J2+J4 composite over real docs: align a known substring (with
        # one typo) of each of 5 documents back to its source
        from text_search_spark.operators.align import align_spans

        d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 5)
        pairs = d.select(
            F.concat(F.lit("q"), F.col("doc_id").cast("string")).alias(
                "query_id"
            ),
            F.concat(
                F.lit("zz"), F.substring(F.col("text"), 10, 40)
            ).alias("query_text"),
            "doc_id",
            F.col("text").alias("doc_text"),
        )
        # full alignment columns are pinned in tests/test_align.py; the
        # driver-checked projection keeps the SQL-predictable invariant:
        # the query is "zz" + an exact substring of the doc and the corpus
        # contains no "z", so the infix distance is exactly 2 (the two
        # unmatched query chars) for every pair
        return align_spans(pairs).select("query_id", "doc_id", "distance")

    q["align_spans_demo"] = align_spans_demo

    def align_long_query(spark, sf_dir):
        # J5 long-query composite: a >20k-symbol query takes the reference's
        # segmented flow (break_query -> per-segment GLOBAL Levenshtein ->
        # combine, match.py:482-514); the oracle pins the UNSEGMENTED infix
        # DP's result on the same deterministic pair — an independent
        # derivation the segmented path must reproduce exactly
        from text_search_spark.operators.align import (
            align_spans,
            synthetic_long_pair,
        )

        qt, dt = synthetic_long_pair()
        pairs = spark.createDataFrame(
            [("lq", qt, 0, dt)],
            "query_id string, query_text string, doc_id long, doc_text string",
        )
        return align_spans(pairs).select(
            "query_id",
            "n_matched",
            "q_start",
            "q_end",
            "t_start",
            "t_end",
            "distance",
            F.md5(F.col("align")).alias("align_fp"),
        )

    q["align_long_query"] = align_long_query

    def multimodal_features(spark, sf_dir):
        # feature vectors surface as scalar fingerprints (array columns are
        # unhashable for the driver's sort/factorize canonicalization);
        # oracle = literal VALUES derived from the same deterministic
        # generator + decode stub in pure Python (no Spark)
        from text_search_spark.operators.multimodal import (
            extract_feature_fps,
            synthetic_media,
        )

        return extract_feature_fps(synthetic_media(spark, 30), "image")

    q["multimodal_features"] = multimodal_features

    def html_extract(spark, sf_dir):
        # S5 extractor: wrap each doc's text in the deterministic HTML
        # template JVM-side, extract via Arrow UDF with the SHARED pure
        # kernel (byte-identity pinned in tests/test_textnorm.py), verify
        # round trip as a fingerprint relation (rows-only driver check)
        import pandas as pd

        from text_search_spark.textnorm import extract_text

        d = _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.concat(
                F.lit("<html><head><title>t</title></head><body><p>"),
                F.col("text"),
                F.lit("</p><script>skip()</script></body></html>"),
            ).alias("html"),
            "text",
        )

        def ex(batches):
            for b in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": b["doc_id"],
                        "extracted_fp": [
                            hashlib.md5(extract_text(h).encode()).hexdigest()
                            for h in b["html"]
                        ],
                    }
                )

        # oracle: md5(text) — byte-identity of the extraction round trip
        # is checked THROUGH DuckDB, not inside the UDF
        return d.mapInPandas(ex, schema="doc_id long, extracted_fp string")

    q["html_extract"] = html_extract

    def snippets_demo(spark, sf_dir):
        from text_search_spark.index.query import QuerySpec
        from text_search_spark.operators.snippets import search_with_snippets

        ix = _ensure_index(spark, sf_dir)
        terms = _top_terms(spark, ix, 3)
        corpus = _t(spark, sf_dir, "documents").select("doc_id", "text")
        specs = [QuerySpec(t, [t], "or") for t in terms]
        return search_with_snippets(spark, ix, specs, corpus, k=5)

    q["snippets_demo"] = snippets_demo

    # ---- segmentation / splitting stage (SURVEY §3.1 step 3b, §3.2) ----
    def _segment_gold():
        import json

        return json.load(
            open(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "tests", "data", "segment_golden.json",
                )
            )
        )

    def query_segments(spark, sf_dir):
        # break a long query into ~5000-symbol segments at matched points
        # (reference-golden case; oracle = the reference's own output)
        from text_search_spark.operators.segment import break_queries

        g = _segment_gold()
        qp = [p[0] for p in g["break2_points"]]
        tp = [p[1] - 12000 for p in g["break2_points"]]
        df = spark.createDataFrame(
            [("q0", 0, qp, tp, 12000, 14000)],
            "query_id string, doc_id long, q_points array<long>, "
            "t_points array<long>, q_len long, t_len long",
        )
        return break_queries(df)

    q["query_segments"] = query_segments

    def split_segments_demo(spark, sf_dir):
        # split a long aligned query into training-sized segments
        # (punctuation-boundary branch; oracle = reference output rows
        # with string payloads fingerprinted)
        from text_search_spark.operators.segment import split_alignments

        g = _segment_gold()
        target, hyp, times = g["case_target"], g["case_hyp"], g["case_times"]
        ops = "".join(
            "C" if r == h else "S" for r, h in zip(target, hyp)
        )
        df = spark.createDataFrame(
            [("q0", 0, hyp, target, 0, 0, ops, times)],
            "query_id string, doc_id long, query_text string, "
            "doc_text string, q_start long, t_start long, align string, "
            "times array<double>",
        )
        out = split_alignments(
            df,
            has_punctuation=True,
            preceding_context_length=50,
            timestamp_position="current",
            overlap_ratio=0.25,
        )
        return out.select(
            "query_id", "doc_id", "seg_idx", "begin_byte", "end_byte",
            F.round("start_time", 3).alias("start_time_r"),
            F.round("duration", 3).alias("duration_r"),
            F.md5("hyp").alias("hyp_fp"),
            F.md5("ref").alias("ref_fp"),
        )

    q["split_segments_demo"] = split_segments_demo

    # ---- subtitle-style direct alignment with max_error_rate gate ----
    def subtitle_gate(spark, sf_dir):
        from text_search_spark.operators.align import subtitle_align

        d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
        good = d.select(
            F.concat(F.lit("s"), F.col("doc_id").cast("string")).alias(
                "pair_id"
            ),
            F.substring("text", 10, 40).alias("ref_text"),
            F.col("text").alias("hyp_text"),
        )
        bad = d.select(
            F.concat(F.lit("x"), F.col("doc_id").cast("string")).alias(
                "pair_id"
            ),
            F.reverse(F.substring("text", 10, 40)).alias("ref_text"),
            F.col("text").alias("hyp_text"),
        )
        pairs = good.unionByName(bad).withColumn(
            "char_times",
            F.transform(
                F.sequence(F.lit(0), F.length("hyp_text") - 1),
                lambda i: i.cast("double") * F.lit(0.1),
            ),
        )
        out = subtitle_align(pairs, max_error_rate=0.15)
        return out.select(
            "pair_id", "distance", "t_start", "t_end",
            F.round("start_time", 6).alias("st"),
            F.round("end_time", 6).alias("et"),
        )

    q["subtitle_gate"] = subtitle_gate

    # ---- overlap-ratio quality metric (SURVEY §2.4 A5) ----
    def overlap_metric(spark, sf_dir):
        from text_search_spark.operators.metrics import overlap_ratio

        e = _t(spark, sf_dir, "events")
        segs = e.select(
            F.col("user_id").cast("string").alias("recording_id"),
            F.expr(
                "timestampdiff(MICROSECOND, "
                "timestamp_ntz'1970-01-01 00:00:00', ts)"
            ).alias("start_us"),
            F.round(F.col("value") * 1000000.0)
            .cast("long")
            .alias("duration_us"),
        )
        return overlap_ratio(segs)

    q["overlap_metric"] = overlap_metric

    # ---- transcript ingestion (SURVEY §2.1 S2) ----
    def transcript_ingest(spark, sf_dir):
        # BPE-ish query table derived from documents: first 20 canonical
        # tokens, each prefixed with the BPE marker; begin time i*0.25.
        # Output = per-char (pos, char, time) rows after ▁->space
        # expansion — the reference's per-symbol time replication.
        from text_search_spark.operators.transcripts import (
            transcripts_from_tokens,
        )

        d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
        qdf = d.select(
            F.concat(F.lit("q"), F.col("doc_id").cast("string")).alias(
                "query_id"
            ),
            F.transform(
                F.slice(spark_tokens(F.col("text")), 1, 20),
                lambda t: F.concat(F.lit("▁"), t),
            ).alias("tokens"),
        ).withColumn(
            "begin_times",
            F.transform(
                F.sequence(F.lit(0), F.size("tokens") - 1),
                lambda i: i.cast("double") * F.lit(0.25),
            ),
        )
        tr = transcripts_from_tokens(qdf, is_bpe=True, strict=True)
        return tr.select(
            "query_id",
            F.posexplode("char_times").alias("pos", "t"),
            F.col("text"),
        ).select(
            "query_id",
            "pos",
            F.substring(F.col("text"), F.col("pos") + 1, F.lit(1)).alias(
                "ch"
            ),
            "t",
        )

    q["transcript_ingest"] = transcript_ingest

    # ---- reference-kernel goldens, one composite entry (J1/J2/J4 + the
    # suffix array): each kernel runs live on the reference's own test
    # vectors and its rows are tagged with a `kernel` column; the oracle
    # is the matching literal VALUES table (goldens independently
    # re-derived in tests/test_kernels.py). Unused slots use sentinels
    # (-1 / '') rather than NULL so the driver's canonicalizer never
    # sees missing values. ----
    def kernel_golden(spark, sf_dir):
        from text_search_spark.kernels import (
            create_suffix_array,
            find_close_matches,
            get_longest_increasing_pairs,
            levenshtein_distance,
        )

        rows = []
        sa = create_suffix_array(np.frombuffer(b"banana", dtype=np.int8))
        rows += [("sa", i, int(v), -1, -1, "") for i, v in enumerate(sa)]
        texts = "hellohallo" + "iholloyou" + "youhellome"
        cm = find_close_matches(
            create_suffix_array(np.frombuffer(texts.encode(), dtype=np.int8)),
            10,
            2,
        )
        rows += [
            ("cm", i, int(r[0]), int(r[1]), -1, "") for i, r in enumerate(cm)
        ]
        dist, aligns = levenshtein_distance(
            np.array([1, 2, 3, 4]), np.array([1, 5, 3, 4, 6, 7, 1, 2, 4])
        )
        rows += [
            ("lev", i, int(dist), int(s), int(e), a)
            for i, (s, e, a) in enumerate(aligns)
        ]
        pairs = get_longest_increasing_pairs(
            [0, 1, 1, 2, 2, 3, 4, 5, 6], [9, 7, 8, 9, 6, 7, 10, 12, 8]
        )
        rows += [
            ("lis", i, int(a), int(b), -1, "")
            for i, (a, b) in enumerate(pairs)
        ]
        return spark.createDataFrame(
            rows, "kernel string, idx int, a int, b int, c int, s string"
        )

    q["kernel_golden"] = kernel_golden

    # registration census == the driver's checked set: exactly these
    # names, in this order, §2-critical entries first (round-3 verdict:
    # entries past the driver's 50-entry window go unchecked)
    order = [
        "tokenize_explode", "term_stats", "postings",
        "bm25_single", "bm25_after_merge", "bm25_near_after_merge",
        "bm25_incremental", "bm25_spilled", "bm25_bool", "bm25_deleted",
        "bm25_near2",
        "transcript_ingest", "query_segments", "split_segments_demo",
        "subtitle_gate", "overlap_metric", "kernel_golden",
        "align_spans_demo", "align_long_query", "interval_select",
        "interval_overlap", "chunk_roundtrip", "snippets_demo",
        "html_extract",
        "textstats_profile", "langid_ngram", "repetition_stats",
        "top_bigram_matches", "pii_stats",
        "dedup_exact", "dedup_lines", "minhash_sigs", "lsh_pairs",
        "simhash", "ngram_jaccard", "dedup_resolve",
        "url_latest_snapshot", "host_stats",
        "embedding_knn", "embedding_dups", "ann_lsh_topk", "ann_ivf_topk",
        "ann_ivf_kmeans",
        "multimodal_features", "corpus_union", "filtered_postings",
        "events_window", "events_tumbling_window", "argmax_doc",
        "tpch_q1",
    ]
    assert set(order) == set(q), (
        sorted(set(q) - set(order)), sorted(set(order) - set(q)))
    return {k: q[k] for k in order}


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["tokenize_explode"] = (
        f"WITH {_TOKS} SELECT doc_id, CAST(pos AS INTEGER) AS pos, term "
        "FROM toks"
    )

    o["term_stats"] = (
        f"WITH {_TOKS}, tf AS (SELECT term, doc_id, count(*) AS tf FROM toks "
        "GROUP BY 1, 2) SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf "
        "GROUP BY term"
    )

    o["postings"] = (
        f"WITH {_TOKS} SELECT term, doc_id, count(*) AS tf, "
        "string_agg(pos::VARCHAR, ',' ORDER BY pos) AS positions "
        "FROM toks GROUP BY term, doc_id"
    )

    partial = _bm25_partial_sql()
    o["bm25_single"] = f"""
WITH {_BM25_CTES},
scored AS (
  SELECT qt.term AS query_id, t.doc_id, {partial} AS score
  FROM (SELECT term FROM qterms WHERE r <= 5) qt
  JOIN tf t ON t.term = qt.term
  JOIN dfs d ON d.term = qt.term
  JOIN dl l ON l.doc_id = t.doc_id
),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
  ORDER BY score DESC, doc_id ASC) AS rank, doc_id, round(score, 6)
  AS score_r FROM scored)
SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score_r
FROM ranked WHERE rank <= 10
"""

    # merge/compaction invariance: the merged index must answer the same
    # workload identically, so the oracle is bm25_single's verbatim
    o["bm25_after_merge"] = o["bm25_single"]

    # incremental-append invariance: two micro-batch appends must answer
    # the same workload identically to a batch build
    o["bm25_incremental"] = o["bm25_single"]

    # spill invariance: the spooled streaming-encode build is
    # byte-identical, so the same workload has the same answer
    o["bm25_spilled"] = o["bm25_single"]

    # positions survive the merge byte-exactly -> same NEAR answers


    # 2-term AND / OR: query_id literal assembled like the engine's
    _two_terms = "(SELECT term FROM qterms WHERE r <= 2)"
    _qid = (
        "(SELECT '{m}:' || string_agg(term, '+' ORDER BY r) "
        "FROM qterms WHERE r <= 2)"
    )
    bool_parts = []
    for m, having in (("and", "HAVING count(*) = 2"), ("or", "")):
        bool_parts.append(f"""
SELECT query_id, rank, doc_id, score_r, '{m}2' AS variant FROM (
  WITH persum AS (
    SELECT t.doc_id, sum({partial}) AS score, count(*) AS nterms
    FROM {_two_terms} qt
    JOIN tf t ON t.term = qt.term
    JOIN dfs d ON d.term = qt.term
    JOIN dl l ON l.doc_id = t.doc_id
    GROUP BY t.doc_id {having}
  ),
  ranked AS (SELECT {_qid.format(m=m)} AS query_id, row_number() OVER
    (ORDER BY score DESC, doc_id ASC) AS rank, doc_id,
    round(score, 6) AS score_r FROM persum)
  SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score_r
  FROM ranked WHERE rank <= 10
)""")
    o["bm25_bool"] = (
        f"WITH {_BM25_CTES}\n"
        + " UNION ALL ".join(bool_parts)
    )

    # delete gate: FULL-corpus statistics (df/dl from every doc — the
    # engine's pre-purge Lucene semantics), candidate docs filtered by
    # the tombstone predicate before ranking
    o["bm25_deleted"] = f"""
WITH {_BM25_CTES},
scored AS (
  SELECT qt.term AS query_id, t.doc_id, {partial} AS score
  FROM (SELECT term FROM qterms WHERE r <= 5) qt
  JOIN tf t ON t.term = qt.term
  JOIN dfs d ON d.term = qt.term
  JOIN dl l ON l.doc_id = t.doc_id
  WHERE t.doc_id % 5 != 2
),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
  ORDER BY score DESC, doc_id ASC) AS rank, doc_id, round(score, 6)
  AS score_r FROM scored)
SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score_r
FROM ranked WHERE rank <= 10
"""

    o["bm25_near2"] = f"""
WITH {_BM25_CTES},
nearq AS (SELECT DISTINCT a.doc_id FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id
  WHERE a.term = (SELECT term FROM qterms WHERE r = 1)
    AND b.term = (SELECT term FROM qterms WHERE r = 2)
    AND abs(a.pos - b.pos) <= 6),
persum AS (
  SELECT t.doc_id, sum({partial}) AS score
  FROM {_two_terms} qt
  JOIN tf t ON t.term = qt.term
  JOIN dfs d ON d.term = qt.term
  JOIN dl l ON l.doc_id = t.doc_id
  JOIN nearq nq ON nq.doc_id = t.doc_id
  GROUP BY t.doc_id
),
ranked AS (SELECT (SELECT 'near:' || string_agg(term, '+' ORDER BY r)
  FROM qterms WHERE r <= 2) AS query_id, row_number() OVER
  (ORDER BY score DESC, doc_id ASC) AS rank, doc_id,
  round(score, 6) AS score_r FROM persum)
SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score_r
FROM ranked WHERE rank <= 10
"""

    # positions survive the merge byte-exactly -> same NEAR answers
    o["bm25_near_after_merge"] = o["bm25_near2"]

    o["top_bigram_matches"] = f"""
WITH {_TOKS},
big AS (SELECT a.doc_id, a.pos, a.term || ' ' || b.term AS bigram
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
top AS (SELECT bigram FROM (SELECT bigram, count(*) AS cnt FROM big
  GROUP BY 1) ORDER BY cnt DESC, bigram ASC LIMIT 1)
SELECT big.bigram, doc_id, CAST(pos AS INTEGER) AS pos FROM big JOIN top ON big.bigram = top.bigram
"""

    o["dedup_exact"] = (
        "SELECT md5(text) AS text_hash, count(*) AS n_docs, "
        "min(doc_id) AS keep_id FROM documents GROUP BY 1"
    )

    mh_cols = ", ".join(
        f"min(md5('{i}|' || term)) AS h{i}" for i in range(dedup.NUM_MINHASHES)
    )
    o["minhash_sigs"] = (
        f"WITH {_TOKS}, dt AS (SELECT DISTINCT doc_id, term FROM toks) "
        f"SELECT doc_id, {mh_cols} FROM dt GROUP BY doc_id"
    )

    bands_sql = " UNION ALL ".join(
        f"SELECT doc_id AS id, {b} AS band, md5(h{2*b} || '|' || h{2*b+1}) "
        f"AS bucket FROM sigs"
        for b in range(dedup.NUM_MINHASHES // 2)
    )
    # same bands plus the secondary slot OUTSIDE the band (next slot,
    # mod num_hashes) — dedup._band_buckets's `sec`, which orders the
    # capped-bucket recovery's chunking (round-7, VERDICT item 3)
    bands_sec_sql = " UNION ALL ".join(
        f"SELECT doc_id AS id, {b} AS band, md5(h{2*b} || '|' || h{2*b+1}) "
        f"AS bucket, h{(2*b + 2) % dedup.NUM_MINHASHES} AS sec FROM sigs"
        for b in range(dedup.NUM_MINHASHES // 2)
    )
    shingled_bands = " UNION ALL ".join(
        f"SELECT doc_id AS id, {b} AS band, "
        f"md5(h{4*b} || '|' || h{4*b+1} || '|' || h{4*b+2} || '|' || "
        f"h{4*b+3}) AS bucket FROM sigs"
        for b in range(dedup.NUM_MINHASHES // 4)
    )
    # both LSH configurations, variant-tagged (matches the single
    # method-tagged Spark entry)
    o["lsh_pairs"] = f"""
WITH {_TOKS}, dt AS (SELECT DISTINCT doc_id, term FROM toks),
sigs_t AS (SELECT doc_id, {mh_cols} FROM dt GROUP BY doc_id),
bands_t AS (WITH sigs AS (SELECT * FROM sigs_t) {bands_sql}),
sized_t AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
          FROM bands_t),
bands_r AS (WITH sigs AS (SELECT * FROM sigs_t) {bands_sec_sql}),
ord_r AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz,
          row_number() OVER (PARTITION BY band, bucket
                             ORDER BY sec, id) AS rn
          FROM bands_r),
big_r AS (SELECT band, bucket, id, rn, (rn - 1) // 8 AS chunk
          FROM ord_r WHERE bsz > 8),
heads_r AS (SELECT band, bucket, chunk, id FROM big_r
            WHERE (rn - 1) % 8 = 0),
rec_pairs AS (
  SELECT a.id AS x, b.id AS y FROM ord_r a JOIN ord_r b
    ON a.band = b.band AND a.bucket = b.bucket AND a.rn < b.rn
  WHERE a.bsz <= 8 AND b.bsz <= 8
  UNION ALL
  SELECT a.id, b.id FROM big_r a JOIN big_r b
    ON a.band = b.band AND a.bucket = b.bucket
   AND a.chunk = b.chunk AND a.rn < b.rn
  UNION ALL
  SELECT h0.id, hc.id FROM heads_r h0 JOIN heads_r hc
    ON h0.band = hc.band AND h0.bucket = hc.bucket
   AND h0.chunk = 0 AND hc.chunk > 0),
sh3 AS (SELECT DISTINCT a.doc_id,
        a.term || ' ' || b.term || ' ' || c.term AS term
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
sigs_s AS (SELECT doc_id, {mh_cols} FROM sh3 GROUP BY doc_id),
bands_s AS (WITH sigs AS (SELECT * FROM sigs_s) {shingled_bands}),
sized_s AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
          FROM bands_s)
SELECT DISTINCT a.id AS id_a, b.id AS id_b, 'term' AS variant
FROM (SELECT * FROM sized_t WHERE bsz <= 1000) a
JOIN (SELECT * FROM sized_t WHERE bsz <= 1000) b
  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
UNION ALL
SELECT DISTINCT least(x, y) AS id_a, greatest(x, y) AS id_b,
       'term_rec8' AS variant
FROM rec_pairs
UNION ALL
SELECT DISTINCT a.id AS id_a, b.id AS id_b, 'shingle3' AS variant
FROM (SELECT * FROM sized_s WHERE bsz <= 1000) a
JOIN (SELECT * FROM sized_s WHERE bsz <= 1000) b
  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
"""

    # simhash: 60 per-bit signed sums over distinct-term md5 bits
    sums = []
    for j in range(dedup.SIMHASH_BITS // 4):
        nib = f"CAST(('0x' || substring(h, {j + 1}, 1)) AS BIGINT)"
        for k in range(4):
            bit = j * 4 + k
            sums.append(
                f"sum((({nib} >> {k}) & 1) * 2 - 1) AS s{bit}"
            )
    bits_val = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
        for i in range(dedup.SIMHASH_BITS)
    )
    o["simhash"] = f"""
WITH {_TOKS}, dt AS (SELECT DISTINCT doc_id, term FROM toks),
hs AS (SELECT doc_id, md5(term) AS h FROM dt),
agg AS (SELECT doc_id, {", ".join(sums)} FROM hs GROUP BY doc_id)
SELECT doc_id, {bits_val} AS simhash FROM agg
"""

    # shared: 3-gram shingle Jaccard pairs (reused by ngram_jaccard and
    # the connected-component oracles)
    _jacc_ctes = f"""{_TOKS},
sh3 AS (SELECT DISTINCT a.doc_id AS id,
        a.term || ' ' || b.term || ' ' || c.term AS sh
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
freq AS (SELECT sh, count(*) AS f FROM sh3 GROUP BY 1),
kept AS (SELECT sh3.id, sh3.sh FROM sh3 JOIN freq ON sh3.sh = freq.sh
         WHERE freq.f <= 1000),
sizes AS (SELECT id, count(*) AS sz FROM kept GROUP BY 1),
inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM kept a JOIN kept b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
jpairs AS (SELECT id_a, id_b,
  round(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE i / (sa.sz + sb.sz - i) >= 0.05)"""

    o["ngram_jaccard"] = f"""
WITH {_jacc_ctes}
SELECT id_a, id_b, jaccard FROM jpairs
"""

    # min-label propagation as a recursive CTE: reach(id, lbl) = lbl is
    # reachable from id. Pruning lbl <= v is lossless for the final
    # min() because a component's minimum is <= every member, so its
    # propagation path is never cut; larger labels die early instead of
    # exploding the reach set quadratically on dense near-dup cliques.
    _comp_ctes = f"""{_jacc_ctes},
edges AS (SELECT id_a AS u, id_b AS v FROM jpairs
          UNION SELECT id_b, id_a FROM jpairs),
reach(id, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id
  WHERE r.lbl <= e.v),
comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)"""

    o["dedup_resolve"] = f"""
WITH RECURSIVE {_comp_ctes},
labeled AS (SELECT d.doc_id,
    coalesce(c.component, d.doc_id) AS component,
    length(d.text) AS len
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
canon AS (SELECT component, doc_id AS canon_id FROM labeled
  QUALIFY row_number() OVER (PARTITION BY component
    ORDER BY len DESC, doc_id ASC) = 1)
SELECT l.doc_id, l.component, (l.doc_id = canon.canon_id) AS is_canonical
FROM labeled l JOIN canon ON canon.component = l.component
"""

    o["embedding_knn"] = """
WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY 1),
dots AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id, sum(a.v * b.v) AS dot
  FROM ex a JOIN ex b ON a.i = b.i
  WHERE a.vec_id < 5 AND b.vec_id != a.vec_id GROUP BY 1, 2),
cos AS (SELECT dots.q_id AS q_id, dots.vec_id AS vec_id,
  round(dot / (na.nrm * nb.nrm), 4) AS cos
  FROM dots JOIN norms na ON na.vec_id = dots.q_id
  JOIN norms nb ON nb.vec_id = dots.vec_id),
ranked AS (SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
  ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank, vec_id, cos FROM cos)
SELECT q_id, rank, vec_id, cos FROM ranked WHERE rank <= 5
"""

    lang_cnts = []
    for lang in textstats.LANG_ORDER:
        markers = ", ".join(f"'{m}'" for m in textstats.LANG_MARKERS[lang])
        lang_cnts.append(
            f"coalesce(sum(CASE WHEN term IN ({markers}) THEN 1 ELSE 0 END), 0)"
            f" AS {lang}_cnt"
        )
    stop_list = ", ".join(f"'{s}'" for s in textstats.EN_STOPWORDS)
    # one combined per-doc profile (token counts + quality + langid +
    # fingerprint + BPE counts); tie-break replicates the right-fold:
    # first language in LANG_ORDER wins
    o["textstats_profile"] = f"""
WITH {_TOKS},
agg AS (SELECT doc_id, count(*) AS n_tokens,
  sum(length(term)) AS total_len,
  sum(CASE WHEN term IN ({stop_list}) THEN 1 ELSE 0 END) AS n_stop,
  count(DISTINCT term) AS n_distinct,
  {", ".join(lang_cnts)}
  FROM toks GROUP BY doc_id),
joined AS (SELECT doc_id, string_agg(term, ' ' ORDER BY pos) AS norm
           FROM toks GROUP BY doc_id),
sh3 AS (SELECT a.doc_id, md5(a.term || ' ' || b.term || ' ' || c.term) AS shh
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
minsh AS (SELECT doc_id, min(shh) AS min_shingle FROM sh3 GROUP BY doc_id),
fullc AS (SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS n_chars,
  CAST(coalesce(a.n_tokens, 0) AS INTEGER) AS n_tokens,
  CAST(coalesce(a.n_distinct, 0) AS INTEGER) AS n_distinct,
  CASE WHEN coalesce(a.n_tokens, 0) > 0
       THEN round(a.total_len / a.n_tokens, 6) ELSE 0.0 END AS avg_token_len,
  CASE WHEN coalesce(a.n_tokens, 0) > 0
       THEN round(a.n_stop / a.n_tokens, 6) ELSE 0.0 END AS stopword_ratio,
  CASE WHEN coalesce(a.n_tokens, 0) > 0
       THEN round(a.n_distinct / a.n_tokens, 6) ELSE 0.0 END
       AS distinct_ratio,
  CAST(coalesce(a.en_cnt, 0) AS INTEGER) AS en_cnt,
  CAST(coalesce(a.de_cnt, 0) AS INTEGER) AS de_cnt,
  CAST(coalesce(a.fr_cnt, 0) AS INTEGER) AS fr_cnt,
  CAST(coalesce(a.es_cnt, 0) AS INTEGER) AS es_cnt,
  md5(coalesce(j.norm, '')) AS fp,
  m.min_shingle,
  CAST(length(regexp_extract_all(d.text,
    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f]')) AS INTEGER) AS n_bpe_tokens
  FROM documents d
  LEFT JOIN agg a ON d.doc_id = a.doc_id
  LEFT JOIN joined j ON d.doc_id = j.doc_id
  LEFT JOIN minsh m ON d.doc_id = m.doc_id)
SELECT *, CASE
  WHEN en_cnt >= de_cnt AND en_cnt >= fr_cnt AND en_cnt >= es_cnt THEN 'en'
  WHEN de_cnt >= fr_cnt AND de_cnt >= es_cnt THEN 'de'
  WHEN fr_cnt >= es_cnt THEN 'fr'
  ELSE 'es' END AS pred_lang
FROM fullc
"""

    o["repetition_stats"] = f"""
WITH lns AS (SELECT doc_id,
  list_filter(string_split(text, chr(10)), x -> length(x) > 0) AS ls
  FROM documents),
linestats AS (SELECT doc_id, CAST(len(ls) AS INTEGER) AS n_lines,
  CASE WHEN len(ls) > 0 THEN round(
    (len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls), 6)
    ELSE 0.0 END AS dup_line_frac,
  CASE WHEN coalesce(list_sum(list_transform(ls, x -> length(x))), 0) > 0
    THEN round((list_sum(list_transform(ls, x -> length(x)))
      - list_sum(list_transform(list_distinct(ls), x -> length(x))))::DOUBLE
      / list_sum(list_transform(ls, x -> length(x))), 6)
    ELSE 0.0 END AS dup_line_char_frac
  FROM lns),
{_TOKS},
ntok AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1),
big AS (SELECT doc_id,
  term || ' ' || lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
  FROM toks),
bgc AS (SELECT doc_id, bg, count(*) AS c FROM big
        WHERE bg IS NOT NULL GROUP BY 1, 2),
topbg AS (SELECT doc_id, max(c) AS top_n FROM bgc GROUP BY 1)
SELECT l.doc_id, l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
  CASE WHEN coalesce(n.n_tokens, 0) > 0
    THEN round(least(2.0 * coalesce(t.top_n, 0) / n.n_tokens, 1.0), 6)
    ELSE 0.0 END AS top_bigram_frac
FROM linestats l
LEFT JOIN ntok n ON n.doc_id = l.doc_id
LEFT JOIN topbg t ON t.doc_id = l.doc_id
"""

    o["dedup_lines"] = """
WITH lns AS (SELECT doc_id, unnest(ls) AS line,
    generate_subscripts(ls, 1) - 1 AS line_no
  FROM (SELECT doc_id,
          list_filter(string_split(text, chr(10)), x -> length(x) > 0) AS ls
        FROM documents) _x),
ranked AS (SELECT doc_id, line_no, line,
    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
  FROM lns),
agg AS (SELECT doc_id,
    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_lines_kept,
    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_lines_dropped,
    md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
      ORDER BY line_no), '')) AS text_fp
  FROM ranked GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.n_lines_kept, 0) AS n_lines_kept,
  coalesce(a.n_lines_dropped, 0) AS n_lines_dropped,
  coalesce(a.text_fp, md5('')) AS text_fp
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""

    from text_search_spark.operators.pii import (
        EMAIL_MASK,
        EMAIL_RE,
        IPV4_MASK,
        IPV4_RE,
        PHONE_MASK,
        PHONE_RE,
    )

    _pii_rows = (
        "(1000000001, 'contact bob.smith+x@mail-host.org or 10.0.255.7 "
        "now'), (1000000002, 'call 555-123-4567 or 555.1234.5678; ip "
        "1.2.3.4 twice 1.2.3.4; mail a@b.co'), (1000000003, "
        "'no pii here at all')"
    )
    o["pii_stats"] = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES {_pii_rows}) AS t(doc_id, text)
),
m1 AS (SELECT doc_id, text,
  regexp_replace(text, '{EMAIL_RE}', '{EMAIL_MASK}', 'g') AS t1
  FROM corpus),
m2 AS (SELECT doc_id, text, t1,
  regexp_replace(t1, '{IPV4_RE}', '{IPV4_MASK}', 'g') AS t2 FROM m1)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INTEGER)
    AS n_emails,
  CAST(len(regexp_extract_all(t1, '{IPV4_RE}')) AS INTEGER) AS n_ipv4,
  CAST(len(regexp_extract_all(t2, '{PHONE_RE}')) AS INTEGER)
    AS n_phones,
  md5(regexp_replace(t2, '{PHONE_RE}', '{PHONE_MASK}', 'g'))
    AS masked_fp
FROM m2
"""

    # ---- langid_ngram: replay the trained integer-weight scorer — the
    # weight table inlines as VALUES, features are the same unigram +
    # trigram substrings of lower(text), sums are exact integers ----
    _lm = textstats._langid_model()
    _lm_langs = _lm["langs"]

    def _sq(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    _w_rows = ", ".join(
        "(" + _sq(feat) + ", " + ", ".join(str(int(x)) for x in ws) + ")"
        for feat, ws in sorted(_lm["weights"].items())
    )
    _w_cols = ", ".join(f"w_{lg}" for lg in _lm_langs)
    _sum_cols = ", ".join(
        f"CAST(sum(w.w_{lg}) AS BIGINT) AS s_{lg}" for lg in _lm_langs
    )
    _full_cols = ", ".join(
        f"coalesce(sc.s_{lg}, 0) AS s_{lg}" for lg in _lm_langs
    )
    _pred_branches = []
    for i, lg in enumerate(_lm_langs[:-1]):
        conds = " AND ".join(
            f"s_{lg} >= s_{other}" for other in _lm_langs[i + 1:]
        )
        _pred_branches.append(f"WHEN {conds} THEN '{lg}'")
    _pred_sql = (
        "CASE " + " ".join(_pred_branches) + f" ELSE '{_lm_langs[-1]}' END"
    )
    o["langid_ngram"] = f"""
WITH w AS (SELECT * FROM (VALUES {_w_rows}) AS t(feat, {_w_cols})),
lt AS (SELECT doc_id, lower(text) AS t FROM documents),
uni AS (SELECT doc_id, substring(t, CAST(i AS INTEGER), 1) AS feat
  FROM lt, LATERAL unnest(range(1, length(t) + 1)) AS r(i)),
tri AS (SELECT doc_id, substring(t, CAST(i AS INTEGER), 3) AS feat
  FROM lt, LATERAL unnest(range(1, greatest(length(t) - 1, 1))) AS r(i)),
feats AS (SELECT * FROM uni UNION ALL SELECT * FROM tri),
sc AS (SELECT f.doc_id, {_sum_cols}
       FROM feats f JOIN w ON w.feat = f.feat GROUP BY 1),
fullc AS (SELECT d.doc_id, {_full_cols}
          FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)
SELECT *, {_pred_sql} AS pred_lang_ngram FROM fullc
"""

    o["chunk_roundtrip"] = f"""
WITH {_TOKS},
joined AS (SELECT doc_id, string_agg(term, ' ' ORDER BY pos) AS norm
           FROM toks GROUP BY doc_id)
SELECT d.doc_id, md5(coalesce(j.norm, '')) AS merged_fp
FROM documents d LEFT JOIN joined j ON d.doc_id = j.doc_id
"""

    o["events_window"] = """
SELECT event_id,
  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) AS win_sum,
  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS cum_value
FROM events
"""

    o["events_tumbling_window"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1
"""

    o["interval_overlap"] = """
WITH x AS (SELECT user_id,
  date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) AS ts_us,
  lag(date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts))
    OVER w AS pts_us,
  lag(value) OVER w AS pv
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, count(*) AS n_overlaps FROM x
WHERE pts_us IS NOT NULL
  AND CAST(ts_us AS DOUBLE) < CAST(pts_us AS DOUBLE) + pv * 1000000.0
GROUP BY user_id
"""

    o["corpus_union"] = f"""
WITH uni AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
toks AS (SELECT doc_id, unnest(ts) AS term
  FROM (SELECT doc_id, {duckdb_tokens_sql('text')} AS ts FROM uni) _d),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM tf GROUP BY term
"""

    _stop = ", ".join(
        "'" + w.upper() + "'"
        for w in ["the", "a", "key", "row", "data", "table", "value"]
    )
    o["filtered_postings"] = f"""
WITH {_TOKS}
SELECT term, doc_id, count(*) AS tf,
  string_agg(pos::VARCHAR, ',' ORDER BY pos) AS positions
FROM toks WHERE term NOT IN ({_stop})
GROUP BY term, doc_id
"""

    o["argmax_doc"] = """
SELECT lang, doc_id AS best_doc, CAST(n_chars AS BIGINT) AS max_chars
FROM (SELECT lang, doc_id, n_chars, row_number() OVER (
        PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS r
      FROM documents) WHERE r = 1
"""

    o["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
    AS sum_base_price,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

    # ---- html_extract: byte-identity of extraction checked via DuckDB —
    # the template wraps text in <body><p>, title "t", a skipped <script>;
    # extract_text = "t " + whitespace-collapsed text.
    # COUPLING (by construction, would fail loudly not silently): this
    # identity oracle assumes the documents.text corpus contains no
    # markup-active sequences ('<'+letter, '&xx;') and no non-ASCII
    # whitespace (extract_text's str.split() collapses U+00A0 etc.;
    # DuckDB's '\\s+' is ASCII-only). The real extractor semantics are
    # pinned independently on hostile markup by
    # tests/test_html_adversarial.py (29 exact cases + corpus hash). ----
    o["html_extract"] = (
        "SELECT doc_id, md5(trim(regexp_replace('t ' || text, '\\s+', ' ', "
        "'g'))) AS extracted_fp FROM documents"
    )

    # ---- align_spans_demo: exact-substring queries ("zz" + substr) have a
    # provable infix distance of exactly 2 (corpus is z-free) ----
    o["align_spans_demo"] = """
SELECT 'q' || CAST(doc_id AS VARCHAR) AS query_id, doc_id, 2 AS distance
FROM documents WHERE doc_id < 5
"""

    # ---- align_long_query: literal oracle = the UNSEGMENTED infix DP's
    # result on synthetic_long_pair() (LONG_PAIR_GOLDEN, re-derived live in
    # tests/test_align.py) — the Spark side runs the SEGMENTED flow ----
    from text_search_spark.operators.align import LONG_PAIR_GOLDEN

    _lg = LONG_PAIR_GOLDEN
    o["align_long_query"] = (
        f"SELECT 'lq' AS query_id, {_lg[0]} AS n_matched, {_lg[1]} AS "
        f"q_start, {_lg[2]} AS q_end, {_lg[3]} AS t_start, {_lg[4]} AS "
        f"t_end, {_lg[5]} AS distance, '{_lg[6]}' AS align_fp"
    )

    # ---- multimodal_features: literal oracle from the same deterministic
    # generator + decode stub, computed in pure Python (no Spark) ----
    from text_search_spark.operators.multimodal import (
        _decode_image_stub,
        feature_fingerprint,
        synthetic_media_rows,
        IMAGE_FEAT_DIM,
    )

    mm_rows = [
        f"({mid}, {IMAGE_FEAT_DIM}, '{feature_fingerprint(_decode_image_stub(content, True))}')"
        for mid, kind, content, _meta in synthetic_media_rows(30)
        if kind == "image"
    ]
    o["multimodal_features"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, feat_dim, "
        "feature_fp FROM (VALUES "
        + ", ".join(mm_rows)
        + ") AS t(media_id, feat_dim, feature_fp)"
    )

    # ---- reference-kernel goldens as one literal VALUES table (the
    # vectors come from the reference's own tests; independently
    # re-derived in tests/test_kernels.py). Sentinels -1 / '' fill the
    # slots a kernel doesn't use. ----
    kg_rows = []
    kg_rows += [
        f"('sa', {i}, {v}, -1, -1, '')"
        for i, v in enumerate([1, 3, 5, 0, 2, 4, 6])
    ]
    kg_rows += [
        f"('cm', {i}, {b}, {a}, -1, '')"
        for i, b, a in [
            (0, 28, 22), (1, 28, 23), (2, 10, 24), (3, 13, 25), (4, 27, 12),
            (5, 28, 22), (6, 28, 23), (7, 10, 24), (8, 13, 25), (9, 27, 12),
        ]
    ]
    kg_rows += [
        f"('lev', {i}, 1, {s}, {e}, '{a}')"
        for i, (s, e, a) in enumerate([(0, 3, "CSCC"), (6, 8, "CCIC")])
    ]
    kg_rows += [
        f"('lis', {i}, {a}, {b}, -1, '')"
        for i, (a, b) in enumerate([(1, 7), (1, 8), (2, 9), (4, 10), (5, 12)])
    ]
    o["kernel_golden"] = (
        "SELECT kernel, CAST(idx AS INTEGER) AS idx, "
        "CAST(a AS INTEGER) AS a, CAST(b AS INTEGER) AS b, "
        "CAST(c AS INTEGER) AS c, s FROM (VALUES "
        + ", ".join(kg_rows)
        + ") AS t(kernel, idx, a, b, c, s)"
    )

    # ---- segmentation: literal oracles from the reference's own outputs
    # (tests/data/segment_golden.json, generated by running the
    # reference's _break_query / _split_into_segments) ----
    import json as _json

    _gold = _json.load(
        open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "tests", "data", "segment_golden.json",
            )
        )
    )
    brk_rows = ", ".join(
        f"('q0', 0, {k}, {qs}, {qe}, {ts - 12000}, {te - 12000})"
        for k, (qs, qe, ts, te) in enumerate(_gold["break2"])
    )
    o["query_segments"] = (
        "SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id, seg_idx, "
        "CAST(q_start AS BIGINT) AS q_start, CAST(q_end AS BIGINT) AS "
        "q_end, CAST(t_start AS BIGINT) AS t_start, CAST(t_end AS BIGINT) "
        f"AS t_end FROM (VALUES {brk_rows}) AS t(query_id, doc_id, "
        "seg_idx, q_start, q_end, t_start, t_end)"
    )

    split_rows = ", ".join(
        "('q0', 0, {k}, {bb}, {eb}, {st!r}, {du!r}, '{hf}', '{rf}')".format(
            k=k,
            bb=s["begin_byte"],
            eb=s["end_byte"],
            st=round(s["start_time"], 3),
            du=round(s["duration"], 3),
            hf=hashlib.md5(s["hyp"].encode()).hexdigest(),
            rf=hashlib.md5(s["ref"].encode()).hexdigest(),
        )
        for k, s in enumerate(_gold["split_punct"])
    )
    o["split_segments_demo"] = (
        "SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id, seg_idx, "
        "begin_byte, end_byte, CAST(start_time_r AS DOUBLE) AS "
        "start_time_r, CAST(duration_r AS DOUBLE) AS duration_r, hyp_fp, "
        f"ref_fp FROM (VALUES {split_rows}) AS t(query_id, doc_id, "
        "seg_idx, begin_byte, end_byte, start_time_r, duration_r, "
        "hyp_fp, ref_fp)"
    )

    # ---- subtitle gate: exact-substring pairs are provably distance 0
    # with the matched span at chars [9, 9+ref_len); reversed-substring
    # pairs exceed the 0.15 error budget and MUST be absent ----
    o["subtitle_gate"] = """
WITH d AS (SELECT doc_id, length(text) AS n,
             least(40, length(text) - 9) AS ref_len
           FROM documents WHERE doc_id < 20)
SELECT 's' || CAST(doc_id AS VARCHAR) AS pair_id,
  0 AS distance,
  9 AS t_start,
  CAST(least(9 + ref_len, n - 1) AS INTEGER) AS t_end,
  round(CAST(9 AS DOUBLE) * 0.1, 6) AS st,
  round(CAST(least(9 + ref_len, n - 1) AS DOUBLE) * 0.1, 6) AS et
FROM d
"""

    # ---- overlap metric: pairwise contiguous-prefix sweep in SQL ----
    o["overlap_metric"] = """
WITH segs AS (SELECT CAST(user_id AS VARCHAR) AS rec,
    date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) AS s,
    CAST(round(value * 1000000.0) AS BIGINT) AS dur
  FROM events),
x AS (SELECT rec, s, s + dur AS e, dur,
        row_number() OVER (PARTITION BY rec ORDER BY s, s + dur) AS rn
      FROM segs),
ov AS (SELECT a.rec, CAST(sum(a.e - b.s) AS BIGINT) AS o
       FROM x a JOIN x b ON a.rec = b.rec AND b.rn > a.rn AND b.s < a.e
       GROUP BY a.rec),
rec AS (SELECT x.rec AS recording_id,
          CAST(count(*) AS BIGINT) AS n_segments,
          CAST(coalesce(any_value(ov.o), 0) AS BIGINT) AS overlap_us,
          CAST(sum(x.dur) AS BIGINT) AS duration_us
        FROM x LEFT JOIN ov ON ov.rec = x.rec GROUP BY x.rec),
uni AS (
  SELECT * FROM rec
  UNION ALL
  SELECT '__all__', CAST(sum(n_segments) AS BIGINT),
    CAST(sum(overlap_us) AS BIGINT), CAST(sum(duration_us) AS BIGINT)
  FROM rec
)
SELECT recording_id, n_segments, overlap_us, duration_us,
  CASE WHEN duration_us > 0
       THEN round(CAST(overlap_us AS DOUBLE) / duration_us, 6)
       ELSE 0.0 END AS ratio
FROM uni
"""

    # ---- transcript ingestion: per-char time replication in SQL ----
    o["transcript_ingest"] = f"""
WITH src AS (SELECT doc_id, ({duckdb_tokens_sql('text')})[1:20] AS tk
             FROM documents WHERE doc_id < 50),
tok AS (SELECT doc_id, ' ' || unnest(tk) AS token,
               generate_subscripts(tk, 1) AS j FROM src),
w AS (SELECT doc_id, j, token, length(token) AS ln,
        CAST(j - 1 AS DOUBLE) * 0.25 AS bt,
        coalesce(sum(length(token)) OVER (PARTITION BY doc_id ORDER BY j
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM tok)
SELECT 'q' || CAST(doc_id AS VARCHAR) AS query_id,
  CAST(off + k AS INTEGER) AS pos,
  substring(token, CAST(k + 1 AS INTEGER), 1) AS ch,
  bt AS t
FROM (SELECT doc_id, off, bt, token, unnest(range(0, ln)) AS k FROM w) _z
"""

    # ---- ann_lsh_topk: replicate the hyperplane LSH exactly — the seeded
    # planes inline as literals, bucket = sign bits, cosine within bucket --
    from text_search_spark.operators.ann import hyperplanes

    plane_rows = ", ".join(
        f"({p}, {i + 1}, {w!r})"
        for p, row in enumerate(hyperplanes(64, 8, 42))
        for i, w in enumerate(row)
    )
    o["ann_lsh_topk"] = f"""
WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
planes AS (SELECT * FROM (VALUES {plane_rows}) AS t(p, i, w)),
dots AS (SELECT e.vec_id, pl.p, sum(e.v * pl.w) AS d
  FROM ex e JOIN planes pl ON pl.i = e.i GROUP BY 1, 2),
buckets AS (SELECT vec_id,
  sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
  FROM dots GROUP BY 1),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY 1),
qprobes AS (
  SELECT vec_id, bucket FROM buckets WHERE vec_id < 5
  UNION ALL
  SELECT b.vec_id, xor(b.bucket, CAST(1 AS BIGINT) << pp.p)
  FROM buckets b CROSS JOIN (SELECT DISTINCT p FROM planes) pp
  WHERE b.vec_id < 5),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id, 'single' AS variant
  FROM buckets q JOIN buckets c ON q.bucket = c.bucket
  WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
  UNION ALL
  SELECT DISTINCT q.vec_id, c.vec_id, 'probe1'
  FROM qprobes q JOIN buckets c ON q.bucket = c.bucket
  WHERE c.vec_id != q.vec_id),
dots2 AS (SELECT p.q_id, p.vec_id, p.variant, sum(a.v * b.v) AS dot
  FROM pairs p JOIN ex a ON a.vec_id = p.q_id
  JOIN ex b ON b.vec_id = p.vec_id AND b.i = a.i GROUP BY 1, 2, 3),
cos AS (SELECT d.q_id, d.vec_id, d.variant,
  round(dot / (na.nrm * nb.nrm), 4) AS cos
  FROM dots2 d JOIN norms na ON na.vec_id = d.q_id
  JOIN norms nb ON nb.vec_id = d.vec_id),
ranked AS (SELECT q_id, CAST(row_number() OVER (
  PARTITION BY variant, q_id
  ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank, vec_id, cos,
  variant FROM cos)
SELECT q_id, rank, vec_id, cos, variant FROM ranked WHERE rank <= 5
"""

    # ---- ann_ivf_topk: replicate the IVF exactly — cells = the 16
    # lowest-id embeddings, per-vector argmax assignment (rounded cos,
    # lowest cell on ties), queries probe their 4 nearest cells.
    # Variant 'single' assigns each vector to its 1 nearest cell;
    # variant 'multi2' to its TOP-2 cells with candidate pairs deduped
    # before the exact dot product (a vector in two probed cells must
    # contribute once, not twice) ----
    o["ann_ivf_topk"] = """
WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY 1),
cent_ids AS (SELECT vec_id AS cid,
  CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
cdots AS (SELECT a.vec_id, c.cell,
  round(sum(a.v * b.v) / (na.nrm * nb.nrm), 4) AS cos
  FROM ex a JOIN cent_ids c ON true
  JOIN ex b ON b.vec_id = c.cid AND b.i = a.i
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = c.cid
  GROUP BY a.vec_id, c.cell, na.nrm, nb.nrm),
arn AS (SELECT vec_id, cell, row_number()
  OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn FROM cdots),
assign1 AS (SELECT vec_id, cell FROM arn WHERE rn = 1),
assign2 AS (SELECT vec_id, cell FROM arn WHERE rn <= 2),
probes AS (SELECT vec_id AS q_id, cell FROM (SELECT vec_id, cell,
  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
  FROM cdots WHERE vec_id < 5) WHERE rn <= 4),
dots1 AS (SELECT p.q_id, a.vec_id,
  round(sum(ea.v * eq.v) / (na.nrm * nq.nrm), 4) AS cos
  FROM probes p JOIN assign1 a ON a.cell = p.cell AND a.vec_id != p.q_id
  JOIN ex ea ON ea.vec_id = a.vec_id
  JOIN ex eq ON eq.vec_id = p.q_id AND eq.i = ea.i
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nq ON nq.vec_id = p.q_id
  GROUP BY 1, 2, na.nrm, nq.nrm),
cands2 AS (SELECT DISTINCT p.q_id, a.vec_id
  FROM probes p JOIN assign2 a ON a.cell = p.cell AND a.vec_id != p.q_id),
dots2 AS (SELECT c.q_id, c.vec_id,
  round(sum(ea.v * eq.v) / (na.nrm * nq.nrm), 4) AS cos
  FROM cands2 c
  JOIN ex ea ON ea.vec_id = c.vec_id
  JOIN ex eq ON eq.vec_id = c.q_id AND eq.i = ea.i
  JOIN norms na ON na.vec_id = c.vec_id
  JOIN norms nq ON nq.vec_id = c.q_id
  GROUP BY 1, 2, na.nrm, nq.nrm),
ranked1 AS (SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
  ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank, vec_id, cos
  FROM dots1),
ranked2 AS (SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
  ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank, vec_id, cos
  FROM dots2)
SELECT q_id, rank, vec_id, cos, 'single' AS variant FROM ranked1
WHERE rank <= 5
UNION ALL
SELECT q_id, rank, vec_id, cos, 'multi2' AS variant FROM ranked2
WHERE rank <= 5
"""

    # ---- ann_ivf_kmeans: the deterministic Lloyd's training unrolled in
    # SQL — init = 16 lowest-id unit vectors (rounded 6), each iteration
    # assigns every unit vector to its nearest cell by rounded cosine and
    # recomputes centroids as rounded component means (empty cells keep
    # their previous centroid), then the standard IVF probe/top-k runs
    # against the trained cells ----
    _lloyd_cents = ["""
cent0 AS (SELECT c.cell, u2.i, round(u2.u, 6) AS w
  FROM (SELECT vec_id AS cid,
          CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell
        FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)) c
  JOIN un u2 ON u2.vec_id = c.cid)"""]
    for it in range(2):
        p, n = f"cent{it}", f"cent{it + 1}"
        _lloyd_cents.append(f"""
cn{it} AS (SELECT cell, CASE WHEN sqrt(sum(w * w)) = 0 THEN 1.0
  ELSE sqrt(sum(w * w)) END AS cn FROM {p} GROUP BY 1),
cd{it} AS (SELECT u.vec_id, c.cell,
  round(sum(u.u * c.w) / (uo.un * cn.cn), 4) AS cos
  FROM un u JOIN {p} c ON c.i = u.i
  JOIN unorm uo ON uo.vec_id = u.vec_id
  JOIN cn{it} cn ON cn.cell = c.cell
  GROUP BY u.vec_id, c.cell, uo.un, cn.cn),
asg{it} AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number()
  OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn FROM cd{it})
  WHERE rn = 1),
{n} AS (SELECT c0.cell, c0.i, coalesce(round(m.m, 6), c0.w) AS w
  FROM {p} c0 LEFT JOIN (SELECT a.cell, u.i, avg(u.u) AS m
    FROM asg{it} a JOIN un u ON u.vec_id = a.vec_id GROUP BY 1, 2) m
  ON m.cell = c0.cell AND m.i = c0.i)""")
    _lloyd_sql = ",".join(_lloyd_cents)
    o["ann_ivf_kmeans"] = f"""
WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY 1),
un AS (SELECT e.vec_id, e.i, e.v / n.nrm AS u
       FROM ex e JOIN norms n ON n.vec_id = e.vec_id),
unorm AS (SELECT vec_id, sqrt(sum(u * u)) AS un FROM un GROUP BY 1),
{_lloyd_sql},
cnf AS (SELECT cell, CASE WHEN sqrt(sum(w * w)) = 0 THEN 1.0
  ELSE sqrt(sum(w * w)) END AS cn FROM cent2 GROUP BY 1),
cdots AS (SELECT a.vec_id, c.cell,
  round(sum(a.v * c.w) / (na.nrm * cn.cn), 4) AS cos
  FROM ex a JOIN cent2 c ON c.i = a.i
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN cnf cn ON cn.cell = c.cell
  GROUP BY a.vec_id, c.cell, na.nrm, cn.cn),
assign AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number()
  OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn FROM cdots)
  WHERE rn = 1),
probes AS (SELECT vec_id AS q_id, cell FROM (SELECT vec_id, cell,
  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
  FROM cdots WHERE vec_id < 5) WHERE rn <= 4),
dots AS (SELECT p.q_id, a.vec_id,
  round(sum(ea.v * eq.v) / (na.nrm * nq.nrm), 4) AS cos
  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id != p.q_id
  JOIN ex ea ON ea.vec_id = a.vec_id
  JOIN ex eq ON eq.vec_id = p.q_id AND eq.i = ea.i
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nq ON nq.vec_id = p.q_id
  GROUP BY 1, 2, na.nrm, nq.nrm),
ranked AS (SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
  ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank, vec_id, cos FROM dots)
SELECT q_id, rank, vec_id, cos FROM ranked WHERE rank <= 5
"""

    # ---- crawl-table entries: the oracle repeats the deterministic
    # url/ts derivation (11 hosts x 13 pages, fetch_s = doc_id*131 %
    # 10007) and replays the keep-newest / per-host rollup in SQL ----
    _crawl_sql = (
        "p AS (SELECT 'https://s' || (doc_id % 11) || '.example/p' || "
        "(doc_id % 13) AS url, (doc_id * 131) % 10007 AS ts_s, "
        "doc_id, text, lang FROM documents)"
    )
    o["url_latest_snapshot"] = f"""
WITH {_crawl_sql},
w AS (SELECT url, ts_s, doc_id, lang,
  count(*) OVER (PARTITION BY url) AS n_snapshots,
  row_number() OVER (PARTITION BY url
    ORDER BY ts_s DESC, doc_id DESC) AS rn FROM p)
SELECT url, ts_s, doc_id, lang, n_snapshots FROM w WHERE rn = 1
"""

    o["host_stats"] = f"""
WITH {_crawl_sql}
SELECT 's' || (doc_id % 11) || '.example' AS host,
  count(*) AS n_docs,
  CAST(sum(length(text)) AS BIGINT) AS total_chars,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM p GROUP BY 1
"""

    # ---- embedding_dups: brute all-pairs (threshold 0.5) UNION the
    # LSH-bucketed pairs (same inline plane literals; pairs form only
    # within equal buckets, threshold 0.3), tagged by method ----
    plane_rows16 = ", ".join(
        f"({p}, {i + 1}, {w!r})"
        for p, row in enumerate(hyperplanes(64, 16, 42))
        for i, w in enumerate(row)
    )
    o["embedding_dups"] = f"""
WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
            generate_subscripts(embedding, 1) AS i FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY 1),
bdots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
bcos AS (SELECT bdots.id_a, bdots.id_b,
  round(dot / (na.nrm * nb.nrm), 4) AS cos
  FROM bdots JOIN norms na ON na.vec_id = bdots.id_a
  JOIN norms nb ON nb.vec_id = bdots.id_b),
planes AS (SELECT * FROM (VALUES {plane_rows}) AS t(p, i, w)),
pdots AS (SELECT e.vec_id, pl.p, sum(e.v * pl.w) AS d
  FROM ex e JOIN planes pl ON pl.i = e.i GROUP BY 1, 2),
buckets AS (SELECT vec_id,
  sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
  FROM pdots GROUP BY 1),
pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id),
ldots AS (SELECT p.id_a, p.id_b, sum(x.v * y.v) AS dot
  FROM pairs p JOIN ex x ON x.vec_id = p.id_a
  JOIN ex y ON y.vec_id = p.id_b AND y.i = x.i GROUP BY 1, 2),
planes16 AS (SELECT * FROM (VALUES {plane_rows16}) AS t(p, i, w)),
pdots16 AS (SELECT e.vec_id, pl.p, sum(e.v * pl.w) AS d
  FROM ex e JOIN planes16 pl ON pl.i = e.i GROUP BY 1, 2),
bbuckets AS (SELECT vec_id, p // 4 AS band,
  sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << (p % 4)) ELSE 0 END)
  AS bucket
  FROM pdots16 GROUP BY 1, 2),
bpairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bbuckets a JOIN bbuckets b
    ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id),
bldots AS (SELECT p.id_a, p.id_b, sum(x.v * y.v) AS dot
  FROM bpairs p JOIN ex x ON x.vec_id = p.id_a
  JOIN ex y ON y.vec_id = p.id_b AND y.i = x.i GROUP BY 1, 2)
SELECT id_a, id_b, cos, 'brute' AS method FROM bcos WHERE cos >= 0.5
UNION ALL
SELECT d.id_a, d.id_b, round(dot / (na.nrm * nb.nrm), 4) AS cos,
  'lsh' AS method
FROM ldots d JOIN norms na ON na.vec_id = d.id_a
JOIN norms nb ON nb.vec_id = d.id_b
WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.3
UNION ALL
SELECT d.id_a, d.id_b, round(dot / (na.nrm * nb.nrm), 4) AS cos,
  'lsh_b4' AS method
FROM bldots d JOIN norms na ON na.vec_id = d.id_a
JOIN norms nb ON nb.vec_id = d.id_b
WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.3
"""

    # ---- snippets_demo: densest-window snippet derivation in pure SQL —
    # single-term queries make every occurrence a hit, so the best window
    # is max hits in (pos-15, pos], first-best; start = max(0, lo-2) ----
    o["snippets_demo"] = f"""
WITH {_BM25_CTES},
topk AS (
  SELECT query_id, doc_id FROM (
    SELECT qt.term AS query_id, t.doc_id, row_number() OVER (
      PARTITION BY qt.term ORDER BY {partial} DESC, t.doc_id ASC) AS rank
    FROM (SELECT term FROM qterms WHERE r <= 3) qt
    JOIN tf t ON t.term = qt.term
    JOIN dfs d ON d.term = qt.term
    JOIN dl l ON l.doc_id = t.doc_id
  ) WHERE rank <= 5
),
hits AS (SELECT k.query_id, t.doc_id, t.pos FROM topk k
  JOIN toks t ON t.term = k.query_id AND t.doc_id = k.doc_id),
win AS (SELECT query_id, doc_id, pos,
  CAST(count(*) OVER w AS INTEGER) AS cnt, min(pos) OVER w AS lo_pos
  FROM hits WINDOW w AS (PARTITION BY query_id, doc_id ORDER BY pos
  RANGE BETWEEN 15 PRECEDING AND CURRENT ROW)),
best AS (SELECT query_id, doc_id, cnt AS n_hits, lo_pos FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
    ORDER BY cnt DESC, pos ASC) AS rr FROM win) WHERE rr = 1),
spans AS (SELECT b.query_id, b.doc_id, b.n_hits,
  CAST(greatest(0, b.lo_pos - 2) AS INTEGER) AS span_start,
  CAST(least(l.doc_len - 1, greatest(0, b.lo_pos - 2) + 15) AS INTEGER)
    AS span_end
  FROM best b JOIN dl l ON l.doc_id = b.doc_id)
SELECT s.query_id, s.doc_id, s.n_hits, s.span_start, s.span_end,
  (SELECT string_agg(t.term, ' ' ORDER BY t.pos) FROM toks t
   WHERE t.doc_id = s.doc_id AND t.pos BETWEEN s.span_start AND s.span_end)
  AS snippet
FROM spans s
"""

    # ---- interval_select: the greedy is_overlap chain in increasing-start
    # order reduces to a last-interval state machine -> recursive CTE ----
    o["interval_select"] = """
WITH RECURSIVE ev AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - 1 AS DOUBLE) AS q_s,
         greatest(0.1, value / 10.0) AS dur
  FROM events
),
mx AS (SELECT user_id, count(*) AS n FROM ev GROUP BY 1),
step AS (
  SELECT user_id, CAST(0 AS BIGINT) AS rn,
         CAST(NULL AS DOUBLE) AS last_s, CAST(NULL AS DOUBLE) AS last_e,
         CAST(NULL AS BIGINT) AS last_eid, CAST(NULL AS BIGINT) AS emit_eid
  FROM mx
  UNION ALL
  SELECT user_id, rn,
         CASE WHEN dropped THEN last_s ELSE q_s END,
         CASE WHEN dropped THEN last_e ELSE q_e END,
         CASE WHEN dropped THEN last_eid ELSE event_id END,
         CASE WHEN (NOT dropped) AND (NOT evict) THEN last_eid
              ELSE NULL END
  FROM (
    SELECT s.user_id, s.rn + 1 AS rn, e.q_s, e.q_s + e.dur AS q_e,
           e.event_id, s.last_s, s.last_e, s.last_eid,
           coalesce(s.last_e - e.q_s > e.dur * 0.25, FALSE) AS dropped,
           coalesce(NOT (s.last_e - e.q_s > e.dur * 0.25)
                    AND s.last_e - e.q_s > (s.last_e - s.last_s) * 0.25,
                    FALSE) AS evict
    FROM step s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
  )
)
SELECT user_id, emit_eid AS event_id FROM step WHERE emit_eid IS NOT NULL
UNION ALL
SELECT s.user_id, s.last_eid AS event_id FROM step s
JOIN mx ON mx.user_id = s.user_id AND s.rn = mx.n
WHERE s.last_eid IS NOT NULL
"""

    return o
