"""Physical-plan regression tests: pushdown, pruning, broadcast, no
row-at-a-time Python in relational paths. These pin the properties that
matter at 100 TB (SURVEY.md §4)."""

import pytest
from pyspark.sql import functions as F

from text_search_spark.corpus import generate_pages
from text_search_spark.index import format as ixfmt
from text_search_spark.index.build import build_index, prepare_corpus
from text_search_spark.plans.explain import (
    assert_in_plan,
    assert_not_in_plan,
    formatted_plan,
)
from text_search_spark.textnorm import spark_tokens

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plan") / "ix")
    pages = generate_pages(120)
    pdf = spark.createDataFrame(
        [(p.url, p.text) for p in pages], "url string, text string"
    )
    build_index(
        spark,
        prepare_corpus(pdf, url_col="url"),
        d,
        n_buckets=4,
        n_shards=2,
        bucket_groups=1,
    )
    return d


def test_segments_scan_pushdown_and_pruning(spark, small_index):
    """Query-term filter reaches the parquet scan; term_bucket prunes
    directories; positions column NOT read for non-phrase queries."""
    from text_search_spark.functions.xxhash import xxhash64_str

    tid = xxhash64_str("THE")
    seg = spark.read.parquet(ixfmt.segments_dir(small_index))
    scan = seg.where(
        F.col("term_bucket").isin([1]) & F.col("term_id").isin([tid])
    ).select("shard", "term_id", "postings", "blockmax", "bm_avgdl")
    plan = formatted_plan(scan)
    assert "PushedFilters" in plan and str(tid) in plan
    assert "PartitionFilters" in plan
    # column pruning: the positions column must not be in ReadSchema
    read_schema = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ][0]
    assert "positions" not in read_schema
    assert "postings" in read_schema


def test_tokenizer_is_jvm_side(spark):
    """The tokenize/explode path must not contain Python evaluation."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = docs.select(
        "doc_id", F.posexplode(spark_tokens(F.col("text"))).alias("p", "t")
    )
    assert_not_in_plan(toks, "BatchEvalPython", "ArrowEvalPython")
    assert_in_plan(toks, "codegen id")  # inside a whole-stage codegen span


def test_knn_broadcasts_queries(spark):
    from text_search_spark.operators import ann

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    assert_in_plan(ann.cosine_topk(emb, qs, k=5), "BroadcastNestedLoopJoin")


def test_tpch_q1_no_join_one_agg_exchange(spark):
    """tpch_q1 (A6 global sums; tpch_q3 retired round-6 for census room
    — its broadcast-join pin lives on in test_webtext's host_filter
    plan pins): one hash-agg shuffle, no join, filter pushed to scan."""
    import __spark_entry__ as em

    df = em.queries()["tpch_q1"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Join" not in plan
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "PushedFilters: [IsNotNull(l_shipdate)]" in plan


def test_corpus_scan_prunes_columns(spark, tmp_path):
    """doc_stats build reads only the columns it needs (no html column
    in ReadSchema when the corpus has extra columns)."""
    p = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [("u", b"<p>x</p>", "x", "en")],
        "url string, html binary, text string, lang string",
    ).write.parquet(p)
    corpus = prepare_corpus(spark.read.parquet(p), url_col="url")
    proj = corpus.select(
        "doc_id", F.size(spark_tokens(F.col("text"))).alias("doc_len")
    )
    plan = formatted_plan(proj)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" not in read_schema
    assert "text" in read_schema


def test_filter_pushdown_on_documents(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id")
    plan = formatted_plan(q)
    assert "PushedFilters" in plan
    assert "lang" in plan.split("PushedFilters", 1)[1].splitlines()[0]


def test_no_tokenizer_above_generate(spark, tmp_path, monkeypatch):
    """Regression guard: the tokenizer expression must never appear in an
    operator ABOVE the posexplode Generate (Catalyst's CollapseProject can
    inline e.g. size(tokens) there, re-evaluating the tokenizer once per
    GENERATED ROW — a silent ~100x slowdown we hit in development)."""
    import text_search_spark.index.build as B
    from text_search_spark.index import format as ixfmt

    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_TOKENS", -1)  # Spark route
    p = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(i, f"word{i} text here", str(i)) for i in range(20)],
        "doc_id long, text string, url string",
    ).write.parquet(p)
    corpus = B.prepare_corpus(spark.read.parquet(p), doc_id_col="doc_id")
    ix = str(tmp_path / "ix")
    B.build_index(spark, corpus, ix, n_buckets=2, n_shards=2, bucket_groups=1)
    # rebuild the exploded plan the way build_index does and inspect it
    from pyspark.sql import functions as F
    from text_search_spark.textnorm import spark_tokens

    toks = corpus.select(
        "doc_id", F.posexplode(spark_tokens(F.col("text"))).alias("pos", "term")
    )
    dl = spark.read.parquet(ixfmt.doc_stats_dir(ix)).select("doc_id", "doc_len")
    joined = toks.join(dl.hint("broadcast"), "doc_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    above_generate = plan.split("Generate", 1)[0]
    # the whitespace-class split pattern is the tokenizer's distinctive
    # op (round-8: spark_tokens is translate+split+array_remove; the
    # former marker regexp_replace no longer appears in it at all)
    from text_search_spark.textnorm import WS_CLASS

    assert WS_CLASS + "+" not in above_generate


def test_textstats_profile_no_shuffle(spark):
    """The fused per-doc profile is a pure per-row select — NO Exchange,
    no join, no Python in the plan (the whole point of fusing the five
    metric families into one scan)."""
    from text_search_spark.operators.textstats import profile

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    assert_not_in_plan(profile(docs), "Exchange", "Join", "Python")


def test_langid_ngram_broadcasts_weights(spark):
    """The ~300-row weight table joins BROADCAST against the exploded
    feature stream (never a sort-merge shuffle of the features), and no
    row-at-a-time Python appears anywhere."""
    from text_search_spark.operators.textstats import langid_ngram

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    out = langid_ngram(docs)
    assert_in_plan(out, "BroadcastHashJoin")
    assert_not_in_plan(
        out, "SortMergeJoin", "CartesianProduct", "BatchEvalPython"
    )


def test_langid_ngram_codepoint_split_evaluated_once(spark):
    """The codepoint split must appear EXACTLY once in the physical
    plan: if CollapseProject inlines the chars alias into the trigram
    lambda (or the lambda references the raw expression), the regexp
    re-runs once per trigram element — O(n^2) per document, measured
    as a multi-minute hang on 100k-char docs vs 1.4 s materialized."""
    from text_search_spark.operators.textstats import langid_ngram

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    plan = (
        langid_ngram(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("regexp_extract_all") == 1, plan
    assert "substr" not in plan.lower()


def test_lsh_dup_pairs_no_cartesian(spark):
    """Bucketed near-dup must never degrade to an all-pairs cross join."""
    from text_search_spark.operators import ann

    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, -0.5, 2.0] * 16) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    out = ann.lsh_dup_pairs(df, threshold=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    out.collect()  # and it runs


def test_lsh_pair_dedup_post_shuffle_agg(spark):
    """The candidate-pair distinct must run BOTH aggregate phases after
    an explicit hash exchange on the pair key (round-8b): a bare
    .distinct() put the partial agg map-side, where per-task hash state
    over the generated-pair relation sat at the fallback-to-sort edge
    (measured 8.4-23.8 s run-to-run for the same phase at 50k docs).
    Pins: (a) the exchange is REPARTITION_BY_NUM hash on (id_a, id_b)
    — user-specified, so AQE cannot re-coalesce it into few fat
    partitions; (b) no aggregate runs below that exchange (map side)."""
    from text_search_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs))
    plan = formatted_plan(pairs)
    exch = [
        ln
        for ln in plan.splitlines()
        if "hashpartitioning(id_a" in ln and "REPARTITION_BY_NUM" in ln
    ]
    assert exch, plan
    # tree order (root to leaf): HashAggregate(final) -> HashAggregate
    # (partial) -> Exchange(pair key) -> MapInArrow. The pair-dedup aggs
    # (plain HashAggregate; the bucket grouping is ObjectHashAggregate)
    # must all sit ABOVE the pair exchange, MapInArrow below it.
    lines = plan.split("\n\n")[0].splitlines()
    agg_idx = [
        i
        for i, ln in enumerate(lines)
        if "HashAggregate" in ln and "ObjectHashAggregate" not in ln
    ]
    # the pair exchange is the first Exchange below the dedup aggs
    pair_exch = min(
        i for i, ln in enumerate(lines)
        if "Exchange" in ln and i > max(agg_idx)
    )
    map_idx = min(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    assert all(i < pair_exch for i in agg_idx), plan
    assert map_idx > pair_exch, plan
    # and nothing between the aggs and their exchange (no map-side agg)
    assert pair_exch - max(agg_idx) == 1, plan


def test_simhash_single_exchange_on_doc_rows(spark):
    """simhash's only exchange must carry the projected (id, text) doc
    rows (hash on the doc id, BELOW the explode), never the per-term
    bit relation or the 61-column doc-keyed partial sums (round-8b:
    2 Exchanges -> 1, exchange payload ~300 B/doc text vs ~500 B/doc
    partials at the bench profile, one fewer stage, bit-identical
    output — see the decision rule in dedup.simhash)."""
    from text_search_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = formatted_plan(dedup.simhash(docs))
    lines = plan.split("\n\n")[0].splitlines()
    exch_idx = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert len(exch_idx) == 1, plan
    gen_idx = [i for i, ln in enumerate(lines) if "Generate" in ln]
    agg_idx = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    # tree is root->leaf: aggregates above the explode, the exchange
    # below the explode (i.e. before it, on doc rows)
    assert max(agg_idx) < min(gen_idx) < exch_idx[0], plan
    assert "hashpartitioning(doc_id" in plan, plan


def test_build_segment_plan_shape(spark):
    """The segment pipeline must have exactly ONE exchange (the
    (term_bucket, shard) repartition) and NO join — doc_len comes from
    the map-side grouper, not a doc_stats broadcast (which could not
    broadcast at 10^12 docs), and term_bucket is a repartition
    EXPRESSION, never a shuffled column."""
    from text_search_spark.index.build import (
        _segment_builder,
        bucket_expr,
        drop_terms,
        grouped_terms,
        shard_expr,
    )

    pdf = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma", str(i)) for i in range(30)],
        "doc_id long, text string, url string",
    )
    corpus = prepare_corpus(pdf, doc_id_col="doc_id")
    seg_schema = (
        "term_bucket int, term_id long, shard int, df_part long, "
        "cf_part long, postings binary, positions binary, "
        "blockmax binary, bm_avgdl double"
    )
    seg = (
        drop_terms(grouped_terms(corpus))
        .repartition(4, bucket_expr(4), shard_expr(2))
        .sortWithinPartitions("term_id", shard_expr(2), "doc_id")
        .mapInArrow(_segment_builder(3.0, 4, 2), schema=seg_schema)
    )
    plan = formatted_plan(seg)
    assert plan.count("+- Exchange") == 1, plan
    assert "Join" not in plan, plan
    # the shuffled row must carry NEITHER term_bucket NOR shard columns:
    # the Exchange node's Input list has the 3 data columns only
    # (doc_id, blob, term_id), and its hash keys are the pmod EXPRESSIONS
    # over term_id (bucket) and xxhash64(doc_id) (shard)
    exch = plan.split("Exchange", 2)[2]  # detail section "(5) Exchange"
    input_line = [
        ln for ln in exch.splitlines() if ln.startswith("Input")
    ][0]
    assert "term_bucket" not in input_line, input_line
    assert "shard" not in input_line, input_line
    assert "doc_len" not in input_line and "tf" not in input_line, input_line
    assert "pmod(term_id" in exch, exch
    assert "xxhash64(doc_id" in exch, exch


def test_fused_build_single_grouper_scan(spark, tmp_path, monkeypatch):
    """bucket_groups=1 under the size gate: ONE grouper scan feeds both
    the vocab and segment stages (persisted posting relation)."""
    import text_search_spark.index.build as B

    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_TOKENS", -1)  # Spark route
    calls = {"grouped_terms": 0, "explode_vocab": 0}
    orig_gt = B.grouped_terms

    def spy_gt(corpus):
        calls["grouped_terms"] += 1
        return orig_gt(corpus)

    monkeypatch.setattr(B, "grouped_terms", spy_gt)

    pdf = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma delta", str(i)) for i in range(40)],
        "doc_id long, text string, url string",
    )
    corpus = prepare_corpus(pdf, doc_id_col="doc_id")
    ix = str(tmp_path / "fused_ix")
    B.build_index(
        spark, corpus, ix, n_buckets=4, n_shards=2, bucket_groups=1
    )
    assert calls["grouped_terms"] == 1
    # the index is complete and queryable
    from text_search_spark.index import format as ixfmt

    man = ixfmt.load_manifest(ix)
    assert man.complete
    vocab = spark.read.schema(ixfmt.VOCAB_READ_SCHEMA).parquet(
        ixfmt.vocab_dir(ix)
    )
    terms = {r.term for r in vocab.collect()}
    assert {"ALPHA", "BETA", "GAMMA", "DELTA"} <= terms


def test_fused_build_gate_falls_back(spark, tmp_path, monkeypatch):
    """Above the size gate a single-unit build takes the materialized
    path a multi-unit build takes: the grouper output is written once to
    tokens_tmp (the 'tokens' stage), vocab reads it back (no corpus
    explode scan), and the segments are the fused build's rows."""
    import text_search_spark.index.build as B

    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_TOKENS", -1)  # Spark route
    pdf = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma alpha", str(i)) for i in range(10)],
        "doc_id long, text string, url string",
    )
    corpus = prepare_corpus(pdf, doc_id_col="doc_id")
    fused_ix = str(tmp_path / "fused_ix")
    B.build_index(
        spark, corpus, fused_ix, n_buckets=4, n_shards=2, bucket_groups=1
    )

    monkeypatch.setattr(B, "_FUSED_PERSIST_MAX_BYTES", 0)
    calls = {"grouped_terms": 0, "explode": 0}
    orig_gt, orig_explode = B.grouped_terms, F.explode

    def spy_gt(corpus):
        calls["grouped_terms"] += 1
        return orig_gt(corpus)

    def spy_explode(col):
        calls["explode"] += 1
        return orig_explode(col)

    monkeypatch.setattr(B, "grouped_terms", spy_gt)
    monkeypatch.setattr(F, "explode", spy_explode)
    ix = str(tmp_path / "gated_ix")
    B.build_index(
        spark, corpus, ix, n_buckets=4, n_shards=2, bucket_groups=1
    )
    assert calls == {"grouped_terms": 1, "explode": 0}
    man = ixfmt.load_manifest(ix)
    assert man.complete and man.stages.get("tokens")

    def seg_rows(d):
        return sorted(
            tuple(r)
            for r in spark.read.schema(ixfmt.SEG_READ_SCHEMA)
            .parquet(ixfmt.segments_dir(d))
            .select(
                "term_id", "shard", "df_part", "postings", "positions",
                "blockmax",
            )
            .collect()
        )

    got = seg_rows(ix)
    assert got and got == seg_rows(fused_ix)


def test_spark_stream_batch_single_grouper_scan(spark, tmp_path, monkeypatch):
    """A stream batch on the Spark route lands with the build's stages:
    ONE grouper scan feeds vocab and segments (no separate explode scan
    for the vocab). Above the fused gate it materializes a tag-scoped
    tokens_tmp, lands the same rows, and removes the tmp dir."""
    import os

    import text_search_spark.index.build as B
    from text_search_spark.streaming.incremental import _append_batch

    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_TOKENS", -1)  # Spark route
    pdf = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma alpha", str(i)) for i in range(12)],
        "doc_id long, text string, url string",
    )
    batch = prepare_corpus(pdf, doc_id_col="doc_id")
    calls = {"grouped_terms": 0, "explode": 0}
    orig_gt, orig_explode = B.grouped_terms, F.explode

    def spy_gt(corpus):
        calls["grouped_terms"] += 1
        return orig_gt(corpus)

    def spy_explode(col):
        calls["explode"] += 1
        return orig_explode(col)

    monkeypatch.setattr(B, "grouped_terms", spy_gt)
    monkeypatch.setattr(F, "explode", spy_explode)

    def land(ix):
        calls.update(grouped_terms=0, explode=0)
        _append_batch(spark, batch, ix, 0)
        assert calls == {"grouped_terms": 1, "explode": 0}
        man = ixfmt.load_manifest(ix)
        assert man.complete and man.stages.get("stream:0")
        assert not [f for f in os.listdir(ix) if B.TOKENS_TMP in f]
        read = lambda root, files, schema: sorted(
            tuple(r)
            for r in ixfmt.read_committed(spark, root, files, schema).collect()
        )
        return {
            "doc_stats": read(
                ixfmt.doc_stats_dir(ix), man.doc_stats_files,
                ixfmt.DOC_STATS_READ_SCHEMA,
            ),
            "segments": read(
                ixfmt.segments_dir(ix), man.segment_files,
                ixfmt.SEG_READ_SCHEMA,
            ),
            "term_stats": read(
                ixfmt.term_stats_deltas_dir(ix), man.term_stats_delta_files,
                ixfmt.TERM_STATS_READ_SCHEMA,
            ),
            "vocab": sorted(
                tuple(r)
                for r in spark.read.schema(ixfmt.VOCAB_READ_SCHEMA)
                .parquet(ixfmt.vocab_dir(ix))
                .collect()
            ),
            "stats": (man.n_docs, man.total_tokens, man.n_buckets,
                      man.n_shards),
        }

    fused = land(str(tmp_path / "fused_ix"))
    assert fused["segments"] and fused["stats"][:2] == (12, 60)
    monkeypatch.setattr(B, "_FUSED_PERSIST_MAX_BYTES", 0)
    assert land(str(tmp_path / "gated_ix")) == fused


def test_shingle_minhash_tokenizer_evaluated_once(spark):
    """The tokenizer must appear EXACTLY once in the shingle-minhash
    physical plan: shingles()'s transform lambda references the token
    array per element, so an inlined (non-materialized) tokenizer
    re-runs once per shingle — O(n_tokens^2) per document, measured as
    273 -> 8,584 docs/s (31x) at 400k pages when fixed (BENCH.md
    round-5). The whitespace-class split pattern is the tokenizer's
    distinctive op (round-8 spark_tokens: translate + split +
    array_remove — single textual reference to the chain), so the
    materialized baseline is exactly 1 occurrence; an inlined
    (re-evaluated) form measures 2+ (pushed-filter guard, size, or
    per-element slice each add one)."""
    from text_search_spark.operators import dedup
    from text_search_spark.operators.textstats import (
        doc_fingerprint,
        profile,
    )

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    for out in (
        dedup.minhash_signatures(docs, shingle_n=3),
        doc_fingerprint(docs),
        profile(docs),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        from text_search_spark.textnorm import WS_CLASS

        assert plan.count(WS_CLASS + "+") == 1, plan[:4000]
