"""Incremental (Structured Streaming) index == batch-built index: identical
ranks AND scores on the full query set after streaming the same corpus in
three micro-batches."""

import os

import pytest
from pyspark.sql import functions as F

from text_search_spark.corpus import generate_pages, generate_queries
from text_search_spark.index import format as fmt
from text_search_spark.index.build import (
    build_index,
    hash_doc_id_py,
    prepare_corpus,
)
from text_search_spark.index.query import IndexReader, QuerySpec, bm25_topk_df
from text_search_spark.textnorm import tokenize
from text_search_spark.streaming.incremental import incremental_index

N_DOCS = 400


def test_streaming_matches_batch(spark, tmp_path):
    pages = generate_pages(N_DOCS)
    pdf = spark.createDataFrame(
        [(p.url, p.text) for p in pages], "url string, text string"
    )
    corpus = prepare_corpus(pdf, url_col="url")

    # batch reference index
    batch_dir = str(tmp_path / "batch_ix")
    build_index(spark, corpus, batch_dir, n_buckets=4, n_shards=2,
                bucket_groups=1)

    # stream the same corpus in 3 parquet files through a file source
    src = tmp_path / "stream_src"
    src.mkdir()
    rows = corpus.collect()
    third = len(rows) // 3
    for i, chunk in enumerate(
        [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    ):
        spark.createDataFrame(
            chunk, "doc_id long, url string, text string"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))

    stream_dir = str(tmp_path / "stream_ix")
    ckpt = str(tmp_path / "ckpt")
    stream_df = (
        spark.readStream.schema("doc_id long, url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = incremental_index(spark, stream_df, stream_dir, ckpt)
    q.awaitTermination(300)

    man = fmt.load_manifest(stream_dir)
    assert man is not None and man.complete
    bman = fmt.load_manifest(batch_dir)
    assert man.n_docs == bman.n_docs == N_DOCS
    assert man.total_tokens == bman.total_tokens
    assert man.avgdl == bman.avgdl

    queries = generate_queries()
    specs = [QuerySpec(qq.query_id, qq.terms, qq.mode) for qq in queries]

    def result(ix):
        out = bm25_topk_df(spark, ix, specs, k=10)
        return sorted(
            (r.query_id, r.rank, r.doc_id, r.score) for r in out.collect()
        )

    assert result(stream_dir) == result(batch_dir)

    # the term_stats view of the streamed segments equals the batch's
    ts_s, ts_b = (
        {
            (r.term, r.df, r.cf)
            for r in IndexReader(spark, ix).term_stats().collect()
        }
        for ix in (stream_dir, batch_dir)
    )
    assert ts_s and ts_s == ts_b


def test_batch_append_idempotent_under_retry(spark, tmp_path, monkeypatch):
    """foreachBatch is at-least-once: re-running a batch (a) after the
    manifest commit is a no-op, (b) after a torn append REPLACES that
    batch's files rather than double-counting (ADVICE r01). Pinned to
    the Spark route; test_driver_build.py runs it on the driver route."""
    import text_search_spark.index.build as B

    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_TOKENS", -1)
    check_batch_append_idempotent_under_retry(spark, tmp_path)


def check_batch_append_idempotent_under_retry(spark, tmp_path):
    from text_search_spark.streaming.incremental import _append_batch

    pages = generate_pages(60)
    pdf = spark.createDataFrame(
        [(p.url, p.text) for p in pages], "url string, text string"
    )
    corpus = prepare_corpus(pdf, url_col="url")
    ix = str(tmp_path / "ix")

    _append_batch(spark, corpus, ix, batch_id=0)
    man1 = fmt.load_manifest(ix)
    seg1 = (
        spark.read.parquet(fmt.segments_dir(ix))
        .orderBy("term_id", "shard")
        .collect()
    )
    n_ds1 = spark.read.parquet(fmt.doc_stats_dir(ix)).count()

    # (a) redelivery after commit: no-op
    _append_batch(spark, corpus, ix, batch_id=0)
    assert spark.read.parquet(fmt.doc_stats_dir(ix)).count() == n_ds1
    assert fmt.load_manifest(ix).n_docs == man1.n_docs

    # (b) torn batch: the manifest commit never landed — the commit is
    # ATOMIC (stage flag, stats delta and file lists flip in one CAS
    # mutate), so the faithful torn state is the PRE-commit manifest
    # with the batch's files already on disk. (Round-6b: stats are now
    # committed as deltas, so a simulation that removed only the stage
    # flag while keeping the committed stats would fabricate a state
    # the protocol cannot produce.)
    man = fmt.load_manifest(ix)
    del man.stages["stream:0"]
    man.n_docs = 0
    man.total_tokens = 0
    man.avgdl = 0.0
    man.segment_files = []
    man.doc_stats_files = []
    man.complete = False
    fmt.save_manifest(ix, man)
    _append_batch(spark, corpus, ix, batch_id=0)
    man2 = fmt.load_manifest(ix)
    assert man2.n_docs == man1.n_docs
    assert man2.total_tokens == man1.total_tokens
    assert spark.read.parquet(fmt.doc_stats_dir(ix)).count() == n_ds1
    seg2 = (
        spark.read.parquet(fmt.segments_dir(ix))
        .orderBy("term_id", "shard")
        .collect()
    )
    assert len(seg2) == len(seg1)
    assert [
        (r.term_id, r.shard, r.df_part, bytes(r.postings)) for r in seg2
    ] == [(r.term_id, r.shard, r.df_part, bytes(r.postings)) for r in seg1]
    # the retry replaced the batch's metrics row too, and the commit
    # lists exactly the batch's landed files
    stages = [
        r.stage for r in spark.read.parquet(fmt.metrics_dir(ix)).collect()
    ]
    assert stages.count("stream_batch:0") == 1
    for root, listed in (
        (fmt.segments_dir(ix), man2.segment_files),
        (fmt.doc_stats_dir(ix), man2.doc_stats_files),
    ):
        on_disk = sorted(
            os.path.relpath(os.path.join(d, f), root).replace(os.sep, "/")
            for d, _dirs, files in os.walk(root)
            for f in files
            if f.startswith("batch0-")
        )
        assert on_disk and listed == on_disk


def test_doc_id_collision_fails_build(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "u1", "a b c"), (1, "u2", "d e f")],
        "doc_id long, url string, text string",
    )
    with pytest.raises(ValueError, match="collision"):
        build_index(spark, df, str(tmp_path / "ix2"), n_buckets=2,
                    n_shards=1, bucket_groups=1)


def test_empty_first_batch_does_not_lock_layout(spark, tmp_path, monkeypatch):
    """An empty/blank leading micro-batch (recovery, no-data trigger)
    must NOT fix the index layout: the first batch WITH tokens sizes
    it, and from then on the layout never changes."""
    import text_search_spark.streaming.incremental as inc
    from text_search_spark.index import format as fmt

    ix = str(tmp_path / "inc_layout")
    empty = spark.createDataFrame([], "doc_id long, url string, text string")
    inc._append_batch(spark, empty, ix, 0)
    man = fmt.load_manifest(ix)
    assert not man.stages.get("layout_from_data")
    floor = (man.n_buckets, man.n_shards)

    # the first real batch re-derives the layout (simulate a corpus big
    # enough to outgrow the floor via a spy _auto_size)
    monkeypatch.setattr(inc, "_auto_size", lambda t, p: (16, 8))
    docs = spark.createDataFrame(
        [(i, f"u{i}", "alpha beta gamma delta") for i in range(20)],
        "doc_id long, url string, text string",
    )
    inc._append_batch(spark, docs, ix, 1)
    man = fmt.load_manifest(ix)
    assert (man.n_buckets, man.n_shards) == (16, 8) != floor
    assert man.stages.get("layout_from_data")

    # once data exists the layout is pinned even if _auto_size changes
    monkeypatch.setattr(inc, "_auto_size", lambda t, p: (99, 99))
    more = spark.createDataFrame(
        [(100 + i, f"v{i}", "epsilon zeta eta") for i in range(10)],
        "doc_id long, url string, text string",
    )
    inc._append_batch(spark, more, ix, 2)
    man = fmt.load_manifest(ix)
    assert (man.n_buckets, man.n_shards) == (16, 8)


def test_reader_ignores_uncommitted_segment_file(spark, tmp_path):
    """Snapshot isolation (round-4 verdict item 2): a segment part file
    that has LANDED in the directory but is not in the committed
    manifest's segment_files (an in-flight append) must be invisible to
    every read path — the Spark segments scan, the df sidecar scan, and
    the driver-side single-term scorer."""
    import shutil as sh

    from text_search_spark.index.query import bm25_topk_rows

    docs = spark.createDataFrame(
        [(i, f"u{i}", "alpha beta gamma delta epsilon") for i in range(40)],
        "doc_id long, url string, text string",
    )
    ix = str(tmp_path / "iso_ix")
    build_index(spark, docs, ix, n_buckets=2, n_shards=1, bucket_groups=1)
    man = fmt.load_manifest(ix)
    assert man.segment_files, "batch build must commit its file set"

    spec = [QuerySpec("q", ["alpha"], "or")]
    term = tokenize("alpha")[0]  # df_for takes NORMALIZED terms
    r0 = IndexReader(spark, ix)
    base_df = r0.df_for([term], r0.buckets_for([term]))[term]
    base_rows = bm25_topk_rows(spark, ix, spec, k=10, reader=r0)
    base_seg = r0.segments().count()
    assert base_df == 40 and base_rows

    # plant an in-flight file: duplicate an existing committed segment
    # part under a batch tag (what a landing micro-batch looks like)
    rel = man.segment_files[0]
    src = os.path.join(fmt.segments_dir(ix), rel)
    planted_rel = os.path.join(
        os.path.dirname(rel), "batch99-" + os.path.basename(rel)
    )
    planted = os.path.join(fmt.segments_dir(ix), planted_rel)
    sh.copyfile(src, planted)

    # a FRESH reader (new manifest load, cold caches) must not see it:
    # postings double-counted anywhere would change df, counts or scores
    r1 = IndexReader(spark, ix)
    assert r1.segments().count() == base_seg
    assert r1.df_for([term], r1.buckets_for([term]))[term] == base_df
    assert bm25_topk_rows(spark, ix, spec, k=10, reader=r1) == base_rows

    # and committing it (manifest flip) is exactly what makes it visible
    man.segment_files = sorted(man.segment_files + [planted_rel])
    fmt.save_manifest(ix, man)
    r2 = IndexReader(spark, ix)
    assert r2.segments().count() == base_seg + spark.read.parquet(src).count()
    assert r2.df_for([term], r2.buckets_for([term]))[term] >= base_df


def test_concurrent_reader_snapshot_isolation(spark, tmp_path):
    """Stress (round-4 verdict item 6): queries racing an in-flight
    _append_batch must observe either the pre-commit or the post-commit
    snapshot — never a torn mix (some of the new batch's files, or new
    postings scored with old statistics)."""
    import threading

    from text_search_spark.index.query import bm25_topk_rows
    from text_search_spark.streaming.incremental import _append_batch

    ix = str(tmp_path / "race_ix")
    b0 = spark.createDataFrame(
        [(i, f"u{i}", "alpha beta gamma " + ("pad%d " % (i % 7)) * 3)
         for i in range(200)],
        "doc_id long, url string, text string",
    )
    _append_batch(spark, b0, ix, batch_id=0)

    spec = [QuerySpec("q", ["alpha"], "or")]
    pre = bm25_topk_rows(spark, ix, spec, k=10)
    assert pre

    b1 = spark.createDataFrame(
        [(1000 + i, f"v{i}", "alpha zeta eta " + ("fill%d " % (i % 5)) * 4)
         for i in range(200)],
        "doc_id long, url string, text string",
    )
    err: list = []

    def appender():
        try:
            _append_batch(spark, b1, ix, batch_id=1)
        except Exception as e:  # surfaced to the main thread
            err.append(e)

    t = threading.Thread(target=appender)
    observed = []
    t.start()
    while t.is_alive():
        observed.append(tuple(bm25_topk_rows(spark, ix, spec, k=10)))
    t.join()
    assert not err, err
    post = tuple(bm25_topk_rows(spark, ix, spec, k=10))
    assert post != tuple(pre)  # the append really changed the answer
    allowed = {tuple(pre), post}
    torn = [o for o in observed if o not in allowed]
    assert not torn, f"{len(torn)} torn reads of {len(observed)}"
    # the race must actually have been exercised while the append ran
    assert observed, "no concurrent reads happened"


def test_auto_compact_bounds_file_count_and_stays_identical(
    spark, tmp_path
):
    """incremental_index(auto_compact_files=K): inline maintenance
    keeps every bucket's committed file count <= K as the stream runs,
    and the maintained index is rank- and score-identical to an
    unmaintained stream of the same corpus."""
    from collections import Counter

    pages = generate_pages(240)
    pdf = spark.createDataFrame(
        [(p.url, p.text) for p in pages], "url string, text string"
    )
    corpus = prepare_corpus(pdf, url_col="url")
    rows = corpus.collect()
    src = tmp_path / "ac_src"
    src.mkdir()
    n_batches = 6
    step = len(rows) // n_batches
    for i in range(n_batches):
        spark.createDataFrame(
            rows[i * step : (i + 1) * step if i < n_batches - 1 else None],
            "doc_id long, url string, text string",
        ).coalesce(1).write.parquet(str(src / f"b{i}"))

    def run(ix_name, **kw):
        ix = str(tmp_path / ix_name)
        q = incremental_index(
            spark,
            spark.readStream.schema("doc_id long, url string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*"),
            ix,
            str(tmp_path / (ix_name + "_ckpt")),
            **kw,
        )
        q.awaitTermination(300)
        return ix

    plain = run("plain_ix")
    maintained = run("maint_ix", auto_compact_files=2)

    man = fmt.load_manifest(maintained)
    per_bucket = Counter(p.split("/", 1)[0] for p in man.segment_files)
    assert max(per_bucket.values()) <= 2, per_bucket
    assert any(k.startswith("compact:") for k in man.stages)
    # the unmaintained stream really accumulated more files per bucket
    plain_pb = Counter(
        p.split("/", 1)[0]
        for p in fmt.load_manifest(plain).segment_files
    )
    assert max(plain_pb.values()) > 2

    specs = [
        QuerySpec(qq.query_id, qq.terms, qq.mode)
        for qq in generate_queries()
    ]

    def result(ix):
        out = bm25_topk_df(spark, ix, specs, k=10)
        return sorted(
            (r.query_id, r.rank, r.doc_id, r.score) for r in out.collect()
        )

    assert result(maintained) == result(plain)
