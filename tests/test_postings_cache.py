"""Driver-side decoded-postings LRU cache (round-5): repeat queries skip
the sidecar read (the measured ~85% of single-query latency) and stay
rank- and score-identical; the cache is bounded and invalidated on
refresh()."""

from text_search_spark.index import format as fmt
from text_search_spark.index.build import build_index
from text_search_spark.index.query import IndexReader, QuerySpec, bm25_topk_rows


def _mk_index(spark, tmp_path, n=60):
    docs = spark.createDataFrame(
        [
            (i, f"u{i}", f"alpha beta gamma delta tok{i % 7} " * (1 + i % 3))
            for i in range(n)
        ],
        "doc_id long, url string, text string",
    )
    ix = str(tmp_path / "cache_ix")
    build_index(spark, docs, ix, n_buckets=4, n_shards=2, bucket_groups=1)
    return ix


def test_repeat_query_hits_cache_and_is_identical(spark, tmp_path):
    ix = _mk_index(spark, tmp_path)
    r = IndexReader(spark, ix)
    spec = [QuerySpec("q", ["alpha"], "or"), QuerySpec("q2", ["beta"], "or")]
    ph1: dict = {}
    first = bm25_topk_rows(spark, ix, spec, k=10, reader=r, phase_sink=ph1)
    assert first and ph1.get("read_s", 0) > 0
    assert len(r._postings_cache) >= 2  # both terms cached
    ph2: dict = {}
    second = bm25_topk_rows(spark, ix, spec, k=10, reader=r, phase_sink=ph2)
    assert second == first  # rank/score identity from cache
    assert "read_s" not in ph2  # no sidecar read on the hit path

    # cold reader with the cache disabled agrees too
    r0 = IndexReader(spark, ix)
    r0.postings_cache_max_postings = 0
    assert bm25_topk_rows(spark, ix, spec, k=10, reader=r0) == first
    assert not r0._postings_cache


def test_cache_bounded_and_lru_evicts(spark, tmp_path):
    ix = _mk_index(spark, tmp_path)
    r = IndexReader(spark, ix)
    r.postings_cache_max_postings = 70  # tiny: forces eviction
    terms = ["alpha", "beta", "gamma", "delta"]
    for t in terms:
        bm25_topk_rows(spark, ix, [QuerySpec("q", [t], "or")], k=5, reader=r)
        assert r._postings_cache_size <= 70
    # the budget held throughout, and the most recently queried term is
    # still resident (LRU keeps the newest; ids_for takes NORMALIZED
    # terms)
    from text_search_spark.textnorm import tokenize

    norm = tokenize("delta")[0]
    tid = r.ids_for([norm])[norm]
    assert tid in r._postings_cache or not r._postings_cache


def test_refresh_invalidates_cache(spark, tmp_path):
    from text_search_spark.streaming.incremental import _append_batch

    ix = str(tmp_path / "inc_ix")
    b0 = spark.createDataFrame(
        [(i, f"u{i}", "alpha beta gamma") for i in range(30)],
        "doc_id long, url string, text string",
    )
    _append_batch(spark, b0, ix, batch_id=0)
    r = IndexReader(spark, ix)
    spec = [QuerySpec("q", ["alpha"], "or")]
    pre = bm25_topk_rows(spark, ix, spec, k=10, reader=r)
    assert r._postings_cache  # populated

    b1 = spark.createDataFrame(
        [(100 + i, f"v{i}", "alpha zeta") for i in range(30)],
        "doc_id long, url string, text string",
    )
    _append_batch(spark, b1, ix, batch_id=1)
    # stale reader still answers from its snapshot's cache (consistent)
    assert bm25_topk_rows(spark, ix, spec, k=10, reader=r) == pre
    r.refresh()
    assert not r._postings_cache and r._postings_cache_size == 0
    post = bm25_topk_rows(spark, ix, spec, k=10, reader=r)
    assert post != pre  # the appended docs are visible after refresh
    # and a fresh reader agrees with the refreshed one
    assert bm25_topk_rows(spark, ix, spec, k=10) == post


def test_cache_respects_snapshot_isolation(spark, tmp_path):
    """A planted uncommitted file must not enter the cache either."""
    import os
    import shutil as sh

    ix = _mk_index(spark, tmp_path)
    man = fmt.load_manifest(ix)
    rel = man.segment_files[0]
    src = os.path.join(fmt.segments_dir(ix), rel)
    planted = os.path.join(
        fmt.segments_dir(ix),
        os.path.dirname(rel),
        "batch77-" + os.path.basename(rel),
    )
    sh.copyfile(src, planted)
    r = IndexReader(spark, ix)
    spec = [QuerySpec("q", ["alpha"], "or")]
    with_planted = bm25_topk_rows(spark, ix, spec, k=10, reader=r)
    os.remove(planted)
    r2 = IndexReader(spark, ix)
    assert bm25_topk_rows(spark, ix, spec, k=10, reader=r2) == with_planted


def _cold_rows(spark, ix, spec, k=10):
    """The rows of a fresh reader with the term cache disabled."""
    r0 = IndexReader(spark, ix)
    r0.postings_cache_max_postings = 0
    rows = bm25_topk_rows(spark, ix, spec, k=k, reader=r0)
    assert not r0._postings_cache
    return rows


def _rows_and_sink(spark, ix, spec, r):
    sink: dict = {}
    rows = bm25_topk_rows(spark, ix, spec, k=10, reader=r, phase_sink=sink)
    return rows, sink


def test_single_term_batch_warms_multi_term_queries(spark, tmp_path):
    """Single- and multi-term batches share one term cache: terms a
    single-term batch read answer AND / OR queries without a read."""
    ix = _mk_index(spark, tmp_path)
    r = IndexReader(spark, ix)
    single = [QuerySpec("a", ["alpha"], "or"), QuerySpec("b", ["beta"], "or")]
    _rows, sink = _rows_and_sink(spark, ix, single, r)
    assert sink.get("read_s", 0) > 0
    for mode in ("and", "or"):
        spec = [QuerySpec("q", ["alpha", "beta"], mode)]
        rows, sink = _rows_and_sink(spark, ix, spec, r)
        assert sink["path"] == "driver_sidecar"
        assert "read_s" not in sink
        assert rows and rows == _cold_rows(spark, ix, spec)


def test_phrase_rereads_terms_cached_without_positions(spark, tmp_path):
    """A term cached without positions is read again, once, for a
    phrase query; the second phrase query answers from the cache."""
    ix = _mk_index(spark, tmp_path)
    r = IndexReader(spark, ix)
    _rows_and_sink(spark, ix, [QuerySpec("o", ["alpha", "beta"], "or")], r)
    phrase = [QuerySpec("p", ["alpha", "beta"], "phrase")]
    rows, sink = _rows_and_sink(spark, ix, phrase, r)
    assert sink.get("read_s", 0) > 0
    assert rows and rows == _cold_rows(spark, ix, phrase)
    again, sink = _rows_and_sink(spark, ix, phrase, r)
    assert "read_s" not in sink
    assert again == rows


def test_refresh_after_delete_drops_doc_from_cached_terms(spark, tmp_path):
    """A doc deleted after its terms were cached never comes back from
    the refreshed reader, single-term or AND."""
    from text_search_spark.index.delete import delete_docs

    ix = _mk_index(spark, tmp_path)
    r = IndexReader(spark, ix)
    specs = [
        [QuerySpec("s", ["alpha"], "or")],
        [QuerySpec("a", ["alpha", "beta"], "and")],
    ]
    before = [bm25_topk_rows(spark, ix, s, k=10, reader=r) for s in specs]
    victim = before[0][0][2]
    assert all(victim in {row[2] for row in rows} for rows in before)
    delete_docs(spark, ix, [victim])
    r.refresh()
    for spec in specs:
        rows = bm25_topk_rows(spark, ix, spec, k=10, reader=r)
        assert rows and victim not in {row[2] for row in rows}
        assert rows == bm25_topk_rows(spark, ix, spec, k=10)


def test_cache_budget_holds_under_mixed_traffic(spark, tmp_path):
    """Single- and multi-term batches (with and without positions) keep
    the cache within its budget and its size equal to its entries'."""
    ix = _mk_index(spark, tmp_path)
    r = IndexReader(spark, ix)
    r.postings_cache_max_postings = 70  # one 60-posting term fits
    traffic = [
        [QuerySpec("q", ["alpha"], "or")],
        [QuerySpec("q", ["alpha", "beta"], "and")],
        [QuerySpec("q", ["gamma"], "or")],
        [QuerySpec("q", ["beta", "gamma"], "phrase")],
        [QuerySpec("q", ["delta", "alpha"], "or")],
        [QuerySpec("q", ["delta"], "or")],
    ]
    for spec in traffic:
        rows = bm25_topk_rows(spark, ix, spec, k=5, reader=r)
        assert r._postings_cache_size <= 70
        assert r._postings_cache_size == sum(
            e[1] for e in r._postings_cache.values()
        )
        assert rows and rows == _cold_rows(spark, ix, spec, k=5)
