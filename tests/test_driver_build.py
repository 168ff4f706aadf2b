"""The driver build route (build.land_on_driver) against the Spark route:
with the token gate forced each way, a fresh build and a stream batch
land the same doc_stats, vocab, segment and term_stats rows, keep the
Spark route's collision errors, checkpoints, metrics rows and retry
semantics, and run only the corpus collect as a Spark job."""

import os

import pyarrow.parquet as pq
import pytest

import text_search_spark.index.build as B
from text_search_spark.codec import BLOCK
from text_search_spark.corpus import generate_pages
from text_search_spark.index import format as fmt
from text_search_spark.index.query import QuerySpec, bm25_topk_rows
from text_search_spark.streaming.incremental import _append_batch

# gate values that force each route: every size estimate, an unknown
# one included, is <= inf; none is <= -1
GATE = {"driver": float("inf"), "spark": -1}
SEG_COLS = [
    "term_id", "shard", "df_part", "cf_part", "postings", "positions",
    "blockmax", "bm_avgdl",
]


def _force(monkeypatch, route):
    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_TOKENS", GATE[route])


def _corpus(spark, n_docs=300, extra=()):
    rows = [(p.url, p.text) for p in generate_pages(n_docs)]
    rows += [
        ("https://example.com/null", None),
        ("https://example.com/blank", " ... "),
    ]
    rows += list(extra)
    df = spark.createDataFrame(rows, "url string, text string")
    return B.prepare_corpus(df, url_col="url")


def _read(spark, root, files, schema, cols=None):
    df = fmt.read_committed(spark, root, files, schema)
    if cols:
        df = df.select(*cols)
    return sorted(tuple(r) for r in df.collect())


def _build_rows(spark, ix):
    """Every table of a built index, as sorted row lists."""
    man = fmt.load_manifest(ix)
    rd = lambda d, schema: sorted(
        tuple(r) for r in spark.read.schema(schema).parquet(d).collect()
    )
    return {
        "doc_stats": _read(
            spark, fmt.doc_stats_dir(ix), man.doc_stats_files,
            fmt.DOC_STATS_READ_SCHEMA,
        ),
        "segments": _read(
            spark, fmt.segments_dir(ix), man.segment_files,
            fmt.SEG_READ_SCHEMA, SEG_COLS,
        ),
        "vocab": rd(fmt.vocab_dir(ix), fmt.VOCAB_READ_SCHEMA),
        "term_stats": rd(fmt.term_stats_dir(ix), fmt.TERM_STATS_READ_SCHEMA),
        "metrics": sorted(
            (r.stage, r.unit, r.docs, r.postings, r.bytes)
            for r in spark.read.parquet(fmt.metrics_dir(ix)).collect()
        ),
        "stats": (man.n_docs, man.total_tokens, man.avgdl, man.n_buckets,
                  man.n_shards, man.complete),
    }


def _build(spark, corpus, ix, bucket_groups=4, **kw):
    return B.build_index(
        spark, corpus, ix, n_buckets=4, n_shards=2,
        bucket_groups=bucket_groups, **kw,
    )


@pytest.fixture(scope="module")
def spark_built(spark, tmp_path_factory):
    """Spark-route reference builds, one per bucket_groups value."""
    mp = pytest.MonkeyPatch()
    _force(mp, "spark")
    try:
        out = {}
        for bg in (1, 4):
            ix = str(tmp_path_factory.mktemp("spark_ref") / f"ix{bg}")
            assert _build(spark, _corpus(spark), ix, bg) == "spark"
            out[bg] = _build_rows(spark, ix)
        return out
    finally:
        mp.undo()


@pytest.mark.parametrize("bucket_groups", [1, 4])
def test_driver_build_equals_spark_build(
    spark, tmp_path, monkeypatch, spark_built, bucket_groups
):
    """NULL and blank text, a term with more than BLOCK postings in one
    shard, both bucket-group layouts: every table's rows, the metrics
    rows and the manifest stats equal the Spark route's; each bucket is
    one file."""
    _force(monkeypatch, "driver")
    ix = str(tmp_path / "ix")
    assert _build(spark, _corpus(spark), ix, bucket_groups) == "driver"
    got = _build_rows(spark, ix)
    want = spark_built[bucket_groups]
    assert max(r[2] for r in got["segments"]) > BLOCK
    assert 0 in {r[2] for r in got["doc_stats"]}  # NULL / blank text
    for table in want:
        assert got[table] == want[table], table
    man = fmt.load_manifest(ix)
    buckets = [f.split("/")[0] for f in man.segment_files]
    assert len(buckets) == len(set(buckets)) == man.n_buckets


def test_driver_segment_row_groups_bounded(
    spark, tmp_path, monkeypatch, spark_built
):
    """Segment files keep row groups under fmt.SEGMENT_ROW_GROUP_BYTES,
    read at write time, like the Spark writer's parquet.block.size."""
    _force(monkeypatch, "driver")
    monkeypatch.setattr(fmt, "SEGMENT_ROW_GROUP_BYTES", 4096)
    ix = str(tmp_path / "ix")
    _build(spark, _corpus(spark), ix)
    man = fmt.load_manifest(ix)
    for rel in man.segment_files:
        f = pq.ParquetFile(os.path.join(fmt.segments_dir(ix), rel))
        assert f.metadata.num_row_groups > 1, rel
    assert _build_rows(spark, ix)["segments"] == spark_built[4]["segments"]


@pytest.mark.parametrize("route", ["driver", "spark"])
def test_duplicate_urls_raise_doc_id_collision(
    spark, tmp_path, monkeypatch, route
):
    """A repeated url is a repeated doc_id: a build and a stream batch
    raise on both routes. The batch commits nothing, and the corrected
    batch then lands under the same batch id."""
    _force(monkeypatch, route)
    dup = [("https://example.com/dup", "alpha beta")] * 2
    with pytest.raises(ValueError, match="doc_id collision"):
        _build(spark, _corpus(spark, 20, dup), str(tmp_path / "ix"))

    ix = str(tmp_path / "stream")
    _append_batch(spark, _corpus(spark, 20), ix, 0)
    before = fmt.load_manifest(ix)
    batch = lambda rows: B.prepare_corpus(
        spark.createDataFrame(rows, "url string, text string"),
        url_col="url",
    )
    other = ("https://example.com/other", "gamma delta")
    with pytest.raises(ValueError, match="doc_id collision"):
        _append_batch(spark, batch(dup + [other]), ix, 1)
    after = fmt.load_manifest(ix)
    assert "stream:1" not in after.stages
    assert (after.n_docs, after.total_tokens) == (
        before.n_docs, before.total_tokens
    )
    assert after.doc_stats_files == before.doc_stats_files
    assert after.segment_files == before.segment_files

    _append_batch(spark, batch(dup[:1] + [other]), ix, 1)
    man = fmt.load_manifest(ix)
    assert man.stages.get("stream:1")
    assert man.n_docs == before.n_docs + 2
    assert man.total_tokens == before.total_tokens + 4
    doc_ids = [r[0] for r in _stream_rows(spark, ix)["doc_stats"]]
    assert len(doc_ids) == len(set(doc_ids)) == man.n_docs


@pytest.mark.parametrize(
    "stage",
    ["doc_stats", "vocab", "segments:0", "segments:1", "segments:2",
     "segments:3", "term_stats"],
)
def test_driver_fail_after_then_resume(
    spark, tmp_path, monkeypatch, spark_built, stage
):
    """A driver-route build killed after any checkpoint resumes on the
    Spark route to the same rows."""
    _force(monkeypatch, "driver")
    ix = str(tmp_path / "ix")
    corpus = _corpus(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        _build(spark, corpus, ix, fail_after=stage)
    man = fmt.load_manifest(ix)
    assert man.stages.get(stage) and not man.complete
    assert _build(spark, corpus, ix, run_id="resume") == "spark"
    got = _build_rows(spark, ix)
    for table in ("doc_stats", "segments", "vocab", "term_stats", "stats"):
        assert got[table] == spark_built[4][table], table


def _stream_rows(spark, ix):
    man = fmt.load_manifest(ix)
    return {
        "doc_stats": _read(
            spark, fmt.doc_stats_dir(ix), man.doc_stats_files,
            fmt.DOC_STATS_READ_SCHEMA,
        ),
        "segments": _read(
            spark, fmt.segments_dir(ix), man.segment_files,
            fmt.SEG_READ_SCHEMA, SEG_COLS,
        ),
        "vocab": sorted(
            tuple(r)
            for r in spark.read.schema(fmt.VOCAB_READ_SCHEMA)
            .parquet(fmt.vocab_dir(ix))
            .collect()
        ),
        "term_stats": _read(
            spark, fmt.term_stats_deltas_dir(ix),
            man.term_stats_delta_files, fmt.TERM_STATS_READ_SCHEMA,
        ),
        "stats": (man.n_docs, man.total_tokens, man.avgdl, man.n_buckets,
                  man.n_shards, sorted(man.stages)),
    }


def test_driver_stream_batches_equal_spark_batches(spark, tmp_path, monkeypatch):
    """Two stream batches (the second onto the layout the first fixed)
    land the same rows on both routes, and answer a query alike."""
    pages = generate_pages(120)
    batches = [
        spark.createDataFrame(
            [(p.url, p.text) for p in pages[lo:hi]] + extra,
            "url string, text string",
        )
        for lo, hi, extra in (
            (0, 80, [("https://example.com/null", None)]),
            (80, 120, [("https://example.com/blank", "  ")]),
        )
    ]
    got = {}
    for route in ("driver", "spark"):
        _force(monkeypatch, route)
        ix = str(tmp_path / route)
        for bid, b in enumerate(batches):
            _append_batch(spark, B.prepare_corpus(b, url_col="url"), ix, bid)
        got[route] = _stream_rows(spark, ix)
        got[route]["query"] = bm25_topk_rows(
            spark, ix, [QuerySpec("q", ["THE", "OF"], "or")], k=10
        )
    for table in got["spark"]:
        assert got["driver"][table] == got["spark"][table], table


def test_driver_batch_append_idempotent_under_retry(spark, tmp_path, monkeypatch):
    """The Spark route's retry test (test_streaming.py) on the driver
    route."""
    from test_streaming import check_batch_append_idempotent_under_retry

    _force(monkeypatch, "driver")
    check_batch_append_idempotent_under_retry(spark, tmp_path)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_route_runs_only_the_collect(spark, tmp_path, monkeypatch):
    """Job counts: the driver route runs one Spark job (the collect) for
    a build and for a stream batch; the Spark route, counted the same
    way, runs many."""
    corpus = _corpus(spark, 60)
    counts = {}
    for route in ("driver", "spark"):
        _force(monkeypatch, route)
        ix = str(tmp_path / route)
        got, counts[("build", route)] = _jobs(
            spark, f"build-{route}", lambda: _build(spark, corpus, ix)
        )
        assert got == route
        _, counts[("batch", route)] = _jobs(
            spark, f"batch-{route}",
            lambda: _append_batch(spark, _corpus(spark, 5), ix + "_s", 0),
        )
    assert counts[("build", "driver")] == counts[("batch", "driver")] == 1
    assert counts[("build", "spark")] > 4 and counts[("batch", "spark")] > 4

    # default gate: a batch made from a Python list has no size estimate
    # until its cache is materialized, one job before the collect
    monkeypatch.undo()
    _, jobs = _jobs(
        spark, "batch-default",
        lambda: _append_batch(spark, _corpus(spark, 5), str(tmp_path / "d"), 0),
    )
    assert jobs == 2
