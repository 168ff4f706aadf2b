"""Multi-term bm25_topk_rows batches on the driver: AND / OR / phrase /
near scored from the pyarrow sidecar without a Spark job must be rank-
and score-identical to the Spark groupBy(shard) route and to the NumPy
oracle, on a batch build, after an upsert (several rows per term in one
shard) and with tombstoned docs."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import text_search_spark.index.delete as delete_mod
import text_search_spark.index.query as qmod
from text_search_spark.corpus import NEEDLES, generate_pages, generate_queries
from text_search_spark.index import format as fmt
from text_search_spark.index.build import (
    build_index,
    hash_doc_id_py,
    prepare_corpus,
)
from text_search_spark.index.delete import delete_docs
from text_search_spark.index.query import (
    IndexReader,
    QuerySpec,
    bm25_topk_rows,
)
from text_search_spark.oracle import bm25_topk, build_oracle_index
from text_search_spark.streaming.incremental import upsert_batch
from text_search_spark.textnorm import tokenize

N_DOCS = 300
K = 10
STATES = ("build", "upsert", "tombstoned")


def _specs():
    qs = [
        QuerySpec(q.query_id, q.terms, q.mode)
        for q in generate_queries()
        if len(set(q.terms)) > 1 or q.mode == "phrase"
    ]
    qs += [
        QuerySpec("n0", NEEDLES[0].split(), "near", window=4),
        QuerySpec("n1", NEEDLES[3].split(), "near", window=4),
        QuerySpec("n2", ["the", "of"], "near", window=3),
        QuerySpec("n3", ["word00001", "word00002"], "near", window=12),
        # a single-term query rides along: a mixed batch takes the
        # shard route too
        QuerySpec("s0", ["the"], "or"),
    ]
    return qs


def _raw_doc_ids(ix):
    """doc_id -> url over every committed doc_stats row, tombstoned
    versions included (they still count in n_docs/avgdl)."""
    root = fmt.doc_stats_dir(ix)
    out = {}
    for rel in fmt.load_manifest(ix).doc_stats_files:
        t = pq.read_table(os.path.join(root, rel), columns=["doc_id", "url"])
        out.update(zip(t["doc_id"].to_pylist(), t["url"].to_pylist()))
    return out


@pytest.fixture(scope="module")
def states(spark, tmp_path_factory):
    """state -> (index dir, oracle over every stored version, tombstoned
    ids). The oracle keeps tombstoned versions because the index scores
    with pre-purge stats; their rows are filtered from its ranking."""
    base = tmp_path_factory.mktemp("drvmulti")
    pages = generate_pages(N_DOCS)
    texts = [(p.url, p.text) for p in pages]
    docs = [(hash_doc_id_py(u), t) for u, t in texts]
    queries = _specs()

    def build(name):
        ix = str(base / name)
        corpus = prepare_corpus(
            spark.createDataFrame(texts, "url string, text string"),
            url_col="url",
        )
        build_index(
            spark, corpus, ix, n_buckets=4, n_shards=3, bucket_groups=1
        )
        return ix

    out = {"build": (build("build"), build_oracle_index(docs), set())}

    # tombstone the top hit of every query, so deletes change answers
    full = build_oracle_index(docs)
    victims = sorted({
        r[0][0]
        for q in queries
        if (r := bm25_topk(full, q.terms, k=1, mode=q.mode, window=q.window))
    })
    ix = build("tombstoned")
    delete_docs(spark, ix, victims)
    out["tombstoned"] = (ix, full, set(victims))

    # re-crawl 40 pages with a needle appended: the appended batch adds
    # a second segment row to terms that already have one in its shard
    ix = build("upsert")
    refetch = [
        (u, f"{t} {NEEDLES[i % 4]}") for i, (u, t) in enumerate(texts[:40])
    ]
    before = set(_raw_doc_ids(ix))
    upsert_batch(
        spark, spark.createDataFrame(refetch, "url string, text string"), ix, 1
    )
    after = _raw_doc_ids(ix)
    new_text = dict(refetch)
    versions = docs + [
        (d, new_text[u]) for d, u in after.items() if d not in before
    ]
    tombs = set(IndexReader(spark, ix).tombstones().tolist())
    assert len(versions) == N_DOCS + 40 and len(tombs) == 40
    out["upsert"] = (ix, build_oracle_index(versions), tombs)
    return out


def _oracle_rows(ox, tombs, specs):
    rows = []
    for q in specs:
        ranked = bm25_topk(
            ox, q.terms, k=ox.n_docs, mode=q.mode, window=q.window
        )
        live = [(d, s) for d, s in ranked if d not in tombs][:K]
        rows += [(q.query_id, i, d, s) for i, (d, s) in enumerate(live, 1)]
    return sorted(rows)


def _run(spark, ix, specs, prune, group, reader=None):
    """bm25_topk_rows under a job group -> (rows, phase_sink, jobs)."""
    sc = spark.sparkContext
    reader = reader or IndexReader(spark, ix)
    sink = {}
    sc.setJobGroup(group, group)
    try:
        rows = bm25_topk_rows(
            spark, ix, specs, k=K, reader=reader, prune=prune, phase_sink=sink
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, sink, len(sc.statusTracker().getJobIdsForGroup(group))


def test_upsert_state_has_several_rows_per_term_in_a_shard(states):
    ix = states["upsert"][0]
    root = fmt.segments_dir(ix)
    files = [
        os.path.join(root, p) for p in fmt.load_manifest(ix).segment_files
    ]
    tbl = pq.ParquetDataset(files).read(columns=["shard", "term_id"])
    rows = tbl.to_pandas()
    assert rows.groupby(["shard", "term_id"]).size().max() > 1


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("state", STATES)
def test_driver_route_equals_spark_route_and_oracle(
    spark, states, state, prune, monkeypatch
):
    ix, ox, tombs = states[state]
    specs = _specs()
    drv, sink, jobs = _run(spark, ix, specs, prune, f"drv-{state}-{prune}")
    assert sink["path"] == "driver_sidecar"
    assert jobs == 0
    assert {"plan_s", "read_s", "score_s", "merge_s"} <= set(sink)

    monkeypatch.setattr(qmod, "DRIVER_SCORE_MAX_POSTINGS", -1)
    spk, sink, jobs = _run(spark, ix, specs, prune, f"spk-{state}-{prune}")
    assert sink["path"] == "shard_topk"
    assert jobs > 0  # the job-group count sees Spark work when it runs
    assert drv == spk

    want = _oracle_rows(ox, tombs, specs)
    assert [r[:3] for r in drv] == [r[:3] for r in want]
    for got, exp in zip(drv, want):
        assert abs(got[3] - exp[3]) <= 1e-6, (got, exp)
    modes = {q.mode for q in specs if any(r[0] == q.query_id for r in drv)}
    assert modes == {"and", "or", "phrase", "near"}
    assert not ({r[2] for r in drv} & tombs)


def test_distributed_tombstones_route_to_cogrouped_path(
    spark, states, monkeypatch
):
    ix, _ox, _tombs = states["tombstoned"]
    specs = _specs()
    want, _sink, _jobs = _run(spark, ix, specs, True, "drv-tomb")
    monkeypatch.setattr(delete_mod, "TOMBSTONE_DRIVER_MAX", 0)
    r = IndexReader(spark, ix)
    assert r.tombstones_distributed()
    got, sink, _jobs = _run(spark, ix, specs, True, "cog-tomb", reader=r)
    assert sink["path"] == "shard_topk"
    assert got == want
    plan = (
        qmod._shard_topk_candidates(r, qmod._plan_queries(r, specs), K, True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapCoGroupsInPandas" in plan


def _raises_without_a_job(spark, group, exc, fn):
    """fn() raises exc, and no Spark job ran under the job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(exc) as info:
            fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    return info


def test_driver_read_errors_propagate_without_a_spark_job(
    spark, states, monkeypatch
):
    """A failed driver read is a defect of the index or of its disk (the
    data plane is local-filesystem only): the error propagates as
    raised, from the postings read and from the df lookup alike, and
    no Spark route runs in its place."""
    ix = states["build"][0]
    specs = _specs()

    def query():
        return bm25_topk_rows(
            spark, ix, specs, k=K, reader=IndexReader(spark, ix)
        )

    def broken(reader, qp, k, prune, phase_sink=None):
        raise OSError("no local filesystem")

    with monkeypatch.context() as m:
        m.setattr(qmod, "_score_shards_local", broken)
        _raises_without_a_job(spark, "drv-oserror", OSError, query)

    def df_scan_raising(exc):
        def scan(self, id_list, blist):
            raise exc

        return scan

    for exc in (ValueError("codec"), OSError("no fs")):
        with monkeypatch.context() as m:
            m.setattr(IndexReader, "_df_sidecar_scan", df_scan_raising(exc))
            info = _raises_without_a_job(
                spark, f"df-{type(exc).__name__}", type(exc), query
            )
        assert info.value is exc


def test_truncated_segment_file_raises_pyarrow_error(spark, tmp_path):
    """A truncated committed segment file fails the query with pyarrow's
    own error on both entry points — not a JVM trace from a Spark scan
    run in the driver read's place — and starts no Spark job."""
    pages = generate_pages(60)
    ix = str(tmp_path / "trunc_ix")
    corpus = prepare_corpus(
        spark.createDataFrame(
            [(p.url, p.text) for p in pages], "url string, text string"
        ),
        url_col="url",
    )
    build_index(spark, corpus, ix, n_buckets=2, n_shards=2, bucket_groups=1)
    specs = [QuerySpec("q", ["the"], "or")]
    assert bm25_topk_rows(spark, ix, specs, k=K)

    reader = IndexReader(spark, ix)
    path = reader.segment_files_for_buckets(
        reader.buckets_for(tokenize("the")).values()
    )[0]
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)
    _raises_without_a_job(
        spark, "trunc-rows", pa.ArrowException,
        lambda: bm25_topk_rows(spark, ix, specs, k=K),
    )
    _raises_without_a_job(
        spark, "trunc-df", pa.ArrowException,
        lambda: qmod.bm25_topk_df(spark, ix, specs, k=K),
    )


@pytest.mark.parametrize("state", ("build", "upsert"))
def test_driver_route_builds_no_pandas_frame(
    spark, states, state, monkeypatch
):
    """The driver route scores shard groups straight from the reader's
    term cache: with the pandas adapter and pandas itself unavailable to
    the query module it returns the Spark route's rows, and a repeat of
    the batch on the same reader answers without a read or a job."""
    ix = states[state][0]
    specs = _specs()
    monkeypatch.setattr(qmod, "DRIVER_SCORE_MAX_POSTINGS", -1)
    want, sink, _jobs = _run(spark, ix, specs, True, f"nopd-spk-{state}")
    assert sink["path"] == "shard_topk"
    monkeypatch.undo()

    def no_pandas(*_args, **_kwargs):
        raise AssertionError("the driver route built a pandas frame")

    monkeypatch.setattr(qmod, "_score_shard_pdf", no_pandas)
    monkeypatch.setattr(qmod, "pd", None)
    r = IndexReader(spark, ix)
    for i in range(2):
        got, sink, jobs = _run(
            spark, ix, specs, True, f"nopd-drv-{state}-{i}", reader=r
        )
        assert sink["path"] == "driver_sidecar" and jobs == 0
        assert got == want
        assert ("read_s" in sink) == (i == 0)
