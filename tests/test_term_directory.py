"""The reader's per-snapshot term directory (query._FileTerms): df summed
from memory must equal the Spark scan, term_postings must return exactly
the rows a filtered pyarrow.dataset read returns, a postings read must
skip the files and row groups that do not hold the term, and refresh()
must drop the entry of every file the new snapshot no longer commits
and keep the others."""

import os
import shutil
import types

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import text_search_spark.index.query as qmod
from text_search_spark.corpus import NEEDLES, generate_pages
from text_search_spark.index import format as fmt
from text_search_spark.index.build import (
    build_index,
    hash_doc_id_py,
    prepare_corpus,
)
from text_search_spark.index.delete import delete_docs
from text_search_spark.index.merge import compact_in_place
from text_search_spark.index.query import IndexReader, QuerySpec, bm25_topk_rows
from text_search_spark.oracle import bm25_topk, build_oracle_index
from text_search_spark.streaming.incremental import upsert_batch
from text_search_spark.textnorm import tokenize

N_DOCS = 150
STATES = ("build", "upsert", "tombstoned", "small_rg")
ROWS = ("shard", "term_id", "postings", "blockmax", "bm_avgdl", "positions")


@pytest.fixture(scope="module")
def states(spark, tmp_path_factory):
    """state -> index dir."""
    base = tmp_path_factory.mktemp("termdir")
    texts = [(p.url, p.text) for p in generate_pages(N_DOCS)]

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

    out = {"build": build("build")}
    ix = build("upsert")
    refetch = [
        (u, f"{t} {NEEDLES[i % 4]}") for i, (u, t) in enumerate(texts[:30])
    ]
    upsert_batch(
        spark, spark.createDataFrame(refetch, "url string, text string"), ix, 1
    )
    out["upsert"] = ix
    ix = build("tombstoned")
    delete_docs(spark, ix, [hash_doc_id_py(u) for u, _ in texts[::5]])
    out["tombstoned"] = ix
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(fmt, "SEGMENT_ROW_GROUP_BYTES", 4096)
        out["small_rg"] = build("small_rg")
    return out


def _files(ix):
    root = fmt.segments_dir(ix)
    return [os.path.join(root, p) for p in fmt.load_manifest(ix).segment_files]


def _terms():
    """Normalized corpus terms (frequent and rare) plus one absent term."""
    seen = {}
    for p in generate_pages(N_DOCS)[::7]:
        for t in tokenize(p.text):
            seen[t] = None
    for n in NEEDLES[:4]:
        for t in tokenize(n):
            seen[t] = None
    return sorted(seen)[::3] + ["zzzz-not-a-term"]


def _ref_rows(ix, tids, need_pos):
    """Reference: a filtered pyarrow.dataset read over every committed
    segment file of the snapshot."""
    cols = [c for c in ROWS if need_pos or c != "positions"]
    tbl = pads.dataset(_files(ix), format="parquet").to_table(
        columns=cols, filter=pads.field("term_id").isin(tids)
    )
    return sorted(zip(*(tbl[c].to_pylist() for c in cols)))


def _got_rows(tps, need_pos):
    return sorted(
        (shard, tid, p, bm, bmav, *([q] if need_pos else []))
        for tid, shards in tps.items()
        for shard, tp in shards.items()
        for p, q, bm, bmav in tp.rows
    )


class _Opens:
    """Counts pq.ParquetFile opens (and row groups read) made by the
    query module."""

    def __init__(self, monkeypatch):
        self.paths, self.row_groups = [], []
        real = pq.ParquetFile
        outer = self

        class Counting(real):
            def __init__(self, path, *a, **kw):
                outer.paths.append(str(path))
                super().__init__(path, *a, **kw)

            def read_row_groups(self, rgs, *a, **kw):
                outer.row_groups.append(list(rgs))
                return super().read_row_groups(rgs, *a, **kw)

        monkeypatch.setattr(
            qmod, "pq", types.SimpleNamespace(ParquetFile=Counting)
        )


@pytest.mark.parametrize("state", STATES)
def test_df_and_postings_match_reference_reads(spark, states, state):
    ix = states[state]
    if state == "small_rg":
        assert max(pq.ParquetFile(f).num_row_groups for f in _files(ix)) > 1
    r = IndexReader(spark, ix)
    terms = _terms()
    ids = r.ids_for(terms)
    buckets = r.buckets_for(terms)
    df = r.df_for(terms, buckets)
    spark_df = {
        row.term_id: row.df
        for row in r.segments()
        .where(
            F.col("term_bucket").isin(sorted(set(buckets.values())))
            & F.col("term_id").isin(list(ids.values()))
        )
        .groupBy("term_id")
        .agg(F.sum("df_part").alias("df"))
        .collect()
    }
    assert df == {t: spark_df.get(ids[t], 0) for t in terms}
    assert df["zzzz-not-a-term"] == 0 and sum(df.values()) > 0

    tids = sorted(ids[t] for t in terms)
    for need_pos in (False, True):
        r2 = IndexReader(spark, ix)
        got = r2.term_postings(tids, need_pos)
        assert _got_rows(got, need_pos) == _ref_rows(ix, tids, need_pos)
        assert got[ids["zzzz-not-a-term"]] == {}


def test_small_row_groups_read_only_the_groups_holding_the_term(
    spark, states, monkeypatch
):
    ix = states["small_rg"]
    r = IndexReader(spark, ix)
    t = next(t for t in _terms() if r.df_for([t], r.buckets_for([t]))[t])
    tid = r.ids_for([t])[t]
    opens = _Opens(monkeypatch)
    sink = {}
    got = r.term_postings([tid], False, sink)
    assert _got_rows(got, False) == _ref_rows(ix, [tid], False)
    assert sink["files_read"] == len(opens.paths) >= 1
    for path, rgs in zip(opens.paths, opens.row_groups):
        assert len(rgs) < pq.ParquetFile(path).num_row_groups


def test_postings_read_skips_files_without_the_term(spark, states, monkeypatch):
    """After an upsert a bucket holds base and batch1- files: a term the
    batch did not touch reads none of the batch1- files."""
    ix = states["upsert"]
    files = _files(ix)
    batch = [f for f in files if os.path.basename(f).startswith("batch1-")]
    batch_ids = set(
        pads.dataset(batch, format="parquet").to_table(columns=["term_id"])[
            "term_id"
        ].to_pylist()
    )
    r = IndexReader(spark, ix)
    nb = r.manifest.n_buckets
    batch_buckets = {
        int(os.path.basename(os.path.dirname(f)).split("=")[1]) for f in batch
    }
    term = next(
        t
        for t in _terms()
        if (i := r.ids_for([t])[t]) not in batch_ids
        and qmod.pmod(i, nb) in batch_buckets
        and r.df_for([t], r.buckets_for([t]))[t] > 0
    )
    tid = r.ids_for([term])[term]
    holders = [
        f
        for f in files
        if tid in set(pq.read_table(f, columns=["term_id"])["term_id"].to_pylist())
    ]
    spec = [QuerySpec("q", [term], "or")]

    opens = _Opens(monkeypatch)
    sink = {}
    rows = bm25_topk_rows(spark, ix, spec, k=5, reader=r, phase_sink=sink)
    assert rows and sink["path"] == "driver_sidecar"
    assert sink["files_read"] == len(holders) >= 1
    assert sorted(opens.paths) == sorted(holders)
    assert not any("batch1-" in p for p in opens.paths)

    # a cache hit reads nothing and says so
    sink = {}
    assert bm25_topk_rows(spark, ix, spec, k=5, reader=r, phase_sink=sink) == rows
    assert sink["files_read"] == 0 and "read_s" not in sink


def test_second_df_lookup_in_a_touched_bucket_opens_no_file(
    spark, states, monkeypatch
):
    ix = states["upsert"]
    r = IndexReader(spark, ix)
    terms = _terms()
    buckets = r.buckets_for(terms)
    b = buckets[terms[0]]
    same = [t for t in terms if buckets[t] == b]
    assert len(same) >= 2
    r.df_for(same[:1], buckets)
    assert r._term_dir  # the bucket's files are now in the directory
    opens = _Opens(monkeypatch)
    r.df_for(same[1:], buckets)
    assert opens.paths == []


def test_compaction_and_refresh_rebuild_the_directory(spark, states, tmp_path):
    ix = str(tmp_path / "compact")
    shutil.copytree(states["upsert"], ix)
    terms = _terms()
    specs = [QuerySpec(f"q{i}", [t], "or") for i, t in enumerate(terms[:20])]
    specs.append(QuerySpec("and", terms[:3], "and"))
    r = IndexReader(spark, ix)
    assert bm25_topk_rows(spark, ix, specs, k=5, reader=r)
    assert r._term_dir and set(r._term_dir) <= set(_files(ix))

    compact_in_place(spark, ix)
    r.refresh()
    assert not r._term_dir
    after = bm25_topk_rows(spark, ix, specs, k=5, reader=r)
    assert r._term_dir and set(r._term_dir) <= set(_files(ix))
    fresh = IndexReader(spark, ix)
    assert after == bm25_topk_rows(spark, ix, specs, k=5, reader=fresh)


def _oracle_rows(ix, tombs, text_of, specs, k):
    """NumPy-oracle answers for the committed snapshot: every stored
    version counts in the stats until a compaction purges it, and
    tombstoned versions are dropped from the ranking."""
    root = fmt.doc_stats_dir(ix)
    docs = []
    for rel in fmt.load_manifest(ix).doc_stats_files:
        t = pq.read_table(os.path.join(root, rel), columns=["doc_id", "url"])
        docs += [
            (d, text_of(d, u))
            for d, u in zip(t["doc_id"].to_pylist(), t["url"].to_pylist())
        ]
    ox = build_oracle_index(docs)
    rows = []
    for q in specs:
        ranked = bm25_topk(ox, q.terms, k=ox.n_docs, mode=q.mode)
        live = [(d, s) for d, s in ranked if d not in tombs][:k]
        rows += [(q.query_id, i, d, s) for i, (d, s) in enumerate(live, 1)]
    return sorted(rows)


def test_refresh_keeps_the_entries_of_files_still_committed(
    spark, states, tmp_path
):
    """An upsert only adds files: after refresh() the directory holds
    the very _FileTerms objects it held before, and a query adds entries
    only for the batch's files. A compaction retires every file, and no
    entry of a retired file survives its refresh(). Answers equal the
    NumPy oracle in every state."""
    ix = str(tmp_path / "keep")
    shutil.copytree(states["build"], ix)
    texts = [(p.url, p.text) for p in generate_pages(N_DOCS)]
    refetch = [
        (u, f"{t} {NEEDLES[i % 4]}") for i, (u, t) in enumerate(texts[:30])
    ]
    base_text = {hash_doc_id_py(u): t for u, t in texts}
    new_text = dict(refetch)

    def text_of(doc_id, url):
        return base_text.get(doc_id, new_text.get(url))

    specs = [QuerySpec(f"q{i}", [t], "or") for i, t in enumerate(_terms()[:20])]
    specs += [
        QuerySpec("and", NEEDLES[0].split(), "and"),
        QuerySpec("or", NEEDLES[1].split() + ["the"], "or"),
    ]
    r = IndexReader(spark, ix)

    def check():
        rows = bm25_topk_rows(spark, ix, specs, k=5, reader=r)
        want = _oracle_rows(ix, set(r.tombstones().tolist()), text_of, specs, 5)
        assert want and [g[:3] for g in rows] == [w[:3] for w in want]
        for g, w in zip(rows, want):
            assert abs(g[3] - w[3]) <= 1e-6, (g, w)
        assert set(r._term_dir) <= set(_files(ix))

    check()
    before = dict(r._term_dir)
    assert before

    upsert_batch(
        spark, spark.createDataFrame(refetch, "url string, text string"), ix, 1
    )
    r.refresh()
    assert r.tombstones().size == 30
    assert r._term_dir.keys() == before.keys()
    assert all(r._term_dir[p] is ft for p, ft in before.items())
    check()
    added = set(r._term_dir) - set(before)
    assert added and all("batch1-" in os.path.basename(p) for p in added)
    assert all(r._term_dir[p] is ft for p, ft in before.items())

    compact_in_place(spark, ix)
    r.refresh()
    assert not set(r._term_dir) & (set(before) | added)
    check()


def test_file_terms_on_an_unsorted_file_with_small_row_groups(tmp_path):
    """No Spark: a file whose term_ids are not sorted still resolves
    every term to its own rows, across row-group boundaries."""
    tids = [7, -3, 7, 12, -3, 5, 7, 40, 12, 5, -3]
    path = str(tmp_path / "unsorted.parquet")
    pq.write_table(
        pa.table({
            "term_id": pa.array(tids, pa.int64()),
            "df_part": pa.array(range(1, len(tids) + 1), pa.int64()),
            "shard": pa.array(range(len(tids)), pa.int32()),
        }),
        path,
        row_group_size=3,
    )
    ft = qmod._FileTerms(path)
    assert ft.order is not None and ft.footer.num_row_groups == 4
    want = np.array([-3, 7, 99])
    df = {t: ft.df[lo:hi].sum() for t, lo, hi in ft.spans(want)}
    assert df == {-3: 2 + 5 + 11, 7: 1 + 3 + 7}
    got = ft.read(path, want, ["term_id", "shard"])
    assert got["shard"].to_pylist() == [0, 1, 2, 4, 6, 10]
    assert got["term_id"].to_pylist() == [tids[i] for i in (0, 1, 2, 4, 6, 10)]
    assert ft.read(path, np.array([99]), ["shard"]) is None
