"""Document deletes: tombstone exclusion on every query path, Lucene
stats semantics pre-purge, and the compaction purge's fresh-build
identity (delete.py's stated contract)."""

import os

import pytest
from pyspark.sql import functions as F

from text_search_spark.corpus import generate_pages, generate_queries
from text_search_spark.index import format as fmt
from text_search_spark.index.build import build_index, prepare_corpus
from text_search_spark.index.delete import delete_docs, load_tombstones
from text_search_spark.index.merge import compact_in_place
from text_search_spark.index.query import (
    IndexReader,
    QuerySpec,
    bm25_topk_df,
    bm25_topk_rows,
)

N_DOCS = 240


@pytest.fixture(scope="module")
def corpus_ix(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("del")
    pages = generate_pages(N_DOCS)
    pdf = spark.createDataFrame(
        [(p.url, p.text) for p in pages], "url string, text string"
    )
    corpus = prepare_corpus(pdf, url_col="url")
    ix = str(base / "full_ix")
    build_index(spark, corpus, ix, n_buckets=4, n_shards=2, bucket_groups=1)
    return corpus, ix, str(base)


def _specs():
    return [
        QuerySpec(q.query_id, q.terms, q.mode) for q in generate_queries()
    ]


def _df_results(spark, ix, specs, reader=None):
    out = bm25_topk_df(spark, ix, specs, k=10, reader=reader)
    return sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in out.collect()
    )


def _victims(corpus):
    rows = corpus.select("doc_id").collect()
    ids = sorted(r.doc_id for r in rows)
    return ids[:: 4]  # every 4th doc


def test_delete_excludes_everywhere_and_purge_matches_fresh_build(
    spark, corpus_ix
):
    corpus, full_ix, base = corpus_ix
    import shutil

    ix = os.path.join(base, "ix_a")
    shutil.copytree(full_ix, ix)

    victims = _victims(corpus)
    vset = set(victims)
    n = delete_docs(spark, ix, victims)
    assert n == len(victims)

    specs = _specs()
    reader = IndexReader(spark, ix)
    assert reader.tombstones().size == len(victims)

    # --- full-corpus baseline (the untouched original index) ---
    base_res = _df_results(spark, full_ix, specs)
    live_expected = [r for r in base_res if r[2] not in vset]

    # executor shard-scorer path (AND/OR/phrase/near all flow here):
    # deleted docs vanish, surviving docs keep their EXACT full-corpus
    # scores (Lucene deleted-docs semantics pre-purge) — though ranks
    # re-number, so compare per-query ordered (doc, score) suffixes
    got = _df_results(spark, ix, specs, reader=reader)
    assert not any(r[2] in vset for r in got)

    def by_query(rows):
        d = {}
        for qid, _rank, doc, score in rows:
            d.setdefault(qid, []).append((doc, score))
        return d

    got_q = by_query(got)
    exp_q = by_query(live_expected)
    for qid, exp_rows in exp_q.items():
        # the live survivors of the full top-10 must lead the new
        # top-10 in the same order with the same scores
        k = len(exp_rows)
        assert got_q.get(qid, [])[:k] == exp_rows, qid

    # driver route, single-term batch
    single = [
        QuerySpec(q.query_id, q.terms, q.mode)
        for q in generate_queries()
        if len(set(q.terms)) == 1 and q.mode in ("or", "and")
    ]
    rows = bm25_topk_rows(spark, ix, single, k=10, reader=reader)
    assert rows and not any(r[2] in vset for r in rows)

    # Spark shard route (force by dropping the driver cap)
    import text_search_spark.index.query as qmod

    old_cap = qmod.DRIVER_SCORE_MAX_POSTINGS
    qmod.DRIVER_SCORE_MAX_POSTINGS = -1
    try:
        sink = {}
        rows2 = bm25_topk_rows(
            spark, ix, single, k=10, reader=IndexReader(spark, ix),
            phase_sink=sink,
        )
    finally:
        qmod.DRIVER_SCORE_MAX_POSTINGS = old_cap
    assert sink["path"] == "shard_topk"
    assert rows2 == rows

    # doc_stats surface excludes tombstoned docs too
    assert reader.doc_stats().where(
        F.col("doc_id").isin([int(v) for v in victims[:20]])
    ).count() == 0

    # time travel: a reader pinned BEFORE the delete still sees victims
    hist = fmt.snapshot_history(ix)
    pre_delete_sid = [
        h["snapshot_id"] for h in hist
    ][-2]  # the delete commit is the newest
    pinned = IndexReader(spark, ix, snapshot_id=pre_delete_sid)
    pinned_rows = _df_results(spark, ix, specs, reader=pinned)
    assert pinned_rows == base_res

    # --- purge: compaction drops the postings physically ---
    compact_in_place(spark, ix)
    man = fmt.load_manifest(ix)
    assert man.tombstone_files is None
    assert man.n_docs == N_DOCS - len(victims)

    # fresh build of the surviving corpus at the compacted geometry
    live_corpus = corpus.where(~F.col("doc_id").isin(
        [int(v) for v in victims]
    ))
    fresh_ix = os.path.join(base, "fresh_ix")
    build_index(
        spark, live_corpus, fresh_ix,
        n_buckets=man.n_buckets, n_shards=man.n_shards, bucket_groups=1,
    )
    fman = fmt.load_manifest(fresh_ix)
    assert (fman.n_docs, fman.total_tokens) == (
        man.n_docs, man.total_tokens
    )
    assert abs(fman.avgdl - man.avgdl) < 1e-9
    # rank AND score identity
    assert _df_results(spark, ix, specs) == _df_results(
        spark, fresh_ix, specs
    )


def test_delete_is_idempotent_and_absent_ids_inert(spark, corpus_ix):
    corpus, full_ix, base = corpus_ix
    import shutil

    ix = os.path.join(base, "ix_b")
    shutil.copytree(full_ix, ix)
    some = _victims(corpus)[:5]
    delete_docs(spark, ix, some)
    delete_docs(spark, ix, some)  # same ids again
    delete_docs(spark, ix, [10**15, 10**15 + 1])  # absent ids
    man = fmt.load_manifest(ix)
    assert len(man.tombstone_files) == 3
    t = load_tombstones(ix, man)
    assert len(set(some)) + 2 == t.size  # union, deduped
    # empty delete is a no-op (no tombstone file, no commit)
    sid = fmt.load_manifest(ix).snapshot_id
    assert delete_docs(spark, ix, []) == 0
    assert fmt.load_manifest(ix).snapshot_id == sid


def test_delete_dataframe_input_and_refresh_visibility(spark, corpus_ix):
    corpus, full_ix, base = corpus_ix
    import shutil

    ix = os.path.join(base, "ix_c")
    shutil.copytree(full_ix, ix)
    reader = IndexReader(spark, ix)
    specs = _specs()
    before = _df_results(spark, ix, specs, reader=reader)

    vict_df = corpus.select("doc_id").limit(30)
    vset = {r.doc_id for r in vict_df.collect()}
    delete_docs(spark, ix, vict_df)

    # an un-refreshed reader keeps answering from its snapshot
    assert _df_results(spark, ix, specs, reader=reader) == before
    reader.refresh()
    got = _df_results(spark, ix, specs, reader=reader)
    assert not any(r[2] in vset for r in got)


def test_purge_crash_rerun_and_doc_stats_snapshot(spark, corpus_ix):
    """doc_stats is snapshot-tracked (round-6b review fix): a crashed
    purge attempt's stray compactN- doc_stats files are cleaned on
    rerun (no double-count), a reader pinned to a pre-delete snapshot
    keeps its full doc_stats view after the purge, and vacuum expires
    the replaced files."""
    corpus, full_ix, base = corpus_ix
    import shutil

    from text_search_spark.index.merge import vacuum_segments

    ix = os.path.join(base, "ix_d")
    shutil.copytree(full_ix, ix)
    pre_sid = fmt.load_manifest(ix).snapshot_id
    victims = _victims(corpus)[:10]
    delete_docs(spark, ix, victims)

    ds_dir = fmt.doc_stats_dir(ix)
    base_ds = set(fmt.load_manifest(ix).doc_stats_files)
    # simulate a crashed prior attempt of THIS generation: a stray
    # compact0- doc_stats file full of garbage rows that must NOT be
    # absorbed by the rerun
    stray = os.path.join(ds_dir, "compact0-garbage.parquet")
    spark.createDataFrame(
        [(999_999_999, "u", 12345)], "doc_id long, url string, doc_len long"
    ).toPandas().to_parquet(stray)

    compact_in_place(spark, ix)
    man = fmt.load_manifest(ix)
    assert man.tombstone_files is None
    assert man.n_docs == N_DOCS - len(victims)
    assert not os.path.exists(stray)  # same-generation stray cleaned
    # committed list = replacement files only; old files still on disk
    assert all(f.startswith("compact0-") for f in man.doc_stats_files)
    assert base_ds <= set(os.listdir(ds_dir))
    # live reader's doc_stats == purged set
    assert IndexReader(spark, ix).doc_stats().count() == man.n_docs
    # a reader pinned BEFORE the delete still sees every doc's stats
    pinned = IndexReader(spark, ix, snapshot_id=pre_sid)
    assert pinned.doc_stats().count() == N_DOCS
    # after history expiry + vacuum, the replaced files are gone and
    # the live snapshot still answers
    fmt.expire_snapshots(ix, retain_last=1)
    removed = vacuum_segments(
        ix, grace_s=0.0, retain_last=1, tombstone_grace_s=0.0
    )
    assert removed > 0
    assert base_ds.isdisjoint(set(os.listdir(ds_dir)))
    assert IndexReader(spark, ix).doc_stats().count() == man.n_docs
    got = _df_results(spark, ix, _specs())
    assert not any(r[2] in set(victims) for r in got)


def test_maybe_compact_tombstone_trigger_and_vacuum(spark, corpus_ix):
    """maybe_compact fires on tombstone volume (footer row counts only),
    the purge consumes the tombstones, and vacuum then expires the
    now-unreferenced tombstone files along with the old segments."""
    corpus, full_ix, base = corpus_ix
    import shutil

    from text_search_spark.index.merge import maybe_compact, vacuum_segments

    ix = os.path.join(base, "ix_e")
    shutil.copytree(full_ix, ix)
    # below threshold: no compaction
    few = _victims(corpus)[:3]
    delete_docs(spark, ix, few)
    assert maybe_compact(
        spark, ix, max_files_per_bucket=10**6, max_tombstone_frac=0.2
    ) is False
    # past threshold: compaction runs and consumes the tombstones
    more = _victims(corpus)  # 60 of 240 docs = 25%
    delete_docs(spark, ix, more)
    assert maybe_compact(
        spark, ix, max_files_per_bucket=10**6, max_tombstone_frac=0.2
    ) is True
    man = fmt.load_manifest(ix)
    assert man.tombstone_files is None
    assert man.n_docs == N_DOCS - len(set(more) | set(few))

    tdir = fmt.tombstones_dir(ix)
    assert len(os.listdir(tdir)) == 2  # consumed but not yet expired
    fmt.expire_snapshots(ix, retain_last=1)
    removed = vacuum_segments(
        ix, grace_s=0.0, retain_last=1, tombstone_grace_s=0.0
    )
    assert removed > 0
    assert not [f for f in os.listdir(tdir) if f.endswith(".parquet")]
    # index still answers
    assert _df_results(spark, ix, _specs())


def test_streaming_deletes(spark, corpus_ix, tmp_path):
    """incremental_deletes: micro-batches of doc ids tombstone as they
    arrive; a reader refresh after the stream sees none of them."""
    corpus, full_ix, base = corpus_ix
    import shutil

    from text_search_spark.streaming.incremental import incremental_deletes

    ix = os.path.join(base, "ix_f")
    shutil.copytree(full_ix, ix)
    victims = _victims(corpus)[:12]
    src = tmp_path / "del_src"
    src.mkdir()
    for i, chunk in enumerate([victims[:6], victims[6:]]):
        spark.createDataFrame(
            [(int(v),) for v in chunk], "doc_id long"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))

    q = incremental_deletes(
        spark,
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*"),
        ix,
        str(tmp_path / "del_ckpt"),
    )
    q.awaitTermination(120)

    man = fmt.load_manifest(ix)
    assert len(man.tombstone_files) == 2
    got = _df_results(spark, ix, _specs())
    assert not any(r[2] in set(victims) for r in got)


def test_mass_delete_distributed_write(spark, corpus_ix, tmp_path,
                                       monkeypatch):
    """Round-7 (VERDICT item 2), write half: a DataFrame delete above
    the collect gate lands via a Spark job — multiple committed
    tombstone files, no driver id materialization — and the reader
    union is identical to what the driver path would have written."""
    import text_search_spark.index.delete as delete_mod

    corpus, ix0, base = corpus_ix
    ix = str(tmp_path / "mass_ix")
    build_index(
        spark, corpus, ix, n_buckets=4, n_shards=2, bucket_groups=1
    )
    monkeypatch.setattr(delete_mod, "_DF_COLLECT_MAX", 10)
    monkeypatch.setattr(delete_mod, "_IDS_PER_FILE", 25)

    vict = _victims(corpus)  # 60 ids at N_DOCS=240
    vict_df = spark.createDataFrame([(int(v),) for v in vict],
                                    "doc_id long")
    n = delete_docs(spark, ix, vict_df)
    assert n == len(vict)
    man = fmt.load_manifest(ix)
    assert len(man.tombstone_files) >= 2, "distributed write shards files"
    got = load_tombstones(ix, man)
    assert got.tolist() == sorted(vict)
    # per-file sortedness (the driver path's load contract)
    import pyarrow.parquet as pq
    for rel in man.tombstone_files:
        col = pq.read_table(os.path.join(ix, rel))["doc_id"].to_numpy()
        assert (col[:-1] <= col[1:]).all()
    # and exclusion works end-to-end through the committed files
    r = IndexReader(spark, ix)
    rows = bm25_topk_rows(spark, ix, [QuerySpec("q", ["the"], "or")],
                          k=N_DOCS, reader=r)
    assert not ({row[2] for row in rows} & set(vict))


def test_mass_delete_cogrouped_readers_match_driver_regime(
    spark, corpus_ix, tmp_path, monkeypatch
):
    """Round-7 (VERDICT item 2), read half: with the driver gate forced
    to 0 (every tombstone set is "mass"), all query modes and doc_stats
    run the executor-side plans (cogrouped scorer / unhinted anti-join)
    and return results identical to the driver-numpy regime."""
    import text_search_spark.index.delete as delete_mod
    import text_search_spark.index.query as query_mod

    corpus, ix0, base = corpus_ix
    ix = str(tmp_path / "cg_ix")
    build_index(
        spark, corpus, ix, n_buckets=4, n_shards=2, bucket_groups=1
    )
    vict = set(_victims(corpus))
    delete_docs(spark, ix, sorted(vict))

    specs = _specs()
    single = [QuerySpec("s1", ["the"], "or"),
              QuerySpec("s2", ["and"], "or")]

    # driver regime (normal gates)
    r1 = IndexReader(spark, ix)
    want_multi = _df_results(spark, ix, specs, reader=r1)
    want_single = sorted(bm25_topk_rows(spark, ix, single, k=10, reader=r1))
    want_stats = sorted(
        (row.doc_id, row.doc_len) for row in r1.doc_stats().collect()
    )

    # mass regime: force every tombstone set over the gate
    monkeypatch.setattr(delete_mod, "TOMBSTONE_DRIVER_MAX", 0)
    r2 = IndexReader(spark, ix)
    assert r2.tombstones_distributed()
    got_multi = _df_results(spark, ix, specs, reader=r2)
    assert got_multi == want_multi
    # plan pin: the scorer really is the cogrouped variant
    cand_plan = (
        query_mod._shard_topk_candidates(
            r2, query_mod._plan_queries(r2, specs), 10, True
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapCoGroupsInPandas" in cand_plan
    got_single = sorted(bm25_topk_rows(spark, ix, single, k=10, reader=r2))
    assert got_single == want_single
    got_stats = sorted(
        (row.doc_id, row.doc_len) for row in r2.doc_stats().collect()
    )
    assert got_stats == want_stats
    assert not ({d for d, _l in got_stats} & vict)
    # doc_stats plan pin: no driver-built LocalTableScan of ids, no
    # forced broadcast hint (AQE chooses)
    ds_plan = (
        r2.doc_stats()._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "LocalRelation" not in ds_plan and "LocalTableScan" not in ds_plan


def test_mass_delete_cogroup_folds_legacy_shard_numbering(
    spark, corpus_ix, tmp_path, monkeypatch
):
    """The cogroup key must fold segment rows written under an OLDER
    (larger) shard numbering onto the current one — the state a
    factor>1 compaction racing an append leaves behind. Emulated by
    building at n_shards=4 and committing a manifest flip to n_shards=2
    without rewriting rows: pmod(shard,2) on the left must meet
    pmod(xxhash64(doc_id),2) on the right, so tombstoned docs stay
    excluded."""
    import text_search_spark.index.delete as delete_mod

    corpus, ix0, base = corpus_ix
    ix = str(tmp_path / "fold_ix")
    build_index(
        spark, corpus, ix, n_buckets=4, n_shards=4, bucket_groups=1
    )
    vict = set(_victims(corpus))
    delete_docs(spark, ix, sorted(vict))

    def flip(m):
        m.n_shards = 2  # rows stay numbered 0..3

    fmt.commit_manifest(ix, flip)
    monkeypatch.setattr(delete_mod, "TOMBSTONE_DRIVER_MAX", 0)
    r = IndexReader(spark, ix)
    assert r.manifest.n_shards == 2 and r.tombstones_distributed()
    rows = bm25_topk_rows(
        spark, ix,
        [QuerySpec("q1", ["the"], "or"),
         QuerySpec("q2", ["needlea", "marker0"], "and")],
        k=N_DOCS, reader=r,
    )
    assert rows and not ({row[2] for row in rows} & vict)
