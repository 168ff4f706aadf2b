"""Hierarchical shard merge: an index compacted in place to fewer shards
must be BYTE-identical to one built directly at the target shard count
(same docs -> same gaps -> same varbyte), across one and two merge
levels."""

import os

import pytest
from pyspark.sql import functions as F

from text_search_spark.corpus import generate_pages
from text_search_spark.index import format as fmt
from text_search_spark.index.build import build_index, prepare_corpus
from text_search_spark.index.merge import compact_in_place
from text_search_spark.index.query import QuerySpec, bm25_topk_df

N_DOCS = 300


def _fingerprint(spark, d):
    """The committed snapshot's segment rows (compaction leaves the old
    files on disk until vacuum)."""
    seg = fmt.read_committed(
        spark, fmt.segments_dir(d), fmt.load_manifest(d).segment_files,
        fmt.SEG_READ_SCHEMA,
    )
    return sorted(
        tuple(r)
        for r in seg.select(
            "term_id",
            "shard",
            "df_part",
            "cf_part",
            F.md5(F.hex("postings")).alias("ph"),
            F.md5(F.hex("positions")).alias("qh"),
            F.md5(F.hex("blockmax")).alias("bh"),
        )
        .collect()
    )


def test_merge_matches_direct_build(spark, tmp_path):
    pages = generate_pages(N_DOCS)
    pdf = spark.createDataFrame(
        [(p.url, p.text) for p in pages], "url string, text string"
    )
    corpus = prepare_corpus(pdf, url_col="url")
    dirs = {}
    for s in (4, 2, 1):
        d = str(tmp_path / f"ix{s}")
        build_index(spark, corpus, d, n_buckets=4, n_shards=s, bucket_groups=1)
        dirs[s] = d

    # a second build at 4 shards, compacted in place: 4 -> 2 -> 1
    m = str(tmp_path / "m")
    build_index(spark, corpus, m, n_buckets=4, n_shards=4, bucket_groups=1)
    compact_in_place(spark, m, factor=2)
    assert _fingerprint(spark, m) == _fingerprint(spark, dirs[2])
    compact_in_place(spark, m, factor=2)
    assert fmt.load_manifest(m).n_shards == 1
    assert _fingerprint(spark, m) == _fingerprint(spark, dirs[1])

    # and the merged index answers queries identically
    specs = [
        QuerySpec("q1", ["the"], "or"),
        QuerySpec("q2", ["needlea", "marker0"], "and"),
        QuerySpec("q3", ["needlea", "marker0", "sentinel0"], "phrase"),
    ]

    def res(d):
        return sorted(
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in bm25_topk_df(spark, d, specs, k=10).collect()
        )

    assert res(m) == res(dirs[4]) == res(dirs[1])


def test_compact_in_place_snapshot_lifecycle(spark, tmp_path):
    """In-place compaction under snapshot isolation (round-5): after
    incremental appends accumulate multi-row (term, shard) groups and
    many part files, compact_in_place (1) rewrites them into one file
    per bucket, (2) answers rank/score-identically, (3) leaves a reader
    holding the PRE-compaction manifest fully functional until
    vacuum_segments expires the old files, and (4) is idempotent across
    a crash-rerun of the same generation."""
    import os

    from text_search_spark.index import format as fmt
    from text_search_spark.index.merge import (
        compact_in_place,
        vacuum_segments,
    )
    from text_search_spark.index.query import (
        IndexReader,
        QuerySpec,
        bm25_topk_rows,
    )
    from text_search_spark.streaming.incremental import _append_batch

    ix = str(tmp_path / "cip_ix")
    for bid in range(3):  # three appends -> multi-row groups, many files
        batch = spark.createDataFrame(
            [
                (100 * bid + i, f"u{bid}_{i}",
                 f"alpha beta gamma tok{i % 5} " * 2)
                for i in range(40)
            ],
            "doc_id long, url string, text string",
        )
        _append_batch(spark, batch, ix, batch_id=bid)

    man0 = fmt.load_manifest(ix)
    specs = [QuerySpec("q", ["alpha"], "or"),
             QuerySpec("q2", ["tok3"], "or")]
    old_reader = IndexReader(spark, ix)  # pins the pre-compaction snapshot
    before = bm25_topk_rows(spark, ix, specs, k=10, reader=old_reader)
    assert before

    compact_in_place(spark, ix)
    man1 = fmt.load_manifest(ix)
    assert len(man1.segment_files) < len(man0.segment_files)
    assert len(man1.segment_files) <= man1.n_buckets
    assert all(
        os.path.basename(p).startswith("compact0-")
        for p in man1.segment_files
    )
    # new reader: identical answers from the compacted snapshot
    assert bm25_topk_rows(spark, ix, specs, k=10) == before
    # old reader still answers from ITS snapshot — old files are intact
    assert bm25_topk_rows(spark, ix, specs, k=10, reader=old_reader) == before

    # crash-rerun of the same generation: rewind the stage flag (the
    # manifest save is the commit point) and compact again — replaces
    # generation-0 files, same answers
    man_rw = fmt.load_manifest(ix)
    del man_rw.stages["compact:0"]
    man_rw.segment_files = man0.segment_files
    man_rw.n_shards = man0.n_shards
    fmt.save_manifest(ix, man_rw)
    compact_in_place(spark, ix)
    assert bm25_topk_rows(spark, ix, specs, k=10) == before

    # vacuum with the default grace keeps everything here — the
    # unreferenced files are seconds old, indistinguishable from a
    # landing batch (the concurrent-writer guard)
    assert vacuum_segments(ix) == 0
    # grace 0 = caller asserts no writer is active: expires everything
    # the current manifest doesn't list; the current snapshot still
    # answers, and only listed files remain
    removed = vacuum_segments(ix, grace_s=0)
    assert removed > 0
    man2 = fmt.load_manifest(ix)
    assert sorted(fmt.list_segment_files(ix)) == man2.segment_files
    assert bm25_topk_rows(spark, ix, specs, k=10) == before


def test_compact_in_place_factor_merges_shards(spark, tmp_path):
    """factor=n_shards compacts to one shard in place; answers
    identical."""
    from text_search_spark.corpus import generate_pages
    from text_search_spark.index import format as fmt
    from text_search_spark.index.build import build_index, prepare_corpus
    from text_search_spark.index.merge import compact_in_place
    from text_search_spark.index.query import QuerySpec, bm25_topk_rows

    pages = generate_pages(120)
    pdf = spark.createDataFrame(
        [(p.url, p.text) for p in pages], "url string, text string"
    )
    ix = str(tmp_path / "cipf_ix")
    build_index(spark, prepare_corpus(pdf, url_col="url"), ix,
                n_buckets=4, n_shards=4, bucket_groups=1)
    specs = [QuerySpec("q", ["the"], "or")]
    before = bm25_topk_rows(spark, ix, specs, k=10)
    compact_in_place(spark, ix, factor=4)
    man = fmt.load_manifest(ix)
    assert man.n_shards == 1
    assert bm25_topk_rows(spark, ix, specs, k=10) == before

    # a factor whose quotient does not divide n_shards would break the
    # pmod(xxhash64(doc_id), n_shards) routing: refused as caller input
    # (not an assert, which python -O strips), before any lock or write
    ix5 = str(tmp_path / "cipf_ix5")
    build_index(spark, prepare_corpus(pdf, url_col="url"), ix5,
                n_buckets=4, n_shards=5, bucket_groups=1)
    man5 = fmt.load_manifest(ix5)
    with pytest.raises(ValueError, match="factor 2"):
        compact_in_place(spark, ix5, factor=2)
    assert fmt.load_manifest(ix5) == man5
    assert not [f for f in os.listdir(ix5) if f.startswith(".compact")]
