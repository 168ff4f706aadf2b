"""Resumability (SURVEY.md §7.1 M5, north rule): a build killed mid-way and
re-run produces an index identical to an uninterrupted build, and completed
bucket-groups are not re-built (their metrics rows are not duplicated)."""

import pytest
from pyspark.sql import functions as F

from text_search_spark.corpus import generate_pages
from text_search_spark.index import format as fmt
from text_search_spark.index.build import build_index, prepare_corpus
from text_search_spark.index.query import IndexReader

N_DOCS = 300


def _corpus(spark):
    pages = generate_pages(N_DOCS)
    pdf = spark.createDataFrame(
        [(p.url, p.text) for p in pages], "url string, text string"
    )
    return prepare_corpus(pdf, url_col="url")


def _index_fingerprint(spark, index_dir):
    seg = (
        spark.read.parquet(fmt.segments_dir(index_dir))
        .select(
            "term_id",
            "shard",
            "df_part",
            "cf_part",
            F.md5(F.hex("postings")).alias("ph"),
            F.md5(F.hex("blockmax")).alias("bh"),
        )
        .orderBy("term_id", "shard")
        .collect()
    )
    ds = (
        spark.read.parquet(fmt.doc_stats_dir(index_dir))
        .orderBy("doc_id")
        .collect()
    )
    ts = (
        IndexReader(spark, index_dir).term_stats().orderBy("term_id").collect()
    )
    return [tuple(r) for r in seg], [tuple(r) for r in ds], [tuple(r) for r in ts]


def test_kill_and_resume_identical(spark, tmp_path, monkeypatch):
    """On both build routes: a build killed after the second of four
    segment bucket-groups resumes (on the Spark route) to the index an
    uninterrupted build of the same route gives, and both routes give the
    same index."""
    import text_search_spark.index.build as B

    corpus = _corpus(spark)
    prints = {}
    for route, gate in (("spark", -1), ("driver", float("inf"))):
        monkeypatch.setattr(B, "DRIVER_BUILD_MAX_TOKENS", gate)
        clean_dir = str(tmp_path / f"clean_{route}")
        resumed_dir = str(tmp_path / f"resumed_{route}")

        assert build_index(
            spark, corpus, clean_dir, n_buckets=4, n_shards=2,
            bucket_groups=4,
        ) == route

        # crash after the second of four segment bucket-groups
        with pytest.raises(RuntimeError, match="injected failure"):
            build_index(
                spark,
                corpus,
                resumed_dir,
                n_buckets=4,
                n_shards=2,
                bucket_groups=4,
                fail_after="segments:1",
            )
        man = fmt.load_manifest(resumed_dir)
        assert not man.complete
        assert man.stages.get("segments:1") and not man.stages.get(
            "segments:2"
        )

        # resume (config comes from the on-disk manifest, not the args)
        build_index(spark, corpus, resumed_dir, run_id="run-resume")
        man = fmt.load_manifest(resumed_dir)
        assert man.complete

        prints[route] = _index_fingerprint(spark, clean_dir)
        assert _index_fingerprint(spark, resumed_dir) == prints[route]

        # lineage: the metrics table shows groups 0-1 built by run0 and
        # groups 2-3 by the resume run — completed work was NOT redone
        metrics = spark.read.parquet(fmt.metrics_dir(resumed_dir)).collect()
        by_stage = {
            r.stage: r for r in metrics if r.stage.startswith("segments")
        }
        assert by_stage["segments:0"].run_id == "run0"
        assert by_stage["segments:1"].run_id == "run0"
        assert by_stage["segments:2"].run_id == "run-resume"
        assert by_stage["segments:3"].run_id == "run-resume"
        stages = [r.stage for r in metrics if r.stage.startswith("segments")]
        assert len(stages) == len(set(stages))  # no duplicates
    assert prints["driver"] == prints["spark"]


def test_complete_index_refuses_overwrite(spark, tmp_path):
    corpus = _corpus(spark)
    d = str(tmp_path / "ix")
    build_index(spark, corpus, d, n_buckets=2, n_shards=2, bucket_groups=1)
    with pytest.raises(ValueError, match="already complete"):
        build_index(spark, corpus, d)


def test_resume_refuses_other_format_version(spark, tmp_path, monkeypatch):
    """A partial build from another FORMAT_VERSION must fail loudly on
    resume (ADVICE r2: the old behavior silently read stale tmp through
    the current schema). Spark route: only it has the tokens stage."""
    import pytest

    import text_search_spark.index.build as B
    from text_search_spark.index import format as ixfmt

    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_TOKENS", -1)

    pdf = spark.createDataFrame(
        [(i, f"alpha w{i}", str(i)) for i in range(20)],
        "doc_id long, text string, url string",
    )
    corpus = B.prepare_corpus(pdf, doc_id_col="doc_id")
    ix = str(tmp_path / "ix_oldfmt")
    with pytest.raises(RuntimeError, match="injected"):
        B.build_index(
            spark, corpus, ix, n_buckets=4, n_shards=2,
            bucket_groups=2, fail_after="tokens",
        )
    man = ixfmt.load_manifest(ix)
    man.format_version = ixfmt.FORMAT_VERSION - 1  # simulate older layout
    ixfmt.save_manifest(ix, man)
    with pytest.raises(ValueError, match="cannot resume"):
        B.build_index(
            spark, corpus, ix, n_buckets=4, n_shards=2, bucket_groups=2
        )


def test_resume_adopts_persisted_bucket_groups(spark, tmp_path):
    """'segments:{g}' checkpoints are only valid under the group layout
    that wrote them: a resume called with a DIFFERENT bucket_groups must
    adopt the persisted layout, not re-derive groups and silently skip
    buckets (group 0 of 4 covers buckets {0,4,...}; re-grouped by 2 the
    same checkpoint name would wrongly claim buckets {0,2,4,...})."""
    corpus = _corpus(spark)
    clean_dir = str(tmp_path / "clean_bg")
    resumed_dir = str(tmp_path / "resumed_bg")

    build_index(
        spark, corpus, clean_dir, n_buckets=4, n_shards=2, bucket_groups=4
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            spark, corpus, resumed_dir,
            n_buckets=4, n_shards=2, bucket_groups=4,
            fail_after="segments:1",
        )
    # resume with a conflicting layout request
    build_index(
        spark, corpus, resumed_dir,
        n_buckets=4, n_shards=2, bucket_groups=2,
    )
    man = fmt.load_manifest(resumed_dir)
    assert man.complete and man.bucket_groups == 4
    assert _index_fingerprint(spark, resumed_dir) == _index_fingerprint(
        spark, clean_dir
    )


def test_stream_append_refuses_crashed_batch_build(spark, tmp_path):
    """A stream append onto a crashed batch build raises before landing
    a file (so neither side adopts the other's files); the build still
    resumes."""
    from text_search_spark.streaming.incremental import _append_batch

    ix = str(tmp_path / "crashed")
    corpus = _corpus(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, corpus, ix, n_buckets=4, n_shards=2,
                    bucket_groups=2, fail_after="vocab")
    with pytest.raises(ValueError, match="unfinished batch build"):
        _append_batch(spark, corpus.limit(5), ix, batch_id=0)
    assert not any("batch0-" in p for p in fmt.list_segment_files(ix)
                   + fmt.list_doc_stats_files(ix))
    build_index(spark, corpus, ix, n_buckets=4, n_shards=2, bucket_groups=2)
    assert fmt.load_manifest(ix).complete
