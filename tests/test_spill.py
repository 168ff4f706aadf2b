"""Defensive spill path of the segment builder: a single (term, shard)
group that outgrows the in-memory accumulation target is spooled to a
local Arrow IPC file and encoded STREAMING (block-at-a-time) — output
must be byte-identical to the in-memory vectorized path."""

import numpy as np
import pyarrow as pa
import pytest

import text_search_spark.index.build as B
from text_search_spark.codec import varbyte_encode
from text_search_spark.functions.xxhash import xxhash64_long_vec


def _make_batches(groups, n_shards=1, batch_rows=7):
    """groups: [(term_id, n_docs)] -> sorted posting-row record batches.
    n_shards=1 keeps every doc in shard 0 so one term = one group."""
    assert n_shards == 1
    rows = []
    rng = np.random.default_rng(3)
    for term_id, n_docs in sorted(groups):
        doc_ids = np.unique(
            rng.integers(1, 10**9, size=n_docs * 2, dtype=np.int64)
        )[:n_docs]
        assert doc_ids.size == n_docs
        for d in doc_ids:
            dl = int(rng.integers(5, 400))
            tf = int(rng.integers(1, 6))
            gaps = [int(rng.integers(0, 50))] + [
                int(rng.integers(1, 30)) for _ in range(tf - 1)
            ]
            blob = varbyte_encode(
                np.array([dl, tf] + gaps, dtype=np.uint64)
            )
            rows.append((int(d), blob, int(term_id)))
    batches = []
    for s in range(0, len(rows), batch_rows):
        part = rows[s : s + batch_rows]
        batches.append(
            pa.RecordBatch.from_arrays(
                [
                    pa.array([r[0] for r in part], pa.int64()),
                    pa.array([r[1] for r in part], pa.binary()),
                    pa.array([r[2] for r in part], pa.int64()),
                ],
                names=["doc_id", "blob", "term_id"],
            )
        )
    return batches


def _collect(builder, batches):
    rows = []
    for rb in builder(iter(batches)):
        for i in range(rb.num_rows):
            rows.append(
                tuple(rb.column(c)[i].as_py() for c in range(rb.num_columns))
            )
    return sorted(rows, key=lambda r: (r[1], r[2]))


# groups sized to exercise: spill mid-stream (300 docs = 3 blocks,
# partial-block carry across 16-row chunks), a small group after it,
# and a spill-at-end group
GROUPS = [(-50, 300), (7, 3), (123, 200)]


def test_spill_byte_identical():
    base = _segment_builder_no_spill = B._segment_builder(
        11.0, 4, 1, spill_rows=10**9, chunk_rows=16
    )
    spill = B._segment_builder(11.0, 4, 1, spill_rows=20, chunk_rows=16)
    batches = _make_batches(GROUPS)
    got_base = _collect(base, batches)
    got_spill = _collect(spill, batches)
    assert len(got_base) == len(GROUPS)
    assert got_base == got_spill  # every column, bytes included


def test_spill_actually_triggers(monkeypatch):
    calls = []
    orig = B._encode_group_streaming

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(B, "_encode_group_streaming", spy)
    spill = B._segment_builder(11.0, 4, 1, spill_rows=20, chunk_rows=16)
    _collect(spill, _make_batches(GROUPS))
    assert len(calls) == 2  # the 300-doc and the 200-doc groups spooled

    # and the no-spill config never streams
    calls.clear()
    base = B._segment_builder(11.0, 4, 1, spill_rows=10**9, chunk_rows=16)
    _collect(base, _make_batches(GROUPS))
    assert not calls


def test_spill_e2e_build_identical(spark, tmp_path, monkeypatch):
    """Kill-switch e2e: a stop-word corpus built with tiny spill/chunk
    thresholds must produce the same index CONTENT as the default build,
    and answer queries identically."""
    from pyspark.sql import functions as F

    from text_search_spark.index import format as ixfmt
    from text_search_spark.index.query import QuerySpec, bm25_topk_df

    pdf = spark.createDataFrame(
        [
            (i, f"the common w{i % 11} filler{i}", str(i))
            for i in range(600)
        ],
        "doc_id long, text string, url string",
    )
    corpus = B.prepare_corpus(pdf, doc_id_col="doc_id")
    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_TOKENS", -1)  # Spark route

    ix_a = str(tmp_path / "ix_default")
    B.build_index(spark, corpus, ix_a, n_buckets=4, n_shards=2,
                  bucket_groups=1)

    monkeypatch.setattr(B, "_CHUNK_ROWS", 64)
    monkeypatch.setattr(B, "_SPILL_GROUP_ROWS", 128)
    ix_b = str(tmp_path / "ix_spill")
    B.build_index(spark, corpus, ix_b, n_buckets=4, n_shards=2,
                  bucket_groups=1)

    cols = [
        "term_bucket", "term_id", "shard", "df_part", "cf_part",
        "postings", "positions", "blockmax", "bm_avgdl",
    ]

    def seg_rows(ix):
        df = spark.read.schema(ixfmt.SEG_READ_SCHEMA).parquet(
            ixfmt.segments_dir(ix)
        )
        return sorted(
            [tuple(r[c] for c in cols) for r in df.collect()],
            key=lambda r: (r[1], r[2]),
        )

    a, b = seg_rows(ix_a), seg_rows(ix_b)
    assert a == b

    specs = [QuerySpec("q0", ["the"], "or"), QuerySpec("q1", ["W3"], "or")]
    ra = sorted(map(tuple, bm25_topk_df(spark, ix_a, specs, k=5).collect()))
    rb = sorted(map(tuple, bm25_topk_df(spark, ix_b, specs, k=5).collect()))
    assert ra == rb


def test_spill_property_random_groups():
    """Property check: random group sizes / batch slicing / thresholds —
    spill output must equal the in-memory vectorized path exactly."""
    import random

    rng = random.Random(11)
    for trial in range(6):
        n_groups = rng.randrange(1, 5)
        groups = [
            (rng.randrange(-10**6, 10**6), rng.randrange(1, 400))
            for _ in range(n_groups)
        ]
        # distinct term_ids (group key collisions would merge groups)
        if len({t for t, _ in groups}) != n_groups:
            continue
        batch_rows = rng.choice([1, 3, 8, 64])
        chunk_rows = rng.choice([4, 16, 128])
        spill_rows = rng.choice([8, 32, 10**9])
        batches = _make_batches(groups, batch_rows=batch_rows)
        base = _collect(
            B._segment_builder(7.5, 8, 1, spill_rows=10**9,
                               chunk_rows=chunk_rows),
            batches,
        )
        spill = _collect(
            B._segment_builder(7.5, 8, 1, spill_rows=spill_rows,
                               chunk_rows=chunk_rows),
            batches,
        )
        assert base == spill, (
            trial, groups, batch_rows, chunk_rows, spill_rows)
        assert len(base) == n_groups
