"""Structured-Streaming incremental index maintenance (SURVEY.md §2.8).

The reference's pipeline is batch with idempotent skip-if-exists re-runs
(/root/reference/examples/libriheavy/tools/split_into_chunks.py:81-83); the
streaming analog is micro-batch appends: each batch of new pages becomes a
set of NEW segment rows appended to the same term-partitioned layout — the
query engine already merges multiple rows per (term, shard)
(query._TermPostings), and block-max bounds stay valid under avgdl drift
via the per-row bm_avgdl correction.

Usage:
    q = incremental_index(spark, stream_df, index_dir, checkpoint_dir)
    q.awaitTermination()          # or trigger(availableNow=True)

stream_df: a STREAMING DataFrame with (doc_id long, url string, text
string). Caller guarantees doc_ids are new (exactly-once feed or upstream
dedup); re-ingesting a doc_id double-counts it. A doc_id repeated WITHIN
a batch raises the build's doc_id collision error and the batch commits
nothing.

Each batch lands through the build's own landing functions, under the
file-name tag "batch{N}-": build.land_on_driver for a batch of at most
build.DRIVER_BUILD_MAX_TOKENS tokens, build.land_on_spark above it. This
module holds no segment pipeline of its own; it sizes the batch (the
first batch with tokens fixes the stream's layout) and commits it.

Consistency model: each micro-batch writes segments + doc_stats +
metrics first, then commits the manifest (single JSON rename) carrying
BOTH the scoring statistics (n_docs, avgdl) AND the committed segment
FILE SET (manifest.segment_files, Iceberg-snapshot style). IndexReader
opens exactly the manifest-listed files, so a reader whose query runs
concurrently with an in-flight append sees the pre-commit snapshot in
full — never a torn subset of the landing batch's part files
(tests/test_streaming.py: in-flight-file isolation + concurrent-reader
stress). Contract: appends are atomic per batch with respect to
CRASHES (a retry replaces the batch's files, never duplicates), every
read is a consistent committed snapshot, and refresh() flips a live
reader to the newest commit. At 10^12-doc scale the file list lives in
Iceberg manifest-list files instead of one JSON array; the commit
protocol is the same. term_stats is maintained incrementally: each
batch commits a tiny df/cf DELTA file aggregated from its own segment
rows (round-7), and IndexReader.term_stats serves base (+) deltas, so
a stream never needs rebuild_term_stats just because it appended —
the rebuild remains the way to (re)establish the base (first build,
or after a purge shifted df/cf) and folds consumed deltas into it.
"""

from __future__ import annotations

import os
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index import format as fmt
from ..index.build import (
    _append_metrics,
    _auto_size,
    collect_if_small,
    land_on_driver,
    land_on_spark,
)


def _append_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    batch_id: int,
) -> None:
    """Append one micro-batch of (doc_id, url, text) rows to the index:
    land its doc_stats, vocab, segment and term_stats-delta files under
    the batch tag, then commit them in one manifest CAS. A batch holding
    at most build.DRIVER_BUILD_MAX_TOKENS tokens lands on the driver
    (build.collect_if_small, build.land_on_driver): one Spark job, the
    collect, or two when the batch's size has to be measured by
    materializing its cache first. A larger batch lands with the build's
    own Spark stages (build.land_on_spark), sized by the stream layout
    rule over the committed and batch totals. Either route raises on a
    doc_id or term_id collision before the commit, so a failed batch
    commits nothing and a retry under the same id replaces its files."""
    man = fmt.load_manifest(index_dir)
    if man is not None and man.stages.get(f"stream:{batch_id}"):
        # this batch already committed (manifest flip is the commit
        # point) — a redelivery after a post-commit failure is a no-op
        return
    if man is not None and not man.complete:
        # an uncommitted manifest with non-stream stages is a batch
        # build in progress or crashed: refuse before landing any file,
        # so neither this append adopts the build's files nor a resumed
        # build adopts this batch's
        build_stages = {
            k for k in man.stages if not k.startswith("stream:")
        } - {"layout_from_data"}
        if build_stages:
            raise ValueError(
                f"{index_dir}: unfinished batch build (stages "
                f"{sorted(build_stages)}) — resume it with build_index or "
                "delete the directory"
            )
    if man is None:
        man = fmt.IndexManifest(
            format_version=fmt.FORMAT_VERSION,
            run_id=f"stream:{batch_id}",
        )
    # one materialization feeds every job that reads the batch: the
    # size-gated collect and, on the Spark route, the doc_stats write
    # and the grouper scan — without it each of those jobs re-reads the
    # micro-batch source. A batch under build.DRIVER_BUILD_MAX_TOKENS is
    # tokenized once, by the collect, and grouped, encoded and landed on
    # the driver (build.land_on_driver); above the gate
    # build.land_on_spark tokenizes it twice, once for doc_stats and
    # once for the grouper output that feeds both vocab and segments.
    batch = batch.select("doc_id", "url", "text").persist()
    try:
        _append_batch_inner(spark, batch, index_dir, batch_id, man)
    finally:
        batch.unpersist()


def _append_batch_inner(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    batch_id: int,
    man,
) -> None:
    tag = f"batch{batch_id}-"
    counts: Dict[str, int] = {}

    def layout(b_docs: int, b_tokens: int) -> tuple:
        # BATCH-ONLY stats (round-6b, review finding), counted from the
        # batch's landed doc_stats: the commit applies them as DELTAS
        # (m2.n_docs += ...), never as absolute values read from the
        # doc_stats directory — an absolute dir read races a concurrent
        # compaction purge (count pre-swap and commit post-purge
        # re-inflates the stats by the purged docs; the mirror
        # interleaving double-subtracts). Deltas compose under CAS rebase
        # in ANY interleaving: the mutate re-runs against the then-latest
        # committed totals. Retry-stable too — fmt.land REPLACES any prior
        # attempt's files, and these numbers come from the batch data,
        # not the directory.
        counts.update(docs=b_docs, tokens=b_tokens)
        est_total = man.total_tokens + b_tokens
        est_docs = man.n_docs + b_docs
        # the FIRST batch WITH TOKENS fixes the layout: sizing from an
        # empty/blank leading batch (possible on recovery or a no-data
        # trigger) would lock the whole stream's lifetime at the minimum
        # n_buckets/n_shards. Until tokens arrive the floor layout is
        # provisional (no segment/vocab rows exist to invalidate) and is
        # re-derived each batch.
        if man.n_buckets == 0 or (
            man.total_tokens == 0 and not man.stages.get("layout_from_data")
        ):
            # man.total_tokens is the PRE-batch committed cumulative: once
            # any tokens have been indexed, segments exist under the fixed
            # layout and it must never be re-derived (covers pre-flag
            # manifests too)
            man.n_buckets, man.n_shards = _auto_size(
                max(est_total, 1) * 4,  # leave headroom for growth
                spark.sparkContext.defaultParallelism,
            )
        # bm_avgdl stamped on this batch's segment rows: best estimate of
        # the corpus avgdl at encode time. A racing purge/append makes it
        # slightly stale, which the per-row bm_avgdl bound correction
        # absorbs by design (query._TermPostings.max_sat).
        return (
            man.n_buckets, man.n_shards,
            est_total / est_docs if est_docs else 0.0,
        )

    rows = collect_if_small(batch)
    if rows is not None:
        landed = land_on_driver(rows, index_dir, layout, tag=tag)
    else:
        landed = land_on_spark(batch, index_dir, layout, tag=tag)
    b_docs, b_tokens = counts["docs"], counts["tokens"]

    # metrics row, batch-named like the data files: a retry replaces it
    _append_metrics(
        index_dir, f"stream:{batch_id}", f"stream_batch:{batch_id}",
        "batch", b_docs, 0, 0, name=f"{tag}metrics.parquet",
    )

    # manifest commit LAST, via the optimistic-CAS protocol: the mutate
    # below is a REBASE — it runs against the then-latest snapshot, so
    # if a compaction committed while this batch was landing, prev is
    # the compacted file set and this batch's files are added on top
    # (the compaction read only the pre-batch committed snapshot, so
    # nothing is lost or double-counted in either interleaving).
    def _commit(m2: "fmt.IndexManifest") -> bool:
        if m2.stages.get(f"stream:{batch_id}"):
            return False  # redelivered after commit — no-op
        # a None file list only means "no commit yet" (_append_batch
        # refused an unfinished batch build before landing anything)
        fmt.require_file_lists(index_dir, m2)
        if m2.n_buckets == 0 or (
            m2.total_tokens == 0 and not m2.stages.get("layout_from_data")
        ):
            # first real commit (or provisional pre-token layout):
            # persist the layout this batch's segment job actually used
            m2.n_buckets, m2.n_shards = man.n_buckets, man.n_shards
        if m2.total_tokens + b_tokens > 0:
            m2.stages["layout_from_data"] = True
        m2.segment_files = sorted(
            set(m2.segment_files or []) | set(landed["segments"])
        )
        m2.doc_stats_files = sorted(
            set(m2.doc_stats_files or []) | set(landed["doc_stats"])
        )
        if not m2.complete and m2.n_docs == 0:
            # brand-new index: stamp the current format. An EXISTING
            # other-version manifest keeps its version so the reader's
            # validation still rejects the mixed layout loudly.
            m2.format_version = fmt.FORMAT_VERSION
        if not m2.run_id:
            m2.run_id = f"stream:{batch_id}"
        m2.n_docs += b_docs
        m2.total_tokens += b_tokens
        m2.avgdl = (
            m2.total_tokens / m2.n_docs if m2.n_docs else 0.0
        )
        m2.stages[f"stream:{batch_id}"] = True
        # term_stats stays VALID across this append: the batch's delta
        # files join the committed view (base + deltas). A never-built
        # base (stage False/absent) stays stale until the first rebuild.
        m2.term_stats_delta_files = sorted(
            set(m2.term_stats_delta_files or [])
            | set(landed["term_stats"])
        )
        m2.complete = True
        return True

    fmt.commit_manifest(index_dir, _commit)


def incremental_index(
    spark: SparkSession,
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    auto_compact_files: Optional[int] = None,
):
    """Start the incremental indexing query. Returns the StreamingQuery.

    auto_compact_files: when set, after each batch commit the stream
    runs merge.maybe_compact(max_files_per_bucket=auto_compact_files) —
    inline maintenance that bounds the per-bucket file count (and so
    query latency) for a long-lived stream. Runs AFTER the batch's
    manifest commit, in the same foreachBatch slot, so it serializes
    with appends; crash-safety is the compaction's own contract (the
    snapshot claim is the commit point, a half-landed attempt is
    invisible and cleaned by the rerun)."""

    def _on_batch(b, bid):
        _append_batch(spark, b, index_dir, bid)
        if auto_compact_files is not None:
            from ..index.merge import maybe_compact

            maybe_compact(
                spark, index_dir, max_files_per_bucket=auto_compact_files
            )
            # same inline-maintenance slot bounds the term_stats delta
            # list (manifest-length check; a no-op almost every batch)
            fold_term_stats_deltas(spark, index_dir)

    writer = stream_df.writeStream.foreachBatch(_on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# consumed delta files survive on disk this long after the commit that
# unreferenced them: a long-lived IndexReader pinned to the PRIOR
# snapshot still unions the old delta set on its next term_stats()
# call, and an immediate unlink turned that into path-does-not-exist
# (round-8, ADVICE fix — same landing-window discipline as
# vacuum_segments' grace_s). 0 = immediate (tests / single-process).
TERM_STATS_DELTA_GRACE_S = 600.0


def _term_stats_lock_path(index_dir: str) -> str:
    return os.path.join(index_dir, ".term_stats.lock")


def _sweep_unreferenced_deltas(index_dir: str, grace_s: float) -> None:
    """Remove delta files no CURRENT manifest references, once older
    than grace_s (mtime). Also sweeps crash leftovers from interrupted
    folds/rebuilds. Best-effort: a lost race with a concurrent remover
    is fine."""
    import time as _time

    man = fmt.load_manifest(index_dir)
    ref = set(man.term_stats_delta_files or []) if man is not None else set()
    now = _time.time()
    fmt.sweep(
        fmt.term_stats_deltas_dir(index_dir),
        lambda f, p: f.startswith(".")
        or f in ref
        or (grace_s > 0 and now - os.path.getmtime(p) <= grace_s),
    )


def fold_term_stats_deltas(
    spark: SparkSession,
    index_dir: str,
    max_delta_files: int = 64,
    delta_grace_s: float = TERM_STATS_DELTA_GRACE_S,
) -> bool:
    """Fold the snapshot's term_stats delta files into ONE combined
    delta once more than max_delta_files have accumulated (a long
    stream commits one tiny delta per batch; the reader view unions
    them all, so an unbounded list slowly inflates every term_stats()
    plan). Returns whether a fold ran.

    Cost: reads ONLY the delta files (batch-sized sums, never the
    index), writes one combined file, CAS-swaps the list. The mutate
    is a rebase: deltas committed by appends racing the fold were not
    in the consumed set and survive (same discipline as
    rebuild_term_stats). The manifest-only length check makes this
    safe to call after every micro-batch (incremental_index does).
    Consumed files are swept best-effort after a `delta_grace_s`
    landing window (readers pinned to the prior snapshot keep reading
    them until they refresh — ADVICE round-8); a crash before the
    sweep leaves unreferenced files a later fold's sweep collects.

    Fold and rebuild are serialized on `.term_stats.lock` (round-8,
    ADVICE fix): a fold racing a rebuild double-counted df/cf — the
    rebuild bakes the consumed deltas into the new base while the
    fold's CAS-rebased commit re-adds the same sums as a fold file
    (the rebase protects list membership, not that semantic
    conflict). The fold is opportunistic, so a held lock just means
    "maintenance already running" and returns False."""
    lock = _term_stats_lock_path(index_dir)
    if not fmt.try_claim_pid_lock(lock):
        return False
    try:
        return _fold_term_stats_locked(
            spark, index_dir, max_delta_files, delta_grace_s
        )
    finally:
        fmt.release_lock(lock)


def _fold_term_stats_locked(
    spark: SparkSession,
    index_dir: str,
    max_delta_files: int,
    delta_grace_s: float,
) -> bool:
    import uuid as _uuid

    man0 = fmt.load_manifest(index_dir)
    if man0 is None:
        return False
    deltas = list(man0.term_stats_delta_files or [])
    if len(deltas) <= max_delta_files:
        return False
    td = fmt.term_stats_deltas_dir(index_dir)
    folded = fmt.fold_term_stats(
        fmt.read_committed(spark, td, deltas, fmt.TERM_STATS_READ_SCHEMA)
    )
    rels = fmt.land(
        lambda p: folded.coalesce(1).write.mode("overwrite").parquet(p),
        td,
        f"fold-{_uuid.uuid4().hex[:12]}-",
    )
    consumed = set(deltas)

    def _commit(m2: "fmt.IndexManifest") -> None:
        cur = set(m2.term_stats_delta_files or [])
        m2.term_stats_delta_files = sorted(
            (cur - consumed) | set(rels)
        ) or None

    fmt.commit_manifest(index_dir, _commit)
    _sweep_unreferenced_deltas(index_dir, delta_grace_s)
    return True


def rebuild_term_stats(
    spark: SparkSession,
    index_dir: str,
    delta_grace_s: float = TERM_STATS_DELTA_GRACE_S,
) -> None:
    # serialized against fold_term_stats_deltas on the same lock (see
    # there: a racing fold re-adds delta sums the rebuild just baked
    # into the base). Rebuild is an explicit operator action, so a held
    # lock is a loud error rather than a silent skip.
    lock = _term_stats_lock_path(index_dir)
    if not fmt.try_claim_pid_lock(lock):
        raise RuntimeError(
            f"term_stats maintenance already running at {index_dir} "
            f"({lock}); fold/rebuild are one-at-a-time"
        )
    try:
        _rebuild_term_stats_locked(spark, index_dir, delta_grace_s)
    finally:
        fmt.release_lock(lock)


def _rebuild_term_stats_locked(
    spark: SparkSession, index_dir: str, delta_grace_s: float
) -> None:
    man0 = fmt.load_manifest(index_dir)
    # derive stats from the committed snapshot only (a concurrent
    # in-flight append's files must not leak into term_stats)
    seg = fmt.read_committed(
        spark,
        fmt.segments_dir(index_dir),
        (man0.segment_files or []) if man0 is not None else [],
        fmt.SEG_READ_SCHEMA,
    )
    # every appended batch lands its own vocab rows: keep one per term
    vocab = (
        spark.read.schema(fmt.VOCAB_READ_SCHEMA)
        .parquet(fmt.vocab_dir(index_dir))
        .select("term", "term_id")
        .dropDuplicates(["term_id"])
    )
    (
        fmt.term_stats_of(seg, vocab)
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(fmt.term_stats_dir(index_dir))
    )
    # the rebuild FOLDED the snapshot's deltas into the new base —
    # clear exactly those (an append racing this rebuild keeps its own
    # delta: its segment files were not in man0's scan)
    consumed = set(
        (man0.term_stats_delta_files or []) if man0 is not None else []
    )
    base_segs = set(
        (man0.segment_files or []) if man0 is not None else []
    )

    def _mark(m2: "fmt.IndexManifest") -> None:
        if base_segs - set(m2.segment_files or []):
            # a compaction/purge replaced files the rebuild scanned —
            # the fresh base may be stale already; leave the flag down
            # (df/cf is unchanged by a pure merge, but a purge shifts
            # it, and we can't tell which happened from here)
            m2.stages["term_stats"] = False
        else:
            m2.stages["term_stats"] = True
        m2.term_stats_delta_files = sorted(
            set(m2.term_stats_delta_files or []) - consumed
        ) or None

    fmt.commit_manifest(index_dir, _mark)
    # consumed delta files are unreferenced by the new snapshot — swept
    # after the landing-window grace (readers pinned to the prior
    # snapshot keep unioning them until they refresh)
    _sweep_unreferenced_deltas(index_dir, delta_grace_s)


def incremental_deletes(
    spark: SparkSession,
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    id_col: str = "doc_id",
):
    """Streaming deletes: each micro-batch of doc ids tombstones its
    docs (index/delete.py) — takedowns / robots revocations / opt-outs
    arriving as a stream next to the indexing stream. Returns the
    StreamingQuery.

    Idempotence under at-least-once foreachBatch: a redelivered batch
    writes a second tombstone file with the same ids, which is
    harmless — readers take the union, and the next purge consumes
    both files. Deletes and appends may run concurrently: both commit
    through the CAS protocol, so neither clobbers the other's manifest
    state (a doc appended and deleted around the same time converges
    to deleted as long as the delete's tombstone commit is observed by
    the reader's refresh — tombstones mask by doc_id regardless of
    which segment file holds the postings)."""
    from ..index.delete import delete_docs

    writer = stream_df.writeStream.foreachBatch(
        lambda b, bid: delete_docs(spark, index_dir, b, id_col=id_col)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def upsert_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    batch_id: int,
    ts_col: Optional[str] = None,
) -> None:
    """Index UPSERT for one micro-batch of (url, text[, ts_col]) pages:
    re-crawled urls REPLACE their previous version in the index — the
    Common-Crawl refetch story (webtext.latest_snapshot) carried all
    the way into the inverted index instead of stopping at the corpus
    table.

    Mechanics (all existing primitives — append + tombstones):

    1. within-batch collapse: with ts_col, only each url's newest
       snapshot indexes (webtext.latest_snapshot — one combiner-
       friendly agg); without it, the batch must be one-row-per-url.
    2. fresh version-scoped doc_ids: xxhash64(url, batch_id) — a
       re-crawl gets a NEW doc_id, so the old version's tombstone can
       never shadow the new one (tombstones mask by doc_id).
    3. append the batch (idempotent, stage-gated like every stream
       batch).
    4. tombstone the url's PREVIOUS doc_ids: doc_stats rows for these
       urls minus this batch's own ids — recomputable idempotently, so
       an at-least-once redelivery converges (the append no-ops, the
       delete re-derives the same set and writes an overlapping
       tombstone file, which readers union).

    Crash contract: append commits before the delete, so the worst
    in-between state is BOTH versions briefly visible (a duplicate),
    never a url missing from the index; the batch retry completes the
    delete. n_docs/avgdl count tombstoned versions until compaction
    purges (the documented Lucene stats drift — maybe_compact's
    tombstone-fraction trigger is the pressure valve, important here
    because every upsert produces one tombstone)."""
    from ..index.delete import delete_docs
    from ..operators.webtext import latest_snapshot

    if ts_col is not None:
        batch = latest_snapshot(
            batch, url_col="url", ts_col=ts_col, payload_cols=["text"]
        ).select("url", "text")
    else:
        batch = batch.select("url", "text")
    versioned = batch.select(
        F.xxhash64(F.col("url"), F.lit(batch_id)).alias("doc_id"),
        "url",
        "text",
    ).persist()
    try:
        _append_batch(spark, versioned, index_dir, batch_id)
        # previous versions come from the COMMITTED doc_stats snapshot
        # (which now includes this batch's own rows — excluded by the
        # anti-join on our ids); never a raw dir scan, which could see
        # another in-flight batch's uncommitted landing files
        ds = fmt.read_committed(
            spark,
            fmt.doc_stats_dir(index_dir),
            fmt.load_manifest(index_dir).doc_stats_files,
            fmt.DOC_STATS_READ_SCHEMA,
        )
        old = (
            ds.join(versioned.select("url"), "url", "leftsemi")
            .join(versioned.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id")
        )
        delete_docs(spark, index_dir, old)
    finally:
        versioned.unpersist()


def incremental_index_upserts(
    spark: SparkSession,
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    ts_col: Optional[str] = None,
    auto_compact_files: Optional[int] = None,
    auto_compact_tombstone_frac: Optional[float] = 0.2,
):
    """Streaming upsert maintenance: each micro-batch of re-crawled
    pages replaces its urls' previous versions (upsert_batch). Returns
    the StreamingQuery.

    auto_compact_files / auto_compact_tombstone_frac: inline
    maintenance after each batch (merge.maybe_compact) — especially
    relevant here, where EVERY re-crawl leaves one tombstoned version
    behind: the tombstone-fraction trigger is what keeps a long-lived
    upsert stream's dead-posting volume (and per-query mask) bounded
    without an external job."""

    def _on_batch(b, bid):
        upsert_batch(spark, b, index_dir, bid, ts_col=ts_col)
        if auto_compact_files is not None:
            from ..index.merge import maybe_compact

            maybe_compact(
                spark,
                index_dir,
                max_files_per_bucket=auto_compact_files,
                max_tombstone_frac=auto_compact_tombstone_frac,
            )

    writer = stream_df.writeStream.foreachBatch(_on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
