"""Hierarchical segment merge (SURVEY.md §4 custom-work item 4; north star:
"hierarchically merged into term-partitioned index shards").

compact_in_place(factor=f) divides the shard count of an index by f:
every f doc-disjoint (term, shard) segments merge into one. Because
shard = hash(doc_id) % S and S_new divides S, `new_shard = shard % S_new`
equals hash(doc_id) % S_new — the doc-sharded query invariant survives
the merge, and a merged index is BYTE-IDENTICAL to one built directly at
S_new (asserted in tests/test_merge.py): the merged doc list is the same
sorted sequence, so gaps, blocks, block-max and positions re-encode to
the same bytes.

Repeated application gives the log-depth merge tree: S -> S/f -> ... -> 1.
Each level is one Spark job over segment ROWS (already compressed — orders
of magnitude smaller than the token relation), shuffled on (term_bucket,
new_shard) and spliced in a streaming Arrow UDF.
"""

from __future__ import annotations

import os
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..codec import (
    decode_block_postings,
    decode_positions,
    encode_block_postings,
    encode_blockmax,
    encode_positions,
    live_doc_mask,
    ragged_take_index,
)
from . import format as fmt


def _claim_compaction_lock(index_dir: str, gen: int) -> str:
    """Atomically claim compaction generation `gen` (O_CREAT|O_EXCL on
    `.compact{gen}.lock` under the index root — same local-FS atomicity
    class as the CAS snapshot claim in format.py; an object-store
    backend would claim via conditional PUT through the same seam).

    Why: two concurrent compactions of the same snapshot compute the
    SAME generation prefix, and the start-of-run stray cleanup would
    delete the other run's landing compactN- files — after which the
    survivor could CAS-commit a snapshot referencing deleted files
    (silently unreadable). The lock turns that into a loud conflict.

    Stale-lock recovery keeps the crash-rerun contract: the lock
    records pid@host; if the host matches and the pid is dead, the
    claim is broken (atomic-rename break — one winner; see
    fmt.try_claim_pid_lock) and retried once. A live owner, a different
    host, or an unreadable lock raises RuntimeError (remove the lock by
    hand only if you are certain no compaction is running)."""
    lock = os.path.join(index_dir, f".compact{gen}.lock")
    if fmt.try_claim_pid_lock(lock):
        return lock
    raise RuntimeError(
        f"compaction generation {gen} already claimed by another run "
        f"({lock}); concurrent compactions are one-at-a-time. If the "
        "owner crashed on another host, remove the lock file manually."
    )


def _compact_gen(man: "fmt.IndexManifest") -> int:
    """The next compaction generation: compactions committed so far."""
    return sum(1 for k in man.stages if k.startswith("compact:"))


def _live_rows(d, t, l, p, tombs):
    """Drop tombstoned docs from one decoded segment row (docs, tfs,
    dls, flat positions) — the physical purge step of delete.py's
    contract. None tombs = identity. Shares the membership test and
    ragged gather with the query-side exclusion (codec.live_doc_mask /
    ragged_take_index) so the two sides cannot diverge."""
    keep = live_doc_mask(d, tombs)
    if keep is None:
        return d, t, l, p
    if keep.all():
        return d, t, l, p
    kidx = np.flatnonzero(keep)
    take = ragged_take_index(t, kidx)
    return d[kidx], t[kidx], l[kidx], p[take]


def _merge_rows(rows: List[tuple], avgdl: float, tombs=None) -> tuple:
    """Merge f segment rows of one (term, new_shard): returns the new
    (df_part, cf_part, postings, positions, blockmax), or None when the
    tombstone purge leaves the group empty."""
    docs_l, tfs_l, dls_l, pos_l = [], [], [], []
    for postings, positions in rows:
        d, t, l = decode_block_postings(bytes(postings))
        p = decode_positions(bytes(positions), t)
        d, t, l, p = _live_rows(d, t, l, p, tombs)
        docs_l.append(d)
        tfs_l.append(t)
        dls_l.append(l)
        pos_l.append(p)
    d = np.concatenate(docs_l)
    if d.size == 0:
        return None
    t = np.concatenate(tfs_l)
    l = np.concatenate(dls_l)
    order = np.argsort(d, kind="stable")  # inputs doc-disjoint
    d, t_s, l_s = d[order], t[order], l[order]
    # reorder ragged position segments to the merged doc order
    seg_starts = np.concatenate([[0], np.cumsum(t)])[:-1]
    flat = np.concatenate(pos_l)
    take = (
        np.concatenate(
            [np.arange(seg_starts[i], seg_starts[i] + t[i]) for i in order]
        )
        if order.size
        else np.empty(0, np.int64)
    )
    flat = flat[take]
    # re-delta the positions (reset at each doc)
    new_starts = np.concatenate([[0], np.cumsum(t_s)])[:-1].astype(np.int64)
    gaps = flat.copy()
    if flat.size:
        gaps[1:] = flat[1:] - flat[:-1]
        gaps[new_starts] = flat[new_starts]
    return (
        int(d.size),
        int(t_s.sum()),
        encode_block_postings(d, t_s, l_s),
        encode_positions(gaps),
        encode_blockmax(d, t_s, l_s, avgdl),
    )


def _splice_fn(avgdl: float, tombs=None):
    """mapInPandas fn merging consecutive rows of one (term, new_shard)
    group (partition is sorted on term_id, new_shard); emits completed
    groups incrementally so peak memory is bounded by _OUT_ROWS merged
    segments, not the whole partition."""
    from .build import _OUT_ROWS

    _COLS = [
        "term_bucket", "term_id", "shard", "df_part", "cf_part",
        "postings", "positions", "blockmax", "bm_avgdl",
    ]

    def splice(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # tombs may arrive as a pyspark Broadcast (compact_in_place
        # ships the purge set once per executor via TorrentBroadcast
        # instead of re-pickling it into every task closure — at 100M
        # tombstoned ids that is 800 MB per TASK otherwise)
        tombs_arr = tombs.value if hasattr(tombs, "value") else tombs
        cur_key = None
        cur_rows: List[tuple] = []
        cur_meta = None
        out: List[tuple] = []

        def flush():
            if cur_key is None:
                return
            merged = _merge_rows(cur_rows, avgdl, tombs_arr)
            if merged is None:
                return  # every doc of this group was tombstoned
            dfp, cfp, postings, positions, blockmax = merged
            out.append(
                cur_meta + (dfp, cfp, postings, positions, blockmax, avgdl)
            )

        for b in batches:
            for i in range(len(b)):
                key = (int(b["term_id"].iat[i]), int(b["new_shard"].iat[i]))
                if key != cur_key:
                    flush()
                    if len(out) >= _OUT_ROWS:
                        yield pd.DataFrame(out, columns=_COLS)
                        out = []
                    cur_key = key
                    cur_rows = []
                    cur_meta = (
                        int(b["term_bucket"].iat[i]),
                        int(b["term_id"].iat[i]),
                        int(b["new_shard"].iat[i]),
                    )
                cur_rows.append((b["postings"].iat[i], b["positions"].iat[i]))
        flush()
        if out:
            yield pd.DataFrame(out, columns=_COLS)

    return splice


def _merged_segments(spark, seg, avgdl, n_buckets, s_new, tombs=None):
    """The merge plan: shuffle segment rows on (term_bucket, new_shard),
    sort within partitions, splice consecutive same-key rows. tombs
    (sorted np.int64) purges those docs during the re-encode."""
    seg = seg.withColumn("new_shard", (F.col("shard") % s_new).cast("int"))
    schema = "term_bucket int, " + fmt.SEGMENT_SCHEMA
    return (
        seg.repartition(
            max(n_buckets, spark.sparkContext.defaultParallelism),
            "term_bucket",
            "new_shard",
        )
        .sortWithinPartitions("term_id", "new_shard", "shard")
        .mapInPandas(_splice_fn(avgdl, tombs), schema=schema)
    )


def _read_committed_segments(spark: SparkSession, index_dir: str, man):
    """The source index's segment rows — exactly the manifest-committed
    snapshot (a compaction racing a streaming append must not absorb
    half an uncommitted batch)."""
    return fmt.read_committed(
        spark, fmt.segments_dir(index_dir), man.segment_files,
        fmt.SEG_READ_SCHEMA,
    )


def _load_complete(index_dir: str) -> "fmt.IndexManifest":
    """The index's complete manifest, or ValueError (caller input: a
    missing or unfinished index)."""
    man = fmt.load_manifest(index_dir)
    if man is None or not man.complete:
        raise ValueError(f"{index_dir}: no complete index to maintain")
    fmt.require_file_lists(index_dir, man)
    return man


def _merged_shard_count(man: "fmt.IndexManifest", factor: int) -> int:
    """n_shards // factor, or ValueError unless it divides n_shards: the
    merged shard must stay pmod(xxhash64(doc_id), n_shards), which
    `shard % s_new` keeps only when s_new divides n_shards."""
    if factor >= 1:
        s_new = man.n_shards // factor
        if s_new >= 1 and man.n_shards % s_new == 0:
            return s_new
    raise ValueError(
        f"factor {factor} does not merge {man.n_shards} shards into a "
        "divisor of the shard count"
    )


def compact_in_place(
    spark: SparkSession,
    index_dir: str,
    factor: int = 1,
    one_file_per_bucket: bool = True,
) -> None:
    """Compact an index IN PLACE under snapshot isolation: rewrite the
    committed segment rows (merging the multi-row (term, shard) groups
    incremental appends accumulate; factor>1 also merges every factor
    doc-disjoint shards into one), land the new files NEXT TO the old
    ones, then flip the manifest to list only the new file set. Readers
    holding the old manifest keep answering from the old files (Iceberg
    snapshot semantics — this is what manifest.segment_files buys); new
    readers see only the compacted files. Old files stay on disk until
    vacuum_segments() expires them — run it when no reader older than
    the current snapshot remains.

    Motivation is measured, not hypothetical: compacting the sf0.1
    bench index 61 -> 8 files cut single-query p50 4.65 -> 2.75 ms
    (BENCH.md round-5) — per-file open/decode is the dominant latency
    term, and streaming appends strictly grow the file count.

    Crash contract: the snapshot claim is the only commit point. A
    crash before it leaves half-landed compact files that no manifest
    references (invisible to every reader); a rerun replaces them
    (same-generation strays are cleaned FIRST) and vacuum removes any
    strays. one_file_per_bucket adds a second small
    shuffle of the MERGED rows (already compressed — tiny next to the
    corpus), sorted within partitions on (term_bucket, term_id, shard)
    so the dynamic-partition writer's required partition-column
    ordering is already satisfied — no writer-injected unstable re-sort
    — and term_id clustering (parquet row-group pruning, the measured
    8.4→2.8 ms win) survives even when several bucket values hash into
    one partition.

    Writer contract (round-6): commits go through the optimistic-CAS
    protocol (format.commit_manifest), so compaction racing a
    streaming APPEND is safe in either interleaving — if the append
    commits first, compaction rebases: its compacted files REPLACE
    exactly the snapshot it read, and every file committed since
    (the append's batch) is retained. Appended docs carry their own
    shard numbering and bm_avgdl, so mixed generations score exactly
    (scoring groups by the shard column value; a doc's rows are always
    written together under one layout). Concurrent COMPACTIONS are
    one-at-a-time, ENFORCED: the generation is claimed atomically
    (`.compact{gen}.lock`, see _claim_compaction_lock) BEFORE the
    stray cleanup, so a second same-generation run fails loudly
    instead of deleting this run's landing files."""
    # claim-then-revalidate (round-8, ADVICE fix): computing the
    # generation BEFORE the claim leaves a window — run A commits gen N
    # and releases its lock between our manifest read and our claim, so
    # we'd claim the FREED .compact{N}.lock holding a stale manifest,
    # and the unconditional stray cleanup below would delete A's now-
    # COMMITTED compact{N}- files. Re-load the manifest INSIDE the
    # lock; if the generation moved, release and retry at the new one.
    for _attempt in range(5):
        man = _load_complete(index_dir)
        _merged_shard_count(man, factor)  # refuse before claiming
        gen = _compact_gen(man)
        lock = _claim_compaction_lock(index_dir, gen)
        man2 = fmt.load_manifest(index_dir)
        gen2 = (
            _compact_gen(man2) if man2 is not None and man2.complete else -1
        )
        if gen2 == gen:
            man = man2
            break
        fmt.release_lock(lock)
    else:
        raise RuntimeError(
            "compaction generation kept moving under concurrent "
            f"commits at {index_dir}; retry when the index quiesces"
        )
    try:
        _compact_in_place_locked(
            spark, index_dir, man, gen, factor, one_file_per_bucket
        )
    finally:
        fmt.release_lock(lock)


def _compact_in_place_locked(
    spark: SparkSession,
    index_dir: str,
    man: "fmt.IndexManifest",
    gen: int,
    factor: int,
    one_file_per_bucket: bool,
) -> None:
    s_new = _merged_shard_count(man, factor)
    # landing under the generation prefix also removes a previous
    # crashed attempt's strays of the SAME generation (fmt.land)
    prefix = f"compact{gen}-"

    # the exact snapshot being compacted — the rebase below replaces
    # precisely this set in whatever manifest wins the CAS race
    base_files = man.segment_files

    # ---- tombstone purge bookkeeping (delete.py contract) ----
    # doc_stats is snapshot-tracked like segments (round-6b review
    # fix: the former in-place dir swap could destroy a racing
    # append's landing doc_stats files and had unrecoverable crash
    # windows). The purge reads exactly the BASE snapshot's doc_stats
    # file set, lands filtered compactN- replacement files next to the
    # old ones, and the manifest flip swaps the list — old files stay
    # on disk for pinned time-travel readers until vacuum. Crash-rerun
    # is naturally idempotent: the unflipped manifest still pins the
    # base list, so the stats delta recomputes identically and the
    # landing replaces the same-generation strays.
    # Purge-tier note (round-7): the splice needs per-task membership
    # tests against the tombstone union, so the union is loaded ONCE
    # driver-side and shipped as a TorrentBroadcast (one copy per
    # executor — never re-pickled per task). That holds to ~10^8-10^9
    # ids (0.8-8 GB); beyond it the right answer is not a cleverer
    # compaction but a REBUILD of the surviving corpus (at that delete
    # fraction a rebuild reads less data than a purge re-encode). The
    # query paths have no such ceiling — they cogroup (query.py).
    from .delete import TOMBSTONE_DRIVER_MAX, load_tombstones

    tomb_files_consumed = list(man.tombstone_files or [])
    tombs = load_tombstones(index_dir, man) if tomb_files_consumed else None
    if tombs is not None and tombs.size == 0:
        tombs = None
    tombs_big = tombs is not None and tombs.size > TOMBSTONE_DRIVER_MAX
    ds_dir = fmt.doc_stats_dir(index_dir)
    base_ds_files = list(man.doc_stats_files)

    def _ds_base_df():
        return fmt.read_committed(
            spark, ds_dir, base_ds_files, fmt.DOC_STATS_READ_SCHEMA
        )

    n_purged, purged_tokens = 0, 0
    if tombs is not None:
        tomb_df = fmt.read_committed(
            spark, index_dir, tomb_files_consumed, "doc_id long"
        ).distinct()
        if not tombs_big:
            # small purge set: force the broadcast (skips the stats
            # side's map-stage shuffle write); big sets let AQE choose
            tomb_df = F.broadcast(tomb_df)
        row = (
            _ds_base_df()
            .join(tomb_df, "doc_id", "leftsemi")
            .agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("doc_len"), F.lit(0)).alias("tok"),
            )
            .first()
        )
        n_purged, purged_tokens = int(row["n"]), int(row["tok"])
    live_docs = max(1, man.n_docs - n_purged)
    new_avgdl = (
        (man.total_tokens - purged_tokens) / live_docs
        if tombs is not None
        else man.avgdl
    )

    merged = _merged_segments(
        spark,
        seg=_read_committed_segments(spark, index_dir, man),
        avgdl=new_avgdl,
        n_buckets=man.n_buckets,
        s_new=s_new,
        tombs=(
            spark.sparkContext.broadcast(tombs)
            if tombs is not None
            else None
        ),
    )
    if one_file_per_bucket:
        merged = merged.repartition(
            man.n_buckets, F.col("term_bucket")
        ).sortWithinPartitions("term_bucket", "term_id", "shard")

    # bounded row groups: one file per bucket would otherwise be one
    # 100+ MB row group (fmt.SEGMENT_ROW_GROUP_BYTES rationale)
    new_files = fmt.land(
        lambda p: merged.write.mode("overwrite")
        .option("parquet.block.size", str(fmt.SEGMENT_ROW_GROUP_BYTES))
        .partitionBy("term_bucket")
        .parquet(p),
        fmt.segments_dir(index_dir),
        prefix,
    )

    # doc_stats purge (only when tombstones exist): land the filtered
    # rows as generation-tagged files NEXT TO the old ones — never an
    # in-place swap, so a racing append's landing doc_stats files are
    # untouched and a pinned reader's snapshot stays intact. The
    # manifest flip below swaps the list; vacuum expires the old files.
    new_ds_files: List[str] = []
    if tombs is not None:
        new_ds_files = fmt.land(
            lambda p: _ds_base_df()
            .join(tomb_df, "doc_id", "left_anti")  # hinted iff small
            .write.mode("overwrite")
            .parquet(p),
            ds_dir,
            prefix,
        )

    # COMMIT via CAS: replace the compacted snapshot's files, keep any
    # files committed since (a concurrent append's batch), flip shards,
    # consume the purged tombstones (a racing delete's NEW tombstone
    # files survive the rebase), and apply the stats delta.
    base_set = set(base_files)
    consumed = set(tomb_files_consumed)

    def _commit(m2: "fmt.IndexManifest") -> None:
        m2.segment_files = sorted(
            (set(m2.segment_files) - base_set) | set(new_files)
        )
        m2.n_shards = s_new
        m2.stages[f"compact:{gen}"] = True
        if tombs is not None:
            # replace exactly the purged base set; doc_stats files a
            # racing append committed since are retained (their docs
            # were not in this purge's tombstones by definition of the
            # base snapshot)
            m2.doc_stats_files = sorted(
                (set(m2.doc_stats_files) - set(base_ds_files))
                | set(new_ds_files)
            )
            m2.tombstone_files = sorted(
                set(m2.tombstone_files or []) - consumed
            ) or None
            m2.n_docs -= n_purged
            m2.total_tokens -= purged_tokens
            m2.avgdl = (
                m2.total_tokens / m2.n_docs if m2.n_docs > 0 else 0.0
            )
            # derived df/cf changed with the purge — same staleness
            # marker the append commit uses
            m2.stages["term_stats"] = False

    fmt.commit_manifest(index_dir, _commit)


def vacuum_segments(
    index_dir: str,
    grace_s: float = 3600.0,
    retain_last: int = 1,
    tombstone_grace_s: Optional[float] = None,
) -> int:
    """Expire segment files no retained snapshot references
    (pre-compaction generations, crashed attempts). Returns the number
    of files removed. Safe once no live reader holds a snapshot older
    than the retained window — the Iceberg expire-snapshots contract.

    Retention is GENERATION-based (round-6; replaces the wall-clock
    mtime rule as the primary guard — mtime is unreliable on object
    stores and a >grace straggling write used to be deletable). A file
    is kept if ANY of:

    * it is referenced by one of the last `retain_last` claimed
      snapshots (snapshot history lives in snapshots/, written by
      every commit — format.commit_manifest / save_manifest);
    * it is a `batchN-` file whose batch is UNCOMMITTED and not yet
      superseded (no `stream:M` with M >= N committed): the batch is
      potentially still landing — kept regardless of age, so a slow
      writer can never lose files to a racing vacuum. Once its batch
      commits (file becomes referenced) or aborts (a later batch
      committed — Structured Streaming retries the same batch id until
      success, so a smaller-id orphan can never retry), it expires;
    * it is a `compactN-` file of the CURRENT (in-progress) compaction
      generation — an active compactor's landing files;
    * it is younger than grace_s (belt-and-braces for untagged
      stragglers; pass 0 when relying on generation retention alone).

    Run format.expire_snapshots alongside to bound the history dirs."""
    import re as _re
    import time as _time

    man = _load_complete(index_dir)
    # union of the retained snapshots' file sets (history scan; the
    # current manifest is always retained even if snapshots/ is empty;
    # a retained pre-commit build snapshot lists nothing)
    listed = set(man.segment_files)
    listed_tombs = set(man.tombstone_files or [])
    listed_ds = set(man.doc_stats_files)
    if retain_last > 0:
        sids = fmt.list_snapshot_ids(index_dir)
        for sid in sids[-retain_last:]:
            d = fmt.read_snapshot_dict(index_dir, sid)
            if d is None:  # expired between list and read
                continue
            m2 = fmt._manifest_from_dict(index_dir, d)
            listed.update(m2.segment_files or [])
            listed_tombs.update(m2.tombstone_files or [])
            listed_ds.update(m2.doc_stats_files or [])

    committed_streams = sorted(
        int(k.split(":")[1])
        for k, v in man.stages.items()
        if k.startswith("stream:") and v
    )
    max_stream = committed_streams[-1] if committed_streams else -1
    cur_compact_gen = _compact_gen(man)
    cutoff = _time.time() - grace_s

    def keep_rule(listed_set):
        # listed, possibly still landing (an uncommitted batch or the
        # active compaction generation), or young enough to be a write
        def keep(rel: str, path: str) -> bool:
            f = rel.rsplit("/", 1)[-1]
            mb = _re.match(r"batch(\d+)-", f)
            mc = _re.match(r"compact(\d+)-", f)
            return (
                rel in listed_set
                or (mb is not None and int(mb.group(1)) > max_stream)
                or (mc is not None and int(mc.group(1)) >= cur_compact_gen)
                or (grace_s > 0 and os.path.getmtime(path) > cutoff)
            )

        return keep

    removed = fmt.sweep(
        fmt.segments_dir(index_dir), keep_rule(listed), recursive=True
    )
    # doc_stats files out of every retained snapshot (pre-purge
    # versions) expire under the same rules as segments
    removed += fmt.sweep(fmt.doc_stats_dir(index_dir), keep_rule(listed_ds))

    # tombstone files consumed by a purge (and out of every retained
    # snapshot) expire too. Unlike segments, tombstone files have NO
    # generation tag, so the land-then-commit window of a concurrent
    # delete_docs is guarded purely by age: tombstone_grace_s defaults
    # to max(grace_s, 1h) — segments' grace_s=0 ("generation retention
    # alone") must NOT strip the tombstones' only landing guard, or a
    # racing vacuum deletes the file a delete commit is about to
    # reference and every later reader raises on the missing parquet.
    # Pass tombstone_grace_s=0 explicitly only when no deleter can be
    # active.
    t_grace = (
        max(grace_s, 3600.0)
        if tombstone_grace_s is None
        else tombstone_grace_s
    )
    t_cutoff = _time.time() - t_grace
    removed += fmt.sweep(
        fmt.tombstones_dir(index_dir),
        lambda f, p: f"tombstones/{f}" in listed_tombs
        or (t_grace > 0 and os.path.getmtime(p) > t_cutoff),
    )
    return removed


def maybe_compact(
    spark: SparkSession,
    index_dir: str,
    max_files_per_bucket: int = 8,
    max_tombstone_frac: Optional[float] = 0.2,
    factor: int = 1,
) -> bool:
    """Maintenance policy: compact iff some bucket's committed file
    count exceeds max_files_per_bucket, OR tombstoned docs exceed
    max_tombstone_frac of n_docs (None disables the tombstone trigger).
    Returns whether a compaction ran.

    The file-count check is manifest-only (no filesystem walk, no Spark
    job); the tombstone check reads only parquet FOOTERS of the
    manifest's tombstone files (row counts — never the ids), so both
    are cheap enough to run after every streaming micro-batch commit
    (incremental_index(auto_compact_files=...)). Per-file open/decode
    dominates single-query latency (BENCH.md: 61 files p50 4.65 ms vs
    8 files 2.75 ms) and appends strictly grow the file count;
    tombstones grow the per-query mask and hold dead postings on disk —
    compaction is the pressure valve for both (delete.py). The Iceberg
    analog is a rewrite_data_files trigger on min-input-files /
    delete-file ratio; the CAS commit protocol makes it safe to run
    while appends and deletes continue.

    The tombstone-row count is an UPPER bound on deleted docs (files
    may overlap or name absent ids) — an over-eager compaction is
    wasted work, never wrong results."""
    man = fmt.load_manifest(index_dir)
    if man is None or not man.segment_files:
        return False
    trigger = False
    per_bucket: dict = {}
    for p in man.segment_files:
        b = p.split("/", 1)[0]
        per_bucket[b] = per_bucket.get(b, 0) + 1
    if per_bucket and max(per_bucket.values()) > max_files_per_bucket:
        trigger = True
    if (
        not trigger
        and max_tombstone_frac is not None
        and man.tombstone_files
        and man.n_docs > 0
    ):
        from .delete import tombstone_rows_bound

        n_tomb = tombstone_rows_bound(index_dir, man)
        trigger = n_tomb / man.n_docs > max_tombstone_frac
    if not trigger:
        return False
    compact_in_place(spark, index_dir, factor=factor)
    return True
