"""On-disk index layout + small helpers.

Layout under <index_dir>/ (all Parquet; Iceberg-style: immutable data files,
directory partitioning, an explicit JSON manifest committed last as the
atomicity point, and an append-only metrics table for lineage):

  segments/term_bucket=NN/   (term_id long, shard int, df_part long,
                              cf_part long, postings binary,
                              positions binary, blockmax binary,
                              bm_avgdl double)
      term_id = xxhash64(term) — the big build shuffle carries an int64
      key, never strings (~45% shuffle-volume cut); the query planner
      computes term_id driver-side (functions/xxhash.py), so lookups need
      no vocab join. Uniqueness term<->term_id is asserted at build.
      doc-sharded-within-term-partitioned posting segments. `shard` is a
      consistent hash of doc_id so every term's postings for a given doc
      land in the same shard -> query scoring is doc-sharded with no
      cross-term shuffle (see query.py).
  doc_stats/                 (doc_id long, url string, doc_len long)
  vocab/                     (term string, term_id long, term_bucket int)
      distinct terms (the dictionary) — built from a map-side-combined
      distinct pass, tiny next to the posting shuffle.
  term_stats/                (term string, term_id long, df long, cf long,
                              term_bucket int)
  metrics/                   (run_id, stage, unit, docs long, postings long,
                              bytes long, status, updated_at) — per-partition
      lineage + counters; append-only (north rule: metrics table).
  manifest.json              global stats + build config; written LAST.
      A build is complete iff the manifest exists and `complete` is true.
      checkpoints: per-stage completion markers for resume (stage name ->
      true) — segment-level checkpointing (SURVEY.md §7.1 M5).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import asdict, dataclass, field
from typing import Callable, Dict, List, Optional


# v3: int64 term_id shuffle/segments + vocab table
# v4: tokens_tmp layout (doc_id, blob, term, term_bucket) — doc_len/tf fold
#     into a varbyte blob header, shard is an expression, never a column;
#     build_index refuses to RESUME a partial build from another version
FORMAT_VERSION = 4


@dataclass
class IndexManifest:
    format_version: int = 1  # explicitly set on save; old manifests lack it
    n_docs: int = 0
    total_tokens: int = 0
    avgdl: float = 0.0
    n_buckets: int = 32
    n_shards: int = 4
    k1: float = 1.2
    b: float = 0.75
    complete: bool = False
    run_id: str = ""
    stages: Dict[str, bool] = field(default_factory=dict)
    # resumable-unit layout: group g owns buckets range(g, n_buckets,
    # bucket_groups), and the 'segments:{g}' checkpoints are only valid
    # under the layout that wrote them — persisted so a resume cannot
    # silently skip buckets by re-deriving groups from a DIFFERENT
    # caller-supplied bucket_groups. 0 = unset (legacy partial).
    bucket_groups: int = 0
    # Iceberg-style snapshot: the COMMITTED segment file set, as paths
    # relative to segments_dir (e.g. "term_bucket=3/batch0-part-...").
    # Readers that honor this list get true snapshot isolation against
    # concurrent streaming appends — a part file an in-flight batch has
    # already landed is invisible until the manifest flip commits it
    # (closes the torn-read seam incremental.py documented through
    # round 4). None only before the first commit: a complete manifest
    # without it is refused (require_file_lists). At 10^12-doc scale
    # this list lives in Iceberg manifest-list files rather than one
    # JSON array; the commit protocol (file set flips with the
    # snapshot pointer) is identical.
    # Paths always use '/' separators regardless of OS (normalized on
    # write; converted to os-native only at open time) so a manifest
    # written on one OS reads on another.
    segment_files: Optional[List[str]] = None
    # Optimistic-commit snapshot protocol (round-6): every committed
    # manifest state carries a monotonically increasing snapshot_id and
    # is ALSO persisted as snapshots/v{sid}.json. commit_manifest()
    # claims v{sid+1} with an atomic hardlink (fails if another writer
    # claimed it first) and rebases+retries on conflict — so a
    # compaction racing a streaming append can never clobber the
    # other's file list (Iceberg optimistic CAS, index/merge.py).
    # manifest.json is a pointer/cache: load_manifest always checks the
    # snapshots dir for a newer claimed snapshot (covers a crash
    # between claim and pointer update).
    snapshot_id: int = 0
    # When the file list outgrows SEGMENT_FILES_INLINE_MAX it is
    # sharded into per-bucket JSON sidecars under filelists/<token>/
    # (the Iceberg manifest-list shape): manifest.json stays O(1) in
    # the file count, and a bucket-scoped reader can load just its
    # bucket's list. segment_files_ref holds the index_dir-relative
    # sidecar dir; segment_files is then null IN THE JSON but always
    # populated in memory by load_manifest.
    segment_files_ref: Optional[str] = None
    # Document deletes (Lucene/Iceberg tombstone shape): index_dir-
    # relative parquet files (column: doc_id long), '/'-normalized.
    # Readers exclude the union of these doc_ids from every result
    # immediately; corpus statistics (df/cf/n_docs/avgdl — hence
    # surviving docs' scores) keep the full-corpus values until
    # compact_in_place purges the postings physically and clears this
    # list (exactly Lucene's deleted-docs contract; block-max bounds
    # stay valid upper bounds in between). None == [] == no deletes.
    tombstone_files: Optional[List[str]] = None
    # doc_stats is snapshot-tracked exactly like segments (round-6b,
    # review finding: the purge's former in-place dir swap could
    # destroy a racing append's landing doc_stats files): paths
    # relative to doc_stats_dir, '/'-normalized; the purge lands
    # compactN- replacement files next to the old ones and this list
    # flips with the commit, so pinned time-travel readers keep a
    # consistent doc_stats view until vacuum. None only before the
    # first commit, as for segment_files.
    # Externalized to a filelists/ sidecar past the same inline cap as
    # segment_files (a 10k-batch stream would otherwise bloat every
    # manifest JSON); doc_stats_files_ref mirrors segment_files_ref.
    doc_stats_files: Optional[List[str]] = None
    doc_stats_files_ref: Optional[str] = None
    # incremental term_stats (round-7, VERDICT item 7): per-batch df/cf
    # delta files under term_stats_deltas/, '/'-normalized relative
    # paths. The committed term_stats view = base table (+) sum of
    # these deltas, so streamed appends no longer go through
    # rebuild_term_stats's full segment scan; a rebuild folds the
    # deltas it consumed back into the base and clears them. None/[] =
    # base table is the whole view (batch builds, post-rebuild).
    term_stats_delta_files: Optional[List[str]] = None


# file lists at most this long are inlined in manifest.json; longer
# lists go to per-bucket sidecar files (tests lower this to exercise
# the sharded path at small scale)
SEGMENT_FILES_INLINE_MAX = 512

_BUCKET_PREFIX_RE = re.compile(r"^term_bucket=(\d+)/")


def manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest.json")


def snapshots_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "snapshots")


def filelists_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "filelists")


def _snapshot_path(index_dir: str, sid: int) -> str:
    return os.path.join(snapshots_dir(index_dir), f"v{sid:012d}.json")


class CommitBackend:
    """Storage seam for the snapshot-commit protocol (round-7, VERDICT
    item 6). The CAS protocol needs exactly three primitives beyond
    plain reads, and any store that provides them with the stated
    atomicity can host the COMMIT METADATA (snapshots/ + the
    manifest.json pointer):

      claim(path, payload) -> bool : atomic create-if-absent of the
          full payload — THE commit point; False = another writer got
          there first. Local FS: tmp file + os.link (EEXIST = lost).
          S3: `PUT If-None-Match: *` (HTTP 412 = lost; conditional
          writes GA Aug 2024). GCS: `x-goog-if-generation-match: 0`.
          Azure Blob: `If-None-Match: *`. Stores without a conditional
          PUT front the claim with a lock row (DynamoDB attribute_
          not_exists / etcd txn), as pre-2024 Iceberg S3 did.
      put(path, payload)           : durable last-write-wins write —
          only the best-effort pointer uses it. Local: tmp +
          os.replace. Object store: plain PUT.
      list_snapshot_ids(dir) -> [int] : claimed snapshot ids (LIST by
          prefix). S3/GCS LIST is strongly consistent (since 2020);
          a stale list on a weaker store only makes a reader fall
          back to the pointer state — never corrupts a commit.

    read/delete are plain per-object ops, included so the protocol
    touches the metadata store ONLY through this interface (enforced
    by the mock-backed tests in tests/test_commit_protocol.py).

    Deliberately OUT of scope: segment/doc_stats/tombstone data files
    and filelist sidecars. Those are immutable write-once-then-
    referenced Parquet/JSON. Spark writes them, but every data file
    still lands through `land` (os.walk + os.replace out of a tmp dir)
    and expires through `sweep`, with single driver-side files written
    by `put_table`: those three helpers are the remaining local-FS
    assumption of the data plane, so an s3a:// index root does not work
    until they go through a storage seam too."""

    def claim(self, path: str, payload: str) -> bool:
        raise NotImplementedError

    def put(self, path: str, payload: str) -> None:
        raise NotImplementedError

    def read(self, path: str) -> Optional[str]:
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def list_snapshot_ids(self, snap_dir: str) -> List[int]:
        raise NotImplementedError


def require_local_index(path: str) -> str:
    """An index root as a local path, or ValueError for a URI-scheme
    one: the manifest, the snapshot claims and every data-file landing
    use local os APIs (the backend note above), so 's3://bucket/ix'
    would silently read and write a LOCAL directory 's3:/bucket/ix'
    while Spark writes to the store. 'file://' is accepted and
    stripped; Windows drive letters ('C:/...') pass."""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://(.*)$", path)
    if m is None:
        return path
    if m.group(1).lower() == "file":
        return "/" + m.group(2).lstrip("/") if m.group(2) else "/"
    raise ValueError(
        f"index {path!r} has URI scheme {m.group(1)!r}, but index IO is "
        "local-filesystem only (atomic-hardlink CAS claims; see "
        "index/format.py). Mount the store locally or use a real path."
    )


class LocalFSCommitBackend(CommitBackend):
    """Default backend: POSIX rename/link atomicity."""

    def claim(self, path: str, payload: str) -> bool:
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(payload)
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
        return True

    def put(self, path: str, payload: str) -> None:
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, path)

    def read(self, path: str) -> Optional[str]:
        try:
            with open(path) as f:
                return f.read()
        except FileNotFoundError:
            return None

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def list_snapshot_ids(self, snap_dir: str) -> List[int]:
        if not os.path.isdir(snap_dir):
            return []
        return sorted(
            int(m.group(1))
            for f in os.listdir(snap_dir)
            if (m := re.fullmatch(r"v(\d+)\.json", f))
        )


_BACKEND: CommitBackend = LocalFSCommitBackend()


def set_commit_backend(b: CommitBackend) -> CommitBackend:
    """Swap the metadata backend (returns the previous one). Production
    code never calls this — it is the injection point for the
    mock-backend protocol tests and the documented hook an object-store
    deployment would use."""
    global _BACKEND
    prev = _BACKEND
    _BACKEND = b
    return prev


def release_lock(lock: str) -> None:
    """Drop a lock claimed with try_claim_pid_lock; one that is already
    gone is not an error."""
    try:
        os.remove(lock)
    except FileNotFoundError:
        pass


def try_claim_pid_lock(lock: str) -> bool:
    """Atomically claim a pid@host lock file (O_CREAT|O_EXCL — the same
    local-FS atomicity class as the CAS snapshot claim; an object-store
    backend would claim via conditional PUT). Returns False when the
    lock is held by a LIVE owner (or one we cannot verify: another
    host, alive under another uid, unreadable).

    Stale-lock recovery keeps the crash-rerun contract: if the recorded
    host matches and the pid is dead, the stale lock is broken via an
    atomic RENAME to a unique name — never os.remove — so when several
    processes judge the same dead owner stale, exactly one wins the
    break (the losers' replace fails, source gone) and O_EXCL then
    decides the claim; with remove, a slow breaker could delete the
    winner's freshly-claimed lock and both would run (round-8, ADVICE
    fix). Shared by compaction (.compact{gen}.lock, merge.py) and
    term_stats maintenance (.term_stats.lock, streaming/incremental)."""
    import socket

    me = f"{os.getpid()}@{socket.gethostname()}"
    for attempt in (0, 1):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(fd, me.encode())
            finally:
                os.close(fd)
            return True
        except FileExistsError:
            if attempt == 1:
                return False
            stale = False
            try:
                with open(lock, "r") as fh:
                    pid_s, _, host = fh.read().strip().partition("@")
                if host == socket.gethostname() and pid_s.isdigit():
                    try:
                        os.kill(int(pid_s), 0)
                    except ProcessLookupError:
                        stale = True  # same host, owner dead: crashed
                    except PermissionError:
                        pass  # alive under another uid
            except OSError:
                pass  # unreadable/vanished: retry the claim once
            if not stale:
                return False
            broken = f"{lock}.broken-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            try:
                os.replace(lock, broken)
                os.remove(broken)
            except FileNotFoundError:
                pass
    return False


def _read_json(path: str) -> Optional[dict]:
    raw = _BACKEND.read(path)
    return None if raw is None else json.loads(raw)


def list_snapshot_ids(index_dir: str) -> List[int]:
    """Sorted claimed snapshot ids (backend-routed; [] = none)."""
    return _BACKEND.list_snapshot_ids(snapshots_dir(index_dir))


def read_snapshot_dict(index_dir: str, sid: int) -> Optional[dict]:
    """Raw dict of a claimed snapshot (backend-routed; None = never
    claimed or expired)."""
    return _read_json(_snapshot_path(index_dir, sid))


def latest_snapshot_id(index_dir: str) -> int:
    """Highest claimed snapshot id (0 = none)."""
    ids = list_snapshot_ids(index_dir)
    return ids[-1] if ids else 0


# fields earlier engine versions wrote and this one ignores (the retired
# doc_id pipe-narrowing transport); dropped on load so those indexes open
_RETIRED_MANIFEST_KEYS = ("doc_id_base", "doc_id_narrow")


def _manifest_from_dict(index_dir: str, d: dict) -> IndexManifest:
    m = IndexManifest(
        **{k: v for k, v in d.items() if k not in _RETIRED_MANIFEST_KEYS}
    )
    if m.doc_stats_files_ref is not None and m.doc_stats_files is None:
        ref = os.path.join(
            index_dir, m.doc_stats_files_ref.replace("/", os.sep)
        )
        with open(ref) as fh:
            m.doc_stats_files = sorted(json.load(fh))
    if m.segment_files_ref is not None and m.segment_files is None:
        # reconstitute the sharded file list from the per-bucket
        # sidecars (missing dir = empty snapshot was externalized,
        # which the writer never does — treat as corrupt loudly)
        ref = os.path.join(index_dir, m.segment_files_ref)
        files: List[str] = []
        for f in sorted(os.listdir(ref)):
            if f.endswith(".json"):
                with open(os.path.join(ref, f)) as fh:
                    files.extend(json.load(fh))
        m.segment_files = sorted(files)
    return m


def load_manifest(index_dir: str) -> Optional[IndexManifest]:
    """Current committed snapshot: manifest.json, unless the snapshots
    dir holds a NEWER claimed snapshot (a committer crashed between
    its claim — the real commit point — and the pointer update)."""
    d = _read_json(manifest_path(index_dir))
    m = _manifest_from_dict(index_dir, d) if d is not None else None
    latest = latest_snapshot_id(index_dir)
    if latest > (m.snapshot_id if m is not None else 0):
        # the snapshot listed a moment ago may have been expired by a
        # concurrent expire_snapshots between latest_snapshot_id() and
        # this read — fall back to the pointer manifest instead of
        # IndexManifest(**None) (same None-guard snapshot_history and
        # vacuum_segments already apply)
        sd = read_snapshot_dict(index_dir, latest)
        if sd is not None:
            m = _manifest_from_dict(index_dir, sd)
    return m


def _externalize_file_list(index_dir: str, m: IndexManifest) -> dict:
    """Serialize m for commit: if the file list is large, write it as
    per-bucket sidecar JSONs and null it in the returned dict. The
    sidecar dir is content-addressed by a fresh token, written fully
    BEFORE the snapshot claim references it (orphans from a lost CAS
    race are expired with their snapshots)."""
    d = asdict(m)
    ds_files = m.doc_stats_files
    if ds_files is not None and len(ds_files) > SEGMENT_FILES_INLINE_MAX:
        token_ds = uuid.uuid4().hex[:12]
        ref_ds_dir = os.path.join(index_dir, "filelists")
        os.makedirs(ref_ds_dir, exist_ok=True)
        tmp = os.path.join(ref_ds_dir, f".tmp-docstats-{token_ds}.json")
        with open(tmp, "w") as fh:
            json.dump(sorted(ds_files), fh)
        os.replace(
            tmp, os.path.join(ref_ds_dir, f"docstats-{token_ds}.json")
        )
        d["doc_stats_files"] = None
        d["doc_stats_files_ref"] = f"filelists/docstats-{token_ds}.json"
        m.doc_stats_files_ref = d["doc_stats_files_ref"]
    else:
        d["doc_stats_files_ref"] = None
    files = m.segment_files
    if files is None or len(files) <= SEGMENT_FILES_INLINE_MAX:
        d["segment_files_ref"] = None
        return d
    token = uuid.uuid4().hex[:12]
    ref = f"filelists/{token}"
    ref_abs = os.path.join(index_dir, ref)
    os.makedirs(ref_abs, exist_ok=True)
    by_bucket: Dict[int, List[str]] = {}
    for p in files:
        mb = _BUCKET_PREFIX_RE.match(p)
        by_bucket.setdefault(int(mb.group(1)) if mb else -1, []).append(p)
    for b, plist in by_bucket.items():
        tmp = os.path.join(ref_abs, f".tmp-bucket-{b:05d}.json")
        with open(tmp, "w") as f:
            json.dump(sorted(plist), f)
        os.replace(tmp, os.path.join(ref_abs, f"bucket-{b:05d}.json"))
    d["segment_files"] = None
    d["segment_files_ref"] = ref
    m.segment_files_ref = ref
    return d


def _write_pointer(index_dir: str, payload: dict, sid: int) -> None:
    """Best-effort manifest.json pointer update: skip if the pointer is
    already at a newer snapshot (a slower CAS winner must not regress
    it; the benign remaining race is covered by load_manifest's
    snapshots-dir scan)."""
    p = manifest_path(index_dir)
    try:
        cur = _read_json(p)
        if cur is not None and cur.get("snapshot_id", 0) >= sid:
            return
    except (json.JSONDecodeError, OSError):
        pass
    _BACKEND.put(p, json.dumps(payload, indent=2))


def _slash_paths(m: IndexManifest) -> None:
    """Manifest file lists are always '/'-separated (see segment_files)."""
    for k in ("segment_files", "tombstone_files", "doc_stats_files"):
        files = getattr(m, k)
        if files is not None:
            setattr(m, k, [p.replace(os.sep, "/") for p in files])


def save_manifest(index_dir: str, m: IndexManifest) -> None:
    """Unconditional last-write-wins save — the SINGLE-writer path
    (batch build stage checkpoints, test rewinds). Bumps snapshot_id
    past every claimed snapshot so the saved state is what
    load_manifest returns. The state is persisted to snapshots/ via the
    same claim protocol as commit_manifest — every committed state is
    part of time-travel history (load_snapshot / snapshot_history) —
    but unlike commit_manifest it never rebases: losing a claim just
    re-bumps the id and claims the next one (last-write-wins)."""
    _slash_paths(m)
    while True:
        m.snapshot_id = (
            max(m.snapshot_id, latest_snapshot_id(index_dir)) + 1
        )
        payload = _externalize_file_list(index_dir, m)
        if _BACKEND.claim(
            _snapshot_path(index_dir, m.snapshot_id),
            json.dumps(payload, indent=2),
        ):
            break
    _write_pointer(index_dir, payload, m.snapshot_id)


def load_snapshot(
    index_dir: str, snapshot_id: int
) -> Optional[IndexManifest]:
    """Time travel: load a specific claimed snapshot (None if it was
    never claimed or has been expired by expire_snapshots). The
    returned manifest describes the index AS OF that commit; its data
    files remain readable until vacuum_segments expires them — the
    Iceberg read-older-snapshot contract."""
    d = read_snapshot_dict(index_dir, snapshot_id)
    if d is None:
        return None
    return _manifest_from_dict(index_dir, d)


def snapshot_history(index_dir: str) -> List[dict]:
    """Newest-last summaries of every retained claimed snapshot:
    {snapshot_id, n_docs, n_shards, n_files, stages}. The audit /
    time-travel catalog surface (Iceberg's snapshots metadata table);
    bounded by expire_snapshots."""
    out: List[dict] = []
    for sid in list_snapshot_ids(index_dir):
        j = read_snapshot_dict(index_dir, sid)
        if j is None:  # expired between list and read
            continue
        files = j.get("segment_files")
        out.append(
            {
                "snapshot_id": sid,
                "n_docs": j.get("n_docs"),
                "n_shards": j.get("n_shards"),
                "n_files": (
                    len(files)
                    if files is not None
                    else None  # sharded sidecar list — count on demand
                ),
                "complete": j.get("complete"),
                "stages": sorted(j.get("stages") or {}),
            }
        )
    return out


class CommitConflict(RuntimeError):
    """commit_manifest exhausted its CAS retries."""


def commit_manifest(
    index_dir: str,
    mutate: Callable[[IndexManifest], Optional[bool]],
    max_retries: int = 20,
) -> IndexManifest:
    """Optimistic-CAS manifest commit (Iceberg-style; closes the
    single-writer caveat that round-5 compact_in_place documented).

    mutate(man) is called on a FRESHLY loaded manifest (a new one if
    none exists) and mutates it in place; return False to abort (the
    state is already committed — e.g. an at-least-once redelivery of a
    committed micro-batch). mutate MUST be written as a rebase: it may
    run several times, each time against the then-latest snapshot.

    Claim protocol: the new state is fully written to a tmp file, then
    hardlinked onto snapshots/v{sid+1}.json — os.link is atomic and
    fails with EEXIST if another writer claimed that sid first, in
    which case we reload and re-run mutate (rebase) and retry. The
    claim IS the commit point: a crash after it is already durable
    (load_manifest prefers the newest claimed snapshot); the
    manifest.json pointer update after it is best-effort."""
    for _ in range(max_retries):
        man = load_manifest(index_dir)
        if man is None:
            man = IndexManifest(format_version=FORMAT_VERSION)
        if mutate(man) is False:
            return man
        sid = man.snapshot_id + 1
        man.snapshot_id = sid
        _slash_paths(man)
        payload = _externalize_file_list(index_dir, man)
        if not _BACKEND.claim(
            _snapshot_path(index_dir, sid), json.dumps(payload, indent=2)
        ):
            continue  # lost the race — rebase onto the winner and retry
        _write_pointer(index_dir, payload, sid)
        return man
    raise CommitConflict(
        f"gave up after {max_retries} CAS attempts at {index_dir}"
    )


def expire_snapshots(
    index_dir: str, retain_last: int = 2, sidecar_grace_s: float = 3600.0
) -> int:
    """Drop snapshot history older than the last `retain_last` claimed
    snapshots, plus filelist sidecars no retained snapshot (or the
    pointer) references. Bounds snapshots/ + filelists/ growth; run
    with (or after) vacuum_segments. Returns files removed.

    sidecar_grace_s: filelist sidecar dirs YOUNGER than this are kept
    even when unreferenced — commit_manifest/save_manifest write the
    sidecar fully BEFORE the snapshot claim references it, so an
    expirer racing an in-flight commit would otherwise delete the dir
    the imminent claim points at and leave that snapshot unreadable
    (same landing-window guard as vacuum_segments' grace). Pass 0 only
    when no writer can be active."""
    if retain_last < 1:
        raise ValueError(f"retain_last must be >= 1, got {retain_last}")
    removed = 0
    sids = list_snapshot_ids(index_dir)
    keep_sids = set(sids[-retain_last:])
    live_refs = set()

    def _collect_refs(j: Optional[dict]) -> None:
        for k in ("segment_files_ref", "doc_stats_files_ref"):
            ref = (j or {}).get(k)
            if ref:
                live_refs.add(ref)

    for sid in keep_sids:
        _collect_refs(read_snapshot_dict(index_dir, sid))
    _collect_refs(_read_json(manifest_path(index_dir)))
    for sid in sids:
        if sid not in keep_sids:
            _BACKEND.delete(_snapshot_path(index_dir, sid))
            removed += 1
    fl = filelists_dir(index_dir)
    if os.path.isdir(fl):
        import time as _time

        cutoff = _time.time() - sidecar_grace_s
        for tok in os.listdir(fl):
            tok_path = os.path.join(fl, tok)
            if f"filelists/{tok}" in live_refs:
                continue
            if sidecar_grace_s > 0 and os.path.getmtime(tok_path) > cutoff:
                continue  # possibly an in-flight commit's landing sidecar
            if os.path.isdir(tok_path):
                shutil.rmtree(tok_path, ignore_errors=True)
            else:
                os.remove(tok_path)  # docstats-*.json sidecar file
            removed += 1
    return removed


# read-side schema of the segments table (data columns + the term_bucket
# partition column). Passed explicitly wherever segments are read so an
# EMPTY index (every doc tokenized to zero tokens -> zero segment files)
# reads as an empty DataFrame instead of failing schema inference.
SEG_READ_SCHEMA = (
    "term_id long, shard int, df_part long, cf_part long, "
    "postings binary, positions binary, blockmax binary, "
    "bm_avgdl double, term_bucket int"
)


VOCAB_READ_SCHEMA = "term string, term_id long, term_bucket int"

# same explicit-schema discipline for the stats tables: a streaming-built
# index has no term_stats until rebuild_term_stats runs, and an all-blank
# corpus writes empty dirs — inference over zero files throws where an
# empty relation is the correct answer.
DOC_STATS_READ_SCHEMA = "doc_id long, url string, doc_len int"
TERM_STATS_READ_SCHEMA = (
    "term string, term_id long, df long, cf long, term_bucket int"
)


def list_segment_files(index_dir: str) -> List[str]:
    """Walk segments_dir and return sorted segments_dir-relative paths of
    every .parquet part file — used by writers at COMMIT time to record
    the snapshot's file set in the manifest (readers never walk)."""
    return _list_parquet_files(segments_dir(index_dir))


def list_doc_stats_files(index_dir: str) -> List[str]:
    """Same walk over doc_stats_dir (doc_stats is snapshot-tracked the
    same way as segments)."""
    return _list_parquet_files(doc_stats_dir(index_dir))


def _list_parquet_files(root: str) -> List[str]:
    out: List[str] = []
    if not os.path.isdir(root):
        return out
    for d, _dirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        # never snapshot committer staging (a crashed job's _temporary
        # tree also holds .parquet files) or hidden/_ metadata files
        if rel != "." and any(
            p.startswith(("_", ".")) for p in rel.split(os.sep)
        ):
            continue
        rel = rel.replace(os.sep, "/")  # manifest paths are always '/'
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(f if rel == "." else f"{rel}/{f}")
    return sorted(out)


def require_file_lists(index_dir: str, m: IndexManifest) -> None:
    """A complete manifest must carry both committed file lists: every
    reader and maintenance path opens exactly those files, never a
    directory scan."""
    if m.complete and (m.segment_files is None or m.doc_stats_files is None):
        raise ValueError(
            f"{index_dir}: no committed file list — rebuild the index"
        )


def read_committed(spark, root: str, files: List[str], schema: str):
    """Open exactly the given committed parquet files ('/'-separated
    paths relative to root) with an explicit schema; an empty list reads
    as an empty relation. basePath keeps partition-column discovery
    (term_bucket) for partitioned tables."""
    if not files:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("basePath", root)
        .parquet(*(os.path.join(root, p.replace("/", os.sep)) for p in files))
    )


def land(write: Callable[[str], None], root: str, prefix: str) -> List[str]:
    """Land one Spark write in the data dir `root` under a file-name
    prefix, idempotently: files under root starting with `prefix` are an
    earlier attempt's strays and go first; write(tmp) writes into a
    hidden sibling of root (unique per prefix, outside every tree a
    lister or sweep walks); each .parquet part moves to the same subdir
    of root as prefix + name. A retry replaces, never duplicates, what
    the prefix owns. Returns the moved files' root-relative '/' paths,
    sorted, for the caller's commit."""
    parent, name = os.path.split(root.rstrip("/"))
    tmp = os.path.join(parent, f".{name}-{prefix}tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(prefix):
                os.remove(os.path.join(d, f))
    write(tmp)
    out: List[str] = []
    for d, _dirs, files in os.walk(tmp):
        dst = os.path.join(root, os.path.relpath(d, tmp))
        for f in files:
            if f.endswith(".parquet"):
                os.makedirs(dst, exist_ok=True)
                moved = os.path.join(dst, prefix + f)
                os.replace(os.path.join(d, f), moved)
                out.append(os.path.relpath(moved, root).replace(os.sep, "/"))
    shutil.rmtree(tmp, ignore_errors=True)
    return sorted(out)


def put_table(
    d: str, name: str, table, row_group_bytes: Optional[int] = None
) -> None:
    """Write one driver-side pyarrow table as d/name: a hidden tmp file,
    then os.replace, so a reader never sees a partial file and a rewrite
    of the same name replaces it. row_group_bytes bounds each row group's
    uncompressed bytes (a row larger than the bound gets a group of its
    own), as parquet.block.size does for a Spark write."""
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    if row_group_bytes is None:
        pq.write_table(table, tmp)
    else:
        with pq.ParquetWriter(tmp, table.schema) as w:
            for s, e in _row_group_bounds(table, row_group_bytes):
                w.write_table(table.slice(s, e - s), row_group_size=e - s)
    os.replace(tmp, os.path.join(d, name))


def _row_group_bounds(table, max_bytes: int):
    """(start, end) row ranges of consecutive rows whose uncompressed
    bytes (variable-width values plus fixed widths) stay <= max_bytes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    size = np.zeros(table.num_rows, np.int64)
    for col in table.columns:
        if pa.types.is_binary(col.type) or pa.types.is_string(col.type):
            size += pc.binary_length(col).fill_null(0).to_numpy()
        else:
            size += col.type.bit_width // 8
    cum = np.cumsum(size)
    s = 0
    while s < table.num_rows:
        base = cum[s - 1] if s else 0
        e = max(s + 1, int(np.searchsorted(cum, base + max_bytes, "right")))
        yield s, e
        s = e


def put_partitioned(
    root: str, name: str, table, row_group_bytes: Optional[int] = None
) -> None:
    """put_table one file root/term_bucket=N/name per term_bucket value
    of table, holding that bucket's rows in table order without the
    term_bucket column (the directory carries it, as in a Spark
    partitionBy write). root exists afterwards even for an empty table."""
    import numpy as np

    os.makedirs(root, exist_ok=True)
    bucket = table.column("term_bucket").to_numpy()
    order = np.argsort(bucket, kind="stable")
    data = table.drop_columns(["term_bucket"]).take(order)
    bucket = bucket[order]
    starts = np.flatnonzero(np.diff(bucket, prepend=-1))
    for s, e in zip(starts, np.append(starts[1:], bucket.size)):
        put_table(
            os.path.join(root, f"term_bucket={bucket[s]}"),
            name,
            data.slice(s, e - s),
            row_group_bytes,
        )


def sweep(
    root: str, keep: Callable[[str, str], bool], recursive: bool = False
) -> int:
    """Remove the .parquet files directly under root (every subdir too
    when recursive) for which keep(rel, path) is false; rel is the
    root-relative '/' path, path the absolute one. A file another
    remover took first is skipped. Returns the number removed."""
    removed = 0
    for d, _dirs, files in os.walk(root):
        rel_dir = os.path.relpath(d, root).replace(os.sep, "/")
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(d, f)
            try:
                if keep(f if rel_dir == "." else f"{rel_dir}/{f}", p):
                    continue
                os.remove(p)
            except FileNotFoundError:
                continue
            removed += 1
        if not recursive:
            break
    return removed


def term_stats_of(seg, vocab):
    """term_stats rows (term, term_id, df, cf, term_bucket) of segment
    rows: the per-shard df/cf partials summed per term, named through
    vocab (needs term, term_id; one row per term_id)."""
    from pyspark.sql import functions as F

    return (
        seg.groupBy("term_id", "term_bucket")
        .agg(F.sum("df_part").alias("df"), F.sum("cf_part").alias("cf"))
        .join(vocab.select("term", "term_id"), "term_id")
        .select("term", "term_id", "df", "cf", "term_bucket")
    )


def fold_term_stats(ts):
    """Sum term_stats rows that share a term_id (a base table unioned
    with per-batch deltas, or the deltas alone) into one row each."""
    from pyspark.sql import functions as F

    return (
        ts.groupBy("term_id")
        .agg(
            F.min("term").alias("term"),
            F.sum("df").alias("df"),
            F.sum("cf").alias("cf"),
            F.min("term_bucket").alias("term_bucket"),
        )
        .select("term", "term_id", "df", "cf", "term_bucket")
    )


def segments_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "segments")


def doc_stats_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "doc_stats")


def term_stats_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "term_stats")


def term_stats_deltas_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "term_stats_deltas")


def tombstones_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def metrics_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "metrics")


# Parquet row-group byte target for segment files (all writers). The
# sidecar point read prunes row groups by term_id min/max; a large
# write partition left at the 128 MB writer default lands 100+ MB row
# groups and every single-term read then pulls a whole postings column
# chunk (measured at 1M docs: post-compaction cold p50 374 ms -> 202 ms
# after bounding this; BENCH.md round-7). Bulk scans are unaffected —
# files.maxPartitionBytes coalesces row groups per task.
SEGMENT_ROW_GROUP_BYTES = 8 * 1024 * 1024

SEGMENT_SCHEMA = (
    "term_id long, shard int, df_part long, cf_part long, "
    "postings binary, positions binary, blockmax binary, bm_avgdl double"
)


def vocab_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "vocab")
