"""Optimistic-CAS manifest commits (round-6): a compaction racing a
streaming append can never lose the other's files, in EITHER
interleaving; snapshot history + generation-based vacuum; sharded
(per-bucket sidecar) file lists keep manifest.json O(1) in file count.

The interleavings are driven deterministically: the racing writer's
commit is injected exactly between the victim's data-file landing and
its manifest commit (monkeypatched commit hook), which is the precise
window the round-5 single-writer caveat documented as lost-update."""

import json
import os

import pytest

from text_search_spark.index import format as fmt
from text_search_spark.index.merge import compact_in_place, vacuum_segments
from text_search_spark.index.query import IndexReader, QuerySpec, bm25_topk_rows
from text_search_spark.streaming.incremental import _append_batch


def _batch_df(spark, bid, n=30):
    return spark.createDataFrame(
        [
            (1000 * bid + i, f"u{bid}_{i}",
             f"alpha beta b{bid}tok common{i % 3} " * 2)
            for i in range(n)
        ],
        "doc_id long, url string, text string",
    )


def _doc_ids(spark, ix, term, k=500):
    rows = bm25_topk_rows(
        spark, ix, [QuerySpec("q", [term], "or")], k=k
    )
    return {r[2] for r in rows}


def test_cas_conflict_rebases_both_writers(tmp_path):
    """Two writers from the same base snapshot: the loser's claim fails
    (hardlink EEXIST), it reloads and re-applies its mutation on the
    winner's state — both changes land, snapshot_id advances twice."""
    ix = str(tmp_path / "cas")
    m0 = fmt.IndexManifest(
        format_version=fmt.FORMAT_VERSION, complete=True, segment_files=[]
    )
    fmt.save_manifest(ix, m0)
    base_sid = fmt.load_manifest(ix).snapshot_id

    calls = {"n": 0}

    def writer_a(m):
        calls["n"] += 1
        if calls["n"] == 1:
            # while A deliberates, B commits from the same base
            fmt.commit_manifest(
                ix, lambda mb: mb.stages.__setitem__("b", True)
            )
        m.stages["a"] = True

    out = fmt.commit_manifest(ix, writer_a)
    assert calls["n"] == 2  # A lost the first claim and rebased
    final = fmt.load_manifest(ix)
    assert final.stages.get("a") and final.stages.get("b")
    assert final.snapshot_id == base_sid + 2 == out.snapshot_id


def test_claim_is_commit_point_without_pointer(tmp_path):
    """A crash between the snapshot claim and the manifest.json pointer
    update must already be committed: load_manifest prefers the newest
    claimed snapshot over a stale pointer."""
    ix = str(tmp_path / "claim")
    fmt.save_manifest(
        ix,
        fmt.IndexManifest(
            format_version=fmt.FORMAT_VERSION, complete=True, n_docs=1
        ),
    )
    m = fmt.load_manifest(ix)
    sid = m.snapshot_id + 1
    m.snapshot_id = sid
    m.n_docs = 42
    os.makedirs(fmt.snapshots_dir(ix), exist_ok=True)
    with open(fmt._snapshot_path(ix, sid), "w") as f:
        json.dump(
            fmt._externalize_file_list(ix, m), f
        )  # claim only — no pointer update (simulated crash)
    got = fmt.load_manifest(ix)
    assert got.n_docs == 42 and got.snapshot_id == sid


def test_compaction_racing_append_keeps_batch(spark, tmp_path, monkeypatch):
    """THE round-5 caveat: an append commits while a compaction is
    between its snapshot read and its manifest commit. The compaction
    must rebase — its compacted files replace exactly what it read,
    and the append's batch files stay in the committed snapshot."""
    import text_search_spark.index.merge as merge_mod

    ix = str(tmp_path / "race1")
    for bid in range(3):
        _append_batch(spark, _batch_df(spark, bid), ix, batch_id=bid)
    pre = fmt.load_manifest(ix)

    real_commit = fmt.commit_manifest
    fired = {"done": False}

    def inject_append_then_commit(index_dir, mutate, **kw):
        if not fired["done"]:
            fired["done"] = True
            # the racing append lands AND commits first (it goes
            # through the real, un-patched protocol underneath)
            _append_batch(spark, _batch_df(spark, 3), ix, batch_id=3)
        return real_commit(index_dir, mutate, **kw)

    monkeypatch.setattr(
        merge_mod.fmt, "commit_manifest", inject_append_then_commit
    )
    compact_in_place(spark, ix)
    monkeypatch.undo()

    man = fmt.load_manifest(ix)
    assert fired["done"]
    assert man.stages.get("stream:3") and man.stages.get("compact:0")
    names = [os.path.basename(p) for p in man.segment_files]
    assert any(n.startswith("batch3-") for n in names), "append lost!"
    assert any(n.startswith("compact0-") for n in names)
    # none of the pre-compaction files survive in the snapshot
    assert not (set(pre.segment_files) & set(man.segment_files))
    # every batch's docs answer — including the racing batch's
    assert _doc_ids(spark, ix, "b3tok") == {3000 + i for i in range(30)}
    all_docs = _doc_ids(spark, ix, "alpha")
    assert all_docs == {1000 * b + i for b in range(4) for i in range(30)}
    assert man.n_docs == 120


def test_concurrent_compaction_fails_loudly(spark, tmp_path):
    """Round-7 ADVICE fix: two compactions of the same snapshot compute
    the same generation prefix; without a claim, each one's stray
    cleanup deletes the other's landing files and the survivor commits
    a snapshot referencing deleted files. Pinned: the second claim
    raises RuntimeError BEFORE any cleanup, and a stale claim (dead
    owner pid, same host) is broken so crash-rerun still works."""
    ix = str(tmp_path / "locked")
    for bid in range(2):
        _append_batch(spark, _batch_df(spark, bid), ix, batch_id=bid)

    from text_search_spark.index.merge import _claim_compaction_lock

    # simulate a LIVE concurrent compaction: claim gen 0 as ourselves
    # (our own pid is alive, so the stale-breaker must NOT fire)
    lock = _claim_compaction_lock(ix, 0)
    with pytest.raises(RuntimeError, match="one-at-a-time"):
        compact_in_place(spark, ix)
    # the held claim blocked it before landing anything
    assert not any(
        f.startswith("compact0-")
        for _, _, fs in os.walk(fmt.segments_dir(ix))
        for f in fs
    )

    # simulate a CRASHED compaction: rewrite the lock with a dead pid
    with open(lock, "w") as fh:
        fh.write(f"999999999@{__import__('socket').gethostname()}")
    compact_in_place(spark, ix)  # breaks the stale claim and proceeds
    man = fmt.load_manifest(ix)
    assert man.stages.get("compact:0")
    assert not os.path.exists(lock), "lock released after success"
    assert _doc_ids(spark, ix, "alpha") == {
        1000 * b + i for b in range(2) for i in range(30)
    }


def test_append_racing_compaction_keeps_both(spark, tmp_path, monkeypatch):
    """Reverse interleaving: a compaction commits while an append is
    between landing its files and committing. The append's mutate
    rebases onto the compacted snapshot: prev = compacted set (not the
    stale pre-compaction list), plus its own batch files."""
    import text_search_spark.streaming.incremental as inc_mod

    ix = str(tmp_path / "race2")
    for bid in range(3):
        _append_batch(spark, _batch_df(spark, bid), ix, batch_id=bid)

    real_commit = fmt.commit_manifest
    fired = {"done": False}

    def inject_compact_then_commit(index_dir, mutate, **kw):
        if not fired["done"]:
            fired["done"] = True
            compact_in_place(spark, ix)  # races in, commits first
        return real_commit(index_dir, mutate, **kw)

    monkeypatch.setattr(
        inc_mod.fmt, "commit_manifest", inject_compact_then_commit
    )
    _append_batch(spark, _batch_df(spark, 3), ix, batch_id=3)
    monkeypatch.undo()

    man = fmt.load_manifest(ix)
    assert fired["done"]
    names = [os.path.basename(p) for p in man.segment_files]
    assert any(n.startswith("compact0-") for n in names), "compaction lost!"
    assert any(n.startswith("batch3-") for n in names)
    # no stale pre-compaction batch0/1/2 files leaked back in
    assert not any(
        n.startswith(("batch0-", "batch1-", "batch2-")) for n in names
    )
    all_docs = _doc_ids(spark, ix, "alpha")
    assert all_docs == {1000 * b + i for b in range(4) for i in range(30)}


def test_threaded_appends_and_compaction(spark, tmp_path):
    """True concurrency smoke: a thread streams appends while the main
    thread compacts. Whatever the interleaving, CAS guarantees every
    committed batch's docs are in the final snapshot."""
    import threading

    ix = str(tmp_path / "race3")
    _append_batch(spark, _batch_df(spark, 0), ix, batch_id=0)

    def appender():
        for bid in range(1, 4):
            _append_batch(spark, _batch_df(spark, bid), ix, batch_id=bid)

    t = threading.Thread(target=appender)
    t.start()
    compact_in_place(spark, ix)
    t.join()

    man = fmt.load_manifest(ix)
    assert man.stages.get("compact:0")
    assert all(man.stages.get(f"stream:{b}") for b in range(4))
    all_docs = _doc_ids(spark, ix, "alpha")
    assert all_docs == {1000 * b + i for b in range(4) for i in range(30)}
    assert man.n_docs == 120


def test_sharded_file_list_keeps_manifest_small(
    spark, tmp_path, monkeypatch
):
    """Above the inline threshold the file list moves to per-bucket
    sidecars: manifest.json carries only a ref (size independent of
    file count), load reconstitutes the full list, bucket-scoped
    lookups and queries stay green, and vacuum still sees history."""
    monkeypatch.setattr(fmt, "SEGMENT_FILES_INLINE_MAX", 2)
    ix = str(tmp_path / "sharded")
    for bid in range(3):
        _append_batch(spark, _batch_df(spark, bid), ix, batch_id=bid)

    with open(fmt.manifest_path(ix)) as f:
        raw = json.load(f)
    assert raw["segment_files"] is None
    assert raw["segment_files_ref"].startswith("filelists/")
    # doc_stats file list externalizes past the same cap (round-6b)
    assert raw["doc_stats_files"] is None
    assert raw["doc_stats_files_ref"].startswith("filelists/docstats-")
    man = fmt.load_manifest(ix)
    assert man.segment_files is not None and len(man.segment_files) > 2
    assert sorted(man.segment_files) == fmt.list_segment_files(ix)
    assert sorted(man.doc_stats_files) == fmt.list_doc_stats_files(ix)
    assert IndexReader(spark, ix).doc_stats().count() == 90

    reader = IndexReader(spark, ix)
    per_bucket = [
        reader.segment_files_for_buckets([b])
        for b in range(man.n_buckets)
    ]
    assert sorted(
        os.path.relpath(p, fmt.segments_dir(ix)).replace(os.sep, "/")
        for fl in per_bucket
        for p in fl
    ) == man.segment_files
    assert _doc_ids(spark, ix, "alpha") == {
        1000 * b + i for b in range(3) for i in range(30)
    }
    # compaction + expiry keep working on the sharded representation
    compact_in_place(spark, ix)
    assert _doc_ids(spark, ix, "alpha") == {
        1000 * b + i for b in range(3) for i in range(30)
    }
    vacuum_segments(ix, grace_s=0)
    assert fmt.expire_snapshots(ix, retain_last=1) > 0
    assert _doc_ids(spark, ix, "alpha") == {
        1000 * b + i for b in range(3) for i in range(30)
    }


def test_generation_vacuum_protects_uncommitted_batch(spark, tmp_path):
    """The round-5 vacuum guard was wall-clock mtime; round-6 is
    generation-based: an arbitrarily OLD (mtime-backdated) landing file
    of an uncommitted batch survives even grace_s=0, until its batch
    commits (file becomes referenced) or aborts (a later batch id
    commits — it can never retry)."""
    ix = str(tmp_path / "genvac")
    for bid in range(2):
        _append_batch(spark, _batch_df(spark, bid), ix, batch_id=bid)

    # plant a landing file for future batch 7, backdated a week
    seg = fmt.segments_dir(ix)
    bucket = next(d for d in os.listdir(seg) if d.startswith("term_bucket="))
    straggler = os.path.join(seg, bucket, "batch7-part-0000.parquet")
    with open(straggler, "wb") as f:
        f.write(b"landing")
    week_ago = os.path.getmtime(straggler) - 7 * 86400
    os.utime(straggler, (week_ago, week_ago))

    assert vacuum_segments(ix, grace_s=0) == 0
    assert os.path.exists(straggler), "uncommitted landing file deleted!"

    # batch 8 commits => batch 7 can never retry (monotone batch ids):
    # the straggler is an orphan now and expires
    _append_batch(spark, _batch_df(spark, 8), ix, batch_id=8)
    removed = vacuum_segments(ix, grace_s=0)
    assert removed >= 1 and not os.path.exists(straggler)
    # the committed snapshot still answers in full
    assert _doc_ids(spark, ix, "alpha") == {
        1000 * b + i for b in (0, 1, 8) for i in range(30)
    }


def test_vacuum_retain_last_keeps_previous_snapshot(spark, tmp_path):
    """retain_last=2 keeps the files of the pre-compaction snapshot (a
    reader may still pin it); retain_last=1 then expires them."""
    ix = str(tmp_path / "retain")
    for bid in range(2):
        _append_batch(spark, _batch_df(spark, bid), ix, batch_id=bid)
    pre = fmt.load_manifest(ix)
    old_reader = IndexReader(spark, ix)
    compact_in_place(spark, ix)

    n_hist = 2 + fmt.load_manifest(ix).snapshot_id - pre.snapshot_id
    assert vacuum_segments(ix, grace_s=0, retain_last=n_hist) == 0
    # the pinned old reader still answers from its snapshot's files
    assert bm25_topk_rows(
        spark, ix, [QuerySpec("q", ["alpha"], "or")], k=5,
        reader=old_reader,
    )
    assert vacuum_segments(ix, grace_s=0, retain_last=1) > 0
    assert sorted(fmt.list_segment_files(ix)) == fmt.load_manifest(
        ix
    ).segment_files


def test_expire_snapshots_bounds_history(tmp_path):
    ix = str(tmp_path / "expire")
    for i in range(6):
        fmt.commit_manifest(
            ix, lambda m, i=i: m.stages.__setitem__(f"s{i}", True)
        )
    d = fmt.snapshots_dir(ix)
    assert len(os.listdir(d)) == 6
    removed = fmt.expire_snapshots(ix, retain_last=2)
    assert removed == 4
    kept = sorted(os.listdir(d))
    assert len(kept) == 2
    # newest state still loads intact
    m = fmt.load_manifest(ix)
    assert all(m.stages.get(f"s{i}") for i in range(6))


# ---- round-7 (VERDICT item 6): the commit-backend seam ----
# The protocol must depend ONLY on the CommitBackend contract (atomic
# claim / LWW put / read / delete / list), never on os.link or any
# other local-FS fact — so an in-memory mock (the shape of an S3
# conditional-PUT backend) must carry the same interleavings the
# local backend does, with ZERO metadata files appearing on disk.


class _MemBackend(fmt.CommitBackend):
    """In-memory metadata store with compare-and-claim semantics —
    models `PUT If-None-Match: *`."""

    def __init__(self):
        import threading

        self.store = {}
        self.mu = threading.Lock()
        self.n_claims = 0
        self.n_lost = 0

    def claim(self, path, payload):
        with self.mu:
            self.n_claims += 1
            if path in self.store:
                self.n_lost += 1
                return False
            self.store[path] = payload
            return True

    def put(self, path, payload):
        with self.mu:
            self.store[path] = payload

    def read(self, path):
        with self.mu:
            return self.store.get(path)

    def delete(self, path):
        with self.mu:
            self.store.pop(path, None)

    def list_snapshot_ids(self, snap_dir):
        import re as _re

        with self.mu:
            return sorted(
                int(m.group(1))
                for p in self.store
                if os.path.dirname(p) == snap_dir
                and (m := _re.fullmatch(
                    r"v(\d+)\.json", os.path.basename(p)))
            )


@pytest.fixture
def mem_backend():
    b = _MemBackend()
    prev = fmt.set_commit_backend(b)
    try:
        yield b
    finally:
        fmt.set_commit_backend(prev)


def test_mock_backend_cas_rebase(tmp_path, mem_backend):
    """The CAS-rebase interleaving, metadata entirely in the mock: the
    loser's claim returns False (no EEXIST anywhere), it rebases, both
    writers' changes land — and the real snapshots/ dir never exists."""
    ix = str(tmp_path / "mem_cas")
    fmt.save_manifest(
        ix,
        fmt.IndexManifest(
            format_version=fmt.FORMAT_VERSION, complete=True,
            segment_files=[],
        ),
    )
    base_sid = fmt.load_manifest(ix).snapshot_id
    calls = {"n": 0}

    def writer_a(m):
        calls["n"] += 1
        if calls["n"] == 1:
            fmt.commit_manifest(
                ix, lambda mb: mb.stages.__setitem__("b", True)
            )
        m.stages["a"] = True

    fmt.commit_manifest(ix, writer_a)
    assert calls["n"] == 2 and mem_backend.n_lost == 1
    final = fmt.load_manifest(ix)
    assert final.stages.get("a") and final.stages.get("b")
    assert final.snapshot_id == base_sid + 2
    assert not os.path.exists(fmt.snapshots_dir(ix)), (
        "metadata leaked to local FS past the backend seam"
    )
    assert not os.path.exists(fmt.manifest_path(ix))


def test_mock_backend_claim_is_commit_point(tmp_path, mem_backend):
    """Pointer-less claim (simulated crash between claim and pointer
    put) is already committed through the mock; expire_snapshots
    deletes through the mock."""
    ix = str(tmp_path / "mem_claim")
    fmt.save_manifest(
        ix, fmt.IndexManifest(format_version=fmt.FORMAT_VERSION, n_docs=1)
    )
    m = fmt.load_manifest(ix)
    sid = m.snapshot_id + 1
    m.snapshot_id = sid
    m.n_docs = 42
    assert mem_backend.claim(
        fmt._snapshot_path(ix, sid),
        json.dumps(fmt._externalize_file_list(ix, m)),
    )
    got = fmt.load_manifest(ix)
    assert got.n_docs == 42 and got.snapshot_id == sid
    assert fmt.load_snapshot(ix, sid).n_docs == 42  # time travel too
    assert fmt.expire_snapshots(ix, retain_last=1) == 1
    assert fmt.load_snapshot(ix, sid - 1) is None
    assert fmt.load_manifest(ix).n_docs == 42


def test_mock_backend_compaction_racing_append(
    spark, tmp_path, mem_backend, monkeypatch
):
    """The round-5 lost-update interleaving end-to-end through the
    mock: data files (parquet) on local disk as Spark wrote them,
    EVERY metadata op through the mem store. Both writers' files are
    in the final snapshot and queries answer in full."""
    import text_search_spark.index.merge as merge_mod

    ix = str(tmp_path / "mem_race")
    for bid in range(2):
        _append_batch(spark, _batch_df(spark, bid), ix, batch_id=bid)

    real_commit = fmt.commit_manifest
    fired = {"done": False}

    def inject_append_then_commit(index_dir, mutate, **kw):
        if not fired["done"]:
            fired["done"] = True
            _append_batch(spark, _batch_df(spark, 2), ix, batch_id=2)
        return real_commit(index_dir, mutate, **kw)

    monkeypatch.setattr(
        merge_mod.fmt, "commit_manifest", inject_append_then_commit
    )
    compact_in_place(spark, ix)
    monkeypatch.undo()

    man = fmt.load_manifest(ix)
    # (the racing append commits before the compaction's claim loop
    # loads, so the rebase is the fresh load — no claim is lost here;
    # the lost-claim path is pinned by test_mock_backend_cas_rebase)
    assert fired["done"] and mem_backend.n_claims >= 4
    names = [os.path.basename(p) for p in man.segment_files]
    assert any(n.startswith("batch2-") for n in names), "append lost!"
    assert any(n.startswith("compact0-") for n in names)
    assert _doc_ids(spark, ix, "alpha") == {
        1000 * b + i for b in range(3) for i in range(30)
    }
    assert not os.path.exists(fmt.manifest_path(ix)), (
        "pointer bypassed the backend"
    )


def test_manifest_with_retired_narrowing_keys_loads(tmp_path):
    """Manifests written while the doc_id pipe narrowing existed carry
    doc_id_base / doc_id_narrow; loading drops exactly those keys."""
    from dataclasses import asdict

    ix = str(tmp_path / "retired_keys")
    os.makedirs(ix)
    d = asdict(fmt.IndexManifest(complete=True, n_docs=3, segment_files=[]))
    d.update(doc_id_base=1000, doc_id_narrow=True)
    with open(fmt.manifest_path(ix), "w") as f:
        json.dump(d, f)
    m = fmt.load_manifest(ix)
    assert m.complete and m.n_docs == 3 and m.segment_files == []
    assert not {"doc_id_base", "doc_id_narrow"} & set(vars(m))


def test_complete_manifest_without_file_list_is_refused(spark, tmp_path):
    """A complete manifest must carry its committed file lists: the
    reader raises instead of scanning the directory."""
    ix = str(tmp_path / "no_list")
    fmt.save_manifest(ix, fmt.IndexManifest(
        format_version=fmt.FORMAT_VERSION, complete=True, doc_stats_files=[]
    ))
    with pytest.raises(ValueError, match="no committed file list"):
        IndexReader(spark, ix)
