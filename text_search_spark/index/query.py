"""BM25 top-k query engine over the doc-sharded inverted index (M4).

The reference's "ranking operator" is a per-query candidate-document vote
(/root/reference/textsearch/python/textsearch/match.py:453-478: coverage
argmax + min-ratio gate); BM25 top-k generalizes it (SURVEY.md §2.3 J3) with
the same discipline: deterministic scores, explicit total-order tie-break
(score desc, doc_id asc).

Query plan:
  1. driver (_plan_queries, shared by every route): normalize query
     terms with the canonical tokenizer; compute term buckets with a
     driver-side XXH64 (bit-identical to the build's F.xxhash64, no Spark
     job); global df per term summed from the reader's term directory
     (_FileTerms: per committed file of those buckets, its footer,
     term_id / df_part arrays and row-group ends, read on the file's
     first touch and kept while a snapshot commits it; binary search
     after that); idf weights.
  2. read only the query terms' segment rows; the positions column is
     read ONLY for phrase/near queries. One route choice
     (_topk_candidates) serves bm25_topk_rows and bm25_topk_df: the
     driver route reads them from the reader's term cache
     (IndexReader.term_postings: for uncached terms, only the files
     whose directory holds them and only the row groups holding their
     rows) when the batch's summed df is at most
     DRIVER_SCORE_MAX_POSTINGS and its tombstones fit the driver — no
     Spark job; the Spark route scans with term_bucket partition
     pruning + term_id predicate pushdown.
  3. per shard: each shard holds a doc-disjoint slice of EVERY term's
     postings (shard = hash(doc_id), build.py), so one group computes
     exact final BM25 scores for its docs with a FIXED per-term float64
     summation order (rank-identity discipline, SURVEY.md §7.3),
     evaluates AND/OR/phrase/near semantics, and emits its local top-k.
     The same _score_terms scores a group on the driver (no pandas) or,
     via the _score_shard_pdf adapter, in groupBy(shard).applyInPandas.
     OR queries run block-max MaxScore pruning (prune=True): terms are
     decoded in descending max-contribution order; once the remaining
     terms' upper bounds cannot beat the running kth score, their postings
     are decoded ONLY for blocks containing current candidates (the v2
     codec's fixed-width block directory makes the skip a byte-offset
     jump). Pruned docs are PROVABLY below the kth score, and survivors
     are re-accumulated in canonical term order -> exact, rank-identical
     top-k.
  4. global merge: k*n_shards candidate rows per query -> top-k by
     (score desc, doc_id asc): a driver sort (_merge_rows) on the
     driver route and in bm25_topk_rows; a window in bm25_topk_df's
     Spark route, which stays lazy.

On the Spark route no posting list ever crosses the network to another
shard's scorer, and the driver only ever sees k rows per query and shard.
"""

from __future__ import annotations

import math
import os
import time
from collections import OrderedDict
from dataclasses import dataclass
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..codec import (
    B,
    BLOCK,
    K1,
    decode_block_postings,
    decode_blockmax,
    decode_positions,
    decode_selected_blocks,
)
from ..functions.xxhash import pmod, xxhash64_str
from ..textnorm import tokenize
from . import format as fmt

# K1/B live in codec (imported above): the block-max bounds stored at
# build time (codec.tf_saturation) and the scoring here MUST share one
# definition or the MaxScore caps stop being upper bounds.


@dataclass
class QuerySpec:
    query_id: str
    terms: List[str]  # raw; normalized internally
    mode: str = "or"  # or | and | phrase | near
    window: int = 8  # near mode: max token span covering all terms


class IndexReader:
    # total postings (summed df_part) the driver-side term cache may hold
    # (LRU evict beyond it; 0 disables), per reader, on the DRIVER only.
    # An entry holds raw segment row bytes (positions when read) plus the
    # lazily decoded arrays (_TermPostings): ~54 B per cached posting on
    # the perfbench `serve` index (13 B rows, 41 B arrays), so 8M ~ 430 MB.
    # The term directory (_FileTerms) is outside this budget: 16 B per
    # segment row of each touched file, ~3 B per posting on that index.
    POSTINGS_CACHE_MAX = 8_000_000

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        snapshot_id: Optional[int] = None,
    ):
        """snapshot_id pins the reader to a historical claimed snapshot
        (time travel — fmt.snapshot_history lists them): queries answer
        against exactly that commit's file set, regardless of later
        appends/compactions. A pinned reader's refresh() keeps the pin
        (Iceberg as-of-snapshot scan semantics); its data files stay
        readable until vacuum_segments/expire_snapshots retire the
        snapshot, exactly like expiring a snapshot a scan still pins."""
        self.spark = spark
        self.index_dir = index_dir
        self.snapshot_id = snapshot_id
        self.postings_cache_max_postings = self.POSTINGS_CACHE_MAX
        self.manifest = self._load_validated()
        self._term_dir: Dict[str, _FileTerms] = {}
        self._reset()

    def _reset(self) -> None:
        """Drop every field derived from the loaded snapshot (a new one
        may add rows to ANY term, tombstones and a new avgdl). Term
        directory entries of files the new snapshot still commits are
        kept: a segment file is immutable and its landed name carries
        its write's unique part name, so a path never changes content."""
        self._df_cache: Dict[str, int] = {}
        self._segments_df: Optional[DataFrame] = None
        self._tombstones: Optional[np.ndarray] = None
        self._tomb_bound: Optional[int] = None
        # term_id -> (positions read?, summed df_part, {shard:
        # _TermPostings}); LRU order, bounded by total postings
        self._postings_cache: "OrderedDict[int, tuple]" = OrderedDict()
        self._postings_cache_size = 0
        # the term directory: committed segment files (absolute paths)
        # by term_bucket partition dir, and path -> _FileTerms of each
        # file a query touched
        root = fmt.segments_dir(self.index_dir)
        self._bucket_files: Dict[str, List[str]] = {}
        kept: Dict[str, _FileTerms] = {}
        for p in self.manifest.segment_files:  # always '/'-separated
            path = os.path.join(root, p.replace("/", os.sep))
            self._bucket_files.setdefault(p.split("/", 1)[0], []).append(path)
            if path in self._term_dir:
                kept[path] = self._term_dir[path]
        self._term_dir = kept

    def _postings_cache_put(self, tid, has_pos: bool, n: int, shards):
        """Insert one term's {shard: _TermPostings} (n = summed df_part),
        LRU-evicting until the total-postings budget holds. A single term
        bigger than the whole budget is not cached (it would evict
        everything for one entry)."""
        cap = self.postings_cache_max_postings
        if cap <= 0 or n > cap:
            return
        old = self._postings_cache.pop(tid, None)
        if old is not None:
            self._postings_cache_size -= old[1]
        while self._postings_cache and self._postings_cache_size + n > cap:
            _etid, evicted = self._postings_cache.popitem(last=False)
            self._postings_cache_size -= evicted[1]
        self._postings_cache[tid] = (has_pos, n, shards)
        self._postings_cache_size += n

    def term_postings(
        self,
        term_ids: Sequence[int],
        need_pos: bool,
        phase_sink: Optional[Dict[str, float]] = None,
    ) -> Dict[int, Dict[int, "_TermPostings"]]:
        """term_id -> {shard: _TermPostings}: the one driver-side segment
        read. Only terms the cache lacks (or holds without positions,
        when need_pos) are read, and cached: the term directory names
        the committed files of their buckets that hold them and the
        row groups holding their rows, and only those row groups are
        read (no dataset, no filter). phase_sink gets "read_s" and
        "files_read" (files whose row groups were read) only then. A
        term with no committed rows maps to {}."""
        cache = self._postings_cache
        out: Dict[int, dict] = {}
        for t in term_ids:
            hit = cache.get(t)
            if hit is not None and (hit[0] or not need_pos):
                cache.move_to_end(t)  # LRU touch
                out[t] = hit[2]
        missing = [t for t in term_ids if t not in out]
        fetched: Dict[int, dict] = {t: {} for t in missing}
        if missing:
            nb = self.manifest.n_buckets
            cols = ["df_part"] + _shard_columns(need_pos)
            want = np.unique(np.asarray(missing, np.int64))
            t0 = time.perf_counter()
            tombs, avgdl = self.tombstones(), self.manifest.avgdl
            sizes = dict.fromkeys(missing, 0)
            n_files = 0
            for path in self.segment_files_for_buckets(
                {pmod(t, nb) for t in missing}
            ):
                tbl = self._file_terms(path).read(path, want, cols)
                if tbl is None:
                    continue
                n_files += 1
                for n, shard, tid, pbuf, bm, bmav, *pos in zip(
                    *(tbl[c].to_pylist() for c in cols)
                ):
                    sizes[tid] += n
                    fetched[tid].setdefault(
                        shard, _TermPostings(avgdl, tombs)
                    ).add(pbuf, pos[0] if pos else b"", bm, bmav)
            _phase(phase_sink, "read_s", t0)
            if phase_sink is not None:
                phase_sink["files_read"] = (
                    phase_sink.get("files_read", 0) + n_files
                )
            for t in missing:
                self._postings_cache_put(t, need_pos, sizes[t], fetched[t])
        out.update(fetched)
        return out

    def _load_validated(self) -> "fmt.IndexManifest":
        """Load + validate the manifest — shared by __init__ and
        refresh() so a reader can never silently hold a None /
        incomplete / other-format manifest (e.g. the index dir was
        deleted for a rebuild while this reader was open)."""
        if self.snapshot_id is not None:
            m = fmt.load_snapshot(self.index_dir, self.snapshot_id)
            if m is None:
                raise ValueError(
                    f"no snapshot v{self.snapshot_id} at "
                    f"{self.index_dir} (never claimed, or expired by "
                    "expire_snapshots)"
                )
        else:
            m = fmt.load_manifest(self.index_dir)
        if m is None or not m.complete:
            raise ValueError(f"no complete index at {self.index_dir}")
        if m.format_version != fmt.FORMAT_VERSION:
            raise ValueError(
                f"index format v{m.format_version} at {self.index_dir}; "
                f"this reader needs v{fmt.FORMAT_VERSION} — rebuild the "
                "index"
            )
        if (m.k1, m.b) != (K1, B):
            raise ValueError(
                f"index was built for BM25 k1={m.k1} b={m.b}; this "
                f"engine scores with k1={K1} b={B} (codec.K1/B) — "
                "block-max bounds would not match the scorer"
            )
        fmt.require_file_lists(self.index_dir, m)
        return m

    def refresh(self) -> None:
        """Re-read the manifest (after incremental appends/deletes)."""
        self.manifest = self._load_validated()
        self._reset()

    def tombstones(self) -> np.ndarray:
        """Sorted tombstoned doc_ids of this reader's snapshot (empty
        array when none) — loaded once per reader/refresh, masked into
        every query path. The term cache is per snapshot too (its
        _TermPostings mask with these ids), so a delete only needs a
        refresh(), never a cache-coherence protocol."""
        if self._tombstones is None:
            from .delete import load_tombstones

            self._tombstones = load_tombstones(self.index_dir, self.manifest)
        return self._tombstones

    def tombstone_rows_bound(self) -> int:
        """Upper bound on this snapshot's tombstoned-id count, from
        parquet footers only (cached; no id is ever read). This is THE
        regime gate (round-7, VERDICT item 2): at or under
        delete.TOMBSTONE_DRIVER_MAX every query path uses the driver
        numpy union (lowest latency); above it no path materializes
        ids on the driver — scoring cogroups tombstones with the
        segment scan, doc_stats anti-joins executor-side."""
        if self._tomb_bound is None:
            from .delete import tombstone_rows_bound

            self._tomb_bound = tombstone_rows_bound(
                self.index_dir, self.manifest
            )
        return self._tomb_bound

    def tombstones_distributed(self) -> bool:
        """True when this snapshot's tombstones exceed the driver
        regime (see tombstone_rows_bound)."""
        from .delete import TOMBSTONE_DRIVER_MAX

        return self.tombstone_rows_bound() > TOMBSTONE_DRIVER_MAX

    def tombstones_df(self) -> Optional[DataFrame]:
        """This snapshot's tombstoned ids as DataFrame(doc_id long);
        None when it has none. Executor-side twin of tombstones()."""
        from .delete import tombstones_df

        return tombstones_df(self.spark, self.index_dir, self.manifest)

    def segments(self) -> DataFrame:
        # reuse one DataFrame across queries: the file listing + parquet
        # footer reads happen once per reader, not once per query
        if self._segments_df is None:
            # snapshot isolation: open exactly the manifest-committed file
            # set — part files an in-flight streaming append has landed
            # but not committed are invisible (Iceberg-style snapshot
            # read; see format.IndexManifest.segment_files)
            self._segments_df = fmt.read_committed(
                self.spark,
                fmt.segments_dir(self.index_dir),
                self.manifest.segment_files,
                fmt.SEG_READ_SCHEMA,
            )
        return self._segments_df

    def segment_files_for_buckets(self, buckets: Iterable[int]) -> List[str]:
        """Manifest-committed segment files (absolute paths) under the
        given term_bucket partitions — the file set every driver-side
        pyarrow read opens (snapshot isolation vs in-flight appends).
        Empty list = the committed snapshot has no files there."""
        return [
            f
            for b in sorted(set(buckets))
            for f in self._bucket_files.get(f"term_bucket={b}", ())
        ]

    def _file_terms(self, path: str) -> "_FileTerms":
        """The term directory entry of one committed segment file, read
        on its first touch; _reset keeps it while the file is committed."""
        ft = self._term_dir.get(path)
        if ft is None:
            ft = self._term_dir[path] = _FileTerms(path)
        return ft

    def term_stats(self) -> DataFrame:
        """df/cf per term of this snapshot, summed from its committed
        segment rows (the df the scorer reads) and named through the
        vocab table, one row per term_id (every appended batch lands its
        own vocab rows). No vocab files: an empty frame."""
        vocab_dir = fmt.vocab_dir(self.index_dir)
        if not os.path.isdir(vocab_dir):
            return self.spark.createDataFrame([], fmt.TERM_STATS_READ_SCHEMA)
        vocab = (
            self.spark.read.schema(fmt.VOCAB_READ_SCHEMA)
            .parquet(vocab_dir)
            .dropDuplicates(["term_id"])
        )
        return fmt.term_stats_of(self.segments(), vocab)

    def doc_stats(self) -> DataFrame:
        """This snapshot's doc_stats — opens exactly the manifest-
        committed file set (a pinned time-travel reader sees its own
        snapshot's rows even after a later purge landed replacement
        files), minus tombstoned docs."""
        ds = fmt.read_committed(
            self.spark,
            fmt.doc_stats_dir(self.index_dir),
            self.manifest.doc_stats_files,
            fmt.DOC_STATS_READ_SCHEMA,
        )
        if self.tombstones_distributed():
            # MASS regime: anti-join the tombstone parquet directly —
            # ids never touch the driver; AQE picks broadcast vs
            # shuffle from the measured size at runtime
            ds = ds.join(self.tombstones_df(), "doc_id", "left_anti")
        else:
            t = self.tombstones()
            if t.size:
                # tombstoned docs are gone from every reader surface,
                # not just scoring (compaction purges rows physically)
                tomb_df = self.spark.createDataFrame(
                    [(int(x),) for x in t], "doc_id long"
                )
                ds = ds.join(F.broadcast(tomb_df), "doc_id", "left_anti")
        return ds

    def ids_for(self, terms: Sequence[str]) -> Dict[str, int]:
        """term -> term_id via a driver-side XXH64 bit-identical to the
        build's F.xxhash64 (tests/test_xxhash.py) — no Spark job, no
        vocab join."""
        return {t: xxhash64_str(t) for t in set(terms)}

    def buckets_for(self, terms: Sequence[str]) -> Dict[str, int]:
        """term -> term_bucket (pmod of the term_id)."""
        nb = self.manifest.n_buckets
        ids = self.ids_for(terms)
        return {t: pmod(i, nb) for t, i in ids.items()}

    def df_for(self, terms: Sequence[str], buckets: Dict[str, int]) -> Dict[str, int]:
        """Global df per term, cached per reader.

        Summed on the DRIVER from the term directory (_FileTerms) of
        only the query terms' term_bucket partitions: a file's term_id /
        df_part columns are read on its first touch by this reader,
        later lookups open no file — NO Spark job, and df is known
        before any postings byte is read. A failed read (a truncated or
        missing segment file) propagates as pyarrow's error."""
        ids = self.ids_for(terms)
        missing = [t for t in set(terms) if t not in self._df_cache]
        if missing:
            found = self._df_sidecar_scan(
                [ids[t] for t in missing],
                sorted({buckets[t] for t in missing}),
            )
            for t in missing:
                self._df_cache[t] = found.get(ids[t], 0)
        return {t: self._df_cache[t] for t in set(terms)}

    def _df_sidecar_scan(
        self, id_list: List[int], blist: List[int]
    ) -> Dict[int, int]:
        # only the needed bucket partitions' files — never the whole
        # segments tree (a 10^12-doc index has many buckets; a query
        # touches len(terms) of them)
        want = np.unique(np.asarray(id_list, np.int64))
        out: Dict[int, int] = {}
        for path in self.segment_files_for_buckets(blist):
            ft = self._file_terms(path)
            for tid, lo, hi in ft.spans(want):
                out[tid] = out.get(tid, 0) + int(ft.df[lo:hi].sum())
        return out


class _FileTerms:
    """Term directory entry of one committed segment file, read once per
    reader while the file stays committed: its parquet footer, its
    term_id and df_part columns as NumPy arrays ordered by term_id
    (`order` maps them back to file rows; None when the file is already
    term-sorted, the usual case — checked, not assumed) and its
    row-group row ends. 16 B per segment row."""

    __slots__ = ("footer", "ids", "df", "order", "rg_ends")

    def __init__(self, path: str):
        with pq.ParquetFile(path) as pf:
            t = pf.read(columns=["term_id", "df_part"], use_threads=False)
            self.footer = pf.metadata
        ids, df = t["term_id"].to_numpy(), t["df_part"].to_numpy()
        self.order = None
        if (ids[1:] < ids[:-1]).any():
            self.order = np.argsort(ids, kind="stable")
            ids, df = ids[self.order], df[self.order]
        self.ids, self.df = ids, df
        self.rg_ends = np.cumsum(
            [self.footer.row_group(i).num_rows
             for i in range(self.footer.num_row_groups)],
            dtype=np.int64,
        )

    def spans(self, want: np.ndarray) -> List[Tuple[int, int, int]]:
        """(term_id, lo, hi) for each id of the sorted `want` this file
        holds: ids[lo:hi] / df[lo:hi] are its rows (binary search)."""
        lo = np.searchsorted(self.ids, want, "left")
        hi = np.searchsorted(self.ids, want, "right")
        return [
            (int(t), int(a), int(b)) for t, a, b in zip(want, lo, hi) if b > a
        ]

    def read(
        self, path: str, want: np.ndarray, columns: List[str]
    ) -> Optional[pa.Table]:
        """`columns` of this file's rows of the sorted term ids `want`,
        in file order, decoding only the row groups that hold them; None
        when the file holds none (it is not opened)."""
        sp = self.spans(want)
        if not sp:
            return None
        rows = np.concatenate([np.arange(lo, hi) for _, lo, hi in sp])
        if self.order is not None:
            rows = self.order[rows]
        rows.sort()
        sizes = np.diff(self.rg_ends, prepend=0)
        rg = np.searchsorted(self.rg_ends, rows, side="right")
        rgs = np.unique(rg)
        # row offset of each chosen row group in the table read back
        base = np.cumsum(sizes[rgs]) - sizes[rgs]
        local = rows - (self.rg_ends[rg] - sizes[rg]) + base[
            np.searchsorted(rgs, rg)
        ]
        with pq.ParquetFile(path, metadata=self.footer) as pf:
            tbl = pf.read_row_groups(
                rgs.tolist(), columns=columns, use_threads=False
            )
        return tbl.take(local)


def _normalize_queries(queries: Sequence[QuerySpec]) -> List[QuerySpec]:
    out = []
    for q in queries:
        terms = [nt for t in q.terms for nt in tokenize(t)]
        out.append(QuerySpec(q.query_id, terms, q.mode, q.window))
    return out


@dataclass
class _QueryPlan:
    """What every scoring route scores, built once per batch by
    _plan_queries so the driver and Spark routes cannot drift."""

    # (query_id, mode, [distinct term ids, first-occurrence order],
    # [idfs], phrase term-id sequence or None, near window)
    entries: List[tuple]
    hit_ids: List[int]  # term ids with df > 0: the only rows read
    buckets: List[int]  # their term_bucket partitions
    total_df: int  # summed df: the postings volume a route must decode
    need_pos: bool  # a phrase/near query reads the positions column
    avgdl: float


def _shard_columns(need_pos: bool) -> List[str]:
    """Segment columns a shard scorer reads."""
    return ["shard", "term_id", "postings", "blockmax", "bm_avgdl"] + (
        ["positions"] if need_pos else []
    )


def _plan_queries(
    r: "IndexReader", queries: Sequence[QuerySpec]
) -> Optional[_QueryPlan]:
    """Normalize, look up df (driver sidecar, cached per reader), weight
    by idf. None = no query has a term that hits the index."""
    man = r.manifest
    qs = _normalize_queries(queries)
    all_terms = sorted({t for q in qs for t in q.terms})
    buckets = r.buckets_for(all_terms)
    dfs = r.df_for(all_terms, buckets)
    n = man.n_docs

    def idf(t: str) -> float:
        d = dfs.get(t, 0)
        return math.log(1.0 + (n - d + 0.5) / (d + 0.5))

    ids = r.ids_for(all_terms)
    entries = []
    for q in qs:
        terms = list(dict.fromkeys(q.terms))
        if not terms:
            continue
        seq = [ids[t] for t in q.terms] if q.mode == "phrase" else None
        entries.append(
            (
                q.query_id,
                q.mode,
                [ids[t] for t in terms],
                [idf(t) for t in terms],
                seq,
                q.window,
            )
        )
    hit_terms = [t for t in all_terms if dfs.get(t, 0) > 0]
    if not entries or not hit_terms:
        return None
    return _QueryPlan(
        entries=entries,
        hit_ids=[ids[t] for t in hit_terms],
        buckets=sorted({buckets[t] for t in hit_terms}),
        total_df=sum(dfs[t] for t in hit_terms),
        need_pos=any(e[1] in ("phrase", "near") for e in entries),
        avgdl=man.avgdl,
    )


from ..codec import live_doc_mask as _live_mask, ragged_take_index


class _TermPostings:
    """All segment rows of one term within one shard (>1 row only after
    incremental appends), decoded lazily: fully, or selected-blocks-only.

    tombs: sorted tombstoned doc_ids (index/delete.py) — every decode
    surface (full / for_docs / positions_full) excludes them, so AND /
    OR / phrase / near and the MaxScore candidate generation all honor
    deletes through this one choke point. max_sat() deliberately does
    NOT re-tighten: bounds that include deleted docs are still valid
    upper bounds (pruning stays exact, just looser, until compaction
    purges)."""

    __slots__ = ("rows", "_full", "_pos", "_maxsat", "avgdl_now", "tombs")

    def __init__(
        self, avgdl_now: float, tombs: Optional[np.ndarray] = None
    ):
        self.rows: List[tuple] = []  # (postings, positions, blockmax, bmav)
        self._full = None
        self._pos = None
        self._maxsat = None
        self.avgdl_now = avgdl_now
        self.tombs = tombs

    def add(self, postings, positions, blockmax, bm_avgdl):
        self.rows.append(
            (bytes(postings), positions, bytes(blockmax), float(bm_avgdl))
        )

    def max_sat(self) -> float:
        """Upper bound of the tf-saturation factor under the CURRENT avgdl.
        Sidecar bounds were computed with the row's build-time bm_avgdl;
        sat(avgdl_now) <= sat(bm_avgdl) * max(1, avgdl_now/bm_avgdl), so
        incremental appends (avgdl drift) keep the bound safe."""
        if self._maxsat is None:
            m = 0.0
            for _, _, bm, bmav in self.rows:
                _, sat = decode_blockmax(bm)
                if sat.size:
                    corr = max(1.0, self.avgdl_now / bmav) if bmav > 0 else 1.0
                    m = max(m, float(sat.max()) * corr)
            self._maxsat = m
        return self._maxsat

    def full(self):
        """-> (doc_ids, tfs, dls) merged over rows, sorted by doc_id."""
        if self._full is None:
            parts = [decode_block_postings(p) for p, _, _, _ in self.rows]
            if len(parts) == 1:
                d, t, l = parts[0]
            else:
                d = np.concatenate([p[0] for p in parts])
                t = np.concatenate([p[1] for p in parts])
                l = np.concatenate([p[2] for p in parts])
                o = np.argsort(d, kind="stable")
                d, t, l = d[o], t[o], l[o]
            keep = _live_mask(d, self.tombs)
            if keep is not None:
                d, t, l = d[keep], t[keep], l[keep]
            self._full = (d, t, l)
        return self._full

    def for_docs(self, docs: np.ndarray):
        """-> (doc_ids, tfs, dls) restricted to `docs` (sorted array),
        decoding ONLY blocks that can contain them (byte-offset skip)."""
        if self._full is not None:  # already decoded — just filter
            d, t, l = self._full
            m = np.isin(d, docs, assume_unique=True)
            return d[m], t[m], l[m]
        ds, ts, ls = [], [], []
        for pbuf, _, bm, _bmav in self.rows:
            last_doc, _ = decode_blockmax(bm)
            if last_doc.size == 0:
                continue
            blk = np.searchsorted(last_doc, docs, side="left")
            blk = np.unique(blk[blk < last_doc.size])
            if blk.size == 0:
                continue
            bases = np.where(blk > 0, last_doc[np.maximum(blk - 1, 0)], 0)
            d, t, l = decode_selected_blocks(pbuf, blk, bases)
            m = np.isin(d, docs)
            keep = _live_mask(d, self.tombs)
            if keep is not None:
                m &= keep
            ds.append(d[m])
            ts.append(t[m])
            ls.append(l[m])
        if not ds:
            e = np.empty(0, np.int64)
            return e, e.copy(), e.copy()
        d = np.concatenate(ds)
        t = np.concatenate(ts)
        l = np.concatenate(ls)
        o = np.argsort(d, kind="stable")
        return d[o], t[o], l[o]

    def positions_full(self):
        """-> (doc_ids, tfs, flat_positions) merged, doc-sorted."""
        if self._pos is not None:
            return self._pos
        parts = []
        for pbuf, qbuf, _, _ in self.rows:
            d, t, _ = decode_block_postings(pbuf)
            flat = decode_positions(bytes(qbuf), t)
            keep = _live_mask(d, self.tombs)
            if keep is not None:
                # drop deleted docs AND their ragged position runs
                kidx = np.flatnonzero(keep)
                take = ragged_take_index(t, kidx)
                d, t, flat = d[kidx], t[kidx], flat[take]
            parts.append((d, t, flat))
        if len(parts) == 1:
            self._pos = parts[0]
            return self._pos
        d = np.concatenate([p[0] for p in parts])
        t = np.concatenate([p[1] for p in parts])
        order = np.argsort(d, kind="stable")
        # reorder ragged position segments to the sorted doc order
        flat_all = np.concatenate([p[2] for p in parts])
        take = ragged_take_index(t, order)
        self._pos = (d[order], t[order], flat_all[take])
        return self._pos


# candidate count up to which _topk_tiebreak runs the full lexsort. NumPy
# micro-timing on a 4-core VM, k=10, one thread, lexsort vs argpartition
# + boundary sort: 20 docs 2.9 vs 12.5 us, 200 docs 7.0 vs 13.2 us,
# 400 docs 11.5 vs 14.5 us, 500 docs 15.6 vs 14.5 us, 1,000 docs 43.9
# vs 17.3 us.
_TIEBREAK_LEXSORT_MAX = 450


def _topk_tiebreak(p: np.ndarray, docs: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k best scores with ties broken by doc_id asc (docs
    distinct) — the same set as np.lexsort((docs, -p))[:k], the total
    order of the global merge. Up to _TIEBREAK_LEXSORT_MAX candidates it
    is that lexsort; above, argpartition finds the kth score and only the
    docs at or above it are sorted (_score_terms uses it for one-term
    queries, whose candidates are a whole posting list). A bare
    np.argpartition keeps an ARBITRARY subset of boundary ties (e.g.
    duplicated pages with identical tf/dl), which can drop the doc the
    global merge's tie-break would keep. Unordered when p.size <= k
    (every index is kept; the merge orders them)."""
    if p.size <= k:
        return np.arange(p.size)
    if p.size <= _TIEBREAK_LEXSORT_MAX:
        return np.lexsort((docs, -p))[:k]
    part = np.argpartition(-p, k - 1)
    kth = p[part[k - 1]]
    cand = np.flatnonzero(p >= kth)
    order = np.lexsort((docs[cand], -p[cand]))
    return cand[order[:k]]


def _partial(w: float, tfs: np.ndarray, dls: np.ndarray, avgdl: float):
    f = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    denom = f + K1 * (1.0 - B + B * dl / avgdl)
    return (w * (f * (K1 + 1.0))) / denom


def _canonical_scores(
    terms: List[str],
    idfs: List[float],
    tp: Dict[str, "_TermPostings"],
    docs: np.ndarray,
    avgdl: float,
) -> np.ndarray:
    """Exact scores for the sorted doc array `docs`, accumulated in
    canonical (first-occurrence) term order — the oracle's float64 op
    order, so results are bit-identical regardless of pruning path."""
    acc = np.zeros(docs.size, dtype=np.float64)
    for t, w in zip(terms, idfs):
        if t not in tp:
            continue
        d, f, l = tp[t].for_docs(docs)
        if d.size == 0:
            continue
        idx = np.searchsorted(docs, d)
        acc[idx] += _partial(w, f, l, avgdl)
    return acc


def _or_candidates_pruned(
    terms: List[str],
    idfs: List[float],
    tp: Dict[str, "_TermPostings"],
    avgdl: float,
    k: int,
) -> np.ndarray:
    """Block-max MaxScore: returns a sorted doc array PROVABLY containing
    the exact top-k. Terms are fully decoded in descending upper-bound
    order only while the undeced terms' bounds could still beat the
    running kth partial score; after that, remaining terms can only
    re-score existing candidates (selected-block decode)."""
    present = [(t, w) for t, w in zip(terms, idfs) if t in tp]
    if not present:
        return np.empty(0, dtype=np.int64)
    # upper bound of a term's contribution to any doc
    caps = [w * tp[t].max_sat() for t, w in present]
    order = np.argsort([-c for c in caps], kind="stable")
    docs = np.empty(0, dtype=np.int64)
    scores = np.empty(0, dtype=np.float64)
    rest = float(sum(caps))
    for oi in order:
        t, w = present[oi]
        theta = (
            -np.inf
            if scores.size < k
            else float(np.partition(scores, scores.size - k)[scores.size - k])
        )
        if rest < theta:
            break  # no undecoded term set can create a new top-k doc
        d, f, l = tp[t].full()
        p = _partial(w, f, l, avgdl)
        new = np.setdiff1d(d, docs, assume_unique=True)
        merged = np.union1d(docs, new)
        ns = np.zeros(merged.size, dtype=np.float64)
        ns[np.searchsorted(merged, docs)] = scores
        ns[np.searchsorted(merged, d)] += p
        docs, scores = merged, ns
        rest -= caps[oi]
    return docs


def _phrase_docs(
    tp: Dict[str, "_TermPostings"], terms: List[str]
) -> np.ndarray:
    """Docs (within this shard) containing terms consecutively: positional
    intersection on (doc, pos) pairs via a dense local doc index."""
    for t in terms:
        if t not in tp:
            return np.empty(0, dtype=np.int64)
    dec = {t: tp[t].positions_full() for t in set(terms)}
    all_docs = np.unique(np.concatenate([dec[t][0] for t in terms]))

    # pack (local doc index, position) into one int64 for the n-way
    # intersection; the shift adapts to the longest document so packing
    # never overflows silently (>2^22-token docs exist at web scale)
    max_pos = max(
        (int(dec[t][2].max()) if dec[t][2].size else 0) for t in set(terms)
    )
    shift = max(22, max_pos.bit_length())
    if int(all_docs.size) >= (1 << (63 - shift)):
        raise OverflowError(
            f"phrase packing overflow: {all_docs.size} candidate docs with "
            f"positions up to {max_pos} exceed int64 packing"
        )

    def pairs(t: str, k: int) -> np.ndarray:
        doc_ids, tfs, flat_pos = dec[t]
        docs_rep = np.repeat(np.searchsorted(all_docs, doc_ids), tfs)
        p = flat_pos - k
        keep = p >= 0
        return docs_rep[keep] * (1 << shift) + p[keep]

    inter = pairs(terms[0], 0)
    for k, t in enumerate(terms[1:], start=1):
        inter = np.intersect1d(inter, pairs(t, k))
        if inter.size == 0:
            return np.empty(0, dtype=np.int64)
    return all_docs[np.unique(inter >> shift)]


def _near_docs(
    tp: Dict[str, "_TermPostings"], terms: List[str], window: int
) -> np.ndarray:
    """Docs (within this shard) where one occurrence of every distinct term
    fits in a token window <= `window` (minimal-covering-window sweep per
    candidate doc; candidates pre-filtered by the AND intersection)."""
    uterms = list(dict.fromkeys(terms))
    for t in uterms:
        if t not in tp:
            return np.empty(0, dtype=np.int64)
    dec = {t: tp[t].positions_full() for t in uterms}
    docs = None
    for t in uterms:
        d = dec[t][0]
        docs = d if docs is None else np.intersect1d(docs, d, assume_unique=True)
        if docs.size == 0:
            return np.empty(0, dtype=np.int64)
    m = len(uterms)
    if m == 1:
        return docs

    # fully vectorized minimal-covering-window sweep over ALL candidate
    # docs at once: positions are globalized per doc with a span gap
    # wider than the window (so windows never cross docs), events are
    # sorted once, and for each event we ask whether every term has an
    # occurrence within [pos - window, pos] via per-term running maxima.
    g_parts: List[np.ndarray] = []
    t_parts: List[np.ndarray] = []
    d_parts: List[np.ndarray] = []
    pos_parts = []
    max_pos = 0
    for t in uterms:
        d, tf, flat = dec[t]
        idx = np.searchsorted(d, docs)  # docs ⊆ d per the intersection
        lens = tf[idx]
        pos_v = flat[ragged_take_index(tf, idx)]
        pos_parts.append((pos_v, np.repeat(np.arange(docs.size), lens)))
        if pos_v.size:
            max_pos = max(max_pos, int(pos_v.max()))
    span = np.int64(max_pos + window + 2)
    if float(docs.size) * float(span) >= 2**53:  # float64 exactness bound
        raise OverflowError("near packing overflow")  # pragma: no cover
    for i, (pos_v, doc_rep) in enumerate(pos_parts):
        g_parts.append(doc_rep.astype(np.int64) * span + pos_v)
        t_parts.append(np.full(pos_v.size, i, dtype=np.int8))
        d_parts.append(doc_rep)
    g_all = np.concatenate(g_parts)
    t_all = np.concatenate(t_parts)
    d_all = np.concatenate(d_parts)
    order = np.argsort(g_all, kind="stable")
    gs = g_all[order].astype(np.float64)  # < 2^62 guarded; exact < 2^53
    ts_lbl = t_all[order]
    min_last = np.full(gs.size, np.inf)
    for k in range(m):
        vals = np.where(ts_lbl == k, gs, -np.inf)
        np.maximum.accumulate(vals, out=vals)
        np.minimum(min_last, vals, out=min_last)
    hit = gs - min_last <= window
    return docs[np.unique(d_all[order][hit])]


def _shard_scorer(
    plan,
    avgdl: float,
    k: int,
    prune: bool,
    tombs: Optional[np.ndarray] = None,
):
    """applyInPandas fn for one shard group.

    plan: list of (query_id, mode, [distinct terms, fixed order], [idfs],
    phrase_seq). Input: (shard, term, postings, positions?, blockmax) rows.
    Output: (query_id, doc_id, score) — the shard-local exact top-k.

    tombs (sorted np.int64, pickled into the UDF closure): tombstoned
    doc_ids every decode excludes. Ships with the task like the plan
    itself — correct only in the SMALL-tombstone regime
    (delete.TOMBSTONE_DRIVER_MAX); above it _shard_topk_candidates
    switches to _shard_scorer_cogrouped, which receives each shard's
    tombstones as cogrouped DATA instead of closure bytes."""

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        return _score_shard_pdf(pdf, plan, avgdl, k, prune, tombs)

    return score


def _shard_scorer_cogrouped(plan, avgdl: float, k: int, prune: bool):
    """applyInPandas fn for one cogrouped (segments, tombstones) shard
    group — the MASS-delete twin of _shard_scorer (round-7, VERDICT
    item 2): each group's tombstoned ids arrive as the right-side
    DataFrame rows (one shard's slice, ~n_tombs/n_shards ids), so the
    full union never exists on the driver OR in any task closure.
    Exclusion still happens inside posting decode, BEFORE the
    shard-local top-k — identical semantics to the closure path
    (pinned in tests/test_deletes.py)."""

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        tombs = (
            np.unique(right["doc_id"].to_numpy(dtype=np.int64, copy=False))
            if len(right)
            else None
        )
        return _score_shard_pdf(left, plan, avgdl, k, prune, tombs)

    return score


def _score_shard_pdf(
    pdf: pd.DataFrame,
    plan,
    avgdl: float,
    k: int,
    prune: bool,
    tombs: Optional[np.ndarray],
) -> pd.DataFrame:
    """_score_terms over one applyInPandas shard group's segment rows."""
    pos = pdf["positions"] if "positions" in pdf else [b""] * len(pdf)
    tp: Dict[int, _TermPostings] = {}
    for tid, pbuf, qbuf, bm, bmav in zip(
        pdf["term_id"], pdf["postings"], pos, pdf["blockmax"], pdf["bm_avgdl"]
    ):
        tp.setdefault(int(tid), _TermPostings(avgdl, tombs)).add(
            pbuf, qbuf, bm, bmav
        )
    out_q, out_d, out_s = _score_terms(tp, plan, avgdl, k, prune)
    return pd.DataFrame(
        {"query_id": out_q, "doc_id": out_d, "score": out_s}
    )


def _score_terms(
    tp: Dict[int, _TermPostings], plan, avgdl: float, k: int, prune: bool
) -> Tuple[List[str], List[int], List[float]]:
    """One shard's term_id -> _TermPostings scored for every plan query
    -> (query_ids, doc_ids, scores): each query's shard-local top-k."""
    out_q: List[str] = []
    out_d: List[int] = []
    out_s: List[float] = []
    for query_id, mode, terms, idfs, phrase_seq, window in plan:
        present = [t for t in terms if t in tp]
        if not present:
            continue
        if mode in ("and", "phrase", "near") and len(present) != len(
            terms
        ):
            continue
        if len(terms) == 1 and mode in ("or", "and"):
            # one term: its decoded postings are the candidates and its
            # partial IS the canonical score (0.0 + x == x) — no union,
            # no selected-block re-decode
            docs, tfs, dls = tp[terms[0]].full()
            acc = _partial(idfs[0], tfs, dls, avgdl)
            idx = _topk_tiebreak(acc, docs, k)
        else:
            if mode == "and":
                docs = tp[terms[0]].full()[0]
                for t in terms[1:]:
                    if docs.size == 0:
                        break
                    docs = np.intersect1d(
                        docs, tp[t].full()[0], assume_unique=True
                    )
            elif mode == "phrase":
                docs = _phrase_docs(tp, phrase_seq)
            elif mode == "near":
                docs = _near_docs(tp, terms, window)
            elif prune and len(present) > 1:
                docs = _or_candidates_pruned(terms, idfs, tp, avgdl, k)
            else:
                docs = np.unique(
                    np.concatenate([tp[t].full()[0] for t in present])
                )
            if docs.size == 0:
                continue
            acc = _canonical_scores(terms, idfs, tp, docs, avgdl)
            idx = np.lexsort((docs, -acc))[:k]
        out_q.extend([query_id] * idx.size)
        out_d.extend(docs[idx].tolist())
        out_s.extend(acc[idx].tolist())
    return out_q, out_d, out_s


def _shard_topk_candidates(
    r: IndexReader, qp: _QueryPlan, k: int, prune: bool
) -> DataFrame:
    """Spark route: pruned segments scan -> per-shard exact top-k rows
    (query_id, doc_id, score), k rows per (query, shard)."""
    man = r.manifest
    plan, avgdl = qp.entries, qp.avgdl
    seg = r.segments().where(
        F.col("term_bucket").isin(qp.buckets)
        & F.col("term_id").isin(qp.hit_ids)
    )
    cols = _shard_columns(qp.need_pos)
    out_schema = "query_id string, doc_id long, score double"
    if r.tombstones_distributed():
        # MASS-delete regime: tombstones reach each scorer group as
        # cogrouped DATA, partitioned by the same doc-shard key the
        # index uses — never via the driver or task closures. Both
        # sides group on pmod(·, n_shards) rather than the raw shard
        # column: n_shards only ever SHRINKS (compaction), so the
        # current value divides every historical batch's numbering and
        # the fold sends a doc's segment rows and its tombstone row to
        # the same group even when an append landed under a pre-
        # compaction numbering (the "appended docs carry their own
        # shard numbering" contract in merge.py).
        ns = man.n_shards
        sgrp = F.pmod(F.col("shard"), F.lit(ns)).cast("int").alias("sgrp")
        tomb_sdf = r.tombstones_df().select(
            F.pmod(F.xxhash64("doc_id"), F.lit(ns))
            .cast("int")
            .alias("sgrp"),
            "doc_id",
        )
        return (
            seg.select(sgrp, *cols)
            .groupBy("sgrp")
            .cogroup(tomb_sdf.groupBy("sgrp"))
            .applyInPandas(
                _shard_scorer_cogrouped(plan, avgdl, k, prune),
                schema=out_schema,
            )
        )
    return (
        seg.select(*cols)
        .groupBy("shard")
        .applyInPandas(
            _shard_scorer(plan, avgdl, k, prune, tombs=r.tombstones()),
            schema=out_schema,
        )
    )


# above this pruned-postings volume (the summed df of a batch's terms) a
# bm25_topk_rows batch stays on executors (a stop-word term at 10^12
# docs must never be pulled to the driver); below it, driver-side
# decode beats any Spark job's floor
DRIVER_SCORE_MAX_POSTINGS = 4_000_000


def _phase(sink: Optional[Dict[str, float]], key: str, t0: float) -> None:
    """Accumulate the wall seconds since t0 into sink[key]; no-op
    without a sink."""
    if sink is not None:
        sink[key] = sink.get(key, 0.0) + time.perf_counter() - t0


def _score_shards_local(
    reader: "IndexReader",
    qp: _QueryPlan,
    k: int,
    prune: bool,
    phase_sink: Optional[Dict[str, float]] = None,
):
    """Driver twin of the Spark route's groupBy(shard).applyInPandas:
    the batch's term postings (reader's term cache, positions only for
    phrase/near) grouped by shard, each shard scored by the same
    _score_terms the Spark route runs — no pandas frame. Bounded by
    DRIVER_SCORE_MAX_POSTINGS; no Spark job. phase_sink accumulates wall
    seconds of "read_s" (the segment read of uncached terms; a cache hit
    has none) and "score_s" (posting decode + BM25 + local top-k)."""
    tps = reader.term_postings(qp.hit_ids, qp.need_pos, phase_sink)
    t1 = time.perf_counter()
    by_shard: Dict[int, Dict[int, _TermPostings]] = {}
    for tid, shards in tps.items():
        for shard, tp in shards.items():
            by_shard.setdefault(shard, {})[tid] = tp
    out: List[Tuple[str, int, float]] = []
    for tp in by_shard.values():
        out.extend(zip(*_score_terms(tp, qp.entries, qp.avgdl, k, prune)))
    _phase(phase_sink, "score_s", t1)
    return out


def _topk_candidates(
    spark: SparkSession,
    index_dir: str,
    queries: Sequence[QuerySpec],
    k: int,
    reader: Optional[IndexReader],
    prune: bool,
    phase_sink: Optional[Dict[str, float]] = None,
):
    """The one route choice of bm25_topk_rows and bm25_topk_df: plan
    the batch, then score it on one of two routes, both scoring each
    shard group with _score_terms:

    - driver_sidecar: the batch's summed df is at most
      DRIVER_SCORE_MAX_POSTINGS and its tombstones fit the driver
      (reader.tombstones_distributed() is False). The query terms'
      postings come from the reader's term cache (term_postings) and
      are grouped by shard on the driver (_score_shards_local) — NO
      Spark job. -> [(query_id, doc_id, score)]
    - shard_topk: every other batch — the groupBy(shard) scan
      (_shard_topk_candidates; cogrouped with the tombstones in the
      MASS-delete regime), not yet run. -> DataFrame(query_id, doc_id,
      score)

    -> (route, candidates): k candidates per (query, shard); None when
    no query term hits the index."""
    t_start = time.perf_counter()
    r = reader or IndexReader(spark, index_dir)
    qp = _plan_queries(r, queries)
    if qp is None:
        return None
    # MASS-delete regime: the driver route needs the driver numpy
    # tombstone union — above the gate it would materialize it, so the
    # batch routes to the cogrouped shard path instead (exact, fully
    # distributed; higher per-query floor, which is the documented
    # trade until compaction purges)
    on_driver = (
        not r.tombstones_distributed()
        and qp.total_df <= DRIVER_SCORE_MAX_POSTINGS
    )
    _phase(phase_sink, "plan_s", t_start)
    if on_driver:
        return "driver_sidecar", _score_shards_local(
            r, qp, k, prune, phase_sink
        )
    return "shard_topk", _shard_topk_candidates(r, qp, k, prune)


def _merge_rows(
    rows: Iterable[Tuple[str, int, float]], k: int
) -> List[Tuple[str, int, int, float]]:
    """The driver's global merge: candidate (query_id, doc_id, score)
    rows -> each query's top-k (query_id, rank, doc_id, score) by
    (score desc, doc_id asc), queries in id order."""
    by_q: Dict[str, List[Tuple[float, int]]] = {}
    for qid, doc_id, score in rows:
        by_q.setdefault(qid, []).append((score, doc_id))
    out: List[Tuple[str, int, int, float]] = []
    for qid in sorted(by_q):
        best = sorted(by_q[qid], key=lambda x: (-x[0], x[1]))[:k]
        out.extend(
            (qid, rank, doc_id, score)
            for rank, (score, doc_id) in enumerate(best, start=1)
        )
    return out


def bm25_topk_rows(
    spark: SparkSession,
    index_dir: str,
    queries: Sequence[QuerySpec],
    k: int = 10,
    reader: Optional[IndexReader] = None,
    prune: bool = True,
    phase_sink: Optional[Dict[str, float]] = None,
) -> List[Tuple[str, int, int, float]]:
    """Low-latency variant: the global merge runs driver-side over the
    candidate rows (the reference's bounded-heap global merge, SURVEY
    §2.5 T3) on either route of _topk_candidates; the shard_topk
    route's candidates are collected first. Both routes are rank- and
    score-identical to bm25_topk_df (same float64 ops, same total
    order). A failed driver read (e.g. a truncated segment file)
    propagates as pyarrow's error and starts no Spark job.

    phase_sink: optional dict; when given, accumulates wall seconds per
    phase ("plan_s" df/bucket lookups + weight planning, "read_s"
    driver parquet read of uncached terms, "score_s" decode+score,
    "merge_s" driver merge; the Spark route reads and scores inside
    its job), counts in "files_read" the segment files whose row
    groups the driver read (0 on a cache hit and on the Spark route)
    and records "path" = driver_sidecar | shard_topk.

    -> [(query_id, rank, doc_id, score)]"""
    if phase_sink is not None:
        phase_sink.setdefault("files_read", 0)
    routed = _topk_candidates(
        spark, index_dir, queries, k, reader, prune, phase_sink
    )
    if routed is None:
        return []
    path, cand = routed
    if path == "shard_topk":
        cand = [(r.query_id, r.doc_id, r.score) for r in cand.collect()]
    if phase_sink is not None:
        phase_sink["path"] = path
    t_merge = time.perf_counter()
    out = _merge_rows(cand, k)
    _phase(phase_sink, "merge_s", t_merge)
    return out


def bm25_topk_df(
    spark: SparkSession,
    index_dir: str,
    queries: Sequence[QuerySpec],
    k: int = 10,
    reader: Optional[IndexReader] = None,
    prune: bool = True,
) -> DataFrame:
    """-> DataFrame(query_id string, rank int, doc_id long, score double),
    composable for downstream joins, on _topk_candidates' route:

    - driver_sidecar: the driver's merged rows (_merge_rows) as an
      Arrow-backed local DataFrame — no Spark job. The index is read
      when bm25_topk_df is called, not when the DataFrame is acted on;
      the reader pins its snapshot, so the answer is the same either
      way, but read errors surface here.
    - shard_topk: stays lazy and distributed — the global merge is a
      window over the k*n_shards candidate rows per query."""
    routed = _topk_candidates(spark, index_dir, queries, k, reader, prune)
    if routed is None:
        return spark.createDataFrame(
            [], "query_id string, rank int, doc_id long, score double"
        )
    path, cand = routed
    if path == "driver_sidecar":
        cols = list(zip(*_merge_rows(cand, k))) or [()] * 4
        types = (pa.string(), pa.int32(), pa.int64(), pa.float64())
        return spark.createDataFrame(pa.table(
            [pa.array(c, t) for c, t in zip(cols, types)],
            names=["query_id", "rank", "doc_id", "score"],
        ))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
