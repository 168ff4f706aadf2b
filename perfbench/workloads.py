"""The benchmark's workloads: serve and maintain.

Each workload is a closed loop with one client: the next call is sent
only after the previous one returned. A workload sets up (several
times, reporting the median), warms up untimed, then runs timed calls
until their summed wall time reaches the run length, and finally checks
the program's outputs outside the timed region. Every call and every
output check counts in `attempted`; a call that raises or a check that
fails counts in `failed`.

Only the package's public functions are called. A traced run
(`trace=True`) records spans on the last set-up, on every write and on
every other block of timed queries; the untraced blocks of the same run
give the tracing overhead."""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time
import traceback
from typing import Dict, List, Optional

import pyarrow.parquet as pq

from text_search_spark import oracle
from text_search_spark.index import format as fmt
from text_search_spark.index.build import build_index, hash_doc_id_py, prepare_corpus
from text_search_spark.index.delete import delete_docs, load_tombstones
from text_search_spark.index.merge import compact_in_place
from text_search_spark.index.query import IndexReader, QuerySpec, bm25_topk_df, bm25_topk_rows
from text_search_spark.operators import dedup
from text_search_spark.streaming.incremental import upsert_batch

from . import gen
from .trace import Tracer, tail, tail_pct

# input sizes (docs): a run takes about a minute on a 4-core VM (see
# README.md, "Sizes and the time budget")
SERVE_DOCS = 1000
MAINTAIN_DOCS = 250
DEDUP_DOCS = 1000
# set-up builds per run: serve's second build warms the JVM before its
# queries; maintain builds once, as a second build (about 10 s) would not
# fit the time budget (README.md, "Sizes and the time budget")
SETUP_REPS = {"serve": 2, "maintain": 1}
# a typical median time of the control job (Run.control) on the 4-core
# VM above
CONTROL_REF_S = 0.200
K = 10
BATCH_QUERIES = 32
# untimed single-term queries before the timed serve loop: about as many
# as the timed loop sends (see README.md, "Workloads")
WARM_SINGLE = 150
# a probe is two blocks of 6 single-term queries, one AND and one OR
# (which run Spark jobs)
PROBE_BLOCK = ["single"] * 6 + ["and", "or"]
PROBE_PATTERN = PROBE_BLOCK * 2


class Run:
    def __init__(self, spark, workdir: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        # the control job runs in a session of its own whose settings are
        # pinned here, so a change to the package's session settings
        # (session.py) does not change the job
        self.control_session = spark.newSession()
        for k, v in (("spark.sql.adaptive.enabled", "false"),
                     ("spark.sql.shuffle.partitions", "4")):
            self.control_session.conf.set(k, v)
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(spark, trace)
        self.layer: Dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: List[str] = []
        self.setup_times: List[float] = []
        self.setup_controls: List[float] = []
        self.controls: List[float] = []
        self._t_mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Note the wall time spent since the previous mark."""
        now = time.perf_counter()
        self.notes.append(f"wall {phase}: {now - self._t_mark:.1f} s")
        self._t_mark = now

    # -- bookkeeping -------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"check failed: {what}")

    def traced(self, block: int) -> bool:
        """Whether a block of timed calls records spans: traced runs
        alternate blocks, so traced and untraced calls of the same shape
        mix share one run."""
        return self.trace and block % 2 == 1

    def call(self, name: str, fn, request_id: Optional[str] = None,
             traced: bool = True):
        """Run one public call inside a span; returns (result, span)."""
        self.attempted += 1
        with self.tracer.span(name, request_id, traced) as sp:
            try:
                result = fn()
            except Exception as e:  # counted, reported, and the run goes on
                traceback.print_exc()
                self.failed += 1
                self.notes.append(f"{name} raised {type(e).__name__}: {e}")
                result = None
        return result, sp

    def e2e(self, spans: List[dict], block: int) -> Dict[str, float]:
        """The end-to-end metrics of a loop of query calls made in blocks
        of `block` calls of one fixed shape mix, scaled by the control (see
        control()): `setup_s` by the control times taken between the
        set-up builds, the query metrics by those taken between the query
        blocks. Latency is the median of the multi-term calls: on serve
        about half the single-term calls hit the postings cache, so their
        median falls between hits and misses and jumps from run to run.
        The rate comes from the median block, so one stalled call does
        not set it."""
        times = [sum(s["dur_s"] for s in spans[i : i + block])
                 for i in range(0, len(spans) - block + 1, block)]
        raw = {
            "setup_s": statistics.median(self.setup_times),
            "multi_query_p50_ms": multi_ms(spans),
            "rate_per_s": block / statistics.median(times),
        }
        setup_ctl = statistics.median(self.setup_controls)
        query_ctl = statistics.median(self.controls)
        self.layer["control.setup_s"] = setup_ctl
        self.layer["control.query_s"] = query_ctl
        self.notes.append(
            "unscaled: " + ", ".join(f"{k} {v:.4g}" for k, v in raw.items())
            + f"; control {setup_ctl * 1e3:.1f} ms in set-up (n={len(self.setup_controls)}),"
            f" {query_ctl * 1e3:.1f} ms among queries (n={len(self.controls)})")
        return {"setup_s": raw["setup_s"] * CONTROL_REF_S / setup_ctl,
                "multi_query_p50_ms": raw["multi_query_p50_ms"] * CONTROL_REF_S / query_ctl,
                "rate_per_s": raw["rate_per_s"] * query_ctl / CONTROL_REF_S}

    def control(self, into: List[float], n: int = 1) -> None:
        """Time n runs of a fixed Spark job that uses none of the package
        (range, modulo, group-by count over 4 partitions).

        The machine this was written on changes speed by 20-30% from one
        minute to the next, more than the bounds allow, and build and query
        times move with it. The workloads run this job between set-up
        builds and after every block of timed calls, so its median tracks
        the machine's speed while they ran; the end-to-end metrics are
        scaled by CONTROL_REF_S / that median, so they read as on a machine
        where the job takes CONTROL_REF_S. The job shares the package's JVM;
        README.md ("End-to-end metrics") compares it with controls that
        do not."""
        for _ in range(n):
            t = time.perf_counter()
            (self.control_session.range(0, 1_000_000, 1, 4).selectExpr("id % 97 AS k")
             .groupBy("k").count().collect())
            into.append(time.perf_counter() - t)

    def overhead(self, spans: List[dict]) -> None:
        """trace_overhead.* = traced minus untraced calls of one loop."""
        if not self.trace:
            return
        on = [s for s in spans if "id" in s]
        off = [s for s in spans if "id" not in s]
        if not on or not off:
            return

        def rate(xs):
            return len(xs) / sum(s["dur_s"] for s in xs)

        self.layer["trace_overhead.multi_query_p50_ms"] = multi_ms(on) - multi_ms(off)
        self.layer["trace_overhead.rate_per_s"] = rate(on) - rate(off)
        if len(self.setup_times) >= 2:
            # the last set-up is traced, the warm one before it is not
            self.layer["trace_overhead.setup_s"] = self.setup_times[-1] - self.setup_times[-2]

    def executor_layers(self, prefix: str, span_name: str) -> None:
        if self.trace:
            for k, v in self.tracer.executor_totals(span_name).items():
                self.layer[f"{prefix}.{k}"] = v

    # -- shared pieces -----------------------------------------------------

    def corpus(self, make):
        t = time.perf_counter()
        c = make()
        self.layer["corpus.gen_s"] = time.perf_counter() - t
        return c

    def build_base(self, c: gen.Corpus, tag: str) -> str:
        """Set-up: build_index over the same pages SETUP_REPS[tag] times;
        returns the last index dir. A traced run builds once more and
        traces only that last build, so the warm build before it gives
        the tracing overhead."""
        pdf = c.pandas()
        n_tokens, n_postings = c.token_counts()
        reps = SETUP_REPS[tag] + (1 if self.trace else 0)
        for r in range(reps):
            ix = os.path.join(self.workdir, f"{tag}{r}")
            shutil.rmtree(ix, ignore_errors=True)
            traced = self.trace and r == reps - 1
            sink: Optional[Dict[str, float]] = {} if traced else None

            def build():
                corp = prepare_corpus(self.spark.createDataFrame(pdf), url_col="url")
                build_index(self.spark, corp, ix, n_buckets=None, n_shards=None,
                            bucket_groups=1, stage_sink=sink)

            _, sp = self.call("index.build.build_index", build, f"setup-{r}", traced)
            self.setup_times.append(sp["dur_s"])
            self.control(self.setup_controls, 2)
            man = fmt.load_manifest(ix)
            self.check(man is not None and man.complete and man.n_docs == len(c.texts)
                       and man.total_tokens == n_tokens,
                       f"build {tag}{r}: manifest n_docs/total_tokens vs generator")
            if traced:
                self.build_layers(ix, man, sink, sp, c, n_postings)
        return ix

    def dedup_layers(self, c: gen.Corpus) -> None:
        """Traced runs only: the dedup operators over a crawl with
        injected duplicates, twice (the first pass warms up), with their
        output checks and layer metrics."""
        corp = prepare_corpus(self.spark.createDataFrame(c.pandas()), url_col="url")
        pair_counts = []
        for r in range(2):
            n_pairs, sp_m = self.call(
                "operators.dedup.lsh_candidate_pairs",
                lambda: dedup.lsh_candidate_pairs(dedup.minhash_signatures(corp)).count(),
                f"dedup-{r}", r == 1)
            sims, sp_s = self.call("operators.dedup.simhash",
                                   lambda: dedup.simhash(corp).collect(), f"dedup-{r}", r == 1)
            exact, sp_e = self.call("operators.dedup.exact_duplicates",
                                    lambda: dedup.exact_duplicates(corp).collect(),
                                    f"dedup-{r}", r == 1)
            pair_counts.append(n_pairs)
        self.check(pair_counts[0] == pair_counts[1], f"dedup: pair counts {pair_counts} differ")
        groups: Dict[str, List[int]] = {}
        for u, t in zip(c.urls, c.texts):
            groups.setdefault(hashlib.md5(t.encode("utf-8")).hexdigest(), []).append(
                hash_doc_id_py(u))
        got = {row.text_hash: (row.n_docs, row.keep_id) for row in exact or []}
        self.check(got == {h: (len(v), min(v)) for h, v in groups.items()},
                   "dedup: exact_duplicates groups equal md5 groups")
        sim = {row[0]: row[1] for row in sims or []}
        self.check(len(sim) == len(c.texts)
                   and all(len({sim.get(i) for i in v}) == 1 for v in groups.values()),
                   "dedup: one simhash per doc, shared by identical texts")
        n = len(c.texts)
        L = self.layer
        L["dedup.pairs"] = n_pairs or 0
        L["dedup.minhash_docs_per_s"] = n / sp_m["dur_s"]
        L["dedup.simhash_docs_per_s"] = n / sp_s["dur_s"]
        L["dedup.exact_docs_per_s"] = n / sp_e["dur_s"]
        L["dedup.pair_yield"] = (n_pairs or 0) / max(1, _generated_pairs(corp))
        self.executor_layers("span.minhash", "operators.dedup.lsh_candidate_pairs")
        self.executor_layers("span.simhash", "operators.dedup.simhash")

    def build_layers(self, ix, man, sink, sp, c: gen.Corpus, n_postings: int) -> None:
        L = self.layer
        L["build.doc_stats_s"] = sink.get("doc_stats", 0.0)
        L["build.vocab_s"] = sink.get("vocab", 0.0)
        L["build.segments_s"] = sum(v for k, v in sink.items() if k.startswith("segments"))
        L["build.term_stats_s"] = sink.get("term_stats", 0.0)
        L["build.docs_per_s"] = man.n_docs / sp["dur_s"]
        L["build.total_tokens"] = man.total_tokens
        L["build.n_buckets"] = man.n_buckets
        L["build.n_shards"] = man.n_shards
        seg_root = fmt.segments_dir(ix)
        files = man.segment_files or []
        L["build.segment_files"] = len(files)
        seg_bytes = sum(os.path.getsize(os.path.join(seg_root, f)) for f in files)
        L["build.segment_bytes"] = seg_bytes
        L["codec.bytes_per_posting"] = seg_bytes / max(1, n_postings)
        L["build.index_bytes_per_text_byte"] = _dir_bytes(ix) / c.text_bytes()
        self.executor_layers("span.build", "index.build.build_index")

    def query_layers(self, spans: List[dict]) -> None:
        """Latency by shape class, phases, paths and jobs of a list of
        bm25_topk_rows spans."""
        L = self.layer
        single = [s for s in spans if s["shape"] == "single"]
        multi = [s for s in spans if s["shape"] != "single"]
        for cls, xs in (("single", single), ("multi", multi)):
            if xs:
                ms = [s["dur_s"] * 1e3 for s in xs]
                L[f"query.{cls}_p50_ms"] = statistics.median(ms)
                L[f"query.{cls}_tail_ms"] = tail(ms)
                self.notes.append(f"query.{cls}: n={len(ms)}, tail=p{tail_pct(len(ms)):.1f}")
        traced = [s for s in spans if "sink" in s]
        ts = [s for s in traced if s["shape"] == "single"]
        tm = [s for s in traced if s["shape"] != "single"]

        def mean_ms(xs, f):
            return statistics.mean(map(f, xs)) * 1e3

        if ts:
            for ph in ("plan", "read", "score", "merge"):
                L[f"query.single.{ph}_ms"] = mean_ms(ts, lambda s: s["sink"].get(f"{ph}_s", 0.0))
            L["query.cache_hit_rate"] = sum("read_s" not in s["sink"] for s in ts) / len(ts)
        if tm:
            # the shard top-k path records only its driver merge; plan,
            # read and score all run inside its Spark jobs
            L["query.multi.merge_ms"] = mean_ms(tm, lambda s: s["sink"].get("merge_s", 0.0))
            L["query.multi.spark_ms"] = mean_ms(tm, lambda s: s["dur_s"] - s["sink"].get("merge_s", 0.0))
        if traced:
            for path in ("driver_sidecar", "scan_stage", "shard_topk"):
                L[f"query.path.{path}"] = sum(s["sink"].get("path") == path for s in traced)
            L["query.spark_jobs_per_query"] = statistics.mean(s["jobs"] for s in traced)
        self.executor_layers("span.query_multi", "index.query.bm25_topk_rows.multi")

    def query(self, reader: IndexReader, q: QuerySpec, traced: bool, rid: str):
        sink: Optional[dict] = {} if traced else None
        shape = gen.shape_of(q)
        # multi-term calls get their own span name so their executor
        # metrics are summed apart from the job-free single-term path
        name = "index.query.bm25_topk_rows" + ("" if shape == "single" else ".multi")
        rows, sp = self.call(name, lambda: bm25_topk_rows(
            self.spark, reader.index_dir, [q], k=K, reader=reader, phase_sink=sink),
            rid, traced)
        sp["shape"] = shape
        if sink is not None:
            sp["sink"] = sink
        return rows or [], sp

    def oracle_check(self, ox, q: QuerySpec, rows, what: str) -> None:
        want = oracle.bm25_topk(ox, q.terms, k=K, mode=q.mode, window=q.window)
        got = [(d, s) for (_q, _r, d, s) in rows]
        self.check(
            len(got) == len(want)
            and all(gd == wd and math.isclose(gs, ws, rel_tol=1e-12, abs_tol=1e-9)
                    for (gd, gs), (wd, ws) in zip(got, want)),
            f"{what} {q.query_id} {q.mode} {q.terms}: ranks/scores differ from oracle",
        )

    def peak_rss(self) -> None:
        import resource

        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        try:
            pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            self.notes.append("peak_rss_mb: JVM status unreadable, driver Python only")
        self.layer["peak_rss_mb"] = (py_kb + jvm_kb) / 1024.0


def multi_ms(spans: List[dict]) -> float:
    """Median latency of the multi-term calls, in ms."""
    return statistics.median(s["dur_s"] for s in spans if s["shape"] != "single") * 1e3


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(root) for f in fs)


# ---------------------------------------------------------------------------
# serve: queries on a built index; Zipf repeats hit the postings cache
# ---------------------------------------------------------------------------

def serve(run: Run) -> Dict[str, float]:
    c = run.corpus(lambda: gen.pages(SERVE_DOCS, run.seed))
    ix = run.build_base(c, "serve")
    run.mark("set-up")
    reader = IndexReader(run.spark, ix)
    run.layer["query.files_per_bucket"] = (
        len(reader.manifest.segment_files or []) / reader.manifest.n_buckets)

    # warm-up, untimed: separate draws from the same distribution; the
    # single-term draws fill the postings cache (see WARM_SINGLE)
    for q in gen.queries(c, run.seed, WARM_SINGLE, 11, ["single"]):
        bm25_topk_rows(run.spark, ix, [q], k=K, reader=reader)
    for q in gen.queries(c, run.seed, 4, 12, ["and", "or", "phrase", "near"]):
        bm25_topk_rows(run.spark, ix, [q], k=K, reader=reader)

    run.mark("warm-up")
    stream = gen.queries(c, run.seed, 2000, 1, gen.SERVE_PATTERN)
    spans, answered = [], []
    timed = 0.0
    while timed < run.seconds and len(spans) < len(stream) - BATCH_QUERIES:
        q = stream[len(spans)]
        rows, sp = run.query(reader, q, run.traced(len(spans) // gen.SERVE_BLOCK), q.query_id)
        spans.append(sp)
        answered.append((q, rows))
        timed += sp["dur_s"]
        if len(spans) % gen.SERVE_BLOCK == 0:
            run.control(run.controls)
    batch = stream[len(spans) : len(spans) + BATCH_QUERIES]
    brows, bsp = run.call("index.query.bm25_topk_df",
                          lambda: bm25_topk_df(run.spark, ix, batch, k=K, reader=reader).collect(),
                          "batch")
    timed += bsp["dur_s"]
    by_q: Dict[str, list] = {q.query_id: [] for q in batch}
    for r in sorted(brows or [], key=lambda r: (r.query_id, r.rank)):
        by_q[r.query_id].append((r.query_id, r.rank, r.doc_id, r.score))
    answered += [(q, by_q[q.query_id]) for q in batch]
    run.mark("timed")

    L = run.layer
    run.query_layers(spans)
    L["query.batch_queries_per_s"] = BATCH_QUERIES / bsp["dur_s"]
    if run.trace:
        L["query.batch_jobs"] = bsp["jobs"]
        L["query.batch_tasks"] = bsp["tasks"]
        run.executor_layers("span.query_batch", "index.query.bm25_topk_df")
    run.overhead(spans)

    # output checks: every answered query against the NumPy oracle
    ox = oracle.build_oracle_index(list(zip(map(hash_doc_id_py, c.urls), c.texts)))
    for q, rows in answered:
        run.oracle_check(ox, q, rows, "serve")
    run.mark("checks")
    if run.trace:
        run.dedup_layers(gen.dedup_corpus(DEDUP_DOCS, run.seed))
        run.mark("dedup (traced runs only)")
    return run.e2e(spans, gen.SERVE_BLOCK)


# ---------------------------------------------------------------------------
# maintain: upserts and takedowns next to reads; each write refreshes
# the reader, which empties the postings cache
# ---------------------------------------------------------------------------

def _new_ids(ix: str, urls: List[str], known: set) -> Dict[str, int]:
    """url -> doc_id of the version an upsert just committed (read back
    from the committed doc_stats files; not timed)."""
    man = fmt.load_manifest(ix)
    root = fmt.doc_stats_dir(ix)
    want, out = set(urls), {}
    for rel in man.doc_stats_files or []:
        t = pq.read_table(os.path.join(root, rel), columns=["doc_id", "url"])
        for d, u in zip(t["doc_id"].to_pylist(), t["url"].to_pylist()):
            if u in want and d not in known:
                out[u] = d
    return out


def maintain(run: Run) -> Dict[str, float]:
    """Rounds of: upsert 1% refetched pages, take down another 1%, probe,
    compact, probe. The first probe sees both writes' tombstones (old
    versions and taken-down pages) before compaction removes them; one
    probe per write would not fit the time budget (README.md). Every
    round compacts, as the engine's inline maintenance (maybe_compact
    after each streamed batch) would, so rounds are alike and the rate
    does not depend on how many fit in the run. One untimed half-probe
    warms the query path first. In a traced run the writes are traced
    and the probe queries alternate."""
    c = run.corpus(lambda: gen.pages(MAINTAIN_DOCS, run.seed))
    ix = run.build_base(c, "maintain")
    rounds = gen.maintenance_rounds(c, run.seed, 8)
    # a probe's single-term queries are distinct, so with the cache
    # emptied by the refresh before each probe none of them can hit it
    probe_gen = iter(gen.queries(c, run.seed, 2000, 4, PROBE_PATTERN,
                                 distinct_within=len(PROBE_PATTERN)))
    L = run.layer
    spark = run.spark
    run.mark("set-up")

    live = {u: hash_doc_id_py(u) for u in c.urls}
    text = dict(zip(c.urls, c.texts))
    dead: set = set()
    spans: Dict[str, List[dict]] = {"upsert": [], "delete": [], "compact": [], "probe": []}
    counts: Dict[str, List[float]] = {}
    timed = 0.0
    reader = IndexReader(spark, ix)
    # warm-up, untimed: one half-probe on the base index, so the first
    # timed probe does not pay for the query path's first run in this JVM
    for q in gen.queries(c, run.seed, len(PROBE_BLOCK), 5, PROBE_BLOCK):
        bm25_topk_rows(spark, ix, [q], k=K, reader=reader)
    run.mark("warm-up")

    def write(kind, name, fn, rid):
        nonlocal timed
        _, sp = run.call(name, fn, rid, run.trace)
        timed += sp["dur_s"]
        spans[kind].append(sp)

    def probe(tag):
        nonlocal timed
        _, sp = run.call("index.query.IndexReader.refresh", reader.refresh, tag, run.trace)
        timed += sp["dur_s"]
        man = reader.manifest
        counts.setdefault("files_per_bucket", []).append(
            len(man.segment_files or []) / man.n_buckets)
        out = []
        for _ in PROBE_PATTERN:
            q = next(probe_gen)
            rows, sp = run.query(
                reader, q, run.traced(len(spans["probe"]) // len(PROBE_PATTERN)), tag)
            timed += sp["dur_s"]
            spans["probe"].append(sp)
            out.append((q, rows))
            if len(spans["probe"]) % len(PROBE_BLOCK) == 0:
                run.control(run.controls, 2)  # a run has only 4 half-probes
            got = {d for (_q, _r, d, _s) in rows}
            run.check(not (got & dead), f"{tag} {q.query_id}: returned a deleted or replaced doc_id")
        return out

    r = 0
    while timed < run.seconds and r < len(rounds):
        rd, rid = rounds[r], f"round-{r}"
        df = spark.createDataFrame(rd.refetch, "url string, text string")
        write("upsert", "streaming.incremental.upsert_batch",
              lambda: upsert_batch(spark, df, ix, r + 1), rid)
        # not timed: read back the new versions' doc_ids for the checks
        fresh = _new_ids(ix, [u for u, _t in rd.refetch], set(live.values()) | dead)
        run.check(len(fresh) == len(rd.refetch), f"{rid}: upserted versions found")
        for u, t in rd.refetch:
            dead.add(live[u])
            live[u], text[u] = fresh.get(u, live[u]), t

        ids = [live[u] for u in rd.takedown]
        write("delete", "index.delete.delete_docs", lambda: delete_docs(spark, ix, ids), rid)
        for u in rd.takedown:
            dead.add(live.pop(u))
            del text[u]
        probe(f"{rid}-write")

        man = fmt.load_manifest(ix)
        before = set(man.segment_files or [])
        for k, v in (("tombstoned_docs", len(load_tombstones(ix, man))),
                     ("term_stats_deltas", len(man.term_stats_delta_files or [])),
                     ("snapshots", len(fmt.list_snapshot_ids(ix)))):
            counts.setdefault(k, []).append(v)
        write("compact", "index.merge.compact_in_place", lambda: compact_in_place(spark, ix), rid)
        after_man = fmt.load_manifest(ix)
        after = set(after_man.segment_files or [])
        seg_root = fmt.segments_dir(ix)
        counts.setdefault("files_before", []).append(len(before))
        counts.setdefault("files_after", []).append(len(after))
        counts.setdefault("bytes_rewritten", []).append(
            sum(os.path.getsize(os.path.join(seg_root, f)) for f in after - before))
        final = probe(f"{rid}-compacted")

        # not timed: after compaction the index is exactly the live corpus
        run.check(after_man.n_docs == len(live) and not after_man.tombstone_files,
                  f"{rid}: compaction leaves n_docs == live docs and no tombstones")
        ox = oracle.build_oracle_index([(live[u], text[u]) for u in live])
        for q, rows in final:
            run.oracle_check(ox, q, rows, f"{rid} after compaction")
        r += 1
    run.mark("timed and checks")

    med = lambda k: statistics.median(s["dur_s"] for s in spans[k])  # noqa: E731
    L["incremental.upsert_docs"] = sum(len(rd.refetch) for rd in rounds[:r])
    L["incremental.upsert_s"] = med("upsert")
    L["delete.delete_s"] = med("delete")
    L["merge.compact_s"] = med("compact")
    L["query.files_per_bucket"] = statistics.mean(counts["files_per_bucket"])
    L["delete.tombstoned_docs"] = sum(counts["tombstoned_docs"])
    for k, prefix in (("term_stats_deltas", "incremental"), ("snapshots", "format"),
                      ("files_before", "merge"), ("files_after", "merge"),
                      ("bytes_rewritten", "merge")):
        L[f"{prefix}.{k}"] = statistics.mean(counts[k])
    run.query_layers(spans["probe"])
    run.executor_layers("span.upsert", "streaming.incremental.upsert_batch")
    run.executor_layers("span.delete", "index.delete.delete_docs")
    run.executor_layers("span.compact", "index.merge.compact_in_place")
    run.overhead(spans["probe"])
    return run.e2e(spans["probe"], len(PROBE_BLOCK))


def _generated_pairs(docs) -> int:
    """Pairs the LSH banding generates before the distinct: the sum over
    (band, bucket) of C(n, 2), from the public signatures (traced run
    only; identical band values share a bucket)."""
    sigs = dedup.minhash_signatures(docs).toPandas()
    rows = 2
    total = 0
    for b in range(dedup.NUM_MINHASHES // rows):
        cols = [f"h{i}" for i in range(b * rows, (b + 1) * rows)]
        sizes = sigs.groupby(cols).size()
        total += int((sizes * (sizes - 1) // 2).sum())
    return total


WORKLOADS = {"serve": serve, "maintain": maintain}
