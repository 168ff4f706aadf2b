"""Deduplication operators for large-scale training-data pipelines.

All operators take/return DataFrames, use only JVM-side expressions in the
hot path, and shuffle at most once on their group key. Hashes are md5-based
so the DuckDB correctness oracle reproduces them bit-for-bit.

Scale notes (100 TB discipline):
  * exact_duplicates: one hash-agg shuffle on a 32-char key; AQE coalesces.
  * minhash_signatures: computed inside each doc row — NUM_HASHES
    array_min(transform(distinct units, md5)) columns, a pure map
    operation with no shuffle (the former explode + groupBy(id) min()
    sorted and exchanged the whole exploded relation).
  * lsh_candidate_pairs: band -> bucket grouping; bucket sizes are the
    classic LSH skew point — `max_bucket` bounds pathological buckets
    via chunked recovery (O(n*max_bucket) direct pairs + bridge edges
    that keep the bucket one connected component; residual reported by
    lsh_capped_census, never silently exploded into n^2 pairs).
  * simhash: per-bit conditional sums in ONE agg pass whose single
    exchange moves the projected (id, text) DOC rows (pre-partitioned by
    id, so the per-term bit relation never shuffles). The trade is one
    doc row against one ~500 B partial-sum row per doc: narrower only
    for short documents (~300 B at the bench profile); for long web
    pages the partial row is the narrower payload (see simhash()).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import minhash_col, shingles
from ..textnorm import spark_tokens

NUM_MINHASHES = 8
SIMHASH_BITS = 60  # 15 md5 nibbles -> stays positive in a signed 64-bit long


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group docs by md5(text): (text_hash, n_docs, keep_id=min id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def _distinct_terms(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # distinct is PER DOC (the key is (id, term)), so it never needs a
    # shuffle: array_distinct inside the doc's own token array computes
    # the exact same relation map-side (round-8, guide §2.4 — the former
    # explode().distinct() exchanged the whole exploded token relation)
    return df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(spark_tokens(F.col(text_col)))
        ).alias("term"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_MINHASHES,
    shingle_n: Optional[int] = None,
) -> DataFrame:
    """(id, h0..h{n-1}) — per-slot min of md5('<i>|'||unit) over the doc's
    distinct units. Docs with no units are dropped (no signature).

    shingle_n=None hashes distinct TERMS (cheap, but same-language docs
    share most common words, so term-set Jaccard is high and LSH bands
    lose selectivity — fine for clustering, poor as a near-dup filter).
    shingle_n=k hashes distinct k-token SHINGLES — the standard web-dedup
    configuration: shingle-set Jaccard is near zero for unrelated docs, so
    band buckets only group real near-duplicates.

    Shape (round-8): the per-doc min is computed INSIDE the row with
    array_min(transform(units, ...)) — a pure map operation. The former
    explode + groupBy(id).agg(min(...)) planned as a SortAggregate
    (min over an immutable string buffer falls back from hash agg), so
    the whole exploded (id, unit) relation was SORTED twice and
    exchanged once; none of that is needed when the group key is the
    row itself. Lexicographic array_min over md5 hex == the aggregate
    min (same UTF8 binary comparator), so values are bit-identical.
    Each transform lambda re-evaluates its input expression per
    element, so `units` MUST be a materialized column (same hazard as
    shingles()); tokens likewise before shingles() references them
    (inlining the tokenizer re-ran it per shingle — O(n_tokens^2) per
    doc, measured 24 min for 400k pages at 16 cores, BENCH.md r5)."""
    toks = df.select(
        F.col(id_col), spark_tokens(F.col(text_col)).alias("_toks")
    )
    if shingle_n is None:
        units = toks.select(
            F.col(id_col), F.array_distinct(F.col("_toks")).alias("_units")
        )
    else:
        units = toks.select(
            F.col(id_col),
            F.array_distinct(
                shingles(F.col("_toks"), shingle_n)
            ).alias("_units"),
        )
    u = F.col("_units")
    sig_struct = F.struct(
        *[
            F.array_min(
                F.transform(u, lambda t: minhash_col(t, i))
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    # docs with no units are dropped (no signature) — same contract as
    # the former groupBy over the exploded relation. The drop is an
    # explode of a 0-or-1-element array, NOT a where(): Catalyst pushes
    # a filter below both projections and inlines the whole
    # tokenize/shingle chain into the pushed predicate — including into
    # a transform lambda, the O(n_tokens^2)-per-doc re-evaluation
    # hazard pinned by tests/test_plans.py; Generate is a pushdown
    # barrier, so everything stays single-evaluation.
    arr_type = (
        "array<struct<"
        + ",".join(f"h{i}:string" for i in range(num_hashes))
        + ">>"
    )
    return units.select(
        F.col(id_col),
        F.explode(
            F.when(F.size(u) > 0, F.array(sig_struct)).otherwise(
                F.array().cast(arr_type)
            )
        ).alias("_sig"),
    ).select(F.col(id_col), "_sig.*")


def _band_buckets(
    sigs: DataFrame,
    id_col: str,
    rows_per_band: int,
    num_hashes: int,
) -> DataFrame:
    """(id, band, bucket, sec) — one row per signature per LSH band;
    shared by the pair expansion and the skew-cap census. `sec` is a
    secondary signature slot OUTSIDE the band (the next slot, mod
    num_hashes): oversized-bucket recovery sorts members by it so that
    docs likeliest to be near-dups of each other land in the same
    bounded chunk (Catalyst prunes it wherever it's unused).

    Shape (round-8): ONE pass over sigs — an inline array of per-band
    structs exploded, instead of a union of num_bands selects (the
    union re-ran the signature aggregation's final stage per branch)."""
    entries = []
    for b in range(num_hashes // rows_per_band):
        cols = [f"h{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        sec = f"h{((b + 1) * rows_per_band) % num_hashes}"
        entries.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("bucket"),
                F.col(sec).alias("sec"),
            )
        )
    return sigs.select(
        F.col(id_col).alias("id"), F.explode(F.array(*entries)).alias("e")
    ).select("id", "e.band", "e.bucket", "e.sec")


def lsh_capped_census(
    sigs: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 2,
    num_hashes: int = NUM_MINHASHES,
    max_bucket: int = 1000,
):
    """(n_capped_buckets, residual_pairs_upper_bound) — how many
    (band, bucket) groups exceed max_bucket, and the sum over them of
    the pairs the chunked recovery does NOT directly expand:
    C(n,2) - [full_chunks*C(mb,2) + C(rem,2) + (n_chunks-1)]. Those
    residual pairs are still transitively CONNECTED through the bridge
    edges (see lsh_candidate_pairs), so component-level dedup loses
    nothing; this census quantifies what a pairwise-verification
    consumer would not see directly. Never expands pairs, so a
    degenerate corpus cannot go quadratic here — the no-silent-caps
    report for dedup runs at scale."""
    n, mb = F.col("n"), F.lit(max_bucket)
    full, rem = F.floor(n / mb), n % mb
    direct = (
        full * (mb * (mb - 1) / 2)
        + rem * (rem - 1) / 2
        + F.ceil(n / mb)
        - 1
    )
    row = (
        _band_buckets(sigs, id_col, rows_per_band, num_hashes)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > max_bucket)
        .select(
            F.count("*").alias("n_capped"),
            F.coalesce(
                F.sum(n * (n - 1) / 2 - direct), F.lit(0)
            ).cast("long").alias("residual_ub"),
        )
        .first()
    )
    return int(row["n_capped"]), int(row["residual_ub"])


def _clique_pairs(arr):
    """All (least, greatest) pairs of an array column, JVM-side (nested
    transform — no self-join). Fallback path for non-long id types; the
    long-id hot path uses the vectorized _expand_pairs_arrow."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(
                    F.least(x, y).alias("id_a"),
                    F.greatest(x, y).alias("id_b"),
                ),
            ),
        )
    )


# output batch bound for the pair-expansion UDF: one yielded batch = one
# socket write on the bidirectional JVM<->worker pipe; unbounded batches
# (a 31k-member bucket expands to ~16M pairs) risk the same send-buffer
# deadlock index/build.py bounds with _OUT_ROWS
_PAIR_FLUSH_ROWS = 2_000_000

# row-block slab for clique generation when a single group exceeds this
# many members (only reachable with max_bucket=None): bounds the triu
# index allocation instead of materializing C(n,2) at once
_CLIQUE_SLAB_PAIRS = 8_000_000


def _expand_pairs_arrow():
    """mapInArrow factory: rows of (ids array<long>) -> every unordered
    (least, greatest) pair of each row — the full clique. The JVM side
    pre-splits oversized buckets into <= max_bucket chunks plus
    2-element bridge rows (a clique of 2 IS the bridge pair), so this
    function is pure clique expansion; semantics are identical to the
    JVM expression path, but the expansion is a numpy triu gather at
    memcpy speed instead of an interpreted nested transform/slice that
    built one giant array cell per bucket — the round-8 profile
    measured the expression expansion + distinct at 99 s of the 120 s
    dedup_minhash total at 50k docs (guide §4.2)."""
    import numpy as np
    import pyarrow as pa

    triu_cache: dict = {}

    def triu(n: int):
        got = triu_cache.get(n)
        if got is None:
            got = np.triu_indices(n, 1)
            if len(triu_cache) < 64:  # bound worker memory
                triu_cache[n] = got
        return got

    def fn(batches):
        acc_lo: list = []
        acc_hi: list = []
        acc_n = 0

        def flush():
            nonlocal acc_lo, acc_hi, acc_n
            lo = np.concatenate(acc_lo)
            hi = np.concatenate(acc_hi)
            acc_lo, acc_hi, acc_n = [], [], 0
            return pa.record_batch(
                [pa.array(lo, pa.int64()), pa.array(hi, pa.int64())],
                names=["id_a", "id_b"],
            )

        def emit(a: np.ndarray, b: np.ndarray):
            nonlocal acc_n
            acc_lo.append(np.minimum(a, b))
            acc_hi.append(np.maximum(a, b))
            acc_n += a.size

        def clique(v: np.ndarray):
            n = v.size
            if n <= 2048:
                iu0, iu1 = triu(n)
                emit(v[iu0], v[iu1])
                return
            # slab the row range so index buffers stay bounded (only
            # reachable with max_bucket=None whole-bucket rows)
            i = 0
            while i < n - 1:
                j, cnt = i, 0
                while j < n - 1 and cnt + (n - 1 - j) <= _CLIQUE_SLAB_PAIRS:
                    cnt += n - 1 - j
                    j += 1
                j = max(j, i + 1)
                rows = np.arange(i, j)
                lens = n - 1 - rows
                a_idx = np.repeat(rows, lens)
                b_idx = (
                    np.arange(lens.sum())
                    - np.repeat(np.cumsum(lens) - lens, lens)
                    + a_idx
                    + 1
                )
                emit(v[a_idx], v[b_idx])
                i = j

        for batch in batches:
            la = batch.column(0)
            offs = la.offsets.to_numpy().astype(np.int64)
            offs = offs - offs[0]
            flat = la.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            for s, e in zip(offs[:-1], offs[1:]):
                clique(flat[s:e])
                if acc_n >= _PAIR_FLUSH_ROWS:
                    yield flush()
        if acc_n:
            yield flush()

    return fn


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 2,
    num_hashes: int = NUM_MINHASHES,
    max_bucket: Optional[int] = 1000,
    recover_capped: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band.

    max_bucket is the head-bucket skew guard: a degenerate bucket of
    size m would otherwise yield m^2/2 pairs. Round-5 DROPPED oversized
    buckets (missed near-dups concentrated in exactly the boilerplate a
    dedup pass most needs); round-6 RECOVERS them with a bounded
    expansion that preserves connectivity:

      * members of an oversized bucket are sorted by a secondary
        signature slot outside the band (docs with equal/close
        secondary minhash are the likeliest true near-dups) and split
        into chunks of <= max_bucket;
      * each chunk expands as a full clique (the high-probability pairs
        land here, adjacent under the secondary sort);
      * one BRIDGE edge links the first chunk's head to every later
        chunk's head, so the whole bucket stays one connected component
        — for connected-component dedup the recovery is lossless, and
        the expansion is O(n * max_bucket) instead of O(n^2).

    lsh_capped_census reports the residual (pairs bridged rather than
    directly expanded). recover_capped=False restores the round-5 drop
    behavior; max_bucket=None disables the guard entirely.

    Plan shape: ONE shuffle (group ids per (band, bucket)); for long
    ids the clique + chunk + bridge expansion runs as a vectorized
    Arrow UDF over the grouped row's member array (round-8: the former
    interpreted nested-transform expression built one array cell of up
    to C(max_bucket,2) structs per CHUNK and concatenated all chunks
    into a single bucket-level array — ~250 MB cells at 50k docs —
    and measured 99 s of the 120 s operator total; the numpy gather is
    ~10x cheaper and bounds output batches), then distinct. Non-long
    id types keep the JVM expression path (identical semantics)."""
    all_bands = _band_buckets(sigs, id_col, rows_per_band, num_hashes)
    id_type = dict(sigs.dtypes).get(id_col)
    vectorized = id_type == "bigint"
    # spread the expansion rows over the cluster: the bucket groupBy is
    # tiny (hundreds of rows) and AQE rightly coalesces it to 1-2
    # partitions, which would serialize the O(sum n^2) pair expansion
    # AND the distinct's map-side partial aggregation onto 1-2 cores
    # (measured: 58 s of the 67 s pipeline at 50k docs). Explicit
    # round-robin count so AQE doesn't re-coalesce; scale-adaptive
    # (cluster width), not a local constant.
    expand_parts = 2 * sigs.sparkSession.sparkContext.defaultParallelism
    # the dedup of generated pairs is an explicit hash repartition on the
    # pair key followed by distinct (round-8b): the aggregate's required
    # distribution is already satisfied, so BOTH agg phases run
    # post-shuffle over pairs/K rows of state per task; the former bare
    # .distinct() ran its map-side partial agg with ~1.4-2.9M rows per
    # task against a ~145 MB execution-memory budget — right at the
    # hash-map fallback edge, where it degraded to per-task external
    # SORTS of the pair relation (measured: 8.4-23.8 s for the same
    # phase run-to-run; the restructure measured median ~8.2 s, max
    # 9.5 s over 4 interleaved rounds, identical 61,047,210 pairs).
    # 4x cluster width keeps per-task state small at any scale; the
    # explicit count also stops AQE re-coalescing the exchange back
    # into few fat partitions (user-specified counts are respected).
    dedup_parts = 4 * sigs.sparkSession.sparkContext.defaultParallelism
    if max_bucket is None:
        grouped = (
            all_bands.groupBy("band", "bucket")
            .agg(F.collect_list("id").alias("ids"))
            .where(F.size("ids") >= 2)
        )
        if vectorized:
            return (
                grouped.select("ids")
                .repartition(expand_parts)
                .mapInArrow(
                    _expand_pairs_arrow(), schema="id_a long, id_b long"
                )
                .repartition(dedup_parts, "id_a", "id_b")
                .distinct()
            )
        return (
            grouped.select(F.explode(_clique_pairs(F.col("ids"))).alias("p"))
            .select("p.id_a", "p.id_b")
            .repartition(dedup_parts, "id_a", "id_b")
            .distinct()
        )

    grouped = (
        all_bands.groupBy("band", "bucket")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("sec", "id"))
            ).alias("members")
        )
        .where(F.size("members") >= 2)
    )
    mem = F.col("members")
    ids_all = F.transform(mem, lambda m: m["id"])
    if vectorized:
        # project the recovery-ordered id array only (the sec strings
        # never cross the Python boundary — guide §4.1), then split
        # every oversized bucket into its <= max_bucket chunks plus
        # 2-element bridge rows IN the JVM: each expansion row is then
        # bounded by C(max_bucket, 2) pairs — a structural skew bound —
        # and the round-robin repartition spreads them evenly. `ids`
        # must be a materialized attribute before the chunk lambda
        # slices it (transform-lambda re-evaluation hazard, see
        # shingles()).
        idsdf = grouped.select(ids_all.alias("ids"))
        ids, mb = F.col("ids"), F.lit(max_bucket)
        n = F.size(ids)
        last_chunk = (F.ceil(n / mb) - 1).cast("int")
        if recover_capped:
            split = F.concat(
                F.transform(
                    F.sequence(F.lit(0), last_chunk),
                    lambda c: F.slice(ids, c * mb + 1, mb),
                ),
                # bridges: chunk 0's head paired with every later head
                # (a 2-element chunk cliques to exactly that pair)
                F.transform(
                    F.sequence(F.lit(1), last_chunk),
                    lambda c: F.array(
                        F.element_at(ids, 1),
                        F.element_at(ids, c * mb + 1),
                    ),
                ),
            )
        else:
            split = F.array().cast("array<array<bigint>>")
        chunks = idsdf.select(
            F.explode(
                F.when(n <= mb, F.array(ids)).otherwise(split)
            ).alias("ids")
        )
        return (
            chunks.repartition(expand_parts)
            .mapInArrow(
                _expand_pairs_arrow(), schema="id_a long, id_b long"
            )
            # JVM distinct behind an explicit pair-key repartition
            # (round-8b, see dedup_parts above). A numpy per-partition
            # unique variant was A/B'd earlier this round and REJECTED:
            # 12-13 s (JVM) vs ~20 s (numpy hop) — the extra Python
            # boundary crossing costs more than the hash agg saves.
            .repartition(dedup_parts, "id_a", "id_b")
            .distinct()
        )
    small = grouped.where(F.size(mem) <= max_bucket).select(
        F.explode(_clique_pairs(ids_all)).alias("p")
    )
    if not recover_capped:
        out = small
    else:
        big = grouped.where(F.size(mem) > max_bucket)
        n_chunks = F.ceil(F.size(mem) / F.lit(max_bucket)).cast("int")
        chunk_ids = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda c: F.transform(
                F.slice(mem, c * max_bucket + 1, F.lit(max_bucket)),
                lambda m: m["id"],
            ),
        )
        chunk_pairs = F.flatten(
            F.transform(chunk_ids, lambda ch: _clique_pairs(ch))
        )
        heads = F.transform(chunk_ids, lambda ch: F.element_at(ch, 1))
        head0 = F.element_at(heads, 1)
        bridges = F.transform(
            F.slice(heads, 2, F.size(heads)),
            lambda h: F.struct(
                F.least(head0, h).alias("id_a"),
                F.greatest(head0, h).alias("id_b"),
            ),
        )
        out = small.unionByName(
            big.select(
                F.explode(F.concat(chunk_pairs, bridges)).alias("p")
            )
        )
    return (
        out.select("p.id_a", "p.id_b")
        .repartition(dedup_parts, "id_a", "id_b")
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, simhash long): per-bit majority vote over distinct terms' md5
    bits (unweighted). 60 bits so the value stays positive in a long."""
    # Pre-partition the (id, text) doc rows by id before the explode
    # (round-8b): Generate/Project preserve the child's
    # hashpartitioning, so the groupBy(id) runs with its clustering
    # already satisfied and the per-term bit relation never shuffles.
    # Why this beats the default partial-agg shape HERE: the explode
    # keeps each doc's terms in its partition, so map-side combining
    # does reduce to ~one partial row per doc — but that partial row
    # is 61 columns (~500 B/doc) while an (id, text) doc row is
    # narrower for short-document corpora (~300 B at the bench
    # profile), and the explicit repartition additionally collapses
    # with any upstream input-normalization exchange
    # (CollapseRepartition) and drops a stage boundary. Measured at
    # 50k docs: 2 Exchanges -> 1, 1.6-2.3 s -> 1.3-1.7 s,
    # bit-identical simhash for all 50k (integer sums are exact under
    # any grouping). Decision rule at scale: for corpora whose
    # avg text bytes exceed ~8*bits, the 500 B partial row is the
    # narrower payload and the default shape wins — revisit there.
    # The projection keeps payload columns out of the exchange
    # (guide §2.3).
    par = df.sparkSession.sparkContext.defaultParallelism
    df = df.select(id_col, text_col).repartition(par, id_col)
    # one conv of the leading 15 hex digits to a 60-bit long, then per-bit
    # shift/and — bit k of hex digit j+1 (the nibble/bit_of_nibble
    # definition) is bit 4*(14-j)+k of that long. Same values as the
    # former 15x substring+conv + 60x float floor-div, ~4x fewer
    # expression nodes per term row (round-8).
    terms = _distinct_terms(df, text_col, id_col).select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("term")), 1, bits // 4), 16, 10)
        .cast("long")
        .alias("v"),
    )
    v = F.col("v")
    bit_cols = []
    for j in range(bits // 4):  # hex digit 1..15, most significant first
        for k in range(4):
            bitnum = j * 4 + k
            pos = 4 * (bits // 4 - 1 - j) + k
            bit_cols.append(
                (
                    F.shiftright(v, pos).bitwiseAND(F.lit(1)).cast("int")
                    * 2
                    - 1
                ).alias(f"b{bitnum}")
            )
    proj = terms.select(F.col(id_col), *bit_cols)
    aggs = [F.sum(f"b{i}").alias(f"s{i}") for i in range(bits)]
    summed = proj.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim + F.when(F.col(f"s{i}") > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return summed.select(F.col(id_col), sim.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.05,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """(id_a, id_b, jaccard) for doc pairs with n-gram shingle Jaccard >=
    threshold. Shingle-join based: |A ∩ B| via join on shingle, |A ∪ B| =
    |A|+|B|-|A∩B|. Shingles occurring in > max_shingle_freq docs are
    dropped first (stop-shingle skew guard)."""
    sh = (
        df.select(
            F.col(id_col).alias("id"),
            # tokens projected first — see minhash_signatures: inlining
            # the tokenizer into shingles()'s lambda re-runs it per
            # shingle (O(n^2) per doc)
            spark_tokens(F.col(text_col)).alias("_toks"),
        )
        .select(
            # per-doc array_distinct == the former corpus-wide
            # .distinct() on the (id, sh) key, minus its exchange
            "id",
            F.explode(
                F.array_distinct(shingles(F.col("_toks"), n))
            ).alias("sh"),
        )
    )
    freq = sh.groupBy("sh").agg(F.count("*").alias("f"))
    sh = sh.join(freq.where(F.col("f") <= max_shingle_freq), "sh").select(
        "id", "sh"
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def dedup_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide line-level deduplication (the RefinedWeb/Dolma shape:
    a line repeated ANYWHERE in the corpus survives only at its first
    occurrence, ordered by (doc_id, line_no); public method, e.g.
    Penedo et al. 2023 "The RefinedWeb Dataset").

    Returns (doc_id, n_lines_kept, n_lines_dropped, text_fp) where
    text_fp = md5 of the reassembled deduplicated text (scalar so the
    driver's canonicalizer can hash it; callers wanting the text itself
    use the same pipeline without the final md5).

    Scale shape: the first-occurrence owner per line is ONE
    map-side-combined `min(struct(doc_id, line_no))` aggregation keyed
    by the line (never a window over per-line partitions, whose hottest
    line would serialize into one task), then an equi-join back on the
    line marks keepers, then one per-doc reassembly agg. Three
    combiner-friendly shuffles, no skew hotspot beyond the hash join on
    the hottest line's candidate rows."""
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(
                F.split(F.col(text_col), "\n"), lambda x: F.length(x) > 0
            )
        ).alias("line_no", "line"),
    )
    first = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "line_no")).alias("first_at")
    )
    kept = (
        lines.join(first, "line")
        .withColumn(
            "keep",
            (F.col("first_at.doc_id") == F.col("doc_id"))
            & (F.col("first_at.line_no") == F.col("line_no")),
        )
    )
    agg = kept.groupBy("doc_id").agg(
        F.sum(F.col("keep").cast("int")).alias("n_lines_kept"),
        F.sum((~F.col("keep")).cast("int")).alias("n_lines_dropped"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct("line_no", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            )
        ).alias("text_fp"),
    )
    # docs with no non-empty lines never reach the explode — restore them
    # with zero counts and the empty-text fingerprint
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            F.coalesce("n_lines_dropped", F.lit(0)).alias(
                "n_lines_dropped"
            ),
            F.coalesce("text_fp", F.md5(F.lit(""))).alias("text_fp"),
        )
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """(id, component) for every node in `pairs`, where component is the
    MINIMUM id reachable from the node — the missing last step of every
    near-dup pipeline here (lsh_candidate_pairs / ngram_jaccard_pairs /
    embedding_dups emit candidate EDGES; dedup needs the GROUPS).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    standard shared-nothing CC construction. Each round is two
    combiner-friendly shuffles (a groupBy-min per endpoint and the
    edge rewrite join); the edge set monotonically contracts toward
    star graphs rooted at each component's minimum, converging in
    O(log^2 n) rounds — ~5 rounds for near-dup graphs, whose
    components are dense cliques plus short bridge chains, vs the
    O(diameter) rounds naive label propagation needs on a path.

    Scale notes: no collect_list of neighbor sets (a hub node's
    neighborhood never materializes as one array — the min is a
    streaming aggregate, so a 10^8-degree boilerplate hub costs one
    combiner cell, not one task's memory); each iteration
    localCheckpoints to truncate the lineage (iterative joins
    otherwise stack a plan per round); convergence is detected from
    the checkpoint's own count + order-independent edge-hash sum (one
    extra cheap job per round, over data already materialized).

    Works on any orderable id type (string doc_ids included). The
    reference has no distributed analog — its corpora fit one process
    (textsearch/ suffix arrays are in-memory); this is the 100 TB
    path.
    """
    # normalize to undirected canonical edges (lo, hi), drop self-loops
    a, b = F.col(id_a), F.col(id_b)
    edges = (
        pairs.where(a != b)
        .select(F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if not edges.take(1):
        return edges.select(
            F.col("lo").alias("id"), F.col("hi").alias("component")
        )

    def _signature(e: DataFrame):
        row = e.agg(
            F.count("*").alias("n"),
            # decimal sum: an int64 hash sum would overflow (ANSI mode
            # raises) after ~2^23 edges
            F.sum(F.xxhash64("lo", "hi").cast("decimal(38,0)")).alias("h"),
        ).first()
        return row["n"], row["h"]

    def _large_star(e: DataFrame) -> DataFrame:
        # for each node u, connect every LARGER neighbor to
        # m = min(N(u) ∪ {u})
        nbrs = e.select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ).unionByName(e.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least(F.col("mv"), F.col("u"))
        return (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(m.alias("lo"), F.col("v").alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient each edge larger -> smaller; for each node u, connect
        # u and all its smaller neighbors to their collective minimum
        dirw = e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        mins = dirw.groupBy("u").agg(F.min("v").alias("mv"))
        rewired = dirw.join(mins, "u").select(
            F.col("mv").alias("lo"), F.col("v").alias("hi")
        )
        selfed = mins.select(
            F.col("mv").alias("lo"), F.col("u").alias("hi")
        )
        return (
            rewired.unionByName(selfed)
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )

    sig = _signature(edges)
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        new_sig = _signature(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )

    # converged edge set is a star per component: (root, member) with
    # root == component minimum; roots label themselves
    members = edges.select(
        F.col("hi").alias("id"), F.col("lo").alias("component")
    )
    roots = edges.select(F.col("lo").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return members.unionByName(roots)


def dedup_resolve(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Resolve near-dup candidate edges into keep/drop decisions:
    (doc_id, component, is_canonical) for EVERY input doc. Docs in no
    pair form singleton components of themselves. The canonical doc of
    a component is its longest text, ties broken by smallest id — the
    usual "keep the most complete copy" rule for crawl snapshots.

    Scale shape: component labels via connected_components (above);
    canonical selection is ONE map-side-combined min(struct) per
    component — never a window over component partitions, whose largest
    component (boilerplate cluster: millions of docs) would serialize
    into a single task."""
    comp = connected_components(pairs)
    labeled = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
            # NULL text must always LOSE canonical selection: a bare
            # length(NULL) = NULL sorts FIRST inside min(struct), which
            # would crown an empty copy over real text.
            F.coalesce(F.length("_t"), F.lit(-1)).alias("_len"),
        )
    )
    canon = labeled.groupBy("component").agg(
        F.min(F.struct((-F.col("_len")).alias("neg"), F.col("doc_id"))).alias(
            "_best"
        )
    )
    return (
        labeled.join(canon, "component")
        .select(
            "doc_id",
            "component",
            (F.col("doc_id") == F.col("_best.doc_id")).alias("is_canonical"),
        )
    )
