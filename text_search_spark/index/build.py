"""Distributed inverted-index build (SURVEY.md §7.1 M1-M3, M5).

Replaces the reference's single-process suffix-array index build
(/root/reference/textsearch/python/textsearch/suffix_array.py:46-89,
csrc/suffix_array.cc:58-140) with a Spark-native pipeline:

  corpus --(JVM tokenizer expr, no Python)--> token arrays
         --(map-side Arrow grouper: one row per (doc, term), positions
            pre-encoded)--> posting rows
         --(ONE hash shuffle on (term_bucket, shard))--> sorted partitions
         --(streaming mapInArrow, NumPy codec)--> compressed segments

Small corpora take the driver route instead: a fresh build, or a stream /
upsert batch, holding at most DRIVER_BUILD_MAX_TOKENS tokens is collected
once as Arrow (doc_id, url, tokens from the same JVM tokenizer) and
land_on_driver runs the same Arrow code in process — _doc_grouper, one
NumPy lexsort in place of the shuffle and sortWithinPartitions,
_segment_builder — writing one term-sorted file per bucket. At that size
per-job scheduling, not indexing work, is the Spark route's cost: 16
jobs for a 250-page build, 26 for a 2-page upsert; the driver route runs
the collect, plus one cache materialization for a stream batch whose
size the optimizer cannot estimate. Both routes land equal rows
(tests/test_driver_build.py). Each route is one function, land_on_spark
or land_on_driver, called alike by build_index and by the stream batch
append (streaming/incremental.py).

Scale design:
  * `shard = pmod(xxhash64(doc_id), n_shards)` bounds head-term (Zipf) skew:
    the largest posting partial is df(term)/n_shards — the salted
    repartitioning required by the north rule. Because the shard is a pure
    function of doc_id, shards are doc-disjoint CONSISTENTLY across terms,
    which makes query-time scoring doc-sharded (no cross-term data motion,
    fixed float64 summation order; see query.py).
  * Map-side (doc, term) grouping BEFORE the shuffle (one doc = one input
    row, so the reduction completes map-side with no extra exchange): the
    shuffle carries one row per distinct (doc, term) with tf + varbyte
    positions blob instead of one row per token — row count drops by the
    mean within-doc term frequency, and the positions varbyte work runs
    corpus-parallel pre-shuffle.
  * Sort-based segment build: sortWithinPartitions(term, shard, doc_id)
    + a streaming Arrow UDF — no collect_list, no per-group Python, memory
    bounded by the largest (term, shard) partial.
  * Sizing rule at scale: pick n_shards so max_df/n_shards postings fit an
    executor task (~100M rows), n_buckets so a bucket's segment files stay
    in the 128MB-1GB range; both are config, not code.
  * Resume: the exploded token relation is materialized ONCE (tokens_tmp,
    partitioned by term_bucket), then segment building proceeds in
    bucket-group jobs, each a checkpointed unit — re-running after a failure
    skips completed groups and never re-tokenizes the corpus. Final
    manifest.json is the atomic commit (Iceberg-snapshot analog).
  * Counters (docs tokenized, postings emitted, bytes compressed) land in
    an append-only metrics table, computed exactly from the outputs.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
from functools import partial
from typing import Callable, Dict, Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..textnorm import spark_tokens
from . import format as fmt

TOKENS_TMP = "tokens_tmp"

# read-side schema of the materialized posting-rows tmp (explicit so an
# empty corpus reads as an empty relation, not a schema-inference error).
# The tmp stores the term STRING so the vocab stage derives the
# dictionary from it (no extra corpus scan); term_id replaces it in the
# projection right before the posting shuffle.
TOKENS_TMP_SCHEMA = (
    "doc_id long, blob binary, term string, term_bucket int"
)


def hash_doc_id(col):
    """Deterministic 60-bit doc_id from a url column — pure function, no
    shuffle, computable identically in Python/DuckDB (md5 prefix).
    Uniqueness is ENFORCED by build_index (count vs countDistinct over
    doc_stats fails the build on collision; birthday bound ~2^30 docs).
    Beyond that scale, supply a caller-assigned wider id through
    prepare_corpus(doc_id_col=...) instead of the hash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash_doc_id_py(url: str) -> int:
    import hashlib

    return int(hashlib.md5(url.encode()).hexdigest()[:15], 16)


def duckdb_doc_id_sql(col: str) -> str:
    return f"CAST(('0x' || substring(md5({col}), 1, 15)) AS BIGINT)"


def prepare_corpus(
    df: DataFrame,
    doc_id_col: Optional[str] = None,
    url_col: Optional[str] = None,
    text_col: str = "text",
) -> DataFrame:
    """Normalize any corpus to (doc_id long, url string, text string)."""
    if doc_id_col is not None:
        out = df.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            (F.col(url_col) if url_col else F.col(doc_id_col).cast("string")).alias(
                "url"
            ),
            F.col(text_col).alias("text"),
        )
    else:
        assert url_col is not None, "need doc_id_col or url_col"
        out = df.select(
            hash_doc_id(F.col(url_col)).alias("doc_id"),
            F.col(url_col).alias("url"),
            F.col(text_col).alias("text"),
        )
    return out


def check_doc_id_unique(corpus: DataFrame) -> None:
    n, nd = corpus.select(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("nd")
    ).first()
    if n != nd:
        raise ValueError(f"doc_id collision: {n} rows, {nd} distinct doc_ids")


# builder chunk size: rows buffered before a vectorized flush. Small enough
# that a chunk's working set is reused from the allocator arena across
# chunks (first-touch page faults are expensive in VMs), large enough to
# amortize per-chunk fixed numpy overhead.
_CHUNK_ROWS = 262_144


def _build_chunk_arrays(
    term_ids: np.ndarray,
    shard: np.ndarray,
    doc_id: np.ndarray,
    doc_len: np.ndarray,
    tf: np.ndarray,
    pos_data: np.ndarray,
    pos_offs: np.ndarray,
    bucket: np.ndarray,
    avgdl: float,
):
    """Fully vectorized segment build for a sorted chunk containing only
    COMPLETE (term, shard) groups — emits the v2 block-skippable format
    (codec.py): block-structured postings (doc/tf/dl), a SEPARATE positions
    sidecar (scoring never reads position bytes), and the block-max
    directory.

    Input is ONE ROW PER (term, shard, doc) RUN — the map-side grouper
    (_doc_grouper) already collapsed per-token rows and pre-encoded each
    run's positions as varbyte(absolute-first, then deltas), the exact
    per-run byte layout of the positions sidecar, so a group's positions
    column is a pure byte-range slice of the concatenated run blobs
    (`pos_data` flat uint8 buffer + `pos_offs` per-row offsets). Term
    strings never become Python objects on this path. Returns
    (g_start_rows, columns-dict-without-term)."""
    from ..codec import (
        _BM_DTYPE,
        _HDR_DTYPE,
        _PREFIX_DTYPE,
        BLOCK,
        f32_upper,
        tf_saturation,
        varbyte_encode_with_sizes,
    )

    n = doc_id.size  # == number of doc-runs R
    gchange = np.concatenate(
        [[True], (term_ids[1:] != term_ids[:-1]) | (shard[1:] != shard[:-1])]
    )
    g_start_rows = np.flatnonzero(gchange)  # row index of each group start
    G = g_start_rows.size
    nd = np.diff(np.append(g_start_rows, n))  # docs per group
    udocs = doc_id
    dls = doc_len
    tfs = tf
    R = n

    grp_of_run = np.repeat(np.arange(G), nd)
    run_rank = np.arange(R) - np.repeat(g_start_rows, nd)
    run_g_start = np.append(g_start_rows, n)

    # doc gaps: plain delta, absolute at each group's first doc (block-
    # boundary decode bases come from the block-max sidecar's last_doc)
    doc_gaps = udocs.copy()
    doc_gaps[1:] = udocs[1:] - udocs[:-1]
    doc_gaps[g_start_rows] = udocs[g_start_rows]

    # ---- blocks (globally numbered, groups contiguous) ----
    nblocks = (nd + BLOCK - 1) // BLOCK
    TB = int(nblocks.sum())
    blk_grp = np.repeat(np.arange(G), nblocks)
    blk_off = np.concatenate([[0], np.cumsum(nblocks)])
    blk_rank = np.arange(TB) - blk_off[blk_grp]
    nd_blk = np.minimum(BLOCK, nd[blk_grp] - blk_rank * BLOCK)
    blk_start_run = run_g_start[blk_grp] + blk_rank * BLOCK

    # ---- postings value stream: per block [gaps, tfs, dls] ----
    v_off = np.concatenate([[0], np.cumsum(3 * nd_blk)])
    kb = blk_off[grp_of_run] + run_rank // BLOCK  # global block per run
    rb = run_rank % BLOCK
    vals = np.empty(int(v_off[-1]), dtype=np.uint64)
    vb = v_off[kb]
    vals[vb + rb] = doc_gaps.astype(np.uint64)
    vals[vb + nd_blk[kb] + rb] = tfs.astype(np.uint64)
    vals[vb + 2 * nd_blk[kb] + rb] = dls.astype(np.uint64)
    pbuf, psizes = varbyte_encode_with_sizes(vals)
    blk_nbytes = (
        np.add.reduceat(psizes, v_off[:-1]) if TB else np.empty(0, np.int64)
    )
    blk_byte_off = np.concatenate([[0], np.cumsum(blk_nbytes)])
    g_pay_start = blk_byte_off[blk_off[:-1]]
    g_pay_end = blk_byte_off[blk_off[1:]]
    hdr = np.empty(TB, dtype=_HDR_DTYPE)
    hdr["nd"] = nd_blk
    hdr["nbytes"] = blk_nbytes
    hdr_bytes = hdr.tobytes()
    hsz = _HDR_DTYPE.itemsize
    prefixes = np.empty(G, dtype=_PREFIX_DTYPE)
    prefixes["n_docs"] = nd
    prefixes["n_blocks"] = nblocks
    pfx_bytes = prefixes.tobytes()
    psz = _PREFIX_DTYPE.itemsize

    postings_col = [
        pfx_bytes[g * psz : (g + 1) * psz]
        + hdr_bytes[blk_off[g] * hsz : blk_off[g + 1] * hsz]
        + pbuf[g_pay_start[g] : g_pay_end[g]]
        for g in range(G)
    ]

    # ---- positions sidecar (row order == group order): each run's blob
    # is already the final per-run byte encoding, so a group's positions
    # column is one contiguous slice of the chunk's flat blob buffer ----
    g_pos_start = pos_offs[g_start_rows]
    g_pos_end = pos_offs[np.append(g_start_rows[1:], n)]
    positions_col = [
        pos_data[s:e].tobytes() for s, e in zip(g_pos_start, g_pos_end)
    ]

    # ---- block-max sidecar (f32_upper: the narrowed bound must stay
    # an UPPER bound of the exact f64 saturation — codec.f32_upper) ----
    sat = f32_upper(tf_saturation(tfs, dls, avgdl))
    blk_end_run = np.minimum(
        blk_start_run + BLOCK, run_g_start[blk_grp] + nd[blk_grp]
    )
    bm = np.empty(TB, dtype=_BM_DTYPE)
    if TB:
        bm["max_sat"] = np.maximum.reduceat(sat, blk_start_run)
        bm["last_doc"] = udocs[blk_end_run - 1].astype(np.uint64)
    bm_bytes = bm.tobytes()
    bm_item = _BM_DTYPE.itemsize
    bm_start = blk_off[:-1] * bm_item
    bm_end = blk_off[1:] * bm_item

    return g_start_rows, {
        "term_bucket": bucket[g_start_rows].astype(np.int32),
        "shard": shard[g_start_rows].astype(np.int32),
        "df_part": nd.astype(np.int64),
        "cf_part": np.add.reduceat(tfs, g_start_rows).astype(np.int64)
        if R
        else np.empty(0, np.int64),
        "postings": postings_col,
        "positions": positions_col,
        "blockmax": [bm_bytes[s:e] for s, e in zip(bm_start, bm_end)],
        "bm_avgdl": np.full(G, avgdl, dtype=np.float64),
    }


# max rows per OUTPUT Arrow record batch yielded from a UDF. One yielded
# batch = one large socket write; unbounded output batches (tens of MB of
# posting blobs) can deadlock the bidirectional JVM<->worker pipe when
# both sides block on full send buffers. Keep output batches modest.
_OUT_ROWS = 128


_SEG_ARROW_SCHEMA = None


def _seg_arrow_schema():
    import pyarrow as pa

    global _SEG_ARROW_SCHEMA
    if _SEG_ARROW_SCHEMA is None:
        _SEG_ARROW_SCHEMA = pa.schema(
            [
                ("term_bucket", pa.int32()),
                ("term_id", pa.int64()),
                ("shard", pa.int32()),
                ("df_part", pa.int64()),
                ("cf_part", pa.int64()),
                ("postings", pa.binary()),
                ("positions", pa.binary()),
                ("blockmax", pa.binary()),
                ("bm_avgdl", pa.float64()),
            ]
        )
    return _SEG_ARROW_SCHEMA


def _flat_binary(arr):
    """(flat uint8 data, int64 per-row offsets) view of an Arrow binary
    array — no per-row Python bytes objects."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs_buf = np.frombuffer(arr.buffers()[1], dtype=np.int32)
    offs = offs_buf[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data, offs


def _doc_grouper(batches):
    """Map-side (doc, term) pre-aggregation (mapInArrow, runs BEFORE the
    shuffle): (doc_id long, tokens array<string>) batches -> one row per
    DISTINCT (doc, term): (doc_id, term, blob).

    blob = varbyte(doc_len) + varbyte(tf) + varbyte(absolute first
    position, then deltas): the scalar doc_len/tf columns ride INSIDE the
    blob as a 2-value varbyte header (~2-4 bytes vs 8 bytes of int32s) and
    the positions payload after the header is the exact per-run byte
    layout of the index's positions sidecar — the post-shuffle segment
    builder strips headers and concatenates payloads instead of
    re-encoding. The row narrowing matters because the JVM<->Python Arrow
    pipe, not compute, dominates the segment stage (BENCH.md war story 6;
    a measured 8.3s -> 5.8s passthrough transfer for the same rows).
    Cuts shuffle rows by the average within-doc term frequency and removes
    the per-token row explosion entirely; replaces the former
    posexplode + broadcast-join(doc_len) plan, which could not broadcast
    doc_stats at 10^12 docs. Vectorized: token strings stay in Arrow
    buffers (dictionary_encode + take); the only per-token numpy work is
    one stable integer argsort per batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..codec import varbyte_encode_with_sizes

    def bounded(batches):
        # Re-slice oversized input batches: Spark batches the input by ROW
        # count (spark.sql.execution.arrow.maxRecordsPerBatch, default
        # 65536 docs), so long web documents could put hundreds of
        # millions of tokens in one batch — the per-batch argsort and
        # encode working set must stay bounded regardless of doc length.
        # A doc is never split (slicing is at row granularity).
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            toks_in_batch = len(batch.column(1).flatten())
            if toks_in_batch <= _GROUPER_MAX_TOKENS or n == 1:
                yield batch
                continue
            step = max(1, int(n * _GROUPER_MAX_TOKENS / toks_in_batch))
            for s in range(0, n, step):
                yield batch.slice(s, min(step, n - s))

    for batch in bounded(batches):
        doc_ids = (
            batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
        )
        la = batch.column(1)
        if la.null_count:
            # defensive: JVM side coalesces to array(); never expected here
            la = pc.fill_null(la, [])
        offs = la.offsets.to_numpy().astype(np.int64)
        offs = offs - offs[0]
        flat = la.flatten()
        n_tok = len(flat)
        if n_tok == 0:
            continue
        lens = np.diff(offs)
        d_idx = np.repeat(np.arange(len(doc_ids)), lens)
        pos = np.arange(n_tok, dtype=np.int64) - np.repeat(offs[:-1], lens)
        denc = pc.dictionary_encode(flat)
        if isinstance(denc, pa.ChunkedArray):
            denc = denc.combine_chunks()
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        dict_vals = denc.dictionary
        key = d_idx * np.int64(len(dict_vals) + 1) + codes
        order = np.argsort(key, kind="stable")  # stable: pos stays ascending
        skey = key[order]
        spos = pos[order]
        rchange = np.concatenate([[True], skey[1:] != skey[:-1]])
        rstarts = np.flatnonzero(rchange)
        tf = np.diff(np.append(rstarts, n_tok))
        pgaps = spos.copy()
        pgaps[1:] = spos[1:] - spos[:-1]
        pgaps[rstarts] = spos[rstarts]
        run_d = d_idx[order][rstarts]
        run_code = codes[order][rstarts]
        # interleave the [doc_len, tf] header values in front of each
        # run's position gaps, then ONE varbyte pass over everything:
        # token i of run r lands at i + 2r + 2, headers at rstarts[r]+2r
        R = rstarts.size
        r_of_tok = np.repeat(np.arange(R), tf)
        vals = np.empty(n_tok + 2 * R, dtype=np.uint64)
        hdr_idx = rstarts + 2 * np.arange(R)
        vals[hdr_idx] = lens[run_d].astype(np.uint64)
        vals[hdr_idx + 1] = tf.astype(np.uint64)
        vals[np.arange(n_tok) + 2 * r_of_tok + 2] = pgaps.astype(np.uint64)
        buf, sizes = varbyte_encode_with_sizes(vals)
        b_off = np.concatenate([[0], np.cumsum(sizes)])
        blob_offs = np.append(b_off[hdr_idx], b_off[-1]).astype(np.int32)
        blob = pa.Array.from_buffers(
            pa.binary(),
            R,
            [None, pa.py_buffer(blob_offs.tobytes()), pa.py_buffer(buf)],
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids[run_d], pa.int64()),
                pc.take(dict_vals, pa.array(run_code)),
                blob,
            ],
            names=["doc_id", "term", "blob"],
        )


_GROUPED_SCHEMA = "doc_id long, term string, blob binary"

# per-invocation working-set bound for the grouper (tokens per processed
# sub-batch); ~1M tokens keeps the argsort + varbyte buffers in the tens
# of MB regardless of document length
_GROUPER_MAX_TOKENS = 1_048_576


def doc_tokens():
    """The one tokenizer as a Spark column: text's token array (JVM
    expression, byte-identity contract), empty for NULL text — bare
    spark_tokens gives NULL there, which size() turns into NULL (ANSI)
    or -1 and the grouper into a missing doc."""
    return F.coalesce(
        spark_tokens(F.col("text")), F.array().cast("array<string>")
    )


def grouped_terms(corpus: DataFrame) -> DataFrame:
    """One row per (doc, term) with the doc_len/tf/positions blob, term
    still a STRING: (doc_id, term, blob). Tokenization stays a JVM
    expression (byte-identity contract); the grouper UDF only sees token
    arrays. This is the relation the materialized tokens_tmp stores —
    keeping the string there lets the vocab stage derive the dictionary
    from the tmp instead of a third full corpus tokenize scan (a term
    string averages the same bytes as the int64 id it replaces)."""
    toks = corpus.select("doc_id", doc_tokens().alias("tokens"))
    return toks.mapInArrow(_doc_grouper, schema=_GROUPED_SCHEMA)


def drop_terms(rows: DataFrame) -> DataFrame:
    """Swap the term string for term_id = xxhash64(term) right before the
    posting shuffle — the exchange carries int64 keys, never strings
    (term<->id uniqueness is asserted by the vocab stage). NOTE: neither
    term_bucket NOR shard is a column — term_bucket is a pure function of
    term_id and shard of doc_id (pmod(xxhash64)), so callers repartition/
    sort on the EXPRESSIONS and the builder recomputes both Python-side
    (functions.xxhash.xxhash64_long_vec, bit-identical to Spark's),
    keeping the bytes out of the shuffle and the JVM->Python Arrow pipe
    (the pipe transfer, not the sort, dominates the segment stage:
    ~36 s of 43 s at 400k docs / local[16])."""
    return rows.select(
        "doc_id",
        "blob",
        F.xxhash64("term").alias("term_id"),
    )


def bucket_expr(n_buckets: int):
    """term_bucket as an expression over term_id (for repartition/write)."""
    return F.pmod(F.col("term_id"), F.lit(n_buckets)).cast("int")


def shard_expr(n_shards: int):
    """shard as an expression over doc_id (for repartition/sort) — the
    salted doc-sharding key; recomputed Python-side by the builder."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")


def _decode_varbyte_at(data: np.ndarray, ptr: np.ndarray):
    """Decode one varbyte value per pointer from a flat uint8 buffer.
    Returns (values uint64, pointers advanced past the value). Vectorized:
    the loop runs max-value-bytes (<=3 for doc_len/tf) iterations."""
    val = np.zeros(ptr.size, dtype=np.uint64)
    shift = np.zeros(ptr.size, dtype=np.uint64)
    pos = ptr.astype(np.int64).copy()
    active = np.arange(ptr.size)
    while active.size:
        b = data[pos[active]]
        val[active] |= (b & np.uint8(0x7F)).astype(np.uint64) << shift[active]
        shift[active] += np.uint64(7)
        pos[active] += 1
        active = active[(b & np.uint8(0x80)) != 0]
    return val, pos


# defensive spill: a single still-open (term, shard) group accumulated
# beyond this many rows stops buffering in memory and spools to a local
# Arrow IPC file; the group is then encoded STREAMING (block-at-a-time)
# with working set = one chunk + the group's encoded output bytes. The
# structural bound (_auto_size: largest partial = max_df/n_shards) makes
# this path unreachable in a well-sized build — it converts an OOM into
# sequential local-disk traffic when sizing assumptions break.
_SPILL_GROUP_ROWS = 4 * _CHUNK_ROWS


def _decode_posting_rows(tbl):
    """(doc_id, blob, term_id) Arrow table -> numpy views: term_ids,
    doc_ids, doc_len, tf, stripped positions payload (pos_data, pos_offs).
    Shared by the in-memory flush and the spill-stream encoder."""
    col = lambda name: (
        tbl.column(name)
        .combine_chunks()
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    term_ids = col("term_id")
    doc_ids = col("doc_id")
    data, offs = _flat_binary(tbl.column("blob"))
    dl, p1 = _decode_varbyte_at(data, offs[:-1])
    tf, p2 = _decode_varbyte_at(data, p1)
    pay_len = offs[1:] - p2
    pos_offs = np.concatenate([[0], np.cumsum(pay_len)])
    total = int(pos_offs[-1])
    src = (
        np.repeat(p2 - pos_offs[:-1], pay_len)
        + np.arange(total, dtype=np.int64)
    )
    return term_ids, doc_ids, dl.astype(np.int64), tf.astype(np.int64), (
        data[src]
    ), pos_offs


def _encode_group_streaming(
    chunks,
    avgdl: float,
    n_buckets: int,
    n_shards: int,
):
    """Encode ONE (term, shard) group from an iterator of Arrow tables
    (rows doc_id-ascending across chunks — the partition sort guarantees
    it, so no merge is needed) into a single segment row, block-at-a-time:
    peak memory = one chunk + the group's ENCODED bytes (~1-2 B/posting),
    never the decoded 20+ B/posting arrays for the whole group.
    Byte-identical to _build_chunk_arrays for the same rows (varbyte is
    per-value; block payloads concatenate)."""
    from ..codec import (
        _BM_DTYPE,
        _HDR_DTYPE,
        _PREFIX_DTYPE,
        BLOCK,
        f32_upper,
        tf_saturation,
        varbyte_encode_with_sizes,
    )
    from ..functions.xxhash import xxhash64_long_vec

    payload = bytearray()
    positions = bytearray()
    headers: List[bytes] = []
    bms: List[bytes] = []
    n_docs = 0
    cf = 0
    prev_doc = None
    term_id = None
    shard = None
    # carry of decoded-but-unencoded rows (< BLOCK of them)
    c_doc = np.empty(0, np.int64)
    c_dl = np.empty(0, np.int64)
    c_tf = np.empty(0, np.int64)

    def encode_blocks(doc, dl, tf, final: bool):
        nonlocal prev_doc, n_docs, cf
        n = doc.size
        stop = n if final else (n // BLOCK) * BLOCK
        for s in range(0, stop, BLOCK):
            e = min(s + BLOCK, stop)
            d = doc[s:e]
            gaps = d.copy()
            if prev_doc is None:
                gaps[1:] = d[1:] - d[:-1]  # first doc of group: absolute
            else:
                gaps = np.empty_like(d)
                gaps[0] = d[0] - prev_doc
                gaps[1:] = d[1:] - d[:-1]
            vals = np.concatenate(
                [
                    gaps.astype(np.uint64),
                    tf[s:e].astype(np.uint64),
                    dl[s:e].astype(np.uint64),
                ]
            )
            blk, _ = varbyte_encode_with_sizes(vals)
            hdr = np.empty(1, dtype=_HDR_DTYPE)
            hdr["nd"] = e - s
            hdr["nbytes"] = len(blk)
            headers.append(hdr.tobytes())
            sat = f32_upper(tf_saturation(tf[s:e], dl[s:e], avgdl))
            bm = np.empty(1, dtype=_BM_DTYPE)
            bm["max_sat"] = sat.max()
            bm["last_doc"] = np.uint64(d[-1])
            bms.append(bm.tobytes())
            payload.extend(blk)
            prev_doc = int(d[-1])
            n_docs += e - s
            cf += int(tf[s:e].sum())
        return stop

    for tbl in chunks:
        if tbl.num_rows == 0:
            continue
        t_ids, doc, dl, tf, pos_data, pos_offs = _decode_posting_rows(tbl)
        if term_id is None:
            term_id = int(t_ids[0])
            shard = int(
                np.mod(
                    xxhash64_long_vec(doc[:1]), np.int64(n_shards)
                )[0]
            )
        positions.extend(pos_data.tobytes())
        doc = np.concatenate([c_doc, doc])
        dl = np.concatenate([c_dl, dl])
        tf = np.concatenate([c_tf, tf])
        done = encode_blocks(doc, dl, tf, final=False)
        c_doc, c_dl, c_tf = doc[done:], dl[done:], tf[done:]
    if c_doc.size:
        encode_blocks(c_doc, c_dl, c_tf, final=True)
    if term_id is None:
        return None
    prefix = np.empty(1, dtype=_PREFIX_DTYPE)
    prefix["n_docs"] = n_docs
    prefix["n_blocks"] = len(headers)
    postings_cell = (
        prefix.tobytes() + b"".join(headers) + bytes(payload)
    )
    if len(postings_cell) >= (1 << 31) - 1:
        raise OverflowError(
            "single (term, shard) posting list exceeds the 2 GiB Arrow "
            "cell limit even after spilling — increase n_shards"
        )
    return {
        "term_bucket": int(term_id % n_buckets),
        "term_id": term_id,
        "shard": shard,
        "df_part": n_docs,
        "cf_part": cf,
        "postings": postings_cell,
        "positions": bytes(positions),
        "blockmax": b"".join(bms),
        "bm_avgdl": float(avgdl),
    }


def _segment_builder(
    avgdl: float,
    n_buckets: int,
    n_shards: int,
    spill_rows: Optional[int] = None,
    chunk_rows: Optional[int] = None,
):
    """Streaming mapInArrow fn: sorted (term_id, shard-of-doc_id, doc_id)
    record batches of (doc_id, blob, term_id) — one row per doc-run, from
    grouped_postings() — -> one segment row per (term_id, shard) group.
    Neither term_bucket nor shard crosses the pipe: both are recomputed
    here (term_bucket = term_id % n_buckets; shard = pmod(xxhash64(
    doc_id), n_shards) via the bit-identical vectorized Python XXH64),
    and doc_len/tf ride as a 2-value varbyte header inside the blob —
    the JVM->Python Arrow transfer is the segment stage's dominant cost
    (BENCH.md war story 6), so every fixed byte off the row is wall time.
    Arrow-native and string-free: every column is an int or a binary
    view, zero-copy to numpy. Accumulates batches into chunks, holds back
    the possibly-incomplete trailing group, flushes vectorized, and
    yields bounded (<= _OUT_ROWS) output batches."""
    import pyarrow as pa

    from ..functions.xxhash import xxhash64_long_vec

    # resolved DRIVER-side at builder construction so tests/conf changes
    # reach the worker through the serialized closure (workers re-import
    # the module and would otherwise see the default global)
    spill_rows = _SPILL_GROUP_ROWS if spill_rows is None else spill_rows
    chunk_rows = _CHUNK_ROWS if chunk_rows is None else chunk_rows
    schema = _seg_arrow_schema()

    def shard_of(doc_ids: np.ndarray) -> np.ndarray:
        # np.mod on int64 with positive modulus == Spark pmod
        return np.mod(xxhash64_long_vec(doc_ids), np.int64(n_shards))

    def docs_abs(tbl: "pa.Table") -> np.ndarray:
        return (
            tbl.column("doc_id")
            .combine_chunks()
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )

    def flush(tbl: "pa.Table") -> Iterator["pa.RecordBatch"]:
        term_ids, doc_ids, dl, tf, pos_data, pos_offs = (
            _decode_posting_rows(tbl)
        )
        g_start_rows, cols = _build_chunk_arrays(
            term_ids,
            shard_of(doc_ids),
            doc_ids,
            dl,
            tf,
            pos_data,
            pos_offs,
            term_ids % np.int64(n_buckets),
            avgdl,
        )
        g_term_ids = term_ids[g_start_rows]
        G = len(g_start_rows)
        for st in range(0, G, _OUT_ROWS):
            en = min(st + _OUT_ROWS, G)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols["term_bucket"][st:en], pa.int32()),
                    pa.array(g_term_ids[st:en], pa.int64()),
                    pa.array(cols["shard"][st:en], pa.int32()),
                    pa.array(cols["df_part"][st:en], pa.int64()),
                    pa.array(cols["cf_part"][st:en], pa.int64()),
                    pa.array(cols["postings"][st:en], pa.binary()),
                    pa.array(cols["positions"][st:en], pa.binary()),
                    pa.array(cols["blockmax"][st:en], pa.binary()),
                    pa.array(cols["bm_avgdl"][st:en], pa.float64()),
                ],
                schema=schema,
            )

    def last_group_start(tbl: "pa.Table") -> int:
        codes = (
            tbl.column("term_id")
            .combine_chunks()
            .to_numpy(zero_copy_only=False)
        )
        sh = shard_of(docs_abs(tbl))
        change = np.flatnonzero(
            np.concatenate(
                [[True], (codes[1:] != codes[:-1]) | (sh[1:] != sh[:-1])]
            )
        )
        return int(change[-1])

    def spooled_prefix_rows(tbl: "pa.Table", key) -> int:
        """Leading rows of tbl continuing the spooled (term_id, shard)
        group (sorted input => they form a prefix)."""
        t = (
            tbl.column("term_id")
            .combine_chunks()
            .to_numpy(zero_copy_only=False)
        )
        mask = (t == key[0]) & (shard_of(docs_abs(tbl)) == key[1])
        if mask.all():
            return tbl.num_rows
        return int(np.argmin(mask))

    def row_to_batch(row: dict) -> "pa.RecordBatch":
        return pa.RecordBatch.from_arrays(
            [
                pa.array([row["term_bucket"]], pa.int32()),
                pa.array([row["term_id"]], pa.int64()),
                pa.array([row["shard"]], pa.int32()),
                pa.array([row["df_part"]], pa.int64()),
                pa.array([row["cf_part"]], pa.int64()),
                pa.array([row["postings"]], pa.binary()),
                pa.array([row["positions"]], pa.binary()),
                pa.array([row["blockmax"]], pa.binary()),
                pa.array([row["bm_avgdl"]], pa.float64()),
            ],
            schema=schema,
        )

    def build(batches):
        import tempfile

        pending: List["pa.RecordBatch"] = []
        pending_rows = 0
        spool = None  # {"path", "writer", "key"} for one oversized group

        def open_spool(tbl: "pa.Table"):
            nonlocal spool
            # spill beside Spark's shuffle scratch (the executor's fast
            # local disks) when configured; tempfile default otherwise
            local = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
            fd, path = tempfile.mkstemp(
                suffix=".spool.arrow", dir=local or None
            )
            os.close(fd)
            sink = pa.OSFile(path, "wb")
            writer = pa.ipc.new_stream(sink, tbl.schema)
            writer.write_table(tbl)
            t0 = int(tbl.column("term_id")[0].as_py())
            d0 = docs_abs(tbl.slice(0, 1))
            spool = {
                "path": path,
                "writer": writer,
                "sink": sink,
                "key": (t0, int(shard_of(d0)[0])),
            }

        def finalize_spool():
            nonlocal spool
            spool["writer"].close()
            spool["sink"].close()
            path = spool["path"]
            spool_ = spool
            spool = None

            def chunks():
                with pa.OSFile(path, "rb") as f:
                    reader = pa.ipc.open_stream(f)
                    for b in reader:
                        yield pa.Table.from_batches([b])

            try:
                row = _encode_group_streaming(
                    chunks(), avgdl, n_buckets, n_shards
                )
            finally:
                os.unlink(path)
            return None if row is None else row_to_batch(row)

        def process(tbl: "pa.Table"):
            nonlocal pending, pending_rows, spool
            if spool is not None:
                ge = spooled_prefix_rows(tbl, spool["key"])
                if ge > 0:
                    spool["writer"].write_table(tbl.slice(0, ge))
                if ge == tbl.num_rows:
                    pending, pending_rows = [], 0
                    return
                rb = finalize_spool()
                if rb is not None:
                    yield rb
                tbl = tbl.slice(ge)
            ls = last_group_start(tbl)
            if ls > 0:
                yield from flush(tbl.slice(0, ls))
                rest = tbl.slice(ls)
            else:
                rest = tbl
            if rest.num_rows >= spill_rows:
                open_spool(rest)
                pending, pending_rows = [], 0
            else:
                pending = rest.to_batches()
                pending_rows = rest.num_rows

        for batch in batches:
            if batch.num_rows == 0:
                continue
            pending.append(batch)
            pending_rows += batch.num_rows
            if pending_rows >= chunk_rows:
                yield from process(pa.Table.from_batches(pending))
        if spool is not None:
            rest = None
            if pending_rows:
                tbl = pa.Table.from_batches(pending)
                ge = spooled_prefix_rows(tbl, spool["key"])
                if ge > 0:
                    spool["writer"].write_table(tbl.slice(0, ge))
                if ge < tbl.num_rows:
                    rest = tbl.slice(ge)
            rb = finalize_spool()
            if rb is not None:
                yield rb
            if rest is not None:
                yield from flush(rest)
        elif pending_rows:
            yield from flush(pa.Table.from_batches(pending))

    return build


def _append_metrics(
    index_dir: str,
    run_id: str,
    stage: str,
    unit: str,
    docs: int,
    postings: int,
    nbytes: int,
    status: str = "complete",
    name: Optional[str] = None,
) -> None:
    """Append one audit row to the metrics table, as its own file
    (`name`, default a fresh part-{uuid}; a fixed name makes a rerun
    replace its row).

    Written driver-side with pyarrow (fmt.put_table) instead of a
    createDataFrame().write Spark job: the row is a single tuple of
    driver-known values, and the Spark job fired per checkpointed stage
    was ~0.2-0.3 s of pure scheduling overhead (round-8, guide §5: the
    driver should do almost no data work — this IS driver work). The
    parquet schema is identical (timestamp[us, UTC] reads back as a
    Spark timestamp), so readers are unchanged."""
    import uuid

    import pyarrow as pa

    tbl = pa.table(
        {
            "run_id": pa.array([run_id], pa.string()),
            "stage": pa.array([stage], pa.string()),
            "unit": pa.array([unit], pa.string()),
            "docs": pa.array([int(docs)], pa.int64()),
            "postings": pa.array([int(postings)], pa.int64()),
            "bytes": pa.array([int(nbytes)], pa.int64()),
            "status": pa.array([status], pa.string()),
            "updated_at": pa.array(
                [_dt.datetime.now(_dt.timezone.utc)],
                pa.timestamp("us", tz="UTC"),
            ),
        }
    )
    fmt.put_table(
        fmt.metrics_dir(index_dir),
        name or f"part-{uuid.uuid4().hex}.parquet",
        tbl,
    )


TOKENS_PER_PARTITION = 2_000_000  # target postings per build partition

# fused-path persist gate: grouper-output cache estimate (~24 B/token)
# must fit comfortably in block-manager memory+disk; beyond this the
# build materializes tokens_tmp to parquet instead
_FUSED_PERSIST_MAX_BYTES = 8 << 30


def _auto_size(total_tokens: int, parallelism: int) -> tuple:
    """Pick (n_buckets, n_shards) from corpus volume.

    Sizing rule (scale-out): total partitions ~ max(parallelism,
    total_tokens / TOKENS_PER_PARTITION) so every partition's in-memory
    (term, shard) partial stays bounded; n_shards grows with volume because
    it bounds head-term skew (largest partial = max_df / n_shards) AND sets
    query-side scoring parallelism. At 10^12 docs this yields thousands of
    buckets x hundreds of shards; on the local harness it stays small so
    fixed per-partition overhead doesn't dominate. (A 4x-groups-per-
    partition smoothing variant was A/B-measured in round 3 and reverted:
    44.4 s vs 42.3 s at 400k docs/local[16] — the stage is transfer-bound,
    not straggler-bound, so balls-into-bins smoothing buys nothing here.)
    """
    target = max(2 * parallelism, total_tokens // TOKENS_PER_PARTITION + 1)
    n_shards = max(2, min(256, int(round(target ** 0.5))))
    n_buckets = max(4, (target + n_shards - 1) // n_shards)
    return n_buckets, n_shards


def _partition_count(
    total_tokens: int, parallelism: int, n_groups: int, bucket_groups: int
) -> int:
    """Segment-stage shuffle partition count for ONE bucket-group job:
    bounded below by 2x cores (keep every slot busy) and above by the
    group count (more partitions than groups leaves some empty), with
    ~TOKENS_PER_PARTITION tokens of work per task so per-task fixed
    overhead (Arrow setup, codegen) stays amortized."""
    per_job = total_tokens // max(1, bucket_groups)
    want = max(2 * parallelism, per_job // TOKENS_PER_PARTITION + 1)
    return max(1, min(n_groups, want))


# Token gate of the driver route, the write-path counterpart of
# query.DRIVER_SCORE_MAX_POSTINGS: a fresh build_index or a stream /
# upsert batch holding at most this many tokens is collected once and
# landed by land_on_driver instead of the Spark stages. Warm build_index
# medians of 3 interleaved rounds, driver vs Spark route, sf0.1
# documents (bench.py's build), local[4] on a 4-core VM: 271k tokens
# 0.31 vs 2.95 s, 1.08M tokens 1.27 vs 4.15 s, 4.3M tokens 4.37 vs
# 8.46 s. The driver route runs on one core and holds the corpus in
# driver memory (the 1.08M-token build took the Python driver's peak RSS
# from 140 to 397 MB) while the Spark route divides by cores, so the
# gate sits at 1M tokens (a ~3x win on 4 cores) rather than at the
# 4-core crossover.
DRIVER_BUILD_MAX_TOKENS = 1_000_000


def n_tokens(rows) -> int:
    """Token count of collected (.., tokens) rows."""
    import pyarrow.compute as pc

    return int(pc.sum(pc.list_value_length(rows.column("tokens"))).as_py() or 0)


def collect_if_small(corpus: DataFrame):
    """corpus as one Arrow table of (doc_id, url, tokens) when it holds at
    most DRIVER_BUILD_MAX_TOKENS tokens, else None (the Spark route).

    The optimizer's size estimate decides first, with no job: above the
    gate, or unknown (a relation built from an RDD or a Python list has
    none), the corpus is not scanned here. A persisted corpus (every
    stream batch) above the gate is materialized first, since every
    route reads the cache anyway: its estimate is then the cached bytes.
    The estimate is not a token count (a LocalRelation is sized at ~20 B
    per string whatever its length: 14 kB for a 250-page corpus of
    300 kB text), so the exact token count of the collected rows
    confirms the choice; a corpus the estimate undercounts costs one
    collect before the Spark route runs."""

    def small():
        # a fresh Dataset each time: a plan caches its statistics
        sel = corpus.select("doc_id", "url", doc_tokens().alias("tokens"))
        est = sel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return sel if int(est) <= DRIVER_BUILD_MAX_TOKENS else None

    sel = small()
    if sel is None and corpus.is_cached:
        # a noop write materializes the cache in one job (count() ran
        # three under AQE)
        corpus.write.format("noop").mode("overwrite").save()
        sel = small()
    if sel is None:
        return None
    rows = sel.toArrow()
    return rows if n_tokens(rows) <= DRIVER_BUILD_MAX_TOKENS else None


def _put(
    landed: Dict[str, List[str]], tag: Optional[str], table: str, root: str,
    write: Callable[[str], None],
) -> None:
    """Land one table's write for land_on_driver / land_on_spark: tag
    None writes straight into root (the build's manifest commit
    publishes it); a tag lands it through fmt.land (a retry replaces the
    tag's files) and records the landed files in landed[table]."""
    if tag is None:
        write(root)
    else:
        landed[table] = fmt.land(write, root, tag)


def land_on_driver(
    rows,
    index_dir: str,
    layout: Callable[[int, int], tuple],
    on_stage: Callable[..., None] = lambda stage, **counts: None,
    tag: Optional[str] = None,
    bucket_groups: int = 1,
) -> Dict[str, List[str]]:
    """Land collected (doc_id, url, tokens) rows as the doc_stats, vocab
    and segment tables, in process, with the Spark route's own Arrow
    code: _doc_grouper, then one NumPy lexsort on (term_id, shard,
    doc_id) in place of the shuffle and sortWithinPartitions, then
    _segment_builder. Each partitioned table gets one file per
    term_bucket=N directory, term-sorted; segment row groups are bounded
    by fmt.SEGMENT_ROW_GROUP_BYTES. Rows equal land_on_spark's
    (tests/test_driver_build.py).

    Raises land_on_spark's doc_id / term_id collision ValueErrors before
    writing. layout(n_docs, n_tokens) -> (n_buckets, n_shards, avgdl) is
    the caller's sizing, called once with the rows' counts.
    on_stage(stage, postings=, nbytes=) runs after each stage's files
    are in place: doc_stats, vocab, segments:0 ..
    segments:{bucket_groups-1} (each with its bucket group's postings and
    postings bytes).

    tag None: a fresh build; files go straight into the table dirs (the
    manifest commit publishes them). tag "batch{N}-": a stream batch;
    each table lands through fmt.land under the tag (a retry replaces
    the tag's files), and the landed files are returned per table for
    the caller's commit."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.xxhash import xxhash64_long_vec, xxhash64_str

    name = "part-00000.parquet"
    landed: Dict[str, List[str]] = {
        "doc_stats": [], "vocab": [], "segments": []
    }
    put = partial(_put, landed, tag)

    n_docs = rows.num_rows
    n_ids = pc.count_distinct(rows.column("doc_id")).as_py()
    if n_docs != n_ids:
        raise ValueError(
            f"doc_id collision detected: {n_docs} docs, "
            f"{n_ids} distinct doc_ids"
        )
    n_buckets, n_shards, avgdl = layout(n_docs, n_tokens(rows))
    grouped = list(
        _doc_grouper(rows.select(["doc_id", "tokens"]).to_batches())
    )
    runs = pa.Table.from_batches(
        grouped,
        pa.schema(
            [("doc_id", pa.int64()), ("term", pa.string()),
             ("blob", pa.binary())]
        ),
    )
    denc = pc.dictionary_encode(runs.column("term").combine_chunks())
    terms = denc.dictionary
    term_ids = np.array(
        [xxhash64_str(t) for t in terms.to_pylist()], dtype=np.int64
    )
    n_term_ids = np.unique(term_ids).size
    if n_term_ids != len(terms):
        raise ValueError(
            f"term_id collision: {len(terms)} terms, {n_term_ids} ids — "
            "switch to a 128-bit id"
        )
    run_tid = term_ids[denc.indices.to_numpy()]

    doc_stats = pa.table(
        {
            "doc_id": rows.column("doc_id"),
            "url": rows.column("url"),
            "doc_len": pc.list_value_length(rows.column("tokens")).cast(
                pa.int32()
            ),
        }
    )
    put(
        "doc_stats",
        fmt.doc_stats_dir(index_dir),
        lambda d: fmt.put_table(d, name, doc_stats),
    )
    on_stage("doc_stats")

    bucket_of = lambda ids: np.mod(ids, np.int64(n_buckets)).astype(np.int32)
    vocab = pa.table(
        {"term": terms, "term_id": term_ids, "term_bucket": bucket_of(term_ids)}
    )
    put(
        "vocab",
        fmt.vocab_dir(index_dir),
        lambda d: fmt.put_partitioned(d, name, vocab),
    )
    on_stage("vocab")

    docs = runs.column("doc_id").to_numpy()
    shard = np.mod(xxhash64_long_vec(docs), np.int64(n_shards))
    order = np.lexsort((docs, shard, run_tid))
    postings = pa.table(
        {
            "doc_id": docs[order],
            "blob": runs.column("blob").take(order),
            "term_id": run_tid[order],
        }
    )
    build = _segment_builder(avgdl, n_buckets, n_shards)
    seg = pa.Table.from_batches(
        list(build(postings.to_batches())), _seg_arrow_schema()
    )
    put(
        "segments",
        fmt.segments_dir(index_dir),
        lambda d: fmt.put_partitioned(
            d, name, seg, fmt.SEGMENT_ROW_GROUP_BYTES
        ),
    )
    seg_bucket = seg.column("term_bucket").to_numpy()
    df_part = seg.column("df_part").to_numpy()
    nbytes = pc.binary_length(seg.column("postings")).to_numpy()
    for g in range(bucket_groups):
        in_g = seg_bucket % bucket_groups == g
        on_stage(
            f"segments:{g}",
            postings=int(df_part[in_g].sum()),
            nbytes=int(nbytes[in_g].sum()),
        )

    return landed


def land_on_spark(
    corpus: DataFrame,
    index_dir: str,
    layout: Callable[[int, int], tuple],
    on_stage: Callable[..., None] = lambda stage, **counts: None,
    tag: Optional[str] = None,
    bucket_groups: int = 1,
    done: Optional[Dict[str, bool]] = None,
    cleanup_tmp: bool = True,
) -> Dict[str, List[str]]:
    """Land a (doc_id, url, text) corpus as the doc_stats, vocab and
    segment tables with the Spark stages: the Spark twin of
    land_on_driver, with its layout / on_stage / tag contract.

    The doc_stats stage writes (doc_id, url, doc_len) and counts what it
    landed; a doc_id collision raises before any other table is written,
    and layout(n_docs, n_tokens) -> (n_buckets, n_shards, avgdl) then
    sizes the posting stages. The vocab stage raises on a term_id
    collision. on_stage runs after each stage: doc_stats, tokens (the
    materialized path only), vocab, segments:0 ..
    segments:{bucket_groups-1} (postings=, nbytes= of the group, observed
    on the write job).

    tag None: a build; files go straight into the table dirs and stages
    that `done` (the build manifest's stages) marks complete are skipped
    (a resume recounts the landed doc_stats, with no tokenize, to size
    the stages left). tag "batch{N}-": a stream batch (bucket_groups
    1); each table lands through fmt.land under the tag, and the landed
    files are returned per table. The materialized path's tokens_tmp
    dir is tag-scoped and, with cleanup_tmp, removed once the corpus
    has landed."""
    spark = corpus.sparkSession
    done = done or {}
    landed: Dict[str, List[str]] = {
        "doc_stats": [], "vocab": [], "segments": []
    }
    put = partial(_put, landed, tag)

    def read(table: str, root: str, schema: str) -> DataFrame:
        # what this landing wrote: a build's whole table dir, a batch's
        # tagged files only
        if tag is None:
            return spark.read.schema(schema).parquet(root)
        return fmt.read_committed(spark, root, landed[table], schema)

    tokens_path = os.path.join(index_dir, (tag or "") + TOKENS_TMP)

    # Unsplittable input guard: a corpus arriving in fewer partitions than
    # cores (e.g. one single-row-group parquet file) would serialize the
    # tokenize stages. One narrow-ish shuffle here keeps every downstream
    # scan parallel; at real scale (many input files) the branch is skipped.
    par = spark.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < max(2, par // 2):
        corpus = corpus.repartition(par)

    # ---- stage: doc_stats (scan 1: tokenize-count only, no explode) ----
    if not done.get("doc_stats"):
        ds = corpus.select(
            "doc_id", "url", F.size(doc_tokens()).alias("doc_len")
        )
        put(
            "doc_stats",
            fmt.doc_stats_dir(index_dir),
            lambda d: ds.write.mode("overwrite").parquet(d),
        )
    n_docs, total_tokens, n_ids = (
        read("doc_stats", fmt.doc_stats_dir(index_dir),
             fmt.DOC_STATS_READ_SCHEMA)
        .select(
            F.count("*"),
            F.coalesce(F.sum("doc_len"), F.lit(0)),
            F.countDistinct("doc_id"),
        )
        .first()
    )
    if n_docs != n_ids:
        # a silent collision would merge two documents' postings
        # (60-bit hashed ids: birthday bound ~2^30 docs) — fail the
        # landing instead; callers can re-id or widen the id
        raise ValueError(
            f"doc_id collision detected: {n_docs} docs, "
            f"{n_ids} distinct doc_ids"
        )
    total_tokens = int(total_tokens)
    n_buckets, n_shards, avgdl = layout(int(n_docs), total_tokens)
    if not done.get("doc_stats"):
        on_stage("doc_stats")

    # ---- segment input: two shapes. The posting shuffle carries ONE
    # ROW PER (doc, term) from the map-side grouper (grouped_terms ->
    # drop_terms: int64 term_id, never strings; doc_len computed
    # in-batch, no doc_stats join — see
    # tests/test_plans.py::test_no_tokenizer_above_generate).
    #   * fused (one resumable unit, posting relation under the size
    #     gate): the grouper output is persisted (serialized,
    #     disk-backed) for the landing's duration and feeds both the
    #     vocab and segment stages — one corpus tokenize scan, no
    #     write+read of the posting relation. The gate bounds it by
    #     ~24 B x total_tokens (8B doc_id + 8B term-string avg + blob +
    #     overhead).
    #   * materialized (several units, or above the gate): the grouper
    #     output is written once to tokens_tmp, partitioned by
    #     term_bucket; vocab and every bucket-group unit read it back,
    #     so a resume never re-tokenizes the corpus. The tmp keeps the
    #     term STRING (same bytes as the id it would replace) so the
    #     vocab stage derives the dictionary from it. ----
    fused = bucket_groups == 1 and total_tokens * 24 <= _FUSED_PERSIST_MAX_BYTES
    fused_rows = None
    if fused:
        from pyspark import StorageLevel

        fused_rows = grouped_terms(corpus).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    elif not done.get("tokens"):
        (
            grouped_terms(corpus)
            .withColumn(
                "term_bucket",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
            )
            .repartition(
                max(n_buckets, par), "term_bucket", shard_expr(n_shards)
            )
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(tokens_path)
        )
        on_stage("tokens")

    def tokens_tmp() -> DataFrame:
        return spark.read.schema(TOKENS_TMP_SCHEMA).parquet(tokens_path)

    _POM_KEY = "spark.sql.sources.partitionOverwriteMode"
    _prev_pom = spark.conf.get(_POM_KEY, None)
    try:
        # ---- stage: vocab (the term dictionary; distinct terms only, so the
        # map-side-combined shuffle is tiny next to the posting shuffle;
        # sourced from the already-tokenized doc-term rows) ----
        if not done.get("vocab"):
            terms_src = fused_rows if fused else tokens_tmp()
            vocab = terms_src.select("term").distinct().select(
                "term",
                F.xxhash64("term").alias("term_id"),
                F.pmod(F.xxhash64("term"), F.lit(n_buckets))
                .cast("int")
                .alias("term_bucket"),
            )
            put(
                "vocab",
                fmt.vocab_dir(index_dir),
                lambda d: vocab.write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(d),
            )
            n_terms, n_term_ids = (
                read("vocab", fmt.vocab_dir(index_dir),
                     fmt.VOCAB_READ_SCHEMA)
                .select(F.count("*"), F.countDistinct("term_id"))
                .first()
            )
            if n_terms != n_term_ids:
                raise ValueError(
                    f"term_id collision: {n_terms} terms, {n_term_ids} ids — "
                    "switch to a 128-bit id"
                )
            on_stage("vocab")

        # ---- stage: segments, in resumable bucket-group units ----
        from pyspark.sql import Observation

        seg_schema = "term_bucket int, " + fmt.SEGMENT_SCHEMA
        # dynamic mode scopes each group's overwrite to the partitions it
        # writes; saved before the try and restored in its finally so the
        # session-wide overwrite semantics of the CALLER's later
        # partitioned writes are not silently changed
        spark.conf.set(_POM_KEY, "dynamic")
        for gi in range(bucket_groups):
            stage_name = f"segments:{gi}"
            if done.get(stage_name):
                continue
            buckets = list(range(gi, n_buckets, bucket_groups))
            if fused:
                toks = drop_terms(fused_rows)  # cached: no re-tokenize
            else:
                toks = drop_terms(
                    tokens_tmp().where(
                        F.col("term_bucket").isin(buckets)  # partition-pruned
                    )
                )
            obs = Observation(f"seg_metrics_{gi}")
            seg = (
                toks.repartition(
                    _partition_count(
                        total_tokens, par, len(buckets) * n_shards,
                        bucket_groups,
                    ),
                    bucket_expr(n_buckets),
                    shard_expr(n_shards),
                )
                .sortWithinPartitions("term_id", shard_expr(n_shards), "doc_id")
                .mapInArrow(
                    _segment_builder(avgdl, n_buckets, n_shards),
                    schema=seg_schema,
                )
                # metrics ride the write job itself — re-reading the
                # segments just written would be a second full scan of
                # the new index data per bucket-group
                .observe(
                    obs,
                    # postings emitted = one per (term, doc) = sum of the
                    # per-segment-row df partials; docs-tokenized belongs
                    # to the doc_stats stage row, not a bucket group
                    F.coalesce(F.sum("df_part"), F.lit(0)).alias(
                        "postings"
                    ),
                    F.coalesce(F.sum(F.length("postings")), F.lit(0)).alias(
                        "nbytes"
                    ),
                )
            )
            put(
                "segments",
                fmt.segments_dir(index_dir),
                # bounded row groups keep the sidecar point read's
                # term_id pruning effective whatever the partition
                # size (fmt.SEGMENT_ROW_GROUP_BYTES rationale)
                lambda d: seg.write.mode("overwrite")
                .option("parquet.block.size", str(fmt.SEGMENT_ROW_GROUP_BYTES))
                .partitionBy("term_bucket")
                .parquet(d),
            )
            got = obs.get
            on_stage(stage_name, postings=got["postings"], nbytes=got["nbytes"])

    finally:
        if _prev_pom is None:
            spark.conf.unset(_POM_KEY)
        else:
            spark.conf.set(_POM_KEY, _prev_pom)
        # unpersist even on an injected/real failure — a leaked
        # cached posting relation would shadow the next attempt's
        # block-manager budget for the session's lifetime
        if fused_rows is not None:
            fused_rows.unpersist()

    if cleanup_tmp and os.path.isdir(tokens_path):
        shutil.rmtree(tokens_path)
    return landed


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    n_buckets: Optional[int] = 32,
    n_shards: Optional[int] = 4,
    run_id: str = "run0",
    bucket_groups: int = 4,
    fail_after: Optional[str] = None,
    cleanup_tmp: bool = True,
    stage_sink: Optional[Dict[str, float]] = None,
) -> str:
    """Build (or resume building) the index at index_dir. Returns the
    route that ran: "driver" or "spark".

    A fresh build whose corpus holds at most DRIVER_BUILD_MAX_TOKENS
    tokens (collect_if_small) lands on the driver (land_on_driver): one
    Spark job, the corpus collect. Every other build, and every resume of
    a partial one, lands with the Spark stages (land_on_spark), skipping
    the stages the manifest marks done. Both routes size the layout
    after counting the corpus and checkpoint each stage in the manifest;
    the manifest commit publishes the build.

    corpus: (doc_id, url, text) from prepare_corpus().
    n_buckets/n_shards: None -> auto-sized from corpus volume (_auto_size).
    fail_after: test hook — raise after checkpointing the named stage,
    simulating a mid-build crash for the resume test. Both routes
    checkpoint doc_stats, vocab and every segments:g; the
    Spark route's materialized path (bucket_groups > 1, or a corpus
    above _FUSED_PERSIST_MAX_BYTES) also checkpoints tokens.
    stage_sink: optional dict; when given, records wall seconds per
    checkpointed stage (doc_stats / tokens / vocab / segments:g) — the
    scaling benches use it to attribute efficiency loss to a stage
    instead of to the whole build (round-7, VERDICT item 5). On the driver route doc_stats includes the collect.
    """
    man = fmt.load_manifest(index_dir)
    fresh = man is None
    if man is None or man.complete:
        # fresh build (a complete index is never silently overwritten by
        # resume semantics — caller deletes first for a rebuild)
        if man is not None and man.complete:
            raise ValueError(f"index at {index_dir} already complete")
        man = fmt.IndexManifest(
            format_version=fmt.FORMAT_VERSION,
            n_buckets=n_buckets or 0,
            n_shards=n_shards or 0,
            run_id=run_id,
            bucket_groups=bucket_groups,
        )
        fmt.save_manifest(index_dir, man)
    else:
        if man.format_version != fmt.FORMAT_VERSION:
            # a partial build from an older layout cannot be resumed: its
            # materialized tmp/segment files would be read through the
            # current schemas (silent nulls or corrupt segments). Fail
            # loudly; the caller deletes the dir to rebuild.
            raise ValueError(
                f"cannot resume: partial build at {index_dir} has format "
                f"v{man.format_version}, engine is v{fmt.FORMAT_VERSION} — "
                "delete the directory and rebuild"
            )
        # the 'segments:{g}' checkpoints are only valid under the group
        # layout that wrote them — adopt the persisted bucket_groups
        # (like n_buckets/n_shards) so a resume with a different caller
        # value cannot skip that layout's unbuilt buckets
        if man.bucket_groups:
            bucket_groups = man.bucket_groups
    # None sizes, or a resume that crashed before doc_stats sized them
    auto = not (man.n_buckets and man.n_shards)

    import time as _time

    _t_last = [_time.perf_counter()]

    def layout(n_docs: int, total_tokens: int) -> tuple:
        man.n_docs, man.total_tokens = n_docs, total_tokens
        man.avgdl = total_tokens / n_docs if n_docs else 0.0
        if auto:
            man.n_buckets, man.n_shards = _auto_size(
                total_tokens, spark.sparkContext.defaultParallelism
            )
        return man.n_buckets, man.n_shards, man.avgdl

    def on_stage(stage: str, postings: int = 0, nbytes: int = 0) -> None:
        if stage == "doc_stats":
            # snapshot-track the doc_stats file set (round-6b): the purge
            # and vacuum flip/expire it like segments
            man.doc_stats_files = fmt.list_doc_stats_files(index_dir)
            _append_metrics(
                index_dir, run_id, stage, "all", man.n_docs, 0, 0
            )
        elif stage.startswith("segments:"):
            g = int(stage.split(":")[1])
            buckets = list(range(g, man.n_buckets, bucket_groups))
            _append_metrics(
                index_dir, run_id, stage, f"buckets:{buckets}", 0,
                postings, nbytes,
            )
        if stage_sink is not None:
            now = _time.perf_counter()
            stage_sink[stage] = (
                stage_sink.get(stage, 0.0) + now - _t_last[0]
            )
        _t_last[0] = _time.perf_counter()
        man.stages[stage] = True
        fmt.save_manifest(index_dir, man)
        if fail_after == stage:
            raise RuntimeError(f"injected failure after stage {stage}")

    rows = collect_if_small(corpus) if fresh else None
    if rows is not None:
        land_on_driver(
            rows, index_dir, layout, on_stage, bucket_groups=bucket_groups
        )
    else:
        land_on_spark(
            corpus, index_dir, layout, on_stage, bucket_groups=bucket_groups,
            done=man.stages, cleanup_tmp=cleanup_tmp,
        )
    # snapshot the committed segment file set (Iceberg-style): readers
    # open exactly these files, so a later in-flight streaming append
    # can never surface half a batch to a concurrent query
    man.segment_files = fmt.list_segment_files(index_dir)
    man.complete = True
    fmt.save_manifest(index_dir, man)
    return "spark" if rows is None else "driver"
