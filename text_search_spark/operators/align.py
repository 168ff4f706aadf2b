"""Span matching / fuzzy alignment operators (SURVEY.md §2.3 J1-J5, M7).

Re-expresses the reference's query pipeline `align_queries`
(/root/reference/textsearch/python/textsearch/match.py:344-523) as a Spark
operator over (query, candidate-doc) pairs:

  reference:  suffix array -> find_close_matches -> LIS chain -> candidate
              doc vote -> segment -> infix Levenshtein -> merge
  here:       candidate docs come from the inverted index (BM25 top-k or a
              caller-provided pairing); the per-pair exact work (close
              matches over a per-pair suffix array, LIS chaining, infix
              Levenshtein) runs in a grouped Arrow UDF — per-group input is
              ONE query x ONE doc, so the quadratic/log-linear kernels stay
              tiny and local, exactly like the reference bounds its DP cost
              by segmenting (match.py:482-491).

The kernels themselves are golden-pinned against the reference's own test
vectors (tests/test_kernels.py).
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import (
    create_suffix_array,
    find_close_matches,
    get_longest_increasing_pairs,
    levenshtein_distance,
)

ALIGN_SCHEMA = (
    "query_id string, doc_id long, n_matched int, q_start int, q_end int, "
    "t_start int, t_end int, distance int, align string"
)


def synthetic_long_pair(
    n_doc_words: int = 9000, q_lo: int = 1500, q_n: int = 4500, seed: int = 42
) -> tuple:
    """Deterministic long (query, doc) pair for the segmented-alignment
    flow: a >20k-symbol query cut from a ~55k-symbol document, with a
    substitution every ~800 chars. Shared by tests/test_align.py and the
    align_long_query driver entry; LONG_PAIR_GOLDEN below pins the
    UNSEGMENTED infix DP's result on this pair, which the segmented path
    must reproduce (asserted at runtime in tests/test_align.py)."""
    import random

    rng = random.Random(seed)
    words = [
        "alpha", "beta", "gamma", "delta", "omega", "spark", "index",
        "query", "merge", "shard", "token", "posting", "window", "stream",
        "batch", "scale", "vector", "arrow", "hash", "score",
    ]
    doc_words = [rng.choice(words) for _ in range(n_doc_words)]
    doc = " ".join(doc_words)
    q = list(" ".join(doc_words[q_lo : q_lo + q_n]))
    for i in range(400, len(q), 800):
        if q[i] != " ":
            q[i] = "Z"
    return "".join(q), doc


# (n_matched, q_start, q_end, t_start, t_end, distance, md5(align)) of the
# UNSEGMENTED infix DP on synthetic_long_pair() — the independent golden the
# segmented flow is checked against (tests/test_align.py re-derives it).
LONG_PAIR_GOLDEN = (
    27353, 0, 27701, 9200, 36901, 28, "66f5964d2053a67f179fd0883eff0aac"
)


def _align_pair_segmented(
    q: np.ndarray,
    t: np.ndarray,
    chain: List[tuple],
    segment_length: int,
    reference_length_difference: float,
) -> tuple:
    """Long-query path, composing the reference's full flow
    (match.py:482-514): `break_query` splits the LIS chain into
    ~segment_length pieces, each piece runs a GLOBAL-mode Levenshtein
    (cheap: anchors bound both sides, match.py:500-507), and the
    per-segment align strings concatenate back into one alignment
    (match.py:224-341 `_combine_sub_alignments`) — segments abut in both
    coordinates by construction, so the concatenation is itself a valid
    alignment of the full query against the covered target span."""
    from .segment import break_query

    segs = break_query(
        chain,
        (0, int(q.size)),
        (int(q.size), int(q.size + t.size)),
        segment_length=segment_length,
        reference_length_difference=reference_length_difference,
    )
    total = 0
    parts: List[str] = []
    t_begin = None
    t_last = None
    for q_s, q_e, t_s, t_e in segs:
        ts, te = t_s - q.size, t_e - q.size
        if q_e <= q_s or te <= ts:
            continue  # empty sub segment (reference skips: match.py:257-259)
        dist, aligns = levenshtein_distance(q[q_s:q_e], t[ts:te], mode="global")
        _, a_end, ops = aligns[0]
        total += dist
        parts.append(ops)
        if t_begin is None:
            t_begin = ts
        t_last = ts + a_end
    if t_begin is None:
        return None
    return (
        len(chain),
        int(chain[0][0]),
        int(chain[-1][0]),
        int(t_begin),
        int(t_last),
        int(total),
        "".join(parts),
    )


def _align_pair(
    query_text: str,
    doc_text: str,
    num_close_matches: int = 4,
    segment_length: int = 5000,
    reference_length_difference: float = 0.1,
) -> tuple:
    """One (query, doc) alignment: returns (n_matched, q_start, q_end,
    t_start, t_end, distance, align_str) or None when nothing chains.

    Pipeline mirrors match.py:399-514 at per-pair scale: concatenate query
    + doc codepoints, suffix-array close matches (J1), LIS chain (J2), then
    either a bounding box -> infix Levenshtein on the spanned doc slice
    (J4, short queries) or — when the chained query span exceeds
    segment_length — the reference's segmented flow (`break_query` ->
    per-segment global Levenshtein -> concatenate), which the reference
    uses to keep the DP cost linear in query length (match.py:370-373)."""
    q = np.array([ord(c) for c in query_text], dtype=np.int32)
    t = np.array([ord(c) for c in doc_text], dtype=np.int32)
    if q.size == 0 or t.size == 0:
        return None
    concat = np.concatenate([q, t])
    sa = create_suffix_array(concat)
    cm = find_close_matches(sa, q.size, num_close_matches)
    seq_len = concat.size + 1
    sentinel = seq_len - 2
    # (query_pos, ref_pos) candidate pairs, sentinel-trimmed (match.py:437)
    qpos = np.repeat(np.arange(q.size), num_close_matches)
    rpos = cm.reshape(-1)
    keep = (rpos != sentinel) & (rpos >= q.size)
    if not keep.any():
        return None
    chain = get_longest_increasing_pairs(qpos[keep], rpos[keep])
    if len(chain) < 2:
        return None
    q_start, q_end = chain[0][0], chain[-1][0]
    if q_end - q_start > segment_length:
        return _align_pair_segmented(
            q, t, chain, segment_length, reference_length_difference
        )
    t_start = chain[0][1] - q.size
    t_end = chain[-1][1] - q.size
    # exact rescoring: infix Levenshtein of the full query against the
    # chained doc span padded by the unmatched query margins
    pad_l = q_start + 4
    pad_r = (q.size - 1 - q_end) + 4
    s = max(0, t_start - pad_l)
    e = min(t.size, t_end + 1 + pad_r)
    dist, aligns = levenshtein_distance(q, t[s:e], mode="infix")
    a_start, a_end, align = aligns[0]
    return (
        len(chain),
        int(q_start),
        int(q_end),
        int(s + a_start),
        int(s + a_end),
        int(dist),
        align,
    )


def align_spans(
    pairs: DataFrame,
    num_close_matches: int = 4,
    segment_length: int = 5000,
) -> DataFrame:
    """pairs: (query_id string, query_text string, doc_id long, doc_text
    string) -> one row per pair that aligns, ALIGN_SCHEMA.

    Queries whose chained span exceeds segment_length take the reference's
    segmented flow (break -> per-segment global DP -> combine), keeping DP
    cost linear in query length. mapInPandas (no shuffle: the pairing
    upstream — an index top-k join — already placed each pair on one row)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for query_id, qt, doc_id, dt in zip(
                b["query_id"], b["query_text"], b["doc_id"], b["doc_text"]
            ):
                r = _align_pair(qt, dt, num_close_matches, segment_length)
                if r is not None:
                    rows.append((query_id, doc_id) + r)
            yield pd.DataFrame(
                rows,
                columns=[
                    "query_id", "doc_id", "n_matched", "q_start", "q_end",
                    "t_start", "t_end", "distance", "align",
                ],
            )

    return pairs.mapInPandas(run, schema=ALIGN_SCHEMA)


SUBTITLE_SCHEMA = (
    "pair_id string, distance int, ref_len int, t_start int, t_end int, "
    "start_time double, end_time double"
)


def subtitle_align(
    pairs: DataFrame, max_error_rate: float = 0.15
) -> DataFrame:
    """Index-free direct alignment with the error-rate gate — the
    reference's subtitle variant (/root/reference/examples/subtitle/
    matching.py:142-166): infix-align each (reference text, transcript)
    pair, DROP pairs with distance/len(reference) > max_error_rate
    (gate at :152-153), and read start/end times from the per-symbol
    times at the aligned span (the byte-vs-codepoint time stride at
    :159 folds away because `char_times` is already per character).

    pairs: (pair_id string, ref_text string, hyp_text string,
    char_times array<double>) — char_times aligned to hyp_text chars
    (operators/transcripts.py output). mapInPandas, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for pid, ref, hyp, times in zip(
                b["pair_id"], b["ref_text"], b["hyp_text"], b["char_times"]
            ):
                q = np.array([ord(c) for c in ref], dtype=np.int32)
                t = np.array([ord(c) for c in hyp], dtype=np.int32)
                if q.size == 0 or t.size == 0:
                    continue
                dist, aligns = levenshtein_distance(q, t, mode="infix")
                if dist / q.size > max_error_rate:
                    continue
                start, end, _ = aligns[0]
                end = end + 1 if end + 1 < t.size else end
                rows.append(
                    (
                        pid, int(dist), int(q.size), int(start), int(end),
                        float(times[start]), float(times[end]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "pair_id", "distance", "ref_len", "t_start", "t_end",
                    "start_time", "end_time",
                ],
            )

    return pairs.mapInPandas(run, schema=SUBTITLE_SCHEMA)
