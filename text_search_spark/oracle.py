"""Pure-NumPy/Python BM25 oracle — the trusted yardstick (SURVEY.md §5b).

Mirrors the reference's testing discipline of keeping a deliberately-simple
redundant implementation as the oracle (the reference keeps the quadratic
`GetLongestIncreasingPairsSimple` purely for cross-checks,
/root/reference/textsearch/csrc/match.h:117-127). The Spark engine must be
rank-identical (docIDs) and score-identical (float64, atol 1e-6) to this.

BM25 spec (fixed for the whole project):
  tf      = term count in doc (canonical tokenizer, textnorm.tokenize)
  N       = total docs (including zero-token docs)
  df(t)   = number of docs containing t
  idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))        [Robertson/Lucene]
  tfnorm  = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) k1=1.2, b=0.75
  score   = sum over DISTINCT query terms of idf*tfnorm
  tie-break: score desc, doc_id asc                     [total order]
Modes: "or" (any term), "and" (doc must contain every term),
"phrase" (terms consecutive at increasing positions; scored like "and").
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass
from typing import Dict, List, Sequence, Tuple

from .textnorm import tokenize

K1 = 1.2
B = 0.75


@dataclass
class OracleIndex:
    n_docs: int
    avgdl: float
    doc_ids: List[int]
    doc_len: Dict[int, int]
    # term -> {doc_id: tf}
    tf: Dict[str, Dict[int, int]]
    # term -> {doc_id: [positions]}
    positions: Dict[str, Dict[int, List[int]]]

    def df(self, term: str) -> int:
        return len(self.tf.get(term, {}))


def build_oracle_index(docs: Sequence[Tuple[int, str]]) -> OracleIndex:
    """docs: iterable of (doc_id, raw_text)."""
    tf: Dict[str, Dict[int, int]] = {}
    positions: Dict[str, Dict[int, List[int]]] = {}
    doc_len: Dict[int, int] = {}
    doc_ids: List[int] = []
    for doc_id, text in docs:
        toks = tokenize(text)
        doc_ids.append(doc_id)
        doc_len[doc_id] = len(toks)
        for pos, t in enumerate(toks):
            tf.setdefault(t, {}).setdefault(doc_id, 0)
            tf[t][doc_id] += 1
            positions.setdefault(t, {}).setdefault(doc_id, []).append(pos)
    n = len(doc_ids)
    avgdl = (sum(doc_len.values()) / n) if n else 0.0
    return OracleIndex(
        n_docs=n, avgdl=avgdl, doc_ids=doc_ids, doc_len=doc_len,
        tf=tf, positions=positions,
    )


def idf(index: OracleIndex, term: str) -> float:
    d = index.df(term)
    return math.log(1.0 + (index.n_docs - d + 0.5) / (d + 0.5))


def _phrase_docs(index: OracleIndex, terms: List[str]) -> List[int]:
    """Docs containing the exact consecutive phrase (positional intersection)."""
    if not terms:
        return []
    first = index.positions.get(terms[0], {})
    out = []
    for doc_id, pos0 in first.items():
        cand = set(pos0)
        ok = True
        for k, t in enumerate(terms[1:], start=1):
            plist = index.positions.get(t, {}).get(doc_id)
            if not plist:
                ok = False
                break
            pset = set(p - k for p in plist)
            cand &= pset
            if not cand:
                ok = False
                break
        if ok and cand:
            out.append(doc_id)
    return out


def _near_docs(
    index: OracleIndex, terms: List[str], window: int
) -> List[int]:
    """Docs where some occurrence of every distinct term fits in a token
    window of size <= window (max pos - min pos <= window)."""
    uterms = list(dict.fromkeys(terms))
    if not uterms:
        return []
    docs = None
    for t in uterms:
        d = set(index.positions.get(t, {}))
        docs = d if docs is None else docs & d
        if not docs:
            return []
    out = []
    for doc_id in docs:
        # minimal covering window over the merged position lists
        events = sorted(
            (p, i)
            for i, t in enumerate(uterms)
            for p in index.positions[t][doc_id]
        )
        from collections import defaultdict

        count: Dict[int, int] = defaultdict(int)
        have = 0
        lo = 0
        ok = False
        for hi in range(len(events)):
            count[events[hi][1]] += 1
            if count[events[hi][1]] == 1:
                have += 1
            while have == len(uterms):
                if events[hi][0] - events[lo][0] <= window:
                    ok = True
                    break
                count[events[lo][1]] -= 1
                if count[events[lo][1]] == 0:
                    have -= 1
                lo += 1
            if ok:
                break
        if ok:
            out.append(doc_id)
    return out


def bm25_topk(
    index: OracleIndex,
    terms: Sequence[str],
    k: int = 10,
    mode: str = "or",
    window: int = 8,
) -> List[Tuple[int, float]]:
    """Returns [(doc_id, score)] of length <= k, total-ordered."""
    # query terms run through the SAME canonical tokenizer as documents,
    # then distinct, first-occurrence order (summation order is fixed for
    # float64 reproducibility — SURVEY.md §7.3 rank-identity discipline)
    terms = [nt for t in terms for nt in tokenize(t)]
    seen: Dict[str, None] = {}
    for t in terms:
        seen.setdefault(t, None)
    uterms = list(seen)

    if mode == "phrase":
        allowed = set(_phrase_docs(index, list(terms)))
    elif mode == "near":
        allowed = set(_near_docs(index, list(terms), window))
    elif mode == "and":
        allowed = None
        for t in uterms:
            docs = set(index.tf.get(t, {}))
            allowed = docs if allowed is None else (allowed & docs)
        allowed = allowed or set()
    else:
        allowed = None  # any doc with >= 1 term

    scores: Dict[int, float] = {}
    for t in uterms:
        w = idf(index, t)
        for doc_id, f in index.tf.get(t, {}).items():
            if allowed is not None and doc_id not in allowed:
                continue
            dl = index.doc_len[doc_id]
            denom = f + K1 * (1.0 - B + B * dl / index.avgdl)
            scores[doc_id] = scores.get(doc_id, 0.0) + w * (f * (K1 + 1.0)) / denom
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]
