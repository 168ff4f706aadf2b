"""Seeded, single-process workload generator for the benchmark.

Everything the benchmarked program receives is made here from one seed:
pages, the query stream, refetch (upsert) batches and takedown (delete)
batches, and the dedup corpus with injected duplicates. The same seed
gives the same inputs; no wall clock, no worker processes."""

from __future__ import annotations

import itertools
from collections import Counter
from dataclasses import dataclass
from typing import Iterator, List, Optional, Tuple

import numpy as np

from text_search_spark import corpus
from text_search_spark.index.query import QuerySpec
from text_search_spark.textnorm import tokenize

# the serve stream's shapes, repeated in this order: mostly single-term,
# with every tenth query a multi-term one. This is a workload definition,
# not a model of a query log: single-term calls exercise the driver
# postings cache, and each multi-term shape still comes up several times
# a run. A fixed pattern, not random draws, so every seed has the same
# shape shares and only the terms vary.
SERVE_BLOCK = 10
SERVE_PATTERN = [s for m in ("and", "or", "phrase", "near")
                 for s in ["single"] * (SERVE_BLOCK - 1) + [m]]
NEAR_WINDOW = 8
GOLDEN = 0.6180339887498949


def _rng(seed: int, stream: int) -> np.random.Generator:
    # one independent PCG64 stream per input kind, so adding draws to
    # one kind never shifts another kind's inputs
    return np.random.Generator(np.random.PCG64([seed, stream]))


@dataclass
class Corpus:
    urls: List[str]
    texts: List[str]

    def pandas(self):
        import pandas as pd

        return pd.DataFrame({"url": self.urls, "text": self.texts})

    def token_counts(self) -> Tuple[int, int]:
        """(total tokens, total postings = sum of distinct terms per doc),
        counted with the canonical tokenizer."""
        total = postings = 0
        for t in self.texts:
            toks = tokenize(t)
            total += len(toks)
            postings += len(set(toks))
        return total, postings

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)


def pages(n_docs: int, seed: int) -> Corpus:
    # corpus.generate_pages takes an integer seed; derive one so the
    # benchmark seed space does not collide with the fixture seeds
    ps = corpus.generate_pages(n_docs, seed=10_000 + seed)
    return Corpus([p.url for p in ps], [p.text for p in ps])


class _Zipf:
    def __init__(self, s: float = corpus.ZIPF_S, words: Optional[List[str]] = None) -> None:
        self.words = words or corpus.vocab()
        self.probs = corpus._zipf_probs(len(self.words), s)

    def draw(self, rng: np.random.Generator, k: int) -> List[str]:
        idx = rng.choice(len(self.words), size=k, p=self.probs)
        return [self.words[int(i)] for i in idx]

    def stratified(self, u0: float) -> Iterator[str]:
        """Endless draws at the quantiles frac(u0 + i * golden ratio): the
        same Zipf distribution, but every run of them holds each rank band
        in nearly its exact share, so two seeds differ in which words they
        draw, not in how often they draw head words."""
        cum = np.cumsum(self.probs)
        for i in itertools.count():
            j = int(np.searchsorted(cum, (u0 + i * GOLDEN) % 1.0))
            yield self.words[min(j, len(self.words) - 1)]


def _span_from_doc(rng, docs_tokens: List[List[str]], length: int):
    """A run of `length` consecutive tokens from a random doc (None when
    the drawn doc is too short)."""
    toks = docs_tokens[int(rng.integers(0, len(docs_tokens)))]
    if len(toks) < length:
        return None
    s = int(rng.integers(0, len(toks) - length + 1))
    return toks[s : s + length]


def queries(c: Corpus, seed: int, n: int, stream: int, pattern: List[str],
            distinct_within: int = 0) -> List[QuerySpec]:
    """n queries whose shapes follow `pattern`, repeated. Single, AND and
    OR terms are Zipf draws (the corpus's own exponent) over the terms of
    the corpus, ranked by frequency, so head terms repeat; phrase and
    near queries are cut from real documents, so they match. A
    single-term query uses the next draw of the stream's stratified
    sequence; with `distinct_within` = w, a draw that repeats a single
    term of the current run of w queries is skipped, so no two
    single-term queries of that run share a term."""
    rng = _rng(seed, stream)
    docs_tokens = [tokenize(t) for t in c.texts]
    # rank the corpus's own terms by frequency: a term absent from the
    # index would answer without reaching the postings at all
    freq = Counter(t for toks in docs_tokens for t in toks)
    z = _Zipf(words=sorted(freq, key=lambda t: (-freq[t], t)))
    # single-term latency depends mostly on the term's document count,
    # so single terms are drawn stratified (see _Zipf.stratified)
    singles = z.stratified(rng.random())
    used: set = set()
    out: List[QuerySpec] = []
    for i in range(n):
        shape, qid = pattern[i % len(pattern)], f"q{stream}-{i:05d}"
        if distinct_within and i % distinct_within == 0:
            used = set()
        if shape == "single":
            term = next(singles)
            while term in used:
                term = next(singles)
            if distinct_within:
                used.add(term)
            out.append(QuerySpec(qid, [term], "or"))
        elif shape in ("and", "or"):
            out.append(QuerySpec(qid, z.draw(rng, int(rng.integers(2, 4))), shape))
        else:
            span = None
            while span is None:
                span = _span_from_doc(
                    rng, docs_tokens, int(rng.integers(2, 4)) if shape == "phrase"
                    else NEAR_WINDOW
                )
            if shape == "phrase":
                out.append(QuerySpec(qid, span, "phrase"))
            else:
                a, b = sorted(rng.choice(len(span), size=2, replace=False))
                out.append(QuerySpec(qid, [span[a], span[b]], "near", NEAR_WINDOW))
    return out


def shape_of(q: QuerySpec) -> str:
    return "single" if len(q.terms) == 1 else q.mode


def _fresh_text(rng, z: _Zipf) -> str:
    length = int(np.clip(np.exp(rng.normal(corpus.LEN_MU, corpus.LEN_SIGMA)),
                         corpus.LEN_MIN, corpus.LEN_MAX))
    return " ".join(z.draw(rng, length))


@dataclass
class Round:
    """One maintenance round: refetched urls with new text, then a
    takedown of other live urls."""
    refetch: List[Tuple[str, str]]
    takedown: List[str]


def maintenance_rounds(c: Corpus, seed: int, n_rounds: int,
                       frac: float = 0.01) -> List[Round]:
    """Refetch ~frac of the live urls with new text, then take down
    another ~frac, per round. A taken-down url never returns."""
    rng = _rng(seed, 2)
    z = _Zipf()
    live = list(c.urls)
    k = max(1, int(len(c.urls) * frac))
    out: List[Round] = []
    for _ in range(n_rounds):
        pick = rng.choice(len(live), size=2 * k, replace=False)
        ref = [live[int(i)] for i in pick[:k]]
        gone = {live[int(i)] for i in pick[k:]}
        out.append(Round([(u, _fresh_text(rng, z)) for u in ref], sorted(gone)))
        live = [u for u in live if u not in gone]
    return out


def dedup_corpus(n_docs: int, seed: int, exact_frac: float = 0.05,
                 near_frac: float = 0.10) -> Corpus:
    """Pages plus injected duplicates, as a crawl has them: exact copies
    under new urls, and near copies with ~5% of tokens replaced."""
    base = pages(n_docs, seed)
    rng = _rng(seed, 3)
    z = _Zipf()
    urls, texts = list(base.urls), list(base.texts)
    for kind, frac in (("exact", exact_frac), ("near", near_frac)):
        for j, i in enumerate(rng.choice(n_docs, size=int(n_docs * frac), replace=False)):
            text = base.texts[int(i)]
            if kind == "near":
                toks = text.split(" ")
                for p in rng.choice(len(toks), size=max(1, len(toks) // 20), replace=False):
                    toks[int(p)] = z.draw(rng, 1)[0]
                text = " ".join(toks)
            urls.append(f"https://mirror{j % 97:02d}.example/{kind}/{j:06d}")
            texts.append(text)
    return Corpus(urls, texts)
