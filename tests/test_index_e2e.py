"""End-to-end: Spark index build + BM25 top-k vs the NumPy oracle —
rank-identical docIDs, score-identical to atol 1e-6 (BASELINE.md target),
across OR / AND / phrase modes on the full 100-query reference set."""

import math
import os

import numpy as np
import pytest

from text_search_spark.corpus import generate_pages, generate_queries
from text_search_spark.index.build import (
    build_index,
    check_doc_id_unique,
    hash_doc_id_py,
    prepare_corpus,
)
from text_search_spark.index.query import (
    IndexReader,
    QuerySpec,
    bm25_topk_df,
)
from text_search_spark.oracle import bm25_topk, build_oracle_index

N_DOCS = 800


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("ix") / "index")
    pages = generate_pages(N_DOCS)
    pdf = spark.createDataFrame(
        [(p.url, p.text) for p in pages], "url string, text string"
    )
    corpus = prepare_corpus(pdf, url_col="url")
    check_doc_id_unique(corpus)
    build_index(
        spark, corpus, index_dir, n_buckets=8, n_shards=3, bucket_groups=2
    )
    oracle_ix = build_oracle_index(
        [(hash_doc_id_py(p.url), p.text) for p in pages]
    )
    return index_dir, oracle_ix, pages


def test_manifest_and_stats(spark, built):
    index_dir, oracle_ix, pages = built
    from text_search_spark.index import format as fmt

    man = fmt.load_manifest(index_dir)
    assert man.complete
    assert man.n_docs == N_DOCS == oracle_ix.n_docs
    assert math.isclose(man.avgdl, oracle_ix.avgdl, rel_tol=0, abs_tol=0)

    ts = IndexReader(spark, index_dir).term_stats()
    rows = {r.term: (r.df, r.cf) for r in ts.collect()}
    assert len(rows) == len(oracle_ix.tf)
    for term, docs in oracle_ix.tf.items():
        assert rows[term][0] == len(docs), term
        assert rows[term][1] == sum(docs.values()), term


def test_doc_stats_match(spark, built):
    index_dir, oracle_ix, pages = built
    from text_search_spark.index import format as fmt

    ds = spark.read.parquet(fmt.doc_stats_dir(index_dir))
    got = {r.doc_id: r.doc_len for r in ds.collect()}
    assert got == oracle_ix.doc_len


def test_rank_and_score_identity(spark, built):
    index_dir, oracle_ix, _ = built
    queries = generate_queries()
    specs = [QuerySpec(q.query_id, q.terms, q.mode) for q in queries]
    out = bm25_topk_df(spark, index_dir, specs, k=10).collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    n_nonempty = 0
    for q in queries:
        expected = bm25_topk(oracle_ix, q.terms, k=10, mode=q.mode)
        mine = sorted(got.get(q.query_id, []))
        assert [d for _, d, _ in mine] == [d for d, _ in expected], q
        for (_, _, s_got), (_, s_exp) in zip(mine, expected):
            assert abs(s_got - s_exp) <= 1e-6, (q.query_id, s_got, s_exp)
        n_nonempty += bool(expected)
    assert n_nonempty >= 60


def test_phrase_queries_hit_needles(spark, built):
    index_dir, oracle_ix, _ = built
    queries = [q for q in generate_queries() if q.mode == "phrase"]
    specs = [QuerySpec(q.query_id, q.terms, q.mode) for q in queries]
    out = bm25_topk_df(spark, index_dir, specs, k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.doc_id)
    # oracle agreement is covered above; here: at least one phrase query
    # resolves to a real needle hit in this corpus slice
    total_hits = sum(len(v) for v in by_q.values())
    exp_hits = sum(
        len(bm25_topk(oracle_ix, q.terms, k=10, mode="phrase")) for q in queries
    )
    assert total_hits == exp_hits


def test_missing_terms_and_empty_query(spark, built):
    index_dir, _, _ = built
    specs = [
        QuerySpec("m1", ["zzzznotaword"], "or"),
        QuerySpec("m2", ["zzzznotaword", "the"], "and"),
        QuerySpec("m3", ["..."], "or"),
    ]
    rows = bm25_topk_df(spark, index_dir, specs, k=5).collect()
    assert rows == []


def test_pruned_equals_unpruned(spark, built):
    """Block-max MaxScore pruning must not change ANY result (exact top-k)."""
    index_dir, _, _ = built
    queries = generate_queries()
    specs = [QuerySpec(q.query_id, q.terms, q.mode) for q in queries]

    def rows(prune):
        out = bm25_topk_df(spark, index_dir, specs, k=10, prune=prune)
        return sorted(
            (r.query_id, r.rank, r.doc_id, r.score) for r in out.collect()
        )

    assert rows(True) == rows(False)


def test_near_mode_vs_oracle(spark, built):
    index_dir, oracle_ix, _ = built
    from text_search_spark.corpus import NEEDLES

    # near queries: needle words (co-occur within a tight window in ~1% of
    # docs) and common Zipf heads at a generous window
    specs, expect = [], {}
    cases = [
        ("n0", NEEDLES[0].split(), 4),
        ("n1", NEEDLES[3].split(), 4),
        ("n2", ["the", "of"], 3),
        ("n3", ["word00001", "word00002"], 12),
    ]
    for qid, terms, w in cases:
        specs.append(QuerySpec(qid, terms, "near", window=w))
        expect[qid] = bm25_topk(oracle_ix, terms, k=10, mode="near", window=w)
    out = bm25_topk_df(spark, index_dir, specs, k=10).collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    n_hits = 0
    for qid, exp in expect.items():
        mine = sorted(got.get(qid, []))
        assert [d for _, d, _ in mine] == [d for d, _ in exp], qid
        for (_, _, sg), (_, se) in zip(mine, exp):
            assert abs(sg - se) <= 1e-6
        n_hits += len(exp)
    assert n_hits > 0


def test_topk_rows_identical_to_df(spark, built):
    """The driver-merged latency path (bm25_topk_rows) is rank- and
    score-identical to the DataFrame path on the full query set."""
    from text_search_spark.index.query import bm25_topk_rows

    index_dir, _, _ = built
    queries = generate_queries()
    specs = [QuerySpec(q.query_id, q.terms, q.mode) for q in queries]
    df_rows = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in bm25_topk_df(spark, index_dir, specs, k=10).collect()
    )
    rows = sorted(bm25_topk_rows(spark, index_dir, specs, k=10))
    assert rows == df_rows


def test_topk_rows_fast_paths_identical(spark, built, monkeypatch):
    """Single-term batches and mixed single- plus multi-term batches are
    rank- and score-identical to the NumPy oracle on both routes of
    both entry points: the driver scorer, and the Spark shard route the
    batch takes above the postings threshold (bm25_topk_df's window
    merge). bm25_topk_df keeps its schema on both routes."""
    import text_search_spark.index.query as qm
    from text_search_spark.index.query import bm25_topk_rows

    index_dir, oracle_ix, _ = built
    queries = generate_queries()
    single = [q for q in queries if len(set(q.terms)) == 1]
    assert len(single) >= 5 and len(single) < len(queries)
    default_gate = qm.DRIVER_SCORE_MAX_POSTINGS
    for batch in (single, queries):
        specs = [QuerySpec(q.query_id, q.terms, q.mode) for q in batch]
        results = {}
        for gate, path in ((default_gate, "driver_sidecar"),
                           (-1, "shard_topk")):
            monkeypatch.setattr(qm, "DRIVER_SCORE_MAX_POSTINGS", gate)
            sink = {}
            results[("rows", path)] = sorted(
                bm25_topk_rows(spark, index_dir, specs, k=10, phase_sink=sink)
            )
            assert sink["path"] == path
            out = bm25_topk_df(spark, index_dir, specs, k=10)
            assert out.dtypes == [
                ("query_id", "string"), ("rank", "int"),
                ("doc_id", "bigint"), ("score", "double"),
            ]
            results[("df", path)] = sorted(
                (r.query_id, r.rank, r.doc_id, r.score) for r in out.collect()
            )
        for rows in results.values():
            assert rows == results[("rows", "driver_sidecar")]
            got = {}
            for qid, _rank, doc, score in rows:
                got.setdefault(qid, []).append((doc, score))
            for q in batch:
                exp = bm25_topk(oracle_ix, q.terms, k=10, mode=q.mode)
                mine = got.get(q.query_id, [])
                assert [d for d, _ in mine] == [d for d, _ in exp], q
                for (_, sg), (_, se) in zip(mine, exp):
                    assert abs(sg - se) <= 1e-6, (q.query_id, sg, se)


def test_topk_tie_break_on_identical_docs(spark, tmp_path):
    """Byte-identical docs score identically on a single-term query;
    every path (DataFrame, driver sidecar, Spark shard route) must keep
    the k SMALLEST doc_ids among the docs tied at the kth score — a bare
    argpartition keeps an arbitrary tied subset and breaks rank-identity
    between the paths. Run on both sides of the one-term selection's
    lexsort cut-over (query._TIEBREAK_LEXSORT_MAX): 25 docs, and enough
    that each of the two shards holds more than the cut-over. The six
    highest doc_ids score above the tie (tf 2, same dl), so the kth
    score is a duplicated (tf, dl) one."""
    import text_search_spark.index.query as qm
    from text_search_spark.index.query import bm25_topk_rows

    for n in (25, 4 * qm._TIEBREAK_LEXSORT_MAX):
        ix = str(tmp_path / f"tie_ix{n}")
        pdf = spark.createDataFrame(
            [
                (i, "alpha alpha gamma" if i >= n - 6 else "alpha beta gamma")
                for i in range(n)
            ],
            "doc_id long, text string",
        )
        build_index(
            spark,
            prepare_corpus(pdf, doc_id_col="doc_id"),
            ix,
            n_buckets=4,
            n_shards=2,
            bucket_groups=1,
        )
        specs = [QuerySpec("q", ["ALPHA"], "or")]
        want_ids = list(range(n - 6, n)) + list(range(4))

        df_rows = sorted(
            (r.rank, r.doc_id) for r in
            bm25_topk_df(spark, ix, specs, k=10).collect()
        )
        assert [d for _, d in df_rows] == want_ids

        driver_rows = sorted(bm25_topk_rows(spark, ix, specs, k=10))
        assert [r[2] for r in driver_rows] == want_ids

        old = qm.DRIVER_SCORE_MAX_POSTINGS
        try:
            qm.DRIVER_SCORE_MAX_POSTINGS = 0  # force the Spark shard route
            sink = {}
            spark_rows = sorted(
                bm25_topk_rows(spark, ix, specs, k=10, phase_sink=sink)
            )
        finally:
            qm.DRIVER_SCORE_MAX_POSTINGS = old
        assert sink["path"] == "shard_topk"
        assert [r[2] for r in spark_rows] == want_ids


def test_topk_tiebreak_equals_lexsort_across_cutover():
    """_topk_tiebreak selects np.lexsort((docs, -p))[:k] on both sides of
    its lexsort cut-over, with many duplicated scores at the kth one."""
    import numpy as np

    from text_search_spark.index.query import (
        _TIEBREAK_LEXSORT_MAX,
        _topk_tiebreak,
    )

    rng = np.random.default_rng(7)
    for n in (11, 50, _TIEBREAK_LEXSORT_MAX, _TIEBREAK_LEXSORT_MAX + 1,
              3 * _TIEBREAK_LEXSORT_MAX):
        docs = rng.permutation(10 * n)[:n].astype(np.int64)
        p = rng.integers(0, 4, n).astype(np.float64)  # heavy ties
        got = _topk_tiebreak(p, docs, 10)
        want = np.lexsort((docs, -p))[:10]
        assert sorted(got.tolist()) == sorted(want.tolist()), n
