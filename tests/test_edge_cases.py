"""Edge cases: empty/blank documents, tiny corpora, zero-hit queries."""

import pytest

from text_search_spark.index import format as fmt
from text_search_spark.index.build import build_index, prepare_corpus
from text_search_spark.index.query import QuerySpec, bm25_topk_df
from text_search_spark.oracle import bm25_topk, build_oracle_index


def test_blank_and_punct_only_docs(spark, tmp_path):
    docs = [
        (1, "real words appear here"),
        (2, ""),
        (3, "   \t  "),
        (4, "...!!!"),
        (5, "words appear twice words"),
    ]
    pdf = spark.createDataFrame(docs, "doc_id long, text string")
    ix = str(tmp_path / "ix")
    build_index(
        spark,
        prepare_corpus(pdf, doc_id_col="doc_id"),
        ix,
        n_buckets=2,
        n_shards=2,
        bucket_groups=1,
    )
    man = fmt.load_manifest(ix)
    # blank docs count in N and avgdl exactly as the oracle counts them
    oracle = build_oracle_index(docs)
    assert man.n_docs == 5 == oracle.n_docs
    assert man.avgdl == oracle.avgdl

    out = bm25_topk_df(spark, ix, [QuerySpec("q", ["words"], "or")], k=10)
    got = [(r.doc_id, r.score) for r in out.orderBy("rank").collect()]
    exp = bm25_topk(oracle, ["words"], k=10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, sg), (_, se) in zip(got, exp):
        assert abs(sg - se) <= 1e-6


def test_single_doc_corpus(spark, tmp_path):
    pdf = spark.createDataFrame(
        [(7, "only one document")], "doc_id long, text string"
    )
    ix = str(tmp_path / "ix1")
    build_index(
        spark,
        prepare_corpus(pdf, doc_id_col="doc_id"),
        ix,
        n_buckets=2,
        n_shards=2,
        bucket_groups=1,
    )
    out = bm25_topk_df(
        spark, ix, [QuerySpec("q", ["document"], "or")], k=5
    ).collect()
    assert [r.doc_id for r in out] == [7]


def test_huge_tf_and_long_positions(spark, tmp_path):
    # one doc repeating a term 3000 times exercises multi-block postings
    text = " ".join(["rare unique"] + ["common"] * 3000)
    pdf = spark.createDataFrame(
        [(1, text), (2, "common rare"), (3, "unique other words")],
        "doc_id long, text string",
    )
    ix = str(tmp_path / "ix2")
    build_index(
        spark,
        prepare_corpus(pdf, doc_id_col="doc_id"),
        ix,
        n_buckets=2,
        n_shards=2,
        bucket_groups=1,
    )
    oracle = build_oracle_index(
        [(1, text), (2, "common rare"), (3, "unique other words")]
    )
    for terms, mode in [
        (["common"], "or"),
        (["rare", "unique"], "and"),
        (["rare", "unique"], "phrase"),
        (["common", "rare"], "near"),
    ]:
        out = bm25_topk_df(
            spark, ix, [QuerySpec("q", terms, mode)], k=5
        ).collect()
        got = sorted((r.rank, r.doc_id, r.score) for r in out)
        exp = bm25_topk(oracle, terms, k=5, mode=mode)
        assert [d for _, d, _ in got] == [d for d, _ in exp], (terms, mode)
        for (_, _, sg), (_, se) in zip(got, exp):
            assert abs(sg - se) <= 1e-6


def test_all_blank_corpus_builds_and_queries_empty(spark, tmp_path):
    """A corpus whose every doc tokenizes to ZERO tokens must build a
    complete (empty) index and answer queries with zero rows — not fail
    parquet schema inference on the empty segments/vocab/tokens_tmp dirs
    (explicit read schemas; regression for round-2 fix)."""
    from text_search_spark.index import format as ixfmt
    from text_search_spark.index.query import IndexReader, bm25_topk_rows

    pdf = spark.createDataFrame(
        [(1, "..."), (2, ""), (3, "!!! ???")],
        "doc_id long, text string",
    )
    for bg in (1, 2):
        ix = str(tmp_path / f"ix_blank_{bg}")
        build_index(
            spark,
            prepare_corpus(pdf, doc_id_col="doc_id"),
            ix,
            n_buckets=2,
            n_shards=2,
            bucket_groups=bg,
        )
        man = ixfmt.load_manifest(ix)
        assert man.complete and man.n_docs == 3 and man.total_tokens == 0
        assert (
            bm25_topk_rows(
                spark, ix, [QuerySpec("q", ["anything"], "or")], k=5
            )
            == []
        )
        assert (
            bm25_topk_df(
                spark, ix, [QuerySpec("q", ["anything"], "or")], k=5
            ).count()
            == 0
        )
        assert IndexReader(spark, ix).term_stats().count() == 0


def test_dedup_lines_cross_doc(spark):
    """Corpus-wide first-occurrence line dedup: the owner doc keeps the
    line, every later occurrence (any doc, incl. repeats in the owner)
    drops; empty docs survive with the empty fingerprint."""
    import hashlib

    from text_search_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame(
        [
            (1, "shared line\nunique a"),
            (2, "shared line\nunique b\nshared line"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines(df).collect()}
    assert (out[1].n_lines_kept, out[1].n_lines_dropped) == (2, 0)
    assert out[1].text_fp == hashlib.md5(
        b"shared line\nunique a"
    ).hexdigest()
    assert (out[2].n_lines_kept, out[2].n_lines_dropped) == (1, 2)
    assert out[2].text_fp == hashlib.md5(b"unique b").hexdigest()
    assert (out[3].n_lines_kept, out[3].n_lines_dropped) == (0, 0)
    assert out[3].text_fp == hashlib.md5(b"").hexdigest()


def test_pii_masking_semantics(spark):
    from text_search_spark.operators.pii import pii_stats

    df = spark.createDataFrame(
        [
            (1, "mail a.b@c-d.org and x@y.io, ip 192.168.0.1, "
                "tel 555-123-4567"),
            (2, "vd 999.999.999.999 still matches the simple ipv4 shape"),
            (3, "not-an-email @nope, 1.2.3 too short, 12-34-5678 no"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_stats(df).collect()}
    assert (out[1].n_emails, out[1].n_ipv4, out[1].n_phones) == (2, 1, 1)
    assert out[2].n_ipv4 == 1  # documented: shape-match, not range-valid
    assert (out[3].n_emails, out[3].n_ipv4, out[3].n_phones) == (0, 0, 0)


def test_lsh_capped_census_counts_degenerate_buckets(spark):
    """lsh_capped_census reports the chunked-recovery residual without
    ever expanding pairs: 4 identical signatures collide in EVERY band,
    so with max_bucket=2 each band's bucket (size 4 > 2) is capped.
    Per bucket: C(4,2)=6 total, recovery directly expands 2 chunk
    cliques of C(2,2)=1 each + 1 bridge = 3 -> residual 3."""
    from text_search_spark.operators import dedup

    n_h = dedup.NUM_MINHASHES
    rows = [tuple([i] + [7] * n_h) for i in range(4)]  # identical sigs
    rows.append(tuple([99] + list(range(100, 100 + n_h))))  # distinct
    sigs = spark.createDataFrame(
        rows, "doc_id long, " + ", ".join(f"h{i} string" for i in range(n_h))
    )
    n_capped, residual_ub = dedup.lsh_capped_census(sigs, max_bucket=2)
    bands = n_h // 2
    assert n_capped == bands
    assert residual_ub == bands * 3
    # round-5 drop behavior still available behind the flag
    assert (
        dedup.lsh_candidate_pairs(
            sigs, max_bucket=2, recover_capped=False
        ).count()
        == 0
    )
    assert dedup.lsh_candidate_pairs(sigs, max_bucket=None).count() == 6


def test_lsh_capped_recovery_preserves_connectivity(spark):
    """Round-6 recovery: an oversized bucket expands into bounded chunk
    cliques + bridge edges that keep every member in ONE connected
    component — no near-dup group is silently split by the skew cap —
    while the direct pair count stays O(n * max_bucket), not O(n^2)."""
    from text_search_spark.operators import dedup

    n_h = dedup.NUM_MINHASHES
    n = 10
    rows = [tuple([i] + [7] * n_h) for i in range(n)]  # one giant bucket
    rows.append(tuple([99] + list(range(100, 100 + n_h))))
    sigs = spark.createDataFrame(
        rows, "doc_id long, " + ", ".join(f"h{i} string" for i in range(n_h))
    )
    pairs = [
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidate_pairs(sigs, max_bucket=3).collect()
    ]
    assert pairs and all(a < b for a, b in pairs)
    # bounded: full clique would be C(10,2)=45 distinct pairs; chunked
    # recovery emits far fewer (4 chunks: 3+3+3+1 -> 3*3+0 cliques + 3
    # bridges = 12 distinct at most, identical across bands here)
    assert len(pairs) < 45
    # union-find over the candidate edges: all 10 in one component
    parent = list(range(100))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(n)}) == 1
    assert find(99) == 99  # the distinct doc stays out
    # census residual matches C(n,2) minus the per-bucket direct count
    n_capped, residual_ub = dedup.lsh_capped_census(sigs, max_bucket=3)
    bands = n_h // 2
    per_bucket_direct = 3 * 3 + 0 + (4 - 1)  # 3 full cliques + bridge edges
    assert n_capped == bands
    assert residual_ub == bands * (45 - per_bucket_direct)
