"""Sparse doc_id spaces on the JVM->Python segment pipe: 60-bit hashed
url ids span far beyond int32, and the segment pipe must carry them
whole so the built index still answers queries with the right ids."""

import text_search_spark.index.build as B
from text_search_spark.index.build import (
    build_index,
    hash_doc_id_py,
    prepare_corpus,
)
from text_search_spark.index.query import QuerySpec, bm25_topk_df


def test_sparse_hashed_ids_disable_narrowing(spark, tmp_path, monkeypatch):
    """60-bit hashed doc_ids (url ingest) span >> 2^31 — the int64 pipe
    must carry them unchanged and still build a correct index."""
    monkeypatch.setattr(B, "DRIVER_BUILD_MAX_TOKENS", -1)  # Spark route
    urls = [f"https://example.com/p{i}" for i in range(30)]
    ids = [hash_doc_id_py(u) for u in urls]
    assert max(ids) - min(ids) > 2**31  # the id space really is sparse
    rows = [(u, f"alpha beta gamma doc{i} alpha") for i, u in enumerate(urls)]
    docs = spark.createDataFrame(rows, "url string, text string")
    corpus = prepare_corpus(docs, url_col="url")
    d = str(tmp_path / "ix_sparse")
    build_index(spark, corpus, d, n_buckets=2, n_shards=2)
    out = bm25_topk_df(
        spark, d, [QuerySpec("q", ["ALPHA"], "or")], k=30
    ).collect()
    assert len(out) == 30  # every doc matches ALPHA
    assert sorted(r.doc_id for r in out) == sorted(ids)
