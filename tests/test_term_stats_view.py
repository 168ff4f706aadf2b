"""IndexReader.term_stats is a read-time view of the committed segment
rows. After a build, an upsert, and a delete + purge, it equals a fresh
build's view over the docs the snapshot counts (the docs in n_docs), and
its df equals the df the scorer reads (IndexReader.df_for)."""

import pytest

from text_search_spark.corpus import generate_pages
from text_search_spark.index import format as fmt
from text_search_spark.index.build import build_index, prepare_corpus
from text_search_spark.index.delete import delete_docs
from text_search_spark.index.merge import compact_in_place
from text_search_spark.index.query import IndexReader
from text_search_spark.streaming.incremental import upsert_batch

# carried by every even page, so purging those 20 docs takes the term
# out of the index (terms are indexed upper-cased)
MARK = "GAMMA"


def _build(spark, pages, ix):
    """Build (url, text) pages with doc_id = list position."""
    df = spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(pages)],
        "doc_id long, url string, text string",
    )
    build_index(
        spark, prepare_corpus(df, doc_id_col="doc_id", url_col="url"), ix,
        n_buckets=4, n_shards=2, bucket_groups=1,
    )


def _view(spark, ix):
    return sorted(
        tuple(r) for r in IndexReader(spark, ix).term_stats().collect()
    )


@pytest.mark.parametrize("state", ["build", "upsert", "purge"])
def test_view_matches_fresh_build_and_engine_df(spark, tmp_path, state):
    pages = [
        (p.url, p.text + (f" {MARK}" if i % 2 == 0 else ""))
        for i, p in enumerate(generate_pages(40))
    ]
    ix = str(tmp_path / "ix")
    _build(spark, pages, ix)
    counted = list(pages)
    if state == "upsert":
        batch = [
            (pages[1][0], pages[1][1] + " recrawled"),
            ("https://example.com/new", f"fresh page {MARK}"),
        ]
        upsert_batch(
            spark, spark.createDataFrame(batch, "url string, text string"),
            ix, batch_id=1,
        )
        # the replaced version is tombstoned, and stays counted in
        # n_docs and df until a purge
        counted += batch
    elif state == "purge":
        delete_docs(spark, ix, range(0, len(pages), 2))
        compact_in_place(spark, ix)
        counted = pages[1::2]
    assert fmt.load_manifest(ix).n_docs == len(counted)

    fresh = str(tmp_path / "fresh")
    _build(spark, counted, fresh)
    got = _view(spark, ix)
    assert got == _view(spark, fresh)
    assert (MARK in {r[0] for r in got}) == (state != "purge")

    reader = IndexReader(spark, ix)
    terms = [r[0] for r in got] + [MARK]
    want = {MARK: 0, **{r[0]: r[2] for r in got}}
    assert reader.df_for(terms, reader.buckets_for(terms)) == want
