"""Local mirror of the driver's correctness gate: every queries() entry with
an oracle_sql() runs on sf0.001 through Spark AND DuckDB and must agree
exactly (sorted columns, sorted rows, exact values — stricter than the
driver's hash compare, so passing here implies passing there)."""

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_QUERIES = entry_mod.queries()
_ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return (
        df.sort_values(by=list(df.columns))
        .reset_index(drop=True)
    )


def test_census_is_exactly_the_checked_window():
    """Round-3 lesson: entries past the driver's 50-entry check window go
    silently unchecked. Pin census == 50 AND full oracle coverage so any
    future entry addition must consolidate, not overflow."""
    assert len(_QUERIES) == 50, sorted(_QUERIES)
    assert set(_QUERIES) == set(_ORACLES), (
        sorted(set(_QUERIES) ^ set(_ORACLES))
    )


def test_index_cache_dir_keys_on_source_fingerprint(monkeypatch):
    """A cached index is reused only by the package sources that built
    it: another source fingerprint gives another cache dir for the same
    sf_dir."""
    d = entry_mod._index_dir_for(SF_DIR)
    assert entry_mod._index_dir_for(SF_DIR) == d
    monkeypatch.setattr(entry_mod, "_source_fingerprint", lambda: "edited")
    assert entry_mod._index_dir_for(SF_DIR) != d


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_entry_vs_duckdb(spark, ddb, name):
    assert name in _QUERIES, f"oracle_sql has {name} but queries() doesn't"
    sdf = _QUERIES[name](spark, SF_DIR).toPandas()
    odf = ddb.execute(_ORACLES[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        name, sdf.columns, odf.columns)
    for c in sdf.columns:
        ks, ko = sdf[c].dtype.kind, odf[c].dtype.kind
        # int vs float (or decimal object) on one side = a schema
        # mismatch the driver would flag
        assert ks == ko or {ks, ko} <= {"i", "u"}, (name, c, ks, ko)
    a, b = _canon(sdf), _canon(odf)
    assert len(a) == len(b), (name, len(a), len(b))
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


def test_all_queries_run(spark):
    """Entries without an oracle still must run and return a DataFrame."""
    for name, fn in _QUERIES.items():
        if name in _ORACLES:
            continue
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"query_id", "rank", "doc_id", "score_r"}
