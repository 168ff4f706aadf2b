"""Reusable Spark Column builders shared by operators and the entry file.

Everything here is a JVM-side expression (whole-stage codegen, no Python),
and every hash is md5-based so the DuckDB oracle can compute bit-identical
values (md5 is specification-fixed; xxhash64 and DuckDB hash() are not
portable across engines)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..textnorm import spark_tokens  # noqa: F401  (re-export)


def minhash_col(term_col: Column, i: int) -> Column:
    """Per-term hash for minhash slot i: md5('<i>|' || term), kept as the
    hex string — lexicographic min over hex == numeric min, and hex strings
    compare identically in Spark and DuckDB."""
    return F.md5(F.concat(F.lit(f"{i}|"), term_col))


def nibble(hex_col: Column, j: int) -> Column:
    """Value 0-15 of 1-based hex digit j of an md5 hex string."""
    return F.conv(F.substring(hex_col, j, 1), 16, 10).cast("int")


def bit_of_nibble(nib: Column, k: int) -> Column:
    """Bit k (0-3) of a nibble value as 0/1 int."""
    return F.floor(nib / (2 ** k)).cast("int") % 2


def shingles(tokens_col: Column, n: int = 3) -> Column:
    """Array of n-gram shingle strings from a token array (JVM-side).

    CONTRACT: pass a MATERIALIZED column (an attribute ref like
    F.col("toks") from a prior projection), never an inline expression
    such as spark_tokens(...): the transform lambda below references
    tokens_col per element, and a non-materialized expression is
    RE-EVALUATED once per shingle — an inlined tokenizer is
    O(n_tokens^2) per document (measured 23x slowdown at 400k pages;
    BENCH.md round-5)."""
    # transform over index range; slice(tokens, i, n) joined by single space
    size = F.size(tokens_col)
    return F.when(size < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), size - (n - 1)),
            lambda i: F.array_join(F.slice(tokens_col, i, n), " "),
        )
    )
