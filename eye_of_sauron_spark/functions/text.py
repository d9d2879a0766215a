"""Tokenization and shingling builders (Spark Column + DuckDB SQL).

The ``documents.text`` fixture is whitespace-tokenizable by
construction (FIXTURES.md); shingles are n-token windows joined by a
single space, deduplicated — the standard unit for MinHash/Jaccard
near-dup detection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_spark(text: Column) -> Column:
    """Whitespace tokens."""
    return F.split(text, " ")


def tokens_duck(expr: str) -> str:
    return f"string_split({expr}, ' ')"


def shingles_spark(text: Column, n: int = 3) -> Column:
    """Distinct n-token shingles of ``text`` as array<string>.

    Built as n-1 nested ``zip_with`` concats over shifted slices of
    the token array (the :func:`bigrams_spark` shape generalized):
    element i of the result is toks[i..i+n-1] joined by single
    spaces. Pre-slicing the token array once per offset avoids
    allocating an n-element sub-array per shingle.

    Empty for null text and for documents with fewer than n tokens.
    ``slice`` raises on a negative length, so the shingle count is
    clamped at 0: the expression is total on every row without a
    guard that relies on CaseWhen evaluating only the taken branch.
    """
    toks = tokens_spark(text)
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    make = F.slice(toks, 1, length)
    for j in range(1, n):
        make = F.zip_with(
            make,
            F.slice(toks, j + 1, length),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(F.coalesce(make, F.array()))


def shingles_duck(expr: str, n: int = 3) -> str:
    """DuckDB SQL twin of :func:`shingles_spark` (same shingle strings;
    DuckDB's range(a, b) is empty when b <= a, so no guard needed)."""
    toks = tokens_duck(expr)
    return (
        f"list_distinct(list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


def bigrams_spark(text: Column) -> Column:
    """Ordered token bigrams of ``text`` as array<struct<w1,w2>> —
    the token array zipped against itself shifted by one (narrow
    per-row expression, no positional self-join). Empty below 2
    tokens (guarded: slice lengths must stay >= 0)."""
    toks = tokens_spark(text)
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array())


def bigrams_duck_from(table: str, cols: str, text_expr: str = "text") -> str:
    """DuckDB FROM-clause twin of :func:`bigrams_spark`: expands
    ``table`` into one row per token bigram with columns ``cols``
    (caller-projected) plus w1/w2; ``text_expr`` names the tokenized
    column (mirroring tokens_duck/shingles_duck taking the expression
    rather than assuming one). DuckDB's range(a, b) is empty for
    b <= a, so short docs vanish without a guard."""
    toks = tokens_duck(text_expr)
    return f"""(
        SELECT {cols}, ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
        FROM (SELECT *, {toks} AS ts FROM {table}),
             unnest(range(1, len(ts))) AS t(i)
    )"""
