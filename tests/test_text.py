"""Edge inputs for the shingling builders in functions/text.py: null,
empty and shorter-than-n documents give an empty shingle array, and
the Spark builder agrees with a plain-Python reference and with its
DuckDB twin."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from eye_of_sauron_spark.functions.text import shingles_duck, shingles_spark

DOCS = [
    None,
    "",
    "a",
    "a b",
    "a b c",
    "a b c d",
    "a b a b a b",
    "x  y z",  # a double space yields an empty token, as split(' ') does
    " ".join(f"t{i}" for i in range(12)),
]


def _shingles_py(text, n):
    if text is None:
        return []
    toks = text.split(" ")
    out = []
    for i in range(len(toks) - n + 1):
        s = " ".join(toks[i : i + n])
        if s not in out:
            out.append(s)
    return out


@pytest.mark.parametrize("n", [1, 2, 3, 8])
def test_shingles_spark_edge_documents(spark, n):
    df = spark.createDataFrame(list(enumerate(DOCS)), "id INT, text STRING")
    got = {
        r["id"]: r["sh"]
        for r in df.select("id", shingles_spark(F.col("text"), n).alias("sh")).collect()
    }
    for i, text in enumerate(DOCS):
        assert got[i] == _shingles_py(text, n), (text, n)


@pytest.mark.parametrize("n", [2, 3, 8])
def test_shingles_duck_twin_agrees(n):
    # the DuckDB twin returns NULL for NULL text, so only non-null docs
    # are compared; list_distinct does not keep order, so compare sets
    con = duckdb.connect()
    for text in DOCS[1:]:
        (got,) = con.execute(
            f"SELECT {shingles_duck('t', n)} FROM (SELECT ?::VARCHAR AS t)", [text]
        ).fetchone()
        assert set(got) == set(_shingles_py(text, n)), (text, n)
