"""The normative tokenizer must agree bit-for-bit across the three
implementations: Spark SQL (Java regex), pure Python (oracle/query-time),
and DuckDB SQL (the driver's correctness oracle)."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from chavinha_mini_search_engine_spark.functions.tokenizer import (
    duckdb_tokens_sql,
    tokenize_py,
    tokens_col,
)

SAMPLES = [
    "",
    "Hello, World!",
    "python async-programming 3.12",
    "  leading and trailing  ",
    "UPPER lower MiXeD",
    "punct!!!only???",
    "emoji \U0001f40d python café über straße",
    "SELECT * FROM users WHERE id=1; DROP TABLE users;--",
    "x" * 1000,
    "a1b2c3 42 0x1f",
]


@pytest.mark.parametrize("s", SAMPLES)
def test_py_vs_duckdb(s):
    got = duckdb.sql(
        f"select {duckdb_tokens_sql('?::varchar')} t", params=[s]
    ).fetchone()[0]
    assert list(got or []) == tokenize_py(s)


@pytest.mark.parametrize("mode", ["split"])
def test_py_vs_spark(spark, mode):
    # the JVM spelling (split on the complement class) must stay
    # bit-identical to the python twin
    df = spark.createDataFrame([(s,) for s in SAMPLES], "s string")
    got = [r[0] for r in df.select(tokens_col("s")).collect()]
    assert got == [tokenize_py(s) for s in SAMPLES]


@given(st.text(max_size=120))
@settings(max_examples=60, deadline=None)
def test_spark_spellings_agree_fuzz(s):
    """The python twin finds runs of the token class; Spark and DuckDB
    split on its complement.  Their EQUIVALENCE is a python-checkable
    property: findall(token) == non-empty pieces of split(complement).
    (Spark-side bit-equality vs python is pinned by test_py_vs_spark
    above.)"""
    import re

    from chavinha_mini_search_engine_spark.functions.tokenizer import (
        TOKEN_FINDALL_RE,
        TOKEN_SPLIT_RE,
    )

    low = s.lower()
    assert re.findall(TOKEN_FINDALL_RE, low) == [
        p for p in re.split(TOKEN_SPLIT_RE, low) if p
    ]


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_py_vs_duckdb_fuzz(s):
    got = duckdb.sql(
        f"select {duckdb_tokens_sql('?::varchar')} t", params=[s]
    ).fetchone()[0]
    assert list(got or []) == tokenize_py(s)
