"""Normative tokenizer.

The reference never tokenizes in its own code -- it delegates to Vespa's
linguistics via ``enable-bm25`` fields (/root/reference/config/vespa/
schemas/doc.sd:24,34,39,70 and fieldset :107-109).  The rebuild therefore
*defines* the normative tokenizer, used identically at index time, query
time, in the pure-Python oracle and in the DuckDB correctness SQL:

    tokens(s) = maximal runs of [a-z0-9] in lower(s)

Rationale: this exact definition is expressible bit-identically in Java
regex (Spark), RE2 (DuckDB), and Python ``re`` -- non-ASCII letters act as
separators, which is well-defined for the English-filtered corpus
(``lang = 'en'`` filter mirrors doc_scraper.py:420-439).  No stemming, no
stopwords (Vespa's default linguistic stemming is NOT reproduced; this is a
documented normative divergence -- ranking comparisons are against the
oracle that shares this tokenizer, per SURVEY.md §2.4).
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING, List

if TYPE_CHECKING:
    from pyspark.sql import Column

# one token class, reused verbatim everywhere: python finds runs of the
# class; Spark and DuckDB split on its complement (same tokens)
TOKEN_FINDALL_RE = "[a-z0-9]+"
TOKEN_SPLIT_RE = "[^a-z0-9]+"
_PY_TOKEN_RE = re.compile(TOKEN_FINDALL_RE)


def tokenize_py(text: str) -> List[str]:
    """Pure-Python twin (oracle + query-time)."""
    if not text:
        return []
    return _PY_TOKEN_RE.findall(text.lower())


def tokens_col(col: Column | str) -> Column:
    """JVM-side tokens as array<string> (whole-stage codegen, no Python).

    ``split`` emits empty strings at the edges when the input starts/ends
    with a separator; ``filter`` drops them (matches ``re.findall``).

    A ``regexp_extract_all(lower(s), '[a-z0-9]+')`` spelling (identical
    tokens) measured 25-35% faster in ISOLATION, but an interleaved
    full-build A/B at 480k pages (2 reps, local[4]) showed NO stats-stage
    win (tf_write 69.3/59.4 s split vs 70.0/63.7 s extract): the regex
    slice is small inside the memory-bound agg+sort+write pass.  The
    split form stays the one spelling; it is also the form the DuckDB
    twin (duckdb_tokens_sql) uses.
    """
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(c), TOKEN_SPLIT_RE),
        lambda x: x != F.lit(""),
    )


def duckdb_tokens_sql(expr: str) -> str:
    """The same tokenizer as a DuckDB SQL expression (list of varchar)."""
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '[^a-z0-9]+'),"
        f" x -> x <> '')"
    )
