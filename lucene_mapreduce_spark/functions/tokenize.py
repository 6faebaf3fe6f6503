"""The analyzer: a deterministic whitespace tokenizer.

The reference uses Lucene's ``WhitespaceAnalyzer`` everywhere — split on
whitespace, no lowercasing, no stemming (reference:
IndexBuilderReducer.java:131, BuilderHandler.java:383,
XdiReportReducer.java:219). Rank-identity between the index build, the query
pipeline, the pandas oracle, and the DuckDB correctness oracle requires the
*same token stream bit-for-bit* from all four, so the whitespace class is
pinned explicitly to the ASCII set ``[ \\t\\n\\r\\f\\x0B]`` rather than
relying on each regex engine's notion of ``\\s`` (Java and RE2 disagree on
``\\x0B``).

Implementations of one spec:
- ``tokenize_col``          — pure built-in Spark expression (JVM codegen'd),
                              used by the query and scan paths
- the index build's vectorized Arrow split (``ascii_split_whitespace`` plus an
  empty-token filter, in ``index/kernels.py``)
- ``tokenize_string`` / ``duckdb_tokens_sql`` — oracle-side twins

``test_tokenize.py`` asserts all implementations agree on adversarial input.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# One whitespace class, three regex dialects (identical semantics).
_WS_CLASS = " \\t\\n\\r\\f\\x0B"
TOKEN_SPLIT_RE = re.compile("[" + _WS_CLASS + "]+")
_JAVA_SPLIT = "[" + _WS_CLASS + "]+"
_RE2_SPLIT = "[" + _WS_CLASS + "]+"


def tokenize_string(s: str | None) -> list[str]:
    """Oracle-side tokenizer for a single string (pure Python)."""
    if s is None:
        return []
    return [t for t in TOKEN_SPLIT_RE.split(s) if t]


def tokenize_col(col: Column | str) -> Column:
    """Spark built-in tokenizer: array<string> of non-empty tokens.

    Stays inside whole-stage codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, _JAVA_SPLIT), lambda x: x != F.lit(""))


def duckdb_tokens_sql(text_expr: str) -> str:
    """DuckDB SQL fragment producing the same token array.

    DuckDB's regex engine is RE2; the explicit class keeps it aligned with
    the Java regex used Spark-side.
    """
    return (
        f"list_filter(regexp_split_to_array({text_expr}, "
        f"'[{_WS_CLASS}]+'), t -> t <> '')"
    )
