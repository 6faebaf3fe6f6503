from lucene_mapreduce_spark.functions.tokenize import (
    TOKEN_SPLIT_RE,
    duckdb_tokens_sql,
    tokenize_col,
    tokenize_string,
)

__all__ = [
    "TOKEN_SPLIT_RE",
    "duckdb_tokens_sql",
    "tokenize_col",
    "tokenize_string",
]
