"""All four tokenizer implementations must agree bit-for-bit."""

from __future__ import annotations

import duckdb
import pandas as pd

from lucene_mapreduce_spark.functions.tokenize import (
    duckdb_tokens_sql,
    tokenize_col,
    tokenize_string,
)

ADVERSARIAL = [
    None,
    "",
    "   ",
    "a b c",
    "a  b\tc\nd\re\ff",
    "\x0bvertical\x0btab\x0b",
    "naïve café 東京 UPPER lower MiXeD",
    "tok tok tok",
    " leading and trailing ",
    "tab\t\t\tdouble",
    "unicode nbsp stays-one-token",  # NBSP is NOT in the split class
    "emoji 🙂 kept",
]


def test_python_spec():
    assert tokenize_string(None) == []
    assert tokenize_string("  a  b ") == ["a", "b"]
    assert tokenize_string("unicode nbsp") == ["unicode nbsp"]
    assert tokenize_string("A\x0bB") == ["A", "B"]


def test_spark_builtin_matches_python(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(ADVERSARIAL)], "i int, text string")
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", tokenize_col("text").alias("toks")).collect()
    }
    for i, s in enumerate(ADVERSARIAL):
        expected = tokenize_string(s)
        actual = got[i] if got[i] is not None else []
        assert actual == expected, f"mismatch on {s!r}"


def test_duckdb_matches_python():
    pdf = pd.DataFrame({"i": range(len(ADVERSARIAL)), "text": ADVERSARIAL})
    con = duckdb.connect()
    con.register("t", pdf)
    rows = con.sql(
        f"select i, {duckdb_tokens_sql('text')} toks from t order by i"
    ).fetchall()
    for i, toks in rows:
        expected = tokenize_string(ADVERSARIAL[i])
        assert (toks or []) == expected, f"mismatch on {ADVERSARIAL[i]!r}"


def test_kernel_splitter_matches_python():
    """The build kernel's Arrow splitter (ascii_split_whitespace + empty
    filter, index/kernels.py) must match the pinned spec bit-for-bit —
    including characters NEAR the class that must NOT split (information
    separators \\x1c-\\x1f, NEL \\x85, NBSP \\xa0)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cases = ADVERSARIAL + [
        "a\x1cb\x1dc\x1ed\x1fe",  # info separators: NOT whitespace here
        "nel\x85stays",
        "nbsp\xa0stays",
        "nul\x00stays",
        "\t\n\x0b\x0c\r all five",
    ]
    arr = pa.array(cases, type=pa.string())
    toks = pc.ascii_split_whitespace(arr)
    flat = pc.list_flatten(toks)
    par = pc.list_parent_indices(toks)
    mask = pc.not_equal(flat, "")
    flat = pc.filter(flat, mask).to_pylist()
    par = pc.filter(par, mask).to_pylist()
    expected_flat, expected_par = [], []
    for i, s in enumerate(cases):
        for t in tokenize_string(s):
            expected_flat.append(t)
            expected_par.append(i)
    assert flat == expected_flat and par == expected_par

