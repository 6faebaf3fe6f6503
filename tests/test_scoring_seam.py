"""The Spark scoring seam has one home.

The canonical float64 sum (sort_array + aggregate in ascending key order)
and the BM25 idf are written once, in ``query/bm25_df.py`` (and the idf's
driver-side twin in ``query/bm25.py``); every other site calls them. The
source scan below keeps copies from creeping back; the oracle SQL in
``operators/oracles.py`` is the independent reference and is exempt.
"""

from __future__ import annotations

import ast
import pathlib
import re
from functools import reduce

PKG = pathlib.Path(__file__).resolve().parent.parent / "lucene_mapreduce_spark"
EXEMPT = {"operators/oracles.py"}

_IDF = re.compile(
    r"^(?:F\.lit\()?1(?:\.0)?\)?\+\(.*\+(?:F\.lit\()?0\.5\)?\)/\(.*\+(?:F\.lit\()?0\.5\)?\)$"
)


def _name(node: ast.AST) -> str:
    if isinstance(node, ast.Attribute):
        return node.attr
    return node.id if isinstance(node, ast.Name) else ""


def _call_of(node: ast.AST, name: str) -> ast.Call | None:
    ok = isinstance(node, ast.Call) and _name(node.func) == name and node.args
    return node if ok else None


def _is_canonical_sum(node: ast.AST) -> bool:
    """aggregate([transform(]sort_array(collect_list(struct(...)))[)], lit(0.0),
    lambda acc, x: acc + x[...]) -- a plain sequential sum in key order."""
    agg = _call_of(node, "aggregate")
    if agg is None or len(agg.args) != 3:
        return False
    arr, zero, fold = agg.args
    if _call_of(arr, "transform"):
        arr = arr.args[0]
    inner = _call_of(arr, "sort_array")
    inner = inner and _call_of(inner.args[0], "collect_list")
    if not (inner and _call_of(inner.args[0], "struct")):
        return False
    lit = _call_of(zero, "lit")
    if not (lit and isinstance(lit.args[0], ast.Constant) and lit.args[0].value == 0.0):
        return False
    body = fold.body if isinstance(fold, ast.Lambda) else None
    return (
        isinstance(body, ast.BinOp)
        and isinstance(body.op, ast.Add)
        and isinstance(body.left, ast.Name)
        and isinstance(body.right, (ast.Name, ast.Subscript))
    )


def _is_bm25_idf(node: ast.AST) -> bool:
    """log(1 + (N - df + 0.5) / (df + 0.5)) in Spark or Python spelling."""
    call = _call_of(node, "log")
    if call is None or len(call.args) != 1:
        return False
    return bool(_IDF.match(re.sub(r"\s+", "", ast.unparse(call.args[0]))))


def _sites() -> tuple[dict[str, list[str]], dict[str, list[str]]]:
    """({path: [enclosing function of each canonical sum]}, same for idf),
    paths relative to the package, one parse per file."""
    sums: dict[str, list[str]] = {}
    idfs: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        if rel in EXEMPT or ("sort_array" not in src and "0.5" not in src):
            continue

        def visit(node: ast.AST, fn: str) -> None:
            if isinstance(node, ast.FunctionDef):
                fn = node.name
            if _is_canonical_sum(node):
                sums.setdefault(rel, []).append(fn)
            if _is_bm25_idf(node):
                idfs.setdefault(rel, []).append(fn)
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(ast.parse(src), "<module>")
    return sums, idfs


def test_canonical_sum_and_bm25_idf_have_one_home():
    sums, idfs = _sites()
    assert sums == {"query/bm25_df.py": ["canonical_sum"]}, (
        f"copied canonical sums (call bm25_df.canonical_sum instead): {sums}"
    )
    assert idfs == {
        "query/bm25.py": ["bm25_idf"],
        "query/bm25_df.py": ["bm25_idf_col"],
    }, f"copied BM25 idf expressions (call bm25_idf_col / bm25_idf): {idfs}"


def test_canonical_sum_is_partition_invariant(spark):
    """Same (key, value) rows in two partition layouts -> the same bits,
    equal to Python's left fold over ascending keys. The values are
    order-sensitive: the reversed fold differs in the last ulp."""
    from lucene_mapreduce_spark.query.bm25_df import canonical_sum

    vals = [0.1, 0.7, 0.2, 0.3, 1.1, 0.6, 2.9, 0.4]
    rows = [("g", k, v) for k, v in enumerate(vals)]
    fold = reduce(lambda a, x: a + x, vals, 0.0)
    assert fold != reduce(lambda a, x: a + x, vals[::-1], 0.0)

    def total(data, slices):
        df = spark.sparkContext.parallelize(data, slices).toDF("g string, k long, v double")
        return df.groupBy("g").agg(canonical_sum("v", "k").alias("s")).collect()[0]["s"]

    one = total(rows, 1)
    spread = total(rows[::-1], 4)
    assert one == spread == fold
