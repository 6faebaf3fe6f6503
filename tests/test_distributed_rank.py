"""distributed_row_number: global ranks without a single-partition window
(ADVICE r4 promotion remedy, applied to weibull_plot_fit /
ppcc_exponential_test)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lucene_mapreduce_spark.operators.parity import distributed_row_number


def test_matches_global_window_on_total_order(spark):
    df = spark.range(0, 5000).select(
        (F.xxhash64(F.col("id").cast("string")) % 100000).alias("v"), "id"
    )
    # total order via (v, id): compare against the single-partition window
    got = (
        distributed_row_number(
            df.select(F.struct("v", "id").alias("k"), "v", "id"), "k", "i"
        )
        .select("v", "id", "i")
        .toPandas()
        .sort_values(["v", "id"])
        .reset_index(drop=True)
    )
    w = Window.orderBy("v", "id")
    exp = (
        df.withColumn("i", F.row_number().over(w))
        .toPandas()
        .sort_values(["v", "id"])
        .reset_index(drop=True)
    )
    assert list(got.i) == list(exp.i)


def test_tie_blocks_are_contiguous_and_complete(spark):
    df = spark.range(0, 3000).select((F.col("id") % 7).alias("v"))
    out = distributed_row_number(df, "v", "i").toPandas()
    assert sorted(out.i) == list(range(1, 3001))  # a permutation of 1..n
    # each tie class owns one contiguous rank block
    lo_hi = out.groupby("v").i.agg(["min", "max", "count"]).sort_values("min")
    prev_end = 0
    for _, row in lo_hi.iterrows():
        assert row["min"] == prev_end + 1
        assert row["max"] - row["min"] + 1 == row["count"]
        prev_end = row["max"]


def test_ntile_matches_global_window(spark):
    """distributed_ntile == F.ntile over the same total order, including
    n % k != 0 (ceil-first bucket distribution) and a desc leg via a
    negated double in the struct key (VERDICT r5 item 6 promotions)."""
    from lucene_mapreduce_spark.operators.parity import distributed_ntile

    df = spark.range(0, 3001).select(
        "id",
        ((F.xxhash64(F.col("id").cast("string")) % 1000) / 1000.0).alias("p"),
    )
    for k in (10, 5, 7, 64):
        keyed = df.withColumn(
            "_ord", F.struct((-F.col("p")).alias("np"), F.col("id").alias("i"))
        )
        got = (
            distributed_ntile(keyed, "_ord", k, "tile")
            .select("id", "tile")
            .toPandas()
            .sort_values("id")
            .reset_index(drop=True)
        )
        w = Window.orderBy(F.col("p").desc(), F.col("id").asc())
        exp = (
            df.withColumn("tile", F.ntile(k).over(w))
            .select("id", "tile")
            .toPandas()
            .sort_values("id")
            .reset_index(drop=True)
        )
        assert list(got.tile) == list(exp.tile), f"k={k}"


def test_ntile_more_buckets_than_rows(spark):
    from lucene_mapreduce_spark.operators.parity import distributed_ntile

    df = spark.range(0, 6).withColumn("_ord", F.col("id"))
    got = distributed_ntile(df, "_ord", 10, "tile").toPandas().sort_values("id")
    # Spark ntile with n < k: each row is its own bucket 1..n
    assert list(got.tile) == [1, 2, 3, 4, 5, 6]


def test_empty_frame_ranks_and_tiles_empty(spark):
    """An empty input has no partitions, hence no offsets: both helpers
    must return an empty result instead of failing analysis."""
    from lucene_mapreduce_spark.operators.parity import distributed_ntile

    df = spark.range(0, 10).filter("id < 0").withColumn("_ord", F.col("id"))
    ranked = distributed_row_number(df, "_ord", "i")
    assert ranked.collect() == [] and "i" in ranked.columns
    tiled = distributed_ntile(df, "_ord", 4, "tile")
    assert tiled.collect() == [] and "tile" in tiled.columns


def test_window_audit_passes():
    """tools/audit_windows.py: every unpartitioned global window is
    classified and the row-scale class is empty."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "tools", "audit_windows.py"
    )
    spec = importlib.util.spec_from_file_location("audit_windows", path)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    assert audit.main() == 0


def test_running_sum_max_match_global_window(spark):
    """distributed_running == the single-partition running sum/max window
    on a total order (the heaps/watermark promotion shapes)."""
    from lucene_mapreduce_spark.operators.parity import distributed_running

    df = spark.range(0, 4000).select(
        "id",
        (F.xxhash64(F.col("id").cast("string")) % 97).alias("v"),
    )
    got = (
        distributed_running(df, "id", [("v", "sum", "cs"), ("v", "max", "cm")])
        .select("id", "cs", "cm")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    exp = (
        df.select(
            "id", F.sum("v").over(w).alias("cs"), F.max("v").over(w).alias("cm")
        )
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert list(got.cs) == list(exp.cs)
    assert list(got.cm) == list(exp.cm)


def test_running_sum_tie_blocks_are_prefix_invariant(spark):
    """On a non-total order (the peak_concurrent sweep shape: equal
    (t, delta) keys), the running sum's multiset of prefix values per tie
    block — and hence its max and the key at the max — is order-free."""
    from lucene_mapreduce_spark.operators.parity import distributed_running

    # 3 sessions starting at t=100, 2 ending at t=100 (ends sort first)
    rows = [(100, -1)] * 2 + [(100, 1)] * 3 + [(200, -1)] * 3 + [(50, 1)] * 4
    df = spark.createDataFrame(rows, "t int, delta int").withColumn(
        "_ord", F.struct(F.col("t").alias("ts"), F.col("delta").alias("dl"))
    )
    got = distributed_running(df, "_ord", [("delta", "sum", "conc")]).toPandas()
    w = Window.orderBy("t", "delta").rowsBetween(Window.unboundedPreceding, 0)
    exp = (
        df.select("t", "delta", F.sum("delta").over(w).alias("conc"))
        .toPandas()
    )
    assert got.conc.max() == exp.conc.max()
    assert (
        got[got.conc == got.conc.max()].t.min()
        == exp[exp.conc == exp.conc.max()].t.min()
    )
    # full prefix multisets agree per (t, delta) tie block
    key = lambda d: d.groupby(["t", "delta"]).conc.apply(
        lambda s: tuple(sorted(s))
    )
    assert key(got).equals(key(exp))
