"""Distributed full-DSL execution (mlrsketch.dsl.stream.put_stream):
per-group applyInPandas stream with oosvar state confined to the group."""

from pyspark.sql import functions as F

from mlrsketch.dsl import filter_stream, put_stream


def test_put_stream_grouped_running_sum(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = put_stream(
        li.select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity"),
        "@sum += $l_quantity; $run = @sum",
        by=["l_suppkey"],
        order_by="l_orderkey",
        output_columns=[
            ("l_suppkey", "bigint"),
            ("l_orderkey", "bigint"),
            ("l_linenumber", "bigint"),
            ("l_quantity", "double"),
            ("run", "double"),
        ],
    )
    rows = out.collect()
    assert len(rows) == li.count()
    # per-group final run == group sum
    # the LAST-processed row of each group carries run == group total;
    # order_by ties make "which row is last" ambiguous, but the max of
    # the running sum is always the total
    got = {
        r["l_suppkey"]: r["m"]
        for r in out.groupBy("l_suppkey")
        .agg(F.max("run").alias("m"))
        .collect()
    }
    exp = {
        r["l_suppkey"]: float(r["s"])
        for r in li.groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("s"))
        .collect()
    }
    for k, v in exp.items():
        assert abs(got[k] - v) < 1e-6, (k, got[k], v)


def test_put_stream_emit_only_per_group(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = put_stream(
        li.select("l_returnflag", "l_quantity"),
        '@n += 1; @q += $l_quantity; end { emit (@n, @q) }',
        by=["l_returnflag"],
        emit_only=True,
        output_columns=[("n", "bigint"), ("q", "double")],
    )
    rows = out.collect()
    exp = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("q")
    ).collect()
    got_pairs = sorted((r["n"], round(r["q"], 6)) for r in rows)
    exp_pairs = sorted((r["n"], round(float(r["q"]), 6)) for r in exp)
    assert got_pairs == exp_pairs


def test_filter_stream_stateful_first_k(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = filter_stream(
        li.select("l_suppkey", "l_orderkey", "l_linenumber"),
        "@seen += 1; filter @seen <= 3",
        by=["l_suppkey"],
        order_by="l_orderkey",
    )
    counts = out.groupBy("l_suppkey").count().collect()
    base = li.groupBy("l_suppkey").count().collect()
    base_m = {r["l_suppkey"]: r["count"] for r in base}
    for r in counts:
        assert r["count"] == min(3, base_m[r["l_suppkey"]])


def test_put_stream_global_requires_opt_in(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    import pytest

    with pytest.raises(ValueError):
        put_stream(li, "$x = 1")
