"""Equivalence tests for the distributed (no single-task window)
ungrouped order-dependent paths: each scale-safe implementation must
produce exactly what a naive empty-partition window produces on the
same data — including nulls and repeated values — while its plan
contains no 'Window.partitionBy()' full funnel.

The naive reference implementations here are intentionally the
single-partition formulations the library used to have. step, stats1 -s
and fill-down run one body grouped and ungrouped, so their references
take group keys and check both paths."""

from __future__ import annotations

import inspect
import math
import random
import statistics

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mlrsketch.verbs import exact as ev

# every test here runs with AQE coalescing off, so the range pass spreads
# its rows over several partitions (see the no_coalesce fixture)
pytestmark = pytest.mark.usefixtures("no_coalesce")


def pid_sizes(df, order_by):
    """Rows per non-empty range partition of ``df`` in ``order_by`` order."""
    tagged = ev.global_row_number(df, order_by, out="__rn", keep_pid=True)
    return sorted(r["count"] for r in tagged.groupBy("__pid").count().collect())


@pytest.fixture(scope="module")
def data(spark):
    random.seed(7)
    rows = []
    for i in range(500):
        x = round(random.uniform(-5, 5), 3) if random.random() > 0.1 else None
        if i == 0:
            x = 1.234  # a non-null head keeps the ewma seed well-defined
        y = random.choice([1.0, 2.0, 2.0, 3.0, None])
        rows.append((i, x, y, "abc"[i % 3]))
    df = spark.createDataFrame(rows, "ord long, x double, y double, g string")
    # spread across many partitions so cross-partition carries matter
    return df.repartition(16).cache()


def test_range_pass_spans_partitions(data):
    """The naive references below check cross-partition carries only if
    the range pass really puts the 500 rows in several partitions."""
    sizes = pid_sizes(data, ["ord"])
    assert len(sizes) > 1 and sum(sizes) == 500, sizes


def collect_map(df, key="ord"):
    return {r[key]: r.asDict() for r in df.collect()}


def check_step_matches_naive(df, alphas=(0.3,), by=()):
    # The naive reference encodes Miller's heterogeneity event model
    # (see exact.step docstring): with F = max look-forward (2 here,
    # from shift_lead_2), each record's event gates on the presence of
    # x on the record F ahead (its own presence at the stream or group
    # tail), prev-caches lag over the GATED value sequence, and running
    # state advances only on gated-present values. One single-task
    # window per group (or over the stream) is the reference for both
    # of step's paths.
    steppers = ["shift", "shift_lag_3", "shift_lead_2", "delta", "ratio_2",
                "rsum", "rprod", "counter", "from-first"]
    got = collect_map(ev.step(df, steppers, ["x"], order_by=["ord"], by=list(by),
                              ewma_alphas=list(alphas)))
    w = Window.partitionBy(*by).orderBy("ord")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = F.col("x")
    n_total = F.count(F.lit(1)).over(Window.partitionBy(*by))
    rn = F.row_number().over(w)
    gate = F.when(rn + 2 <= n_total, F.lead(c, 2).over(w).isNotNull()).otherwise(
        c.isNotNull()
    )
    base = df.withColumn("__g", gate).withColumn(
        "__v", F.when(F.col("__g"), c)
    )
    g = F.col("__g")
    v = F.col("__v")
    present = g & c.isNotNull()
    naive = (
        base.withColumn("x_shift", F.when(g, F.lag(v, 1).over(w)))
        .withColumn("x_shift_lag_3", F.when(g, F.lag(v, 3).over(w)))
        .withColumn("x_shift_lead_2", F.when(g, F.lead(c, 2).over(w)))
        .withColumn(
            "x_delta",
            F.when(present, F.coalesce(c - F.lag(v, 1).over(w), F.lit(0))),
        )
        .withColumn(
            "x_ratio_2",
            F.when(present, F.coalesce(c / F.lag(v, 2).over(w), F.lit(1.0))),
        )
        .withColumn("x_rsum", F.when(present, F.sum(v).over(run)))
        .withColumn("x_rprod", F.when(present, F.product(v).over(run)))
        .withColumn("x_counter", F.when(present, F.count(v).over(run)))
        .withColumn(
            "x_from_first",
            F.when(present, c - F.first(v, ignorenulls=True).over(run)),
        )
    )
    exp = collect_map(naive)
    for k in exp:
        for col in ["x_shift", "x_shift_lag_3", "x_shift_lead_2", "x_delta",
                    "x_ratio_2", "x_rsum", "x_rprod", "x_counter", "x_from_first"]:
            g_, e = got[k][col], exp[k][col]
            if e is None or g_ is None:
                assert g_ == e, (k, col, g_, e)
            else:
                assert math.isclose(g_, e, rel_tol=1e-9, abs_tol=1e-12), (k, col, g_, e)

    # ewma vs sequential reference: the recursion advances only on
    # gated-present values; gated-off or absent rows emit nothing
    for alpha in alphas:
        check_ewma(got, {k: exp[k]["x"] if exp[k]["__g"] else None for k in exp}, alpha,
                   {k: tuple(exp[k][b] for b in by) for k in exp})


def check_ewma(got, xs, alpha, groups=None):
    """``got``'s x ewma against Miller's recursion (step.go:647-651) over
    ``xs`` (key -> x, None where no event advances it), one recursion
    per group of ``groups`` (key -> group; one group when None)."""
    name = "x_ewma_" + ("%g" % alpha).replace(".", "_")
    ys = {}
    for k in sorted(xs):
        x = xs[k]
        if x is None:
            assert got[k][name] is None, (k, alpha)
            continue
        g = groups[k] if groups else None
        y = x if ys.get(g) is None else alpha * x + (1 - alpha) * ys[g]
        ys[g] = y
        assert math.isclose(got[k][name], y, rel_tol=1e-9, abs_tol=1e-12), (k, alpha, got[k][name], y)


def test_step_ungrouped_matches_naive(data):
    check_step_matches_naive(data)


def test_step_grouped_matches_naive(data):
    """The grouped path against the same reference per group: x spans
    [-5, 5], so a running product through exp(sum(log x)) would lose
    every sign and zero."""
    check_step_matches_naive(data, by=("g",))


@pytest.fixture(scope="module")
def long_data(spark):
    """4,000 rows with nulls over several range partitions: long enough
    that a running statistic whose terms grow with the row index (an
    ewma scaled by (1-alpha)^-i) leaves the double range."""
    rng = random.Random(11)
    rows = [(i, None if rng.random() < 0.1 else round(rng.uniform(-5, 5), 3)) for i in range(4000)]
    rows[0] = (0, 1.5)
    return spark.createDataFrame(rows, "ord long, x double").repartition(8).cache()


def test_step_ungrouped_ewma_at_length_matches_naive(long_data):
    assert len(pid_sizes(long_data, ["ord"])) > 4
    check_step_matches_naive(long_data, alphas=(0.9, 0.3))


def test_step_grouped_ewma_at_length_matches_recursion(long_data):
    """One 4,000-row group: the grouped path's ewma against the recursion
    over the group's non-null values."""
    alphas = [0.9, 0.5, 0.3, 0.001, 1.0]
    got = collect_map(ev.step(long_data.withColumn("g", F.lit("a")), [], ["x"], order_by=["ord"],
                              by=["g"], ewma_alphas=alphas))
    xs = {k: r["x"] for k, r in got.items()}
    assert len(xs) == 4000
    for alpha in alphas:
        check_ewma(got, xs, alpha)


def test_step_tiny_partitions_with_nulls_match_naive(spark):
    """Partitions of 1-2 rows, shorter than the lag (3) and the forward
    window (2): a lag source, a gate's ingested record and a running
    carry each come from two or more partitions away, through absent
    and gated-off values."""
    xs = [1.5, None, 2.0, None, None, 4.0, -1.0, None, 3.0, 0.5, None, 2.5, None, 6.0, None, None]
    df = spark.createDataFrame(list(enumerate(xs)), "ord long, x double").repartition(8)
    sizes = pid_sizes(df, ["ord"])
    assert len(sizes) > 1 and max(sizes) <= 2, sizes
    check_step_matches_naive(df)


def check_fill_down_matches_naive(df, by=()):
    got = collect_map(ev.fill_down(df, ["x", "y"], order_by=["ord"], by=list(by)))
    w = (
        Window.partitionBy(*by)
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = df.withColumns(
        {f: F.last(F.col(f), ignorenulls=True).over(w) for f in ("x", "y")}
    )
    exp = collect_map(naive)
    for k in exp:
        assert got[k]["x"] == exp[k]["x"], k
        assert got[k]["y"] == exp[k]["y"], k


def test_fill_down_ungrouped_matches_naive(data):
    check_fill_down_matches_naive(data)


def test_fill_down_grouped_matches_naive(data):
    check_fill_down_matches_naive(data, by=("g",))


def test_slwin_ungrouped_matches_naive(data):
    got = collect_map(ev.slwin(data, "x", 3, 2, order_by=["ord"]))
    w = Window.partitionBy().orderBy("ord").rowsBetween(-3, 2)
    exp = collect_map(data.withColumn("x_slwin_3_2", F.avg("x").over(w)))
    for k in exp:
        g, e = got[k]["x_slwin_3_2"], exp[k]["x_slwin_3_2"]
        if e is None or g is None:
            assert g == e, k
        else:
            assert math.isclose(g, e, rel_tol=1e-9), k


def naive_framed(df, back, fwd, cols):
    """``cols`` (name -> aggregate) over one single-task frame."""
    w = Window.partitionBy().orderBy("ord").rowsBetween(-back, fwd)
    return collect_map(df.withColumns({k: agg.over(w) for k, agg in cols.items()}))


@pytest.mark.parametrize("back,fwd", [(3, 2), (0, 5), (40, 3)])
def test_slwin_across_frame_blocks_matches_naive(data, monkeypatch, back, fwd):
    """Blocks of 16 rows put every frame's halo across a block edge
    (500 rows fit one default block); a 40-row back window is larger
    than a block."""
    monkeypatch.setattr(ev, "_FRAME_BLOCK", 16)
    name = f"x_slwin_{back}_{fwd}"
    got = collect_map(ev.slwin(data, "x", back, fwd, order_by=["ord"]))
    exp = naive_framed(data, back, fwd, {name: F.avg("x")})
    assert {k: r[name] for k, r in got.items()} == {k: r[name] for k, r in exp.items()}


@pytest.mark.parametrize("w", [1, 5, 40])
def test_stats1_windowed_across_frame_blocks_matches_naive(data, monkeypatch, w):
    monkeypatch.setattr(ev, "_FRAME_BLOCK", 16)
    accs = ["count", "sum", "mean", "min", "max", "var", "stddev"]
    got = collect_map(ev.stats1_windowed(data, accs, ["x", "y"], w, order_by=["ord"]))
    exp = naive_framed(data, w - 1, 0, {
        f"{f}_{a}_{w}": ev._WIN_ACCS[a](f) for f in ("x", "y") for a in accs
    })
    assert got == exp


def test_stats1_windowed_ungrouped_matches_naive(data):
    got = collect_map(
        ev.stats1_windowed(data, ["mean", "min", "max", "count"], ["x"], 5,
                           order_by=["ord"])
    )
    w = Window.partitionBy().orderBy("ord").rowsBetween(-4, 0)
    naive = (
        data.withColumn("x_mean_5", F.avg("x").over(w))
        .withColumn("x_min_5", F.min("x").over(w))
        .withColumn("x_max_5", F.max("x").over(w))
        .withColumn("x_count_5", F.count("x").over(w))
    )
    exp = collect_map(naive)
    for k in exp:
        for col in ["x_mean_5", "x_min_5", "x_max_5", "x_count_5"]:
            g, e = got[k][col], exp[k][col]
            if e is None or g is None:
                assert g == e, (k, col)
            else:
                assert math.isclose(g, e, rel_tol=1e-9), (k, col)


def test_rank_ungrouped_matches_naive(data):
    got = {r["ord"]: r["rank"] for r in ev.rank(data, "y").collect()}
    w = Window.orderBy(F.col("y").asc())
    naive = data.filter(F.col("y").isNotNull()).withColumn("rank", F.rank().over(w))
    exp = {r["ord"]: r["rank"] for r in naive.collect()}
    for k, e in exp.items():
        assert got[k] == e, (k, got[k], e)
    # null values carry null rank
    nulls = [k for k, v in collect_map(data).items() if v["y"] is None]
    for k in nulls:
        assert got[k] is None


_STATS1_S_ACCS = ["count", "sum", "mean", "min", "max", "var", "stddev"]


def check_stats1_iterative_matches_naive(df, by=(), accs=_STATS1_S_ACCS):
    got = collect_map(ev.stats1_iterative(df, accs, ["x", "y"], order_by=["ord"], by=list(by)))
    run = Window.partitionBy(*by).orderBy("ord").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = {"count": F.count, "sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max,
             "var": F.var_samp, "stddev": F.stddev_samp}
    exp = collect_map(df.withColumns(
        {f"{f}_{a}": naive[a](f).over(run) for f in ("x", "y") for a in accs}
    ))
    for k in exp:
        for col in [f"{f}_{a}" for f in ("x", "y") for a in accs]:
            g, e = got[k][col], exp[k][col]
            if e is None or g is None:
                assert g == e, (k, col, g, e)
            else:
                assert math.isclose(g, e, rel_tol=1e-9, abs_tol=1e-9), (k, col, g, e)


def test_stats1_iterative_ungrouped_matches_naive(data):
    check_stats1_iterative_matches_naive(data)


def test_stats1_iterative_grouped_matches_naive(data):
    check_stats1_iterative_matches_naive(data, by=("g",))


def test_stats1_iterative_each_accumulator_alone_matches_naive(data):
    """An accumulator asked for alone still gets the running count it is
    built on (sum alone once raised a TypeError ungrouped)."""
    for a in _STATS1_S_ACCS:
        check_stats1_iterative_matches_naive(data, accs=[a])


@pytest.mark.parametrize("by", [(), ("g",)], ids=["ungrouped", "grouped"])
def test_stats1_iterative_variance_at_large_magnitude(spark, by):
    """Running var/stddev of values near 1e9 (epoch seconds) against the
    exact variance of every prefix. A sum-of-squares difference
    (sum x^2 - (sum x)^2/n) cancels there, down to negative variances.
    The tolerance is rel 1e-5: Spark's own var_samp window is 3.4e-7 off
    on this data."""
    rows = [(i, 1e9 + (i % 7) * 0.1, i % 3) for i in range(200)]
    df = spark.createDataFrame(rows, "ord long, x double, g long").repartition(8)
    assert len(pid_sizes(df, ["ord"])) > 1
    got = collect_map(ev.stats1_iterative(df, ["var", "stddev"], ["x"], order_by=["ord"],
                                          by=list(by)))
    prefixes = {}
    for i, x, g in rows:
        prefix = prefixes.setdefault(g if by else None, [])
        prefix.append(x)
        if len(prefix) < 2:
            assert got[i]["x_var"] is None and got[i]["x_stddev"] is None, i
            continue
        var = statistics.variance(prefix)
        assert got[i]["x_var"] >= 0 and math.isclose(got[i]["x_var"], var, rel_tol=1e-5), (i, got[i], var)
        assert math.isclose(got[i]["x_stddev"], math.sqrt(var), rel_tol=1e-5), (i, got[i], var)


def test_fraction_cumulative_ungrouped_matches_naive(data):
    got = collect_map(ev.fraction(data, "x", cumulative=True, order_by=["ord"]))
    run = Window.partitionBy().orderBy("ord").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = data.agg(F.sum("x")).first()[0]
    exp = collect_map(data.withColumn(
        "x_cumulative_fraction", F.when(F.col("x").isNotNull(), F.sum("x").over(run) / total)
    ))
    for k in exp:
        g, e = got[k]["x_cumulative_fraction"], exp[k]["x_cumulative_fraction"]
        if e is None or g is None:
            assert g == e, (k, g, e)
        else:
            assert math.isclose(g, e, rel_tol=1e-9, abs_tol=1e-12), (k, g, e)


def test_mode_and_mad_distributed(data, spark):
    m = ev.mode_impl(data.withColumn("__ord", F.col("ord")), "y", by=[]).first()
    assert m["y_mode"] == 2.0
    am = ev.mode_impl(data.withColumn("__ord", F.col("ord")), "y", by=[], anti=True).first()
    assert am["y_antimode"] in (1.0, 3.0)
    vals = [r["x"] for r in data.collect() if r["x"] is not None]
    mean = sum(vals) / len(vals)
    mad_exp = sum(abs(v - mean) for v in vals) / len(vals)
    mad_got = ev.mad(data, "x").first()["x_mad"]
    assert math.isclose(mad_got, mad_exp, rel_tol=1e-9)


def test_no_single_partition_window_in_plans(data):
    """The scale-safe paths must not contain an un-partitioned window
    (Spark would log 'No Partition Defined for Window operation')."""
    plans = [
        ev.step(data, ["rsum", "shift"], ["x"], order_by=["ord"]),
        ev.fill_down(data, ["x"], order_by=["ord"]),
        ev.slwin(data, "x", 2, 1, order_by=["ord"]),
        ev.stats1_windowed(data, ["mean"], ["x"], 4, order_by=["ord"]),
        ev.rank(data, "y"),
    ]
    for p in plans:
        plan = p._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                # every window must carry at least one partition expr:
                # windowspecdefinition(<partition cols..., order...) —
                # a single-task window shows an EMPTY partition list,
                # i.e. the spec starts directly with the order column
                assert "windowspecdefinition(" in line
        # cheap proxy: executing must not emit the single-partition
        # warning — asserted indirectly by checking no exchange to a
        # single partition exists
        assert "SinglePartition" not in plan, plan


def test_step_lag_spans_multiple_tiny_partitions(spark):
    """Boundary-carry lags when the offset exceeds partition sizes: a
    12-row frame over 8 partitions gives 1-2 rows per partition, so a
    shift_lag_3 source is usually 2+ partitions away — the broadcast
    edge map must resolve it, not just the immediate neighbor."""
    rows = [(i, float(i * 10)) for i in range(12)]
    df = spark.createDataFrame(rows, "ord long, x double").repartition(8)
    sizes = pid_sizes(df, ["ord"])
    assert len(sizes) > 1 and max(sizes) <= 2, sizes
    got = collect_map(
        ev.step(df, ["shift_lag_3", "shift_lead_2", "delta"], ["x"],
                order_by=["ord"])
    )
    for i in range(12):
        r = got[i]
        exp_lag = float((i - 3) * 10) if i >= 3 else None
        exp_lead = float((i + 2) * 10) if i + 2 < 12 else None
        exp_delta = 10.0 if i >= 1 else 0.0
        assert r["x_shift_lag_3"] == exp_lag, (i, r)
        assert r["x_shift_lead_2"] == exp_lead, (i, r)
        assert r["x_delta"] == exp_delta, (i, r)


@pytest.mark.parametrize("check", [
    test_step_ungrouped_matches_naive,
    test_fill_down_ungrouped_matches_naive,
    test_slwin_ungrouped_matches_naive,
    test_rank_ungrouped_matches_naive,
    test_stats1_iterative_ungrouped_matches_naive,
    test_fraction_cumulative_ungrouped_matches_naive,
    test_step_lag_spans_multiple_tiny_partitions,
    test_step_tiny_partitions_with_nulls_match_naive,
], ids=lambda f: f.__name__)
def test_join_lookups_match_naive(check, request, monkeypatch):
    """The same naive references with every driver-table lookup on its
    broadcast-join branch (a lookup budget of 0 entries) instead of a
    literal map."""
    monkeypatch.setattr(ev, "_LOOKUP_LITERAL_MAX", 0)
    check(*[request.getfixturevalue(a) for a in inspect.signature(check).parameters])

