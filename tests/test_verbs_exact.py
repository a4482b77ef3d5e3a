"""Miller-semantics tests for the exact verbs on the abixy-style fixture
(reference semantics from /root/reference/pkg/bifs/percentiles.go and
pkg/transformers/utils/stats1_accumulators.go)."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from mlrsketch.verbs import exact as ev


def test_stats1_against_numpy(spark, abixy):
    row = ev.stats1(abixy, ["count", "sum", "mean", "min", "max", "var", "stddev"], ["x"]).collect()[0]
    xs = np.array([r["x"] for r in abixy.collect()])
    assert row["x_count"] == 10
    assert abs(row["x_sum"] - xs.sum()) < 1e-12
    assert abs(row["x_mean"] - xs.mean()) < 1e-12
    assert row["x_min"] == xs.min() and row["x_max"] == xs.max()
    assert abs(row["x_var"] - xs.var(ddof=1)) < 1e-12
    assert abs(row["x_stddev"] - xs.std(ddof=1)) < 1e-12


def test_miller_noninterpolated_percentile(spark, abixy):
    """index = int(p/100 * n) clamped to [0, n-1] over sorted values
    (percentiles.go:193-208) — NOT the R-7 interpolation."""
    xs = sorted(r["x"] for r in abixy.collect())
    n = len(xs)
    for p in (10, 25, 50, 75, 90, 99):
        got = ev.stats1(abixy, [f"p{p}"], ["x"]).collect()[0][f"x_p{p}"]
        idx = min(max(int(p / 100 * n), 0), n - 1)
        assert got == xs[idx], f"p{p}: {got} != {xs[idx]}"


def test_interpolated_percentile_matches_numpy_linear(spark, abixy):
    xs = np.array(sorted(r["x"] for r in abixy.collect()))
    got = ev.stats1(abixy, ["p25"], ["x"], interpolated=True).collect()[0]["x_p25"]
    assert abs(got - np.percentile(xs, 25)) < 1e-9  # numpy default = R-7


def test_mode_first_seen_tiebreak(spark):
    """stats1_accumulators.go:367-445: among equal counts the value seen
    EARLIEST wins."""
    df = spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, "b"), (4, "a"), (5, "c")], ["__ord", "v"]
    )
    got = ev.mode_impl(df, "v", by=[]).collect()[0]["v_mode"]
    assert got == "b"  # b and a both count 2; b first seen at __ord 1
    anti = ev.mode_impl(df, "v", by=[], anti=True).collect()[0]["v_antimode"]
    assert anti == "c"


def test_top_keeper_semantics(spark, abixy):
    """top.go:29 + top_keeper.go: top-n BY VALUE with 1-up top_idx."""
    rows = ev.top(abixy, "x", n=3, tiebreak=["i"]).collect()
    xs = sorted((r["x"] for r in abixy.collect()), reverse=True)
    assert [r["x_top"] for r in sorted(rows, key=lambda r: r["top_idx"])] == xs[:3]


def test_uniq_and_count_distinct(spark, abixy):
    assert ev.uniq(abixy, ["a"]).count() == 5
    assert ev.uniq_distinct_count(abixy, ["a", "b"]).collect()[0]["count"] == len(
        {(r["a"], r["b"]) for r in abixy.collect()}
    )
    un = ev.count_distinct(abixy, ["a", "b"], unlashed=True)
    assert un.filter(F.col("field") == "a").count() == 5
    assert un.filter(F.col("field") == "b").count() == 3


def test_fraction_sums_to_one(spark, abixy):
    fr = ev.fraction(abixy, "x", by=["b"])
    sums = fr.groupBy("b").agg(F.sum("x_fraction").alias("s")).collect()
    for r in sums:
        assert abs(r["s"] - 1.0) < 1e-9


_FRACTION_ZERO_SUM = {
    # verb call -> expected output by ord: a sum of 0 divides as IEEE
    # doubles (x/0 is +-Inf by the sign of x, 0/0 NaN); absent stays absent
    "ungrouped": (lambda d, p: ev.fraction(d, "x", percent=p),
                  {1: "inf", 2: "-inf", 3: None, 4: "nan"}),
    "grouped": (lambda d, p: ev.fraction(d, "x", by=["g"], percent=p),
                {1: "inf", 2: "-inf", 3: None, 4: "nan"}),
    "cumulative": (lambda d, p: ev.fraction(d, "x", cumulative=True, order_by=["ord"], percent=p),
                   {1: "inf", 2: "nan", 3: None, 4: "nan"}),
    "cumulative_grouped": (lambda d, p: ev.fraction(
        d, "x", by=["g"], cumulative=True, order_by=["ord"], percent=p),
        {1: "inf", 2: "nan", 3: None, 4: "nan"}),
}


@pytest.mark.parametrize("percent", [False, True])
@pytest.mark.parametrize("case", sorted(_FRACTION_ZERO_SUM))
def test_fraction_zero_sum_divides_as_doubles(spark, case, percent):
    """Values 1, -1, absent in group g and 0 in group h: every sum is 0.
    Spark's ANSI mode raised DIVIDE_BY_ZERO here."""
    df = spark.createDataFrame(
        [(1, "g", 1.0), (2, "g", -1.0), (3, "g", None), (4, "h", 0.0)], "ord long, g string, x double"
    )
    run, want = _FRACTION_ZERO_SUM[case]
    out = run(df, percent)
    col = [c for c in out.columns if c.startswith("x_")][0]
    got = {r["ord"]: None if r[col] is None else str(r[col]) for r in out.collect()}
    assert got == want, (col, got)


def test_step_running_sum(spark, abixy):
    out = ev.step(abixy, ["rsum", "counter", "delta"], ["x"], order_by=["i"]).orderBy("i").collect()
    acc = 0.0
    prev = None
    for r in out:
        acc += r["x"]
        assert abs(r["x_rsum"] - acc) < 1e-9
        expected_delta = 0.0 if prev is None else r["x"] - prev
        assert abs(r["x_delta"] - expected_delta) < 1e-12
        prev = r["x"]


def test_stats1_iterative_matches_sequential(spark, abixy):
    """Ungrouped `stats1 -s` (prefix + broadcast carry) must equal the
    sequential expanding stats, and the grouped path must equal the
    per-group sequential ones."""
    out = (
        ev.stats1_iterative(
            abixy, ["count", "sum", "mean", "min", "max", "var"], ["x"],
            order_by=["i"],
        )
        .orderBy("i")
        .collect()
    )
    seen = []
    for r in out:
        seen.append(r["x"])
        assert r["x_count"] == len(seen)
        assert abs(r["x_sum"] - sum(seen)) < 1e-9
        assert abs(r["x_mean"] - sum(seen) / len(seen)) < 1e-9
        assert r["x_min"] == min(seen)
        assert r["x_max"] == max(seen)
        if len(seen) > 1:
            m = sum(seen) / len(seen)
            v = sum((x - m) ** 2 for x in seen) / (len(seen) - 1)
            assert abs(r["x_var"] - v) < 1e-6
        else:
            assert r["x_var"] is None
    grp = (
        ev.stats1_iterative(abixy, ["count", "max"], ["x"], order_by=["i"], by=["a"])
        .orderBy("i")
        .collect()
    )
    state: dict = {}
    for r in grp:
        st = state.setdefault(r["a"], [])
        st.append(r["x"])
        assert r["x_count"] == len(st)
        assert r["x_max"] == max(st)


def test_ewma_closed_form_matches_recurrence(spark, abixy):
    out = ev.step(abixy, [], ["x"], order_by=["i"], ewma_alphas=[0.3]).orderBy("i").collect()
    y = None
    for r in out:
        y = r["x"] if y is None else 0.3 * r["x"] + 0.7 * y
        assert abs(r["x_ewma_0_3"] - y) < 1e-9


@pytest.mark.parametrize("alpha", [0.0, -0.5, 1.5])
def test_step_rejects_ewma_alpha_outside_unit_interval(spark, abixy, alpha):
    """The EWM window aggregate takes alpha in (0, 1] only: step and the
    CLI refuse the rest up front rather than fail in the JVM."""
    from mlrsketch.mlrcli import Unsupported, v_step

    for by in ([], ["a"]):
        with pytest.raises(ValueError, match="outside"):
            ev.step(abixy, [], ["x"], order_by=["i"], by=by, ewma_alphas=[0.5, alpha])
    with pytest.raises(Unsupported, match="outside"):
        v_step(abixy, ["-a", "ewma", "-d", f"0.5,{alpha}", "-f", "x"])


def test_fill_down(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, None), (4, 40.0), (5, None)], ["i", "v"]
    )
    out = {r["i"]: r["v"] for r in ev.fill_down(df, ["v"], order_by=["i"]).collect()}
    assert out == {1: 10.0, 2: 10.0, 3: 10.0, 4: 40.0, 5: 40.0}


def test_fill_down_modes(spark):
    """fill_down.go:160-189: default fills absent-or-void (voids are not
    remembered); -a fills absent only (voids remembered+carried); --all
    fills voids only (absent untouched)."""
    rows = [(1, ""), (2, "x"), (3, ""), (4, None), (5, "y"), (6, "")]
    df = spark.createDataFrame(rows, ["i", "v"])
    # default: leading void stays (no carry yet); "" and null both filled
    out = {r["i"]: r["v"] for r in ev.fill_down(df, ["v"], order_by=["i"]).collect()}
    assert out == {1: "", 2: "x", 3: "x", 4: "x", 5: "y", 6: "y"}
    # -a: only the null is filled, and the void at i=3 was remembered
    out = {
        r["i"]: r["v"]
        for r in ev.fill_down(df, ["v"], order_by=["i"], only_if_absent=True).collect()
    }
    assert out == {1: "", 2: "x", 3: "", 4: "", 5: "y", 6: ""}
    # --all: voids filled from last non-void, the absent i=4 untouched
    out = {
        r["i"]: r["v"]
        for r in ev.fill_down(df, ["v"], order_by=["i"], only_voids=True).collect()
    }
    assert out == {1: "", 2: "x", 3: "x", 4: None, 5: "y", 6: "y"}
    # grouped path honors the same modes
    gdf = spark.createDataFrame(
        [("g", 1, ""), ("g", 2, "x"), ("g", 3, ""), ("h", 1, None), ("h", 2, "z")],
        ["g", "i", "v"],
    )
    out = {
        (r["g"], r["i"]): r["v"]
        for r in ev.fill_down(gdf, ["v"], order_by=["i"], by=["g"], only_voids=True).collect()
    }
    assert out == {("g", 1): "", ("g", 2): "x", ("g", 3): "x", ("h", 1): None, ("h", 2): "z"}


def test_having_fields_modes(spark):
    df = spark.createDataFrame(
        [
            (1, "a", "b", None),
            (2, "a", None, "c"),
            (3, None, None, "c"),
            (4, "a", "b", "c"),
        ],
        ["i", "pan", "pbn", "qcn"],
    )
    def ids(out):
        return sorted(r["i"] for r in out.collect())

    assert ids(ev.having_fields(df, "at-least", fields=["pan", "pbn"], exclude=["i"])) == [1, 4]
    assert ids(ev.having_fields(df, "any-defined", fields=["pbn", "qcn"], exclude=["i"])) == [1, 2, 3, 4]
    assert ids(ev.having_fields(df, "which-are", fields=["pan", "pbn"], exclude=["i"])) == [1]
    assert ids(ev.having_fields(df, "at-most", fields=["pan", "pbn"], exclude=["i"])) == [1]
    assert ids(ev.having_fields(df, "any-matching", pattern="/^p/", exclude=["i"])) == [1, 2, 4]
    assert ids(ev.having_fields(df, "all-matching", pattern="/^p/", exclude=["i"])) == [1]
    assert ids(ev.having_fields(df, "none-matching", pattern='"^p"', exclude=["i"])) == [3]
    assert ids(ev.having_fields(df, "any-matching", pattern='"^P"i', exclude=["i"])) == [1, 2, 4]
    # a required field no record has => nothing passes
    assert ids(ev.having_fields(df, "at-least", fields=["zz"], exclude=["i"])) == []


def test_histogram_counts(spark, abixy):
    out = ev.histogram(abixy, "x", 0.0, 1.0, 4).orderBy("bin_lo").collect()
    xs = [r["x"] for r in abixy.collect()]
    for r in out:
        expected = sum(1 for x in xs if r["bin_lo"] <= x < r["bin_hi"])
        assert r["count"] == expected
    assert sum(r["count"] for r in out) == len(xs)


def test_join_type_matrix(spark):
    """join.go:24-31 emit-flag matrix → six join types."""
    left = spark.createDataFrame([(1, "l1"), (2, "l2"), (3, "l3")], ["k", "lv"])
    right = spark.createDataFrame([(2, "r2"), (3, "r3"), (4, "r4")], ["k", "rv"])
    assert ev.join(left, right, ["k"], "inner").count() == 2
    assert ev.join(left, right, ["k"], "left").count() == 3
    assert ev.join(left, right, ["k"], "full").count() == 4
    assert ev.join(left, right, ["k"], "left-anti").collect()[0]["k"] == 1
    assert ev.join(left, right, ["k"], "left-semi").count() == 2


def test_join_prefixes(spark):
    left = spark.createDataFrame([(1, "a")], ["k", "v"])
    right = spark.createDataFrame([(1, "b")], ["k", "v"])
    out = ev.join(left, right, ["k"], "inner", lp="l_", rp="r_")
    assert set(out.columns) == {"k", "l_v", "r_v"}


def test_seqgen_inclusive_stop(spark):
    vals = [r["i"] for r in ev.seqgen(spark, 1, 5).collect()]
    assert vals == [1, 2, 3, 4, 5]


def test_repeat_and_decimate(spark, abixy):
    assert ev.repeat(abixy, 3).count() == 30
    assert ev.decimate(abixy, 2, order_by=["i"]).count() == 5


def test_merge_fields_rowwise(spark):
    df = spark.createDataFrame([(1.0, 5.0, 3.0)], ["a", "b", "c"])
    r = ev.merge_fields(df, ["min", "max", "sum", "mean"], ["a", "b", "c"], "m").collect()[0]
    assert (r["m_min"], r["m_max"], r["m_sum"], r["m_mean"]) == (1.0, 5.0, 9.0, 3.0)


def test_merge_fields_few_values_give_null_not_divide_by_zero(spark):
    """A record with one non-null value has no sample variance, and one
    with none has no mean either: null, not a failed job under ANSI
    mode."""
    df = spark.createDataFrame(
        [(1, 1.0, 3.0, 5.0, None), (2, None, 4.0, None, None), (3, None, None, None, None)],
        "i int, a double, b double, c double, d double",
    )
    accs = ["count", "sum", "mean", "var", "stddev"]
    got = {r["i"]: r for r in ev.merge_fields(df, accs, ["a", "b", "c", "d"], "m").collect()}
    assert (got[1]["m_count"], got[1]["m_mean"], got[1]["m_var"], got[1]["m_stddev"]) == (3, 3.0, 4.0, 2.0)
    assert (got[2]["m_count"], got[2]["m_sum"], got[2]["m_mean"]) == (1, 4.0, 4.0)
    assert got[2]["m_var"] is None and got[2]["m_stddev"] is None
    assert (got[3]["m_count"], got[3]["m_sum"]) == (0, 0.0)
    assert got[3]["m_mean"] is None and got[3]["m_var"] is None and got[3]["m_stddev"] is None


def test_rank_competition_style(spark):
    """EmitRank 1,2,2,4 (percentile_keeper.go:87-104)."""
    df = spark.createDataFrame([(1, 10), (2, 20), (3, 20), (4, 30)], ["i", "v"])
    out = {r["i"]: r["rank"] for r in ev.rank(df, "v").collect()}
    assert out == {1: 1, 2: 2, 3: 2, 4: 4}


def test_sample_exact_k_deterministic(spark, abixy):
    s1 = {r["i"] for r in ev.sample(abixy, 4, seed=1).collect()}
    s2 = {r["i"] for r in ev.sample(abixy, 4, seed=1).collect()}
    assert len(s1) == 4 and s1 == s2


# -- round-5 deterministic Poisson bootstrap ----------------------------------


def test_bootstrap_hash_deterministic_and_unbiased(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in ev.bootstrap_hash(df, ["k"]).collect())
    # partitioning-independent: same multiset under any repartition
    b = sorted(r["k"] for r in ev.bootstrap_hash(df.repartition(7), ["k"]).collect())
    assert a == b
    # Poisson(1): E[size] = n, sd = sqrt(n) -> 5 sigma band
    assert abs(len(a) - 5000) < 5 * np.sqrt(5000)
    # different seed -> different draw
    c = sorted(r["k"] for r in ev.bootstrap_hash(df, ["k"], seed=7).collect())
    assert a != c


def test_bootstrap_ci_hash_brackets_mean(spark):
    df = spark.range(0, 2000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") * 0.25 + 10).alias("v"),
        F.col("id").alias("k"),
    )
    out = ev.bootstrap_ci_hash(df, "v", key=["k"], by=["g"], n_boot=50)
    rows = out.collect()
    assert len(rows) == 4
    for r in rows:
        assert r["v_ci_lo"] <= r["v_mean"] <= r["v_ci_hi"]
        # CI half-width should be within a few stderr of the group
        assert r["v_ci_hi"] - r["v_ci_lo"] < 5 * (500 * 0.25) / np.sqrt(500)
    # deterministic under repartition
    rows2 = ev.bootstrap_ci_hash(df.repartition(5), "v", key=["k"], by=["g"], n_boot=50).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_percentiles_rank_matches_window_free(spark):
    """The distributed exact-percentile path (range-rank, no Window, no
    collect_list) must match Spark's percentile() exactly on both the
    grouped and global shapes, and its plan must contain no Window and
    no collect_list."""
    df = spark.range(0, 10_001).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 0.5).alias("v"),
    )
    out = {r["g"]: (r["v_p50"], r["v_p97_5"]) for r in
           ev.percentiles_rank(df, "v", [50, 97.5], by=["g"]).collect()}
    ref = {r["g"]: (r["a"], r["b"]) for r in df.groupBy("g").agg(
        F.expr("percentile(v, 0.5)").alias("a"),
        F.expr("percentile(v, 0.975)").alias("b")).collect()}
    assert set(out) == set(ref)
    for g in ref:
        assert all(abs(x - y) < 1e-9 for x, y in zip(out[g], ref[g])), g
    plan = ev.percentiles_rank(df, "v", [50], by=["g"])._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "collect_list" not in plan
    # Miller's non-interpolated element pick
    got = ev.percentiles_rank(df, "v", [30], by=["g"], interpolated=False).collect()
    for r in got:
        n = 10_001 // 3 + (1 if int(r["g"]) < 10_001 % 3 else 0)
        vals = sorted(float(x["v"]) for x in df.filter(F.col("g") == r["g"]).collect())
        assert r["v_p30"] == vals[min(max(int(0.3 * n), 0), n - 1)]


def test_percentiles_rank_keeps_null_and_void_groups_apart(spark):
    """Miller's absent vs void: a null group and a "" group are two rank
    runs, and so are multi-key groups that only differ in where a null
    or an empty string sits."""
    rows = [(None, "x", float(v)) for v in (1, 2, 3)] + [("", "x", float(v)) for v in (100, 200)] + [
        ("x", None, 10.0), ("x", "", 20.0), (None, "x", 4.0)]
    df = spark.createDataFrame(rows, "g string, h string, v double")
    one = {r["g"]: r["v_p50"] for r in ev.percentiles_rank(df, "v", [50], by=["g"]).collect()}
    assert one == {None: 2.5, "": 150.0, "x": 15.0}
    two = {(r["g"], r["h"]): r["v_p50"]
           for r in ev.percentiles_rank(df, "v", [50], by=["g", "h"]).collect()}
    assert two == {(None, "x"): 2.5, ("", "x"): 150.0, ("x", None): 10.0, ("x", ""): 20.0}


def test_bootstrap_ci_hash_skips_null_values(spark):
    """A null value adds nothing to a boot mean, neither to its sum nor to
    its multiplicity: the CI equals the one over the non-null rows."""
    base = spark.range(0, 400).select(
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") * 0.5 + 1).alias("v"),
        F.col("id").alias("k"),
    )
    nulls = spark.range(400, 800).select(
        (F.col("id") % 2).cast("string").alias("g"),
        F.lit(None).cast("double").alias("v"),
        F.col("id").alias("k"),
    )
    got = sorted(map(tuple, ev.bootstrap_ci_hash(base.unionByName(nulls), "v", ["k"], by=["g"],
                                                 n_boot=40).collect()))
    want = sorted(map(tuple, ev.bootstrap_ci_hash(base, "v", ["k"], by=["g"], n_boot=40).collect()))
    assert got == want
    for r in got:
        assert r[2] <= r[1] <= r[3]


def test_percentiles_rank_many_groups_has_bounded_plan(spark):
    """20,000 groups x 3 rows: the (partition, group) rank offsets reach
    the rows through a broadcast join, not a literal map with one entry
    per (partition, group), so the plan stays small; every group's
    p50/p90 still equals Spark's exact percentile()."""
    df = spark.range(0, 60_000).select(
        (F.col("id") % 20_000).alias("g"), ((F.col("id") * 7919) % 1_000).cast("double").alias("v")
    )
    out = ev.percentiles_rank(df, "v", [50, 90], by=["g"])
    assert len(out._jdf.queryExecution().optimizedPlan().toString()) < 20_000
    got = {r["g"]: (r["v_p50"], r["v_p90"]) for r in out.collect()}
    ref = {r["g"]: (r["a"], r["b"]) for r in df.groupBy("g").agg(
        F.percentile("v", 0.5).alias("a"), F.percentile("v", 0.9).alias("b")).collect()}
    assert set(got) == set(ref)
    for g, pair in ref.items():
        assert all(abs(x - y) < 1e-9 for x, y in zip(got[g], pair)), (g, got[g], pair)


_ONE = [(1, "a", 1.5, 2.0)]
_EMPTY_CASES = {
    "fraction_c": lambda d: ev.fraction(d, "x", cumulative=True, order_by=["ord"]),
    "rank": lambda d: ev.rank(d, "y"),
    "fill_down": lambda d: ev.fill_down(d, ["x", "y"], order_by=["ord"]),
    "slwin": lambda d: ev.slwin(d, "x", 2, 1, order_by=["ord"]),
    "stats1_iterative": lambda d: ev.stats1_iterative(
        d, ["count", "sum", "mean", "min", "max", "var"], ["x"], order_by=["ord"]
    ),
    "step": lambda d: ev.step(
        d, ["shift", "shift_lead_1", "delta", "rsum", "counter", "from-first"], ["x"],
        order_by=["ord"], ewma_alphas=[0.5],
    ),
    "percentiles_rank_grouped": lambda d: ev.percentiles_rank(d, "x", [50, 90], by=["g"]),
    "percentiles_rank_global": lambda d: ev.percentiles_rank(d, "x", [50, 90]),
    "cat_numbered": lambda d: ev.cat_numbered(d, order_by=["ord"]),
    "stats1_windowed": lambda d: ev.stats1_windowed(
        d, ["count", "sum", "mean", "min", "max", "var"], ["x"], 3, order_by=["ord"]
    ),
}


# the grouped forms of the one-body ordered verbs: the same body over
# Window.partitionBy(g) with a typed-null carry, so no Spark job runs
# until the result is read
_GROUPED_CASES = {
    "fill_down": lambda d: ev.fill_down(d, ["x", "y"], order_by=["ord"], by=["g"]),
    "stats1_iterative": lambda d: ev.stats1_iterative(
        d, ["count", "sum", "mean", "min", "max", "var", "stddev"], ["x"], order_by=["ord"],
        by=["g"],
    ),
    "step": lambda d: ev.step(
        d, ["shift", "shift_lead_1", "delta", "rsum", "rprod", "counter", "from-first"], ["x"],
        order_by=["ord"], by=["g"], ewma_alphas=[0.5], slwins=[(1, 1)],
    ),
}


@pytest.mark.parametrize("verb", sorted(_EMPTY_CASES))
def test_ungrouped_ordered_verbs_on_empty_input(spark, verb):
    """A 0-row frame gives 0 rows with the columns a 1-row frame gets:
    an empty carry table must not become an untyped map()."""
    check_empty_input(spark, _EMPTY_CASES[verb])


@pytest.mark.parametrize("verb", sorted(_GROUPED_CASES))
def test_grouped_ordered_verbs_on_empty_input(spark, verb):
    """The null carry of a grouped verb keeps the columns too."""
    check_empty_input(spark, _GROUPED_CASES[verb])


def check_empty_input(spark, run):
    schema = "ord long, g string, x double, y double"
    one = run(spark.createDataFrame(_ONE, schema))
    empty = run(spark.createDataFrame([], schema))
    assert empty.collect() == []
    assert empty.columns == one.columns
    assert one.count() == 1


@pytest.fixture(scope="module")
def ordered_frame(spark):
    rows = [(i, "ab"[i % 2], None if i % 7 == 3 else float(i % 13), float(i % 5)) for i in range(400)]
    df = spark.createDataFrame(rows, "ord long, g string, x double, y double").repartition(4)
    df.cache().count()  # the cache's own jobs run here, not inside a verb call
    return df


# Spark jobs a verb may run before it returns (the range sample, the
# checkpoint and the one per-partition collect, with AQE's stage jobs);
# rank's range pass runs over a grouped frame, one job more
_CALL_JOBS = dict.fromkeys(_EMPTY_CASES, 5) | {"rank": 6}


def call_time_jobs(spark, run, frame, group):
    """The Spark jobs ``run(frame)`` runs before it returns its plan."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run(frame)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("verb", sorted(_EMPTY_CASES))
def test_ungrouped_ordered_verbs_call_time_jobs(spark, ordered_frame, verb):
    """Building an ordered verb's plan runs one range pass and one collect,
    whatever it carries across partitions."""
    jobs = call_time_jobs(spark, _EMPTY_CASES[verb], ordered_frame, f"call-jobs-{verb}")
    assert jobs <= _CALL_JOBS[verb], jobs


@pytest.mark.parametrize("verb", sorted(_GROUPED_CASES))
def test_grouped_ordered_verbs_run_no_call_time_job(spark, ordered_frame, verb):
    jobs = call_time_jobs(spark, _GROUPED_CASES[verb], ordered_frame, f"call-jobs-grouped-{verb}")
    assert jobs == 0, jobs


@pytest.mark.parametrize("verb", sorted(_EMPTY_CASES))
def test_ungrouped_ordered_verbs_join_one_lookup(spark, ordered_frame, verb, monkeypatch, no_coalesce):
    """With every driver table on the broadcast-join branch, a verb's plan
    joins at most one lookup: each partition's carries come back as one
    struct, not one table per field, statistic or offset."""
    monkeypatch.setattr(ev, "_LOOKUP_LITERAL_MAX", 0)
    plan = _EMPTY_CASES[verb](ordered_frame)._jdf.queryExecution().optimizedPlan().toString()
    assert len(set(re.findall(r"__lk\d+", plan))) == 1, plan


@pytest.mark.parametrize("verb", ["slwin", "stats1_windowed"])
def test_ungrouped_framed_verbs_join_only_the_lookup(ordered_frame, verb, monkeypatch, no_coalesce):
    """A bounded frame reads its halo rows from the neighbouring block,
    so the plan's one join is the row-offset lookup: no prefix table is
    joined back at the window edges."""
    monkeypatch.setattr(ev, "_LOOKUP_LITERAL_MAX", 0)
    plan = _EMPTY_CASES[verb](ordered_frame)._jdf.queryExecution().optimizedPlan().toString()
    joins = [line for line in plan.splitlines() if re.search(r"\bJoin \w+", line)]
    assert len(joins) == 1 and "__lk" in joins[0], plan
