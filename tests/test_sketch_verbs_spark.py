"""Error-bound validation of the sketch verbs against exact Spark oracles
on the deterministic pages table (the north-rule validation: estimates
within published bounds; salted and unsalted plans agree)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mlrsketch import agg, pages
from mlrsketch.verbs import exact as ev
from mlrsketch.verbs import sketch as sv


@pytest.fixture(scope="module")
def pages_df(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    pages.write_pages(spark, 20_000, path, partitions=8)
    return spark.read.parquet(path).cache()


def test_hll_within_bound_per_lang(spark, pages_df):
    approx = {
        r["lang"]: (r["distinct_count_est"], r["error_bound"])
        for r in sv.count_distinct_hll(pages_df, "url", ["lang"], p=12).collect()
    }
    exact = {
        r["lang"]: r["x"]
        for r in pages_df.groupBy("lang").agg(F.countDistinct("url").alias("x")).collect()
    }
    for lang, n in exact.items():
        est, bound = approx[lang]
        assert abs(est - n) / max(n, 1) <= 3 * bound + 0.02, (lang, n, est)


def test_hll_salted_equals_unsalted(spark, pages_df):
    a = sv.count_distinct_hll(pages_df, "url", ["lang"], p=10).collect()
    b = sv.count_distinct_hll(pages_df, "url", ["lang"], p=10, salted=True).collect()
    assert {r["lang"]: r["distinct_count_est"] for r in a} == {
        r["lang"]: r["distinct_count_est"] for r in b
    }


def test_tdigest_rank_error_per_lang(spark, pages_df):
    lengths = pages_df.withColumn("len", F.length("text"))
    approx = {
        r["lang"]: (r["p50"], r["p99"])
        for r in sv.quantiles_tdigest(lengths, "len", (0.5, 0.99), ["lang"]).collect()
    }
    exact_rows = lengths.groupBy("lang").agg(
        F.sort_array(F.collect_list("len")).alias("sorted")
    ).collect()
    for r in exact_rows:
        s = np.array(r["sorted"])
        for q, est in zip((0.5, 0.99), approx[r["lang"]]):
            rank_err = abs(np.searchsorted(s, est) / s.size - q)
            assert rank_err <= 6.0 * q * (1 - q) / 200 + 0.01, (r["lang"], q, rank_err)


def test_kll_rank_error_global(spark, pages_df):
    lengths = pages_df.withColumn("len", F.length("text").cast("double"))
    est = sv.quantiles_kll(lengths, "len", (0.5, 0.9), k=200).collect()[0]
    s = np.array(
        lengths.select(F.sort_array(F.collect_list("len")).alias("s")).collect()[0]["s"]
    )
    for q, name in ((0.5, "p50"), (0.9, "p90")):
        rank_err = abs(np.searchsorted(s, est[name]) / s.size - q)
        assert rank_err <= 2.0 / 200 + 0.01


def test_cms_topk_matches_exact_heavy_hitters(spark, pages_df):
    tok = pages_df.select(F.explode(F.split("text", " ")).alias("token"))
    approx = sv.most_frequent_cms(tok, "token", k=10, width=16384, capacity=2048).collect()
    exact = ev.most_frequent(tok, ["token"], n=10).collect()
    # top-10 sets match and estimated counts are within eps*N overcount
    assert {r["value"] for r in approx} == {r["token"] for r in exact}
    exact_counts = {r["token"]: r["count"] for r in exact}
    n_total = tok.count()
    eps = np.e / 16384
    for r in approx:
        true = exact_counts[r["value"]]
        assert true <= r["count_est"] <= true + eps * n_total


def test_bloom_membership_no_false_negatives(spark, pages_df):
    half = pages_df.filter(F.col("row_id") < 10_000)
    bloom = sv.build_bloom(half, "url", n_bits=1 << 20)
    remaining = sv.bloom_filter_new(pages_df, "url", bloom)
    # every row whose url was inserted must be gone (no false negatives)
    leaked = remaining.join(half.select("url").distinct(), "url", "inner").count()
    assert leaked == 0
    # kept fraction of genuinely-new urls >= 1 - 2*published FPR
    new_urls = pages_df.join(half.select("url").distinct(), "url", "left_anti")
    kept = remaining.count()
    total_new = new_urls.count()
    assert kept >= total_new * (1 - 2 * bloom.expected_fpr() - 0.01)


def test_skewed_lang_distribution_is_handled(spark, pages_df):
    """lang is ~55% 'en' (FIXTURES.md) — the partial/final plan must not
    funnel the giant group through one task. Correctness check here;
    plan shape is asserted in test_plans.py."""
    counts = {r["lang"]: r["count"] for r in pages_df.groupBy("lang").count().collect()}
    assert counts["en"] > 0.4 * sum(counts.values())
    est = {
        r["lang"]: r["distinct_count_est"]
        for r in sv.count_distinct_hll(pages_df, "url", ["lang"], p=12, salted=True).collect()
    }
    assert set(est) == set(counts)


def test_theta_distinct_within_bound_per_lang(spark, pages_df):
    # k=512 on up-to-20k distinct urls per lang: estimation mode for the
    # big langs, exact mode for any below 512 — both paths bounded.
    approx = {
        r["lang"]: (r["distinct_count_est"], r["error_bound"])
        for r in sv.count_distinct_theta(pages_df, "url", ["lang"], k=512).collect()
    }
    exact = {
        r["lang"]: r["x"]
        for r in pages_df.groupBy("lang").agg(F.countDistinct("url").alias("x")).collect()
    }
    for lang, n in exact.items():
        est, bound = approx[lang]
        assert abs(est - n) / max(n, 1) <= 3 * bound + 0.02, (lang, n, est)


def test_theta_set_ops_against_exact(spark, pages_df):
    # distinct-token overlap between two langs, sketch vs exact Spark.
    toks = pages_df.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    langs = [r["lang"] for r in pages_df.select("lang").distinct().orderBy("lang").limit(2).collect()]
    a, b = langs[0], langs[1]
    row = sv.theta_set_ops(toks, "tok", "lang", a, b, k=8192).collect()[0]
    sa = {r["tok"] for r in toks.filter(F.col("lang") == a).select("tok").distinct().collect()}
    sb = {r["tok"] for r in toks.filter(F.col("lang") == b).select("tok").distinct().collect()}
    bound = max(row["error_bound"], 0.0)
    for est, true in [
        (row["union_est"], len(sa | sb)),
        (row["intersect_est"], len(sa & sb)),
        (row["a_not_b_est"], len(sa - sb)),
        (row["b_not_a_est"], len(sb - sa)),
    ]:
        if true == 0:
            assert est == 0.0
        else:
            assert abs(est - true) / true <= 3 * bound + 1e-9, (est, true, bound)


def test_bootstrap_ci_sketch_brackets_and_salting(spark, pages_df):
    """bootstrap_ci_sketch (the partial/final-plan CI): per-lang CI must
    bracket the exact mean, match the exact mean exactly (it is a plain
    aggregate), agree between salted and unsalted plans (deterministic
    resamples), and be consistent with a classical-theory interval."""
    d = pages_df.withColumn("tl", F.length("text").cast("double"))
    out = {r["lang"]: r for r in sv.bootstrap_ci_sketch(
        d, "tl", key="url", by=["lang"], n_boot=60).collect()}
    exact = {r["lang"]: r for r in d.groupBy("lang").agg(
        F.avg("tl").alias("mean"), F.stddev("tl").alias("sd"),
        F.count("tl").alias("n")).collect()}
    assert set(out) == set(exact)
    for lang, r in out.items():
        e = exact[lang]
        assert abs(r["tl_mean"] - e["mean"]) < 1e-9
        assert r["tl_ci_lo"] <= r["tl_mean"] <= r["tl_ci_hi"]
        # 95% bootstrap CI width ~ 2*1.96*se; allow generous slack
        se = e["sd"] / np.sqrt(e["n"])
        width = r["tl_ci_hi"] - r["tl_ci_lo"]
        assert 1.5 * se < width < 8 * se, (lang, width, se)
    salted = {r["lang"]: r for r in sv.bootstrap_ci_sketch(
        d, "tl", key="url", by=["lang"], n_boot=60, salted=True).collect()}
    for lang, r in out.items():
        s = salted[lang]
        for c in ("tl_mean", "tl_ci_lo", "tl_ci_hi"):
            assert abs(r[c] - s[c]) < 1e-9, (lang, c)


# ---------------------------------------------------------------------------
# global (by=()) aggregates: the driver-side fold of partial states
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def lengths_df(pages_df):
    return pages_df.withColumn("len", F.length("text").cast("double"))


def _global_answers(df):
    return {
        "hll": sv.count_distinct_hll(df, "url", p=12).collect(),
        "tdigest": sv.quantiles_tdigest(df, "len", (0.5, 0.9)).collect(),
        "topk": sv.token_top_k(df, "text", k=10).collect(),
        "profile": sv.sketch_profile(df, "url", "text", p=12).collect(),
    }


def test_global_fold_empty_input(lengths_df):
    for name, rows in _global_answers(lengths_df.filter(F.lit(False))).items():
        assert rows == [], name


@pytest.fixture(scope="module")
def global_base(lengths_df):
    return _global_answers(lengths_df)


@pytest.mark.parametrize("n_parts", [1, 65])
def test_global_fold_partitioning_invariant(lengths_df, global_base, n_parts):
    """One partition folds one state; 65 partitions exceed
    DRIVER_FOLD_MAX_PARTITIONS and run the pre-merge stage first. HLL
    merges are exact, so the estimates must not move; the quantile
    sketches must stay within their rank bounds."""
    assert n_parts == 1 or n_parts > agg.DRIVER_FOLD_MAX_PARTITIONS
    frame = lengths_df.coalesce(1) if n_parts == 1 else lengths_df.repartition(n_parts)
    assert frame.rdd.getNumPartitions() == n_parts
    got = _global_answers(frame)
    hll_est = global_base["hll"][0]["distinct_count_est"]
    assert got["hll"][0]["distinct_count_est"] == hll_est
    assert got["profile"][0]["url_distinct_est"] == hll_est

    s = np.array(lengths_df.select(F.sort_array(F.collect_list("len")).alias("s")).first()["s"])
    for q, name in ((0.5, "p50"), (0.9, "p90")):
        rank_err = abs(np.searchsorted(s, got["tdigest"][0][name]) / s.size - q)
        assert rank_err <= 6.0 * q * (1 - q) / 200 + 0.01, ("tdigest", q, rank_err)
        rank_err = abs(np.searchsorted(s, got["profile"][0][f"len_{name}"]) / s.size - q)
        assert rank_err <= 2.0 / 200 + 0.01, ("kll", q, rank_err)

    # top-k never undercounts and overcounts by at most e/width * N
    tok = lengths_df.select(F.explode(F.split("text", " ")).alias("t"))
    exact = {r["t"]: r["count"] for r in tok.groupBy("t").count().collect()}
    n_tokens = sum(exact.values())
    assert len(got["topk"]) == 10
    for r in got["topk"]:
        assert exact[r["value"]] <= r["count_est"] <= exact[r["value"]] + np.e / 16384 * n_tokens


def test_global_hll_runs_one_stage(spark, pages_df):
    """A global aggregate is one Python stage (the partial mapInPandas);
    its states are folded on the driver, not in a merge stage."""
    sc = spark.sparkContext
    group = "global-hll-one-stage"
    sc.setJobGroup(group, "global count_distinct_hll")
    try:
        sv.count_distinct_hll(pages_df, "url", p=12)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    assert len(stages) == 1, stages


def test_build_bloom_empty_input(pages_df):
    bloom = sv.build_bloom(pages_df.filter(F.lit(False)), "url", n_bits=1 << 12, n_hashes=3)
    assert (bloom.n_bits, bloom.n_hashes, bloom.n_inserted) == (1 << 12, 3, 0)
    assert not bloom.bits.any()


def test_build_bloom_skips_null_values(spark):
    """A null value is not inserted: Spark's xxhash64(null) is its seed,
    which would set the seed's bits as if it were a value."""
    nulls = spark.createDataFrame([(None,), (None,), (None,)], "url string")
    bloom = sv.build_bloom(nulls, "url", n_bits=1 << 12, n_hashes=3)
    assert bloom.n_inserted == 0
    assert not bloom.bits.any()
    mixed = spark.createDataFrame([("a",), (None,), ("b",)], "url string")
    assert sv.build_bloom(mixed, "url", n_bits=1 << 12, n_hashes=3).n_inserted == 2


def test_topk_null_and_void_groups_stay_apart(spark):
    """A null group and a "" group are two groups with their own counts;
    a null text or value is skipped, a "" value is counted."""
    docs = spark.createDataFrame(
        [(None, "a b a"), ("", "c c"), (None, "a"), ("", None), ("x", "")], "g string, text string"
    )
    got = {}
    for r in sv.token_top_k(docs, "text", k=5, by=["g"]).collect():
        got.setdefault(r["g"], []).append((r["value"], r["count_est"]))
    assert got == {None: [("a", 3), ("b", 1)], "": [("c", 2)], "x": [("", 1)]}

    vals = spark.createDataFrame(
        [(None, "p"), (None, "p"), ("", "q"), ("", None), (None, "q"), ("", "")], "g string, v string"
    )
    got = {}
    for r in sv.most_frequent_cms(vals, "v", k=5, by=["g"]).collect():
        got.setdefault(r["g"], []).append((r["value"], r["count_est"]))
    assert got == {None: [("p", 2), ("q", 1)], "": [("", 1), ("q", 1)]}


def test_distinct_sketches_do_not_count_null(spark):
    """A null value is not a distinct value: (a, b, null, null) holds 2,
    and an all-null group holds 0, in HLL, theta and the profile."""
    df = spark.createDataFrame(
        [("g", "a"), ("g", "b"), ("g", None), ("g", None), ("n", None), ("n", None)],
        "g string, url string",
    ).withColumn("text", F.lit("t"))
    for verb in (sv.count_distinct_hll, sv.count_distinct_theta):
        assert [tuple(r) for r in verb(df, "url").collect()] == [(2.0, 0.0)], verb
        got = {r["g"]: r["distinct_count_est"] for r in verb(df, "url", ["g"]).collect()}
        assert got == {"g": 2.0, "n": 0.0}, verb
    assert sv.sketch_profile(df, "url", "text").first()["url_distinct_est"] == 2.0
    got = {r["g"]: r["url_distinct_est"] for r in sv.sketch_profile(df, "url", "text", by=["g"]).collect()}
    assert got == {"g": 2.0, "n": 0.0}
