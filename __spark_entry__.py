"""Driver contract for the spark-graft builder (PySpark target).

Maps SURVEY.md §2's operator inventory onto the mlrsketch library:
- queries(): one callable per implemented verb/operator, built from
  mlrsketch.verbs.exact / mlrsketch.pipeline (exact, oracle-checkable)
  plus rows-only entries for the sketch verbs (estimates have no SQL
  equivalent — the error-bound validation lives in tests/).
- oracle_sql(): ANSI-SQL equivalents for DuckDB, with identical column
  aliases and identical explicit rounding on recomputed doubles
  (raw pass-through doubles are compared unrounded — both engines
  return the stored IEEE value bit-for-bit).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mlrsketch import dsl
from mlrsketch.pipeline import dedup, similarity, textstats
from mlrsketch.verbs import exact as ev
from mlrsketch.verbs import sketch as sv


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _sig9(c):
    """Canonical 9-significant-digit string encoding of a double.

    Renders ``<round(x * 10^(8-floor(log10|x|)))>e<floor(log10|x|)-8>``
    — an integer mantissa plus a base-10 exponent.  Unlike fixed-decimal
    ``round(x, 6)``, this is stable across engines whose float64
    summation orders differ in the last ULP: cross-engine agreement is
    only required at the 9th significant digit, never the 15th.  The
    DuckDB side of each oracle uses the byte-identical encoding via
    ``_sig9_sql``.
    """
    c = F.col(c) if isinstance(c, str) else c
    c = c.cast("double")
    mag = F.floor(F.log10(F.abs(c)))
    d = (F.lit(8) - mag).cast("double")
    r = F.round(c * F.pow(F.lit(10.0), d)).cast("long")
    e = (mag - F.lit(8)).cast("long")
    # power-of-10 boundary: when x sits within one ULP of 10^k the two
    # engines may disagree on floor(log10|x|) by 1, yielding mantissas
    # 10^8 vs 10^9 for the same value — renormalize the 10-digit case
    big = F.abs(r) >= F.lit(1000000000)
    r = F.when(big, F.round(r / F.lit(10.0)).cast("long")).otherwise(r)
    e = F.when(big, e + 1).otherwise(e)
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(F.isnan(c), F.lit("nan"))
        .when(c == 0.0, F.lit("0"))
        .otherwise(F.concat(r.cast("string"), F.lit("e"), e.cast("string")))
    )


def _sig9_sql(x: str) -> str:
    """DuckDB SQL rendering identical to `_sig9` (see its docstring)."""
    r = f"CAST(round(({x}) * pow(10, 8 - floor(log10(abs({x}))))) AS BIGINT)"
    e = f"(CAST(floor(log10(abs({x}))) AS BIGINT) - 8)"
    return (
        f"CASE WHEN ({x}) IS NULL THEN NULL "
        f"WHEN isnan({x}) THEN 'nan' "
        f"WHEN ({x}) = 0 THEN '0' "
        f"WHEN abs({r}) >= 1000000000 "
        f"THEN CAST(CAST({r} // 10 AS BIGINT) AS VARCHAR) || 'e' || CAST({e} + 1 AS VARCHAR) "
        f"ELSE CAST({r} AS VARCHAR) || 'e' || CAST({e} AS VARCHAR) END"
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Miller `stats1` + `count-distinct` reimagined — per-lang
    doc profile with exact stats AND sketch estimates side by side."""
    sf = "/root/testdata/sf0.001"
    docs = _t(spark, sf, "documents")
    exact = ev.stats1(
        docs, accs=["count", "mean", "min", "max", "p50"], values=["n_chars"], by=["lang"]
    )
    hll = sv.count_distinct_hll(docs, of="text", by=["lang"], p=12)
    return exact.join(hll, "lang").orderBy("lang")


# ---------------------------------------------------------------------------
# queries — each exercises one operator from SURVEY.md §2
# ---------------------------------------------------------------------------


def q_stats1_basic(spark, sf):
    li = _t(spark, sf, "lineitem")
    s = ev.stats1(
        li,
        accs=["count", "sum", "mean", "min", "max", "var", "stddev"],
        values=["l_quantity"],
        by=["l_returnflag", "l_linestatus"],
    )
    return s.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity_count").alias("cnt"),
        F.round("l_quantity_sum", 4).alias("sum_qty"),
        F.round("l_quantity_mean", 4).alias("mean_qty"),
        F.col("l_quantity_min").alias("min_qty"),
        F.col("l_quantity_max").alias("max_qty"),
        F.round("l_quantity_var", 4).alias("var_qty"),
        F.round("l_quantity_stddev", 4).alias("stddev_qty"),
    )


def q_stats1_percentiles_interp(spark, sf):
    li = _t(spark, sf, "lineitem")
    s = ev.stats1(
        li, accs=["p50", "p90", "p99"], values=["l_extendedprice"],
        by=["l_returnflag"], interpolated=True,
    )
    return s.select(
        "l_returnflag",
        F.round("l_extendedprice_p50", 4).alias("p50"),
        F.round("l_extendedprice_p90", 4).alias("p90"),
        F.round("l_extendedprice_p99", 4).alias("p99"),
    )


def q_percentiles_distributed(spark, sf):
    """Round-5 exact-quantile SCALE path: percentiles_rank — one range
    exchange, per-(partition, group) rank offsets off the physical
    layout (no Window, no per-group collect_list), broadcast semi-join
    down to the <= 2 order statistics per percentile. Same interpolation
    semantics as stats1(interpolated=True), so the quantile_cont oracle
    carries over."""
    li = _t(spark, sf, "lineitem")
    r = ev.percentiles_rank(li, "l_extendedprice", [50, 90, 99], by=["l_returnflag"])
    return r.select(
        "l_returnflag",
        F.round("l_extendedprice_p50", 4).alias("p50"),
        F.round("l_extendedprice_p90", 4).alias("p90"),
        F.round("l_extendedprice_p99", 4).alias("p99"),
    )


def q_stats1_percentiles_miller(spark, sf):
    # Miller's default NON-interpolated percentile: element at
    # int(p/100*n) clamped (reference pkg/bifs/percentiles.go:193-208)
    li = _t(spark, sf, "lineitem")
    s = ev.stats1(
        li, accs=["median", "p25", "p90"], values=["l_extendedprice"], by=["l_returnflag"]
    )
    return s.select(
        "l_returnflag",
        F.col("l_extendedprice_median").alias("median_np"),
        F.col("l_extendedprice_p25").alias("p25_np"),
        F.col("l_extendedprice_p90").alias("p90_np"),
    )


def q_stats1_mode(spark, sf):
    li = _t(spark, sf, "lineitem").withColumn("__ord", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    return ev.mode_impl(li, "l_quantity", by=["l_returnflag"]).orderBy("l_returnflag")


def q_count_records(spark, sf):
    return ev.count_records(_t(spark, sf, "lineitem"), by=["l_returnflag"])


def q_count_distinct(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts")
    )


def q_count_distinct_combo(spark, sf):
    return ev.count_distinct(_t(spark, sf, "orders"), ["o_orderstatus", "o_orderpriority"])


def q_count_distinct_unlashed(spark, sf):
    return ev.count_distinct(
        _t(spark, sf, "orders"), ["o_orderstatus", "o_orderpriority"], unlashed=True
    )


def q_uniq_counts(spark, sf):
    return ev.uniq(_t(spark, sf, "orders"), ["o_orderpriority"], show_counts=True)


def q_uniq_distinct(spark, sf):
    return ev.uniq(_t(spark, sf, "documents"), ["lang", "source"])


def q_uniq_n(spark, sf):
    return ev.uniq_distinct_count(_t(spark, sf, "documents"), ["lang", "source"])


def q_top(spark, sf):
    return ev.top(
        _t(spark, sf, "orders"), "o_totalprice", n=3, by=["o_orderpriority"],
        tiebreak=["o_orderkey"],
    )


def q_most_frequent_tokens(spark, sf):
    tok = _t(spark, sf, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    return ev.most_frequent(tok, ["token"], n=10)


def q_least_frequent_tokens(spark, sf):
    tok = _t(spark, sf, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    return ev.most_frequent(tok, ["token"], n=10, descending=False)


def q_count_similar(spark, sf):
    return ev.count_similar(_t(spark, sf, "documents"), ["lang"]).select(
        "doc_id", "lang", "count"
    )


def q_fraction(spark, sf):
    o = _t(spark, sf, "orders")
    return ev.fraction(o, "o_totalprice", by=["o_orderpriority"]).select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice_fraction", 6).alias("frac"),
    )


def q_fraction_cumulative(spark, sf):
    o = _t(spark, sf, "orders")
    return ev.fraction(
        o, "o_totalprice", by=["o_orderpriority"], cumulative=True, order_by=["o_orderkey"]
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice_cumulative_fraction", 6).alias("cumfrac"),
    )


def q_fraction_cumulative_global(spark, sf):
    """Ungrouped `fraction -c` — the round-3 de-single-tasked path
    (range-partition prefix + broadcast carry; fraction.go:19-22)."""
    o = _t(spark, sf, "orders")
    return ev.fraction(
        o, "o_totalprice", cumulative=True, order_by=["o_orderkey"]
    ).select(
        "o_orderkey",
        _sig9("o_totalprice_cumulative_fraction").alias("cumfrac"),
    )


def q_histogram(spark, sf):
    return ev.histogram(_t(spark, sf, "orders"), "o_totalprice", lo=0.0, hi=500000.0, nbins=20)


def q_merge_fields(spark, sf):
    li = _t(spark, sf, "lineitem")
    m = ev.merge_fields(li, ["min", "max", "sum"], ["l_quantity", "l_discount", "l_tax"], "qdt")
    return m.select(
        "l_orderkey",
        "l_linenumber",
        F.col("qdt_min").alias("qdt_min"),
        F.col("qdt_max").alias("qdt_max"),
        F.round("qdt_sum", 4).alias("qdt_sum"),
    )


def q_stats2(spark, sf):
    s = ev.stats2(
        _t(spark, sf, "lineitem"), "l_quantity", "l_extendedprice",
        ["corr", "cov", "r2"], by=["l_returnflag"],
    )
    return s.select(
        "l_returnflag",
        F.round("l_quantity_l_extendedprice_corr", 6).alias("corr_qp"),
        F.round("l_quantity_l_extendedprice_cov", 4).alias("cov_qp"),
        F.round("l_quantity_l_extendedprice_r2", 6).alias("r2_qp"),
    )


def q_step(spark, sf):
    e = _t(spark, sf, "events")
    s = ev.step(
        e, ["shift", "delta", "rsum", "counter"], ["value"],
        order_by=["ts", "event_id"], by=["user_id"],
    )
    return s.select(
        "event_id",
        "user_id",
        "value",
        F.col("value_shift").alias("shift_v"),
        F.round("value_delta", 6).alias("delta_v"),
        F.round("value_rsum", 4).alias("rsum_v"),
        F.col("value_counter").alias("counter_v"),
    )


def q_slwin(spark, sf):
    e = _t(spark, sf, "events")
    s = ev.slwin(e, "value", 2, 2, order_by=["ts", "event_id"], by=["user_id"])
    return s.select("event_id", F.round("value_slwin_2_2", 6).alias("slwin_v"))


def q_fill_down(spark, sf):
    e = _t(spark, sf, "events").withColumn(
        "v2", F.when(F.col("value") < 100, None).otherwise(F.col("value"))
    )
    return ev.fill_down(e, ["v2"], order_by=["ts", "event_id"], by=["user_id"]).select(
        "event_id", "user_id", "v2"
    )


def q_fill_empty(spark, sf):
    d = _t(spark, sf, "documents").withColumn(
        "src2", F.when(F.col("lang") == "en", "").otherwise(F.col("source"))
    )
    return ev.fill_empty(d, fill="N/A", fields=["src2"]).select("doc_id", "src2")


def q_rank(spark, sf):
    li = _t(spark, sf, "lineitem")
    return ev.rank(li, "l_quantity", by=["l_returnflag"]).select(
        "l_orderkey", "l_linenumber", "l_quantity", "rank"
    )


def q_decimate(spark, sf):
    return ev.decimate(_t(spark, sf, "orders"), 10, order_by=["o_orderkey"]).select(
        "o_orderkey", "o_totalprice"
    )


def q_head_group(spark, sf):
    return ev.head(_t(spark, sf, "orders"), 2, by=["o_orderstatus"], order_by=["o_orderkey"]).select(
        "o_orderkey", "o_orderstatus"
    )


def q_tail_group(spark, sf):
    return ev.tail(_t(spark, sf, "orders"), 2, by=["o_orderstatus"], order_by=["o_orderkey"]).select(
        "o_orderkey", "o_orderstatus"
    )


def q_cat_numbered(spark, sf):
    return ev.cat_numbered(_t(spark, sf, "region"), order_by=["r_regionkey"]).select(
        "n", "r_regionkey", "r_name"
    )


def q_join_inner(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    j = ev.join(o, c.withColumnRenamed("c_custkey", "o_custkey"), ["o_custkey"], "inner",
                broadcast_left=False)
    j = j.join(F.broadcast(n), j["c_nationkey"] == n["n_nationkey"])
    return j.groupBy("n_name").agg(
        F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )


def q_join_anti(spark, sf):
    o = _t(spark, sf, "orders").withColumnRenamed("o_custkey", "c_custkey")
    c = _t(spark, sf, "customer")
    return ev.join(c, o, ["c_custkey"], "left-anti").select("c_custkey", "c_name")


def q_join_left_outer(spark, sf):
    o = _t(spark, sf, "orders").withColumnRenamed("o_custkey", "c_custkey")
    c = _t(spark, sf, "customer")
    j = ev.join(c, o, ["c_custkey"], "left")
    return j.groupBy("c_custkey", "c_name").agg(F.count("o_orderkey").alias("n_orders"))


def q_nest_explode(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", F.col("text").alias("token"))
    return ev.nest_explode_values(d, "token", sep=" ")


def q_nest_implode(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return d.groupBy("doc_id").agg(
        F.concat_ws(" ", F.array_sort(F.collect_list("token"))).alias("sorted_text")
    )


def q_reshape_l2w(spark, sf):
    e = _t(spark, sf, "events")
    p = e.groupBy("user_id").pivot(
        "event_type", ["click", "error", "purchase", "signup", "view"]
    ).agg(F.round(F.avg("value"), 6))
    return p


def q_reshape_w2l(spark, sf):
    li = _t(spark, sf, "lineitem")
    return ev.reshape_wide_to_long(
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"),
        ["l_quantity", "l_discount", "l_tax"], "measure", "val",
    )


def q_sec2gmt(spark, sf):
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_gmt"),
        F.to_date("ts").alias("ts_date"),
    )


def q_seqgen(spark, sf):
    return ev.seqgen(spark, 1, 100)


def q_case_upper(spark, sf):
    return ev.case_fields(_t(spark, sf, "part"), ["p_name"], "upper").select(
        "p_partkey", "p_name"
    )


def q_gsub(spark, sf):
    return ev.sub_field(_t(spark, sf, "part"), "p_name", "[aeiou]", "*").select(
        "p_partkey", "p_name"
    )


def q_clean_whitespace(spark, sf):
    p = _t(spark, sf, "part").withColumn("messy", F.concat(F.lit("  "), F.col("p_name"), F.lit("   x  ")))
    return ev.clean_whitespace(p, ["messy"]).select("p_partkey", "messy")


def q_repeat(spark, sf):
    return ev.repeat(_t(spark, sf, "region"), 3).select("r_regionkey", "r_name")


def q_template(spark, sf):
    return ev.template(_t(spark, sf, "region"), ["r_regionkey", "r_name", "extra"])


def q_json_parse(spark, sf):
    e = _t(spark, sf, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


def q_grep(spark, sf):
    d = _t(spark, sf, "documents")
    return d.filter(F.col("text").rlike("batch join")).select("doc_id")


def q_sort_multi(spark, sf):
    return ev.sort(
        _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        [("o_orderstatus", "f"), ("o_totalprice", "nr")],
    )


# -- DSL: put/filter expression language (mlrsketch/dsl) ----------------------


def q_dsl_put(spark, sf):
    """`mlr put` program compiled to one Catalyst projection
    (reference pkg/transformers/put_or_filter.go:38): arithmetic with
    Miller dispositions, ternary, string concat, power."""
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag",
    )
    return dsl.put(
        li,
        '$gross = $l_extendedprice * (1 - $l_discount);'
        '$bucket = $l_quantity > 25 ? "big" : "small";'
        '$tag = $l_returnflag . "-" . $bucket;'
        '$qsq = $l_quantity ** 2',
    )


def q_dsl_filter(spark, sf):
    """`mlr filter` with a compound boolean program."""
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag"
    )
    return dsl.filter_records(
        li,
        '($l_returnflag == "R" || $l_returnflag == "A") '
        "&& $l_quantity >= 30 && $l_discount < 0.05",
    )


def q_dsl_put_strings(spark, sf):
    """put with string builtins: toupper, strlen, sub, truncate, ssub."""
    p = _t(spark, sf, "part").select("p_partkey", "p_name", "p_type")
    return dsl.put(
        p,
        '$upper = toupper($p_name);'
        '$len = strlen($p_name);'
        '$first = sub($p_name, " .*", "");'
        '$short = truncate($p_type, 5);'
        '$swapped = ssub($p_name, "a", "A")',
    )


def q_dsl_put_conditional(spark, sf):
    """put with if/elif/else blocks (conditional field assignment)."""
    o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    return dsl.put(
        o,
        'if ($o_totalprice > 200000) { $size = "L"; $score = $o_totalprice / 1000 }'
        'elif ($o_totalprice > 50000) { $size = "M"; $score = $o_totalprice / 2000 }'
        'else { $size = "S"; $score = 0 }',
    )


# -- pipeline: text analysis -------------------------------------------------


def q_token_count(spark, sf):
    return textstats.token_count(_t(spark, sf, "documents")).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )


def q_quality_score(spark, sf):
    return textstats.quality_score(_t(spark, sf, "documents")).select(
        "doc_id", "len_score", "alpha_ratio", "stop_ratio", "quality_score"
    )


def q_lang_id(spark, sf):
    return textstats.lang_id(_t(spark, sf, "documents")).select("doc_id", "lang_pred")


def q_fingerprint(spark, sf):
    return textstats.fingerprint(_t(spark, sf, "documents")).select("doc_id", "fp")


# -- pipeline: dedup ---------------------------------------------------------


def q_dedup_exact_stats(spark, sf):
    d = _t(spark, sf, "documents")
    return d.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )


def q_dedup_keep_first(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.exact_dedup(d, "text", keep_by="doc_id").select("doc_id", "lang")


def q_ngram_jaccard(spark, sf):
    d = _t(spark, sf, "documents").filter(F.col("lang") == "de")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=1, threshold=0.9)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# -- pipeline: similarity ----------------------------------------------------


def q_ann_brute_force(spark, sf):
    emb = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    casted = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return similarity.brute_force_topk(casted, qvec, k=10).select(
        "vec_id", F.round("cosine", 4).alias("cosine")
    )


# -- sketch verbs -------------------------------------------------------------
# Gate configs follow the theta pattern (sketches/theta.py): capacity at
# or above the gate-scale group size puts every sketch in its EXACT
# regime (HLL sparse list, KLL uncompacted level 0, t-digest singleton
# centroids, TopK complete candidate set), so DuckDB oracles hash-match
# while the 100-TB path (same code, smaller capacity per group) runs in
# estimation mode with the published bounds.


def q_hll_distinct_per_lang(spark, sf):
    # p=12 => sparse_max 1024 >= distinct texts per lang at gate scale:
    # HLL++ sparse/list mode holds the exact hash set, estimate exact.
    return sv.count_distinct_hll(_t(spark, sf, "documents"), "text", ["lang"], p=12)


def q_tdigest_quantiles(spark, sf):
    # delta > pi * group_n => every centroid stays a singleton and the
    # midpoint interpolation is a deterministic function of the sorted
    # values (mirrored in the oracle SQL).
    return sv.quantiles_tdigest(
        _t(spark, sf, "documents"), "n_chars", (0.5, 0.9, 0.99), ["lang"], delta=1024
    )


def q_kll_quantiles(spark, sf):
    # k >= group_n => level 0 never compacts: quantile = exact rank
    # ceil(q*n) of the sorted values.
    return sv.quantiles_kll(
        _t(spark, sf, "events"), "value", (0.5, 0.9), ["event_type"], k=8192
    )


def q_cms_top_tokens(spark, sf):
    # capacity >= vocabulary => candidate set complete, tracked counts
    # exact (TopKSketch untrimmed mode).
    tok = _t(spark, sf, "documents").select(F.explode(F.split("text", " ")).alias("token"))
    return sv.most_frequent_cms(tok, "token", k=10)


def q_minhash_near_dups(spark, sf):
    """Gate config: md5 hash family + bands == n_hashes (r=1). Every
    stage — shingles, 16 permutation minima, the >=1-agreeing-component
    candidate join, the agreement filter — is deterministic and
    mirrored op-for-op in the DuckDB oracle, so the pair set AND the
    jaccard_est values hash-match exactly. Scale config (xxhash64,
    banded) is the same code path with different parameters."""
    d = _t(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(d, "doc_id", "text", n_hashes=16, bands=16,
                                   jaccard_threshold=0.9, hash_family="md5")


def q_simhash_near_dups(spark, sf):
    """Gate config: 16 pigeonhole blocks > max_hamming=10 => recall is
    GUARANTEED 100%, so the LSH output equals the brute-force Hamming
    pair set — which the DuckDB oracle computes directly from the same
    md5-60 token hashes (engine-portable simhash)."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return dedup.simhash_near_dups(d, "doc_id", "text", max_hamming=10,
                                   n_blocks=16, token_hash=dedup.md5_60_hash)


def q_ewma(spark, sf):
    return sv.ewma_pandas(
        _t(spark, sf, "events"), "value", [0.3], ["ts", "event_id"], by=["user_id"]
    ).select("event_id", _sig9("value_ewma_0_3").alias("ewma_v"))


def q_sample_per_group(spark, sf):
    # deterministic seeded hash-sample (key = primary key) — oracle-checkable
    return ev.sample(
        _t(spark, sf, "orders"), 5, by=["o_orderpriority"], key=["o_orderkey"]
    ).select("o_orderpriority", "o_orderkey")


def q_theta_bigram_overlap(spark, sf):
    """Theta/KMV distinct-set algebra: how many distinct token bigrams do
    two document sources share? (the crawl-overlap query). At sf<=0.1 the
    per-source distinct bigram counts sit below k=4096, so theta stays 1
    and every estimate is EXACT -> hash-comparable against the DuckDB
    INTERSECT/EXCEPT oracle; at 10^12 rows the same query returns
    1/sqrt(k-1)-bounded estimates from two O(k) states."""
    d = _t(spark, sf, "documents")
    toks = F.split("text", " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = d.select("source", F.explode(bigrams).alias("big"))
    out = sv.theta_set_ops(pairs, "big", "source", "src0", "src1", k=4096)
    return out.select(
        F.col("union_est").cast("long").alias("union_cnt"),
        F.col("intersect_est").cast("long").alias("intersect_cnt"),
        F.col("a_not_b_est").cast("long").alias("a_only_cnt"),
        F.col("b_not_a_est").cast("long").alias("b_only_cnt"),
        _sig9("jaccard_est").alias("jaccard"),
    )


# -- round-1 widening: remaining SURVEY.md §2 verbs --------------------------


def q_stats1_extended(spark, sf):
    li = _t(spark, sf, "lineitem")
    s = ev.stats1(
        li,
        accs=["null_count", "distinct_count", "minlen", "maxlen", "meaneb", "skewness", "kurtosis"],
        values=["l_quantity"],
        by=["l_returnflag"],
    )
    return s.select(
        "l_returnflag",
        F.col("l_quantity_null_count").alias("null_cnt"),
        F.col("l_quantity_distinct_count").alias("dist_cnt"),
        F.col("l_quantity_minlen").cast("long").alias("minlen"),
        F.col("l_quantity_maxlen").cast("long").alias("maxlen"),
        _sig9("l_quantity_meaneb").alias("meaneb"),
        _sig9("l_quantity_skewness").alias("skew"),
        _sig9("l_quantity_kurtosis").alias("kurt"),
    )


def q_stats1_mad(spark, sf):
    li = _t(spark, sf, "lineitem")
    return ev.mad(li, "l_quantity", by=["l_returnflag"]).select(
        "l_returnflag", F.round("l_quantity_mad", 6).alias("mad")
    )


def q_stats1_iqr_fences(spark, sf):
    li = _t(spark, sf, "lineitem")
    s = ev.stats1(
        li, accs=["iqr", "lof", "lif", "uif", "uof"], values=["l_extendedprice"],
        by=["l_returnflag"],
    )
    return s.select(
        "l_returnflag",
        F.round("l_extendedprice_iqr", 4).alias("iqr"),
        F.round("l_extendedprice_lof", 4).alias("lof"),
        F.round("l_extendedprice_lif", 4).alias("lif"),
        F.round("l_extendedprice_uif", 4).alias("uif"),
        F.round("l_extendedprice_uof", 4).alias("uof"),
    )


def q_stats1_antimode(spark, sf):
    li = _t(spark, sf, "lineitem").withColumn(
        "__ord", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    return ev.mode_impl(li, "l_quantity", by=["l_returnflag"], anti=True).orderBy(
        "l_returnflag"
    )


def q_stats2_linreg(spark, sf):
    s = ev.stats2(
        _t(spark, sf, "lineitem"), "l_quantity", "l_extendedprice",
        ["linreg-ols", "linreg-pca"], by=["l_returnflag"],
    )
    return s.select(
        "l_returnflag",
        _sig9("l_quantity_l_extendedprice_m").alias("ols_m"),
        _sig9("l_quantity_l_extendedprice_b").alias("ols_b"),
        _sig9("l_quantity_l_extendedprice_pca_m").alias("pca_m"),
        _sig9("l_quantity_l_extendedprice_pca_b").alias("pca_b"),
        F.col("l_quantity_l_extendedprice_pca_n").alias("pca_n"),
        _sig9("l_quantity_l_extendedprice_pca_quality").alias("pca_q"),
    )


def q_stats2_covx(spark, sf):
    s = ev.stats2(
        _t(spark, sf, "lineitem"), "l_quantity", "l_extendedprice", ["covx"],
        by=["l_returnflag"],
    )
    return s.select(
        "l_returnflag",
        F.round("l_quantity_var", 6).alias("xx"),
        F.round("l_quantity_l_extendedprice_cov", 6).alias("xy"),
        F.round("l_extendedprice_var", 6).alias("yy"),
    )


def q_step_advanced(spark, sf):
    e = _t(spark, sf, "events")
    s = ev.step(
        e, ["shift_lead", "ratio", "from-first", "shift_lag_2", "delta_2"], ["value"],
        order_by=["ts", "event_id"], by=["user_id"],
    )
    return s.select(
        "event_id",
        F.round("value_shift_lead", 6).alias("lead_v"),
        F.round("value_ratio", 6).alias("ratio_v"),
        F.round("value_from_first", 6).alias("fromfirst_v"),
        F.round("value_shift_lag_2", 6).alias("lag2_v"),
        F.round("value_delta_2", 6).alias("delta2_v"),
    )


def q_stats1_windowed(spark, sf):
    e = _t(spark, sf, "events")
    s = ev.stats1_windowed(
        e, ["mean", "min", "max"], ["value"], w=5, order_by=["ts", "event_id"],
        by=["user_id"],
    )
    return s.select(
        "event_id",
        F.round("value_mean_5", 6).alias("wmean"),
        F.round("value_min_5", 6).alias("wmin"),
        F.round("value_max_5", 6).alias("wmax"),
    )


def q_summary(spark, sf):
    o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    s = ev.summary(o)
    return s.select(
        "field_name",
        "field_type",
        "count",
        "null_count",
        "distinct_count",
        _sig9("sum").alias("sum"),
        _sig9("mean").alias("mean"),
        _sig9("min").alias("min"),
        _sig9("max").alias("max"),
        _sig9("var").alias("var"),
        _sig9("stddev").alias("stddev"),
        _sig9("median").alias("median"),
        F.col("minlen").cast("long").alias("minlen"),
        F.col("maxlen").cast("long").alias("maxlen"),
    )


def q_sort_natural(spark, sf):
    d = _t(spark, sf, "documents").select(
        F.concat(F.lit("doc"), F.col("doc_id")).alias("name")
    )
    key = ev._natural_sort_key(F.col("name"))
    return d.select(
        "name", F.row_number().over(Window.orderBy(key.asc(), F.col("name"))).alias("rk")
    )


def q_tac(spark, sf):
    r = _t(spark, sf, "region")
    t = ev.tac(r, order_by=["r_regionkey"])
    return t.select(
        "r_regionkey",
        F.row_number().over(Window.orderBy(F.col("r_regionkey").desc())).alias("rn"),
    )


def q_sub_first(spark, sf):
    return ev.sub_field(
        _t(spark, sf, "part"), "p_name", "[aeiou]", "*", all_matches=False
    ).select("p_partkey", "p_name")


def q_format_values(spark, sf):
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_discount")
    return ev.format_values(li, "%.4f", ["l_discount"])


def q_cut_rename_reorder(spark, sf):
    li = _t(spark, sf, "lineitem")
    d = ev.cut(li, ["l_orderkey", "l_linenumber", "l_quantity"])
    d = ev.rename_fields(d, {"l_quantity": "qty"})
    return ev.reorder(d, front=["qty"])


def q_label(spark, sf):
    return ev.label(_t(spark, sf, "region"), ["rk", "rname"]).select("rk", "rname")


def q_having_fields(spark, sf):
    e = _t(spark, sf, "events").withColumn(
        "v2", F.when(F.col("value") < 100, None).otherwise(F.col("value"))
    )
    return ev.having_fields_all_defined(e, ["v2"]).select("event_id", "v2")


def q_sec2gmtdate(spark, sf):
    e = _t(spark, sf, "events").select(
        "event_id", F.unix_timestamp("ts").alias("epoch")
    )
    return ev.sec2gmtdate(e, ["epoch"])


def q_gmt2sec(spark, sf):
    e = _t(spark, sf, "events").select(
        "event_id", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso")
    )
    return ev.gmt2sec(e, ["iso"])


def q_altkv(spark, sf):
    return ev.altkv(_t(spark, sf, "part"), ["p_name", "p_brand", "p_type", "p_size"])


def q_flatten(spark, sf):
    e = _t(spark, sf, "events").select(
        "event_id", F.from_json("props", "k long").alias("props")
    )
    return ev.flatten_structs(e)


def q_json_stringify(spark, sf):
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.to_json(F.struct(F.col("user_id"), F.col("event_type"))).alias("js"),
    )


def q_remove_empty_columns(spark, sf):
    e = (
        _t(spark, sf, "events")
        .select("event_id", "user_id")
        .withColumn("empty1", F.lit(""))
        .withColumn("empty2", F.lit(None).cast("string"))
    )
    return ev.remove_empty_columns(e)


def q_surv_km(spark, sf):
    e = _t(spark, sf, "events").select(
        F.floor(F.col("value") / 50).cast("long").alias("t"),
        (F.col("event_type") == "purchase").cast("int").alias("status"),
    )
    s = ev.surv(e, "t", "status")
    return s.select("t", "n_risk", "n_events", _sig9("survival").alias("survival"))


def q_merge_fields_var(spark, sf):
    li = _t(spark, sf, "lineitem")
    m = ev.merge_fields(li, ["var", "stddev"], ["l_quantity", "l_discount", "l_tax"], "qdt")
    return m.select(
        "l_orderkey",
        "l_linenumber",
        F.round("qdt_var", 6).alias("qdt_var"),
        F.round("qdt_stddev", 6).alias("qdt_stddev"),
    )


def q_count_distinct_n(spark, sf):
    return ev.count_distinct_n(_t(spark, sf, "orders"), ["o_orderstatus", "o_orderpriority"])


def q_top_full(spark, sf):
    return ev.top(
        _t(spark, sf, "orders"), "o_totalprice", n=2, by=["o_orderpriority"],
        tiebreak=["o_orderkey"], show_full_records=True,
    ).select("o_orderkey", "o_orderpriority", "o_totalprice", "top_idx")


def q_bpe_token_count(spark, sf):
    return textstats.token_count_bpe(_t(spark, sf, "documents")).select(
        "doc_id", F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens")
    )


def q_embedding_near_dups(spark, sf):
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = dedup.embedding_near_dup_pairs(
        emb, "vec_id", threshold=0.45, brute_force=True
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_shuffle(spark, sf):
    o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    return ev.shuffle_verb(o)  # random permutation — content-equal to input


def q_group_by_stream(spark, sf):
    return ev.group_by_stream(
        _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority"),
        ["o_orderpriority"],
    )


def q_embedding_near_dups_lsh(spark, sf):
    """Gate config: 32 bands x 1 bit. A qualifying pair (cosine >=
    0.45, bit-agreement p >= 0.648) misses all 32 single-hyperplane
    bands with probability (1-p)^32 <= 4e-15 — verified exhaustively
    equal to the brute-force pair set on the gate tables
    (tests/test_pipeline.py::test_embedding_lsh_gate_recall), so the
    brute-force SQL is the oracle. Scale config: 8 bands x 6 bits
    (pruning over recall)."""
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = dedup.embedding_near_dup_pairs(
        emb, "vec_id", threshold=0.45, n_bands=32, band_bits=1
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_ann_lsh(spark, sf):
    """Gate config: 32 tables x 1 bit — every true top-k member shares
    the query's bucket in some table with certainty 1-4e-15; verified
    equal to brute-force top-k on the gate tables, so the brute-force
    SQL is the oracle. Scale config: 8 tables x 12 bits."""
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return similarity.lsh_topk(emb, qvec, k=10, n_tables=32, bits=1).select(
        "vec_id", F.round("cosine", 4).alias("cosine")
    )


def q_ann_ivf(spark, sf):
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    indexed, cent = similarity.ivf_index(emb, k=8, sample_n=500)
    return similarity.ivf_topk(indexed, cent, qvec, k=10, nprobe=8)


def q_bloom_dedup(spark, sf):
    d = _t(spark, sf, "documents")
    seen = sv.build_bloom(d.filter(F.col("lang") == "en"), "text", n_bits=1 << 20)
    return sv.bloom_filter_new(d.filter(F.col("lang") != "en"), "text", seen).select(
        "doc_id", "lang"
    )


def q_bootstrap(spark, sf):
    """Gate path: deterministic Poisson bootstrap (exact.bootstrap_hash)
    — multiplicity = inverse-CDF(Poisson(1)) of md5_60(seed:key), an
    integer-threshold cascade DuckDB reproduces literally. This is also
    the preferred 100 TB shape (partitioning-independent, no RNG state);
    ev.bootstrap (Spark sample) remains for streaming parity."""
    return ev.bootstrap_hash(
        _t(spark, sf, "orders"), ["o_orderkey"]
    ).select("o_orderkey")


def q_bootstrap_ci(spark, sf):
    """Gate path: hash-seeded Poisson bootstrap CI — boot b repeats a
    row poisson1(md5_60(seed:b:key)) times; boot means accumulate in
    integer cents so every sum is exact in both engines; quantiles
    interpolate identical doubles, canonicalized via _sig9."""
    r = ev.bootstrap_ci_hash(
        _t(spark, sf, "orders"), "o_totalprice", key=["o_orderkey"],
        by=["o_orderpriority"], n_boot=100,
    )
    return r.select(
        "o_orderpriority",
        _sig9("o_totalprice_mean").alias("price_mean"),
        _sig9("o_totalprice_ci_lo").alias("price_ci_lo"),
        _sig9("o_totalprice_ci_hi").alias("price_ci_hi"),
    )


def q_logireg(spark, sf):
    # stats2 -a logireg: y = 1{event_type='purchase'} ~ sigmoid(m*value+b)
    e = _t(spark, sf, "events").select(
        "value", (F.col("event_type") == "purchase").cast("double").alias("is_p")
    )
    r = ev.logireg(e, "value", "is_p")
    return r.select(
        F.round("value_is_p_m", 6).alias("m"),
        F.round("value_is_p_b", 6).alias("b"),
        "value_is_p_n",
    )


def q_frame_sample(spark, sf):
    from mlrsketch.pipeline import multimodal

    # doc_id < 50 (not .limit) so the input set is deterministic, and
    # scalar output columns only so the gate harness can hash them.
    d = multimodal.attach_fake_payload(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 50), from_col="text"
    )
    return multimodal.frame_sample(d, every_nth=4).select("doc_id", "frame_idx")


def q_sketch_profile(spark, sf):
    # fused one-pass multi-sketch (HLL + KLL + CMS in one scan) per lang.
    # The library keeps top_tokens/top_counts as arrays; the gate harness
    # hashes scalar cells, so project arrays through to_json here.
    d = _t(spark, sf, "documents")
    # p=12 / kll_k=1024: every constituent sketch in its exact regime at
    # gate scale (sparse HLL, uncompacted KLL, untrimmed TopK).
    s = sv.sketch_profile(
        d, url_col="doc_id", text_col="text", by=["lang"], p=12, kll_k=1024
    )
    arr = {f.name for f in s.schema.fields if f.dataType.typeName() == "array"}
    return s.select(
        *[F.to_json(c).alias(c) if c in arr else F.col(c) for c in s.columns]
    )


def q_token_top_k(spark, sf):
    # CMS heavy hitters fed from the text column without exploding rows
    return sv.token_top_k(_t(spark, sf, "documents"), "text", k=10)


def q_image_features(spark, sf):
    from mlrsketch.pipeline import multimodal

    # doc_id < 200 (not .limit) for a deterministic input set. The fake
    # decode is fully deterministic (utf-8 bytes tiled to 8x8x3), so the
    # per-channel means are oracle-able: each channel averages 64
    # integer bytes — the float64 mean is exact (sum < 2^53, /64 is a
    # power of two), and the library's float32 quantization is
    # replicated in SQL via CAST(.. AS REAL). Scalar columns only.
    d = multimodal.attach_fake_payload(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 200), from_col="text"
    )
    feats = multimodal.image_features(d)
    return feats.select(
        "doc_id",
        *[
            F.round(F.element_at("features", k + 1).cast("double"), 4).alias(f"f{k}")
            for k in range(3)
        ],
    )


def q_step_global(spark, sf):
    """Ungrouped steppers — exercises the distributed global-order path
    (equi-join lags + per-range-partition running sums with carries; no
    single-task window)."""
    e = _t(spark, sf, "events")
    s = ev.step(e, ["shift", "delta", "rsum", "counter"], ["value"],
                order_by=["ts", "event_id"])
    return s.select(
        "event_id",
        F.col("value_shift").alias("shift_v"),
        F.round("value_delta", 6).alias("delta_v"),
        F.round("value_rsum", 4).alias("rsum_v"),
        F.col("value_counter").alias("counter_v"),
    )


def q_slwin_global(spark, sf):
    """Ungrouped sliding-window mean via global prefix-sum differences."""
    e = _t(spark, sf, "events")
    s = ev.slwin(e, "value", 2, 1, order_by=["ts", "event_id"])
    return s.select("event_id", F.round("value_slwin_2_1", 6).alias("slwin_v"))


def q_fill_down_global(spark, sf):
    """Ungrouped fill-down via per-partition last-non-null carries."""
    e = _t(spark, sf, "events").withColumn(
        "v2", F.when(F.col("value") < 100, None).otherwise(F.col("value"))
    )
    return ev.fill_down(e, ["v2"], order_by=["ts", "event_id"]).select(
        "event_id", "v2"
    )


def q_rank_global(spark, sf):
    """Ungrouped competition rank via distinct-value prefix counts."""
    li = _t(spark, sf, "lineitem")
    return ev.rank(li, "l_quantity").select(
        "l_orderkey", "l_linenumber", "l_quantity", "rank"
    )


def q_stats1_windowed_global(spark, sf):
    """Ungrouped trailing window via block+ghost duplication."""
    e = _t(spark, sf, "events")
    s = ev.stats1_windowed(e, ["mean", "min", "max"], ["value"], 5,
                           order_by=["ts", "event_id"])
    return s.select(
        "event_id",
        F.round("value_mean_5", 6).alias("wmean"),
        F.col("value_min_5").alias("wmin"),
        F.col("value_max_5").alias("wmax"),
    )


def q_stats1_iterative(spark, sf):
    """`mlr stats1 -s` grouped (stats1.go:30,457): cumulative stats
    appended per record, one WindowExec partitioned by the group key.

    Running sums of arbitrary doubles differ in the last ULP across
    engines because the association order differs, and ANY rounding
    (fixed-decimal or significant-digit) has boundary values; so the
    oracle runs over an integer-cents column — every prefix sum is
    exact in float64 (<< 2^53), making sums/means bit-identical
    regardless of summation order."""
    e = _t(spark, sf, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    s = ev.stats1_iterative(
        e, ["count", "sum", "mean", "min", "max"], ["cents"],
        order_by=["ts", "event_id"], by=["user_id"],
    )
    return s.select(
        "event_id",
        F.col("cents_count").alias("rcount"),
        F.col("cents_sum").alias("rsum"),
        F.col("cents_mean").alias("rmean"),
        F.col("cents_min").alias("rmin"),
        F.col("cents_max").alias("rmax"),
    )


def q_stats1_iterative_global(spark, sf):
    """Ungrouped `stats1 -s`: per-range-partition prefix + broadcast
    exclusive-prefix carry — no single-task expanding window. Integer
    cents for cross-engine exactness (see q_stats1_iterative)."""
    e = _t(spark, sf, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    s = ev.stats1_iterative(
        e, ["count", "mean", "min", "max"], ["cents"],
        order_by=["ts", "event_id"],
    )
    return s.select(
        "event_id",
        F.col("cents_count").alias("rcount"),
        F.col("cents_mean").alias("rmean"),
        F.col("cents_min").alias("rmin"),
        F.col("cents_max").alias("rmax"),
    )


def q_uniq_records(spark, sf):
    """`mlr uniq -a -c`: whole-record dedupe with counts (uniq.go:391)."""
    o = _t(spark, sf, "orders").select("o_orderstatus", "o_orderpriority")
    return ev.uniq_records(o, show_counts=True)


def q_mad_global(spark, sf):
    """Ungrouped mad — broadcast scalar mean, no full-frame window."""
    li = _t(spark, sf, "lineitem")
    return ev.mad(li, "l_quantity").select(
        F.round("l_quantity_mad", 6).alias("mad")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's DuckDB correctness gate checks the
    # FIRST 50 keys. Cumulative through round 4: 112 of 118 keys have
    # been driver-green. Round 5 front-loads the LAST 6 never-green keys
    # (newly oracled this round: exact-recall LSH gate configs,
    # engine-portable md5-60 hash family, deterministic Poisson
    # bootstrap), then the round-4 greens, then the stable tail.
    return {
        # -- never driver-green before round 5 (newly oracled) --------------
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_near_dups": q_simhash_near_dups,
        "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
        "ann_lsh": q_ann_lsh,
        "bootstrap": q_bootstrap,
        "bootstrap_ci": q_bootstrap_ci,
        "percentiles_distributed": q_percentiles_distributed,
        # -- green in round 4 (re-confirm) ----------------------------------
        "image_features": q_image_features,
        "frame_sample": q_frame_sample,
        "logireg": q_logireg,
        "sketch_profile": q_sketch_profile,
        "token_top_k": q_token_top_k,
        "hll_distinct_per_lang": q_hll_distinct_per_lang,
        "tdigest_quantiles": q_tdigest_quantiles,
        "kll_quantiles": q_kll_quantiles,
        "cms_top_tokens": q_cms_top_tokens,
        "stats1_extended": q_stats1_extended,
        "summary": q_summary,
        "surv_km": q_surv_km,
        "stats1_iterative": q_stats1_iterative,
        "stats1_iterative_global": q_stats1_iterative_global,
        "bloom_dedup": q_bloom_dedup,
        # -- green in round 3 (re-confirm) ----------------------------------
        "ewma": q_ewma,
        "sample_per_group": q_sample_per_group,
        "stats2_linreg": q_stats2_linreg,
        "fraction_cumulative_global": q_fraction_cumulative_global,
        "theta_bigram_overlap": q_theta_bigram_overlap,
        # --- round-2 driver-green keys (checked in CORRECTNESS_r02) ---
        "step_global": q_step_global,
        "slwin_global": q_slwin_global,
        "fill_down_global": q_fill_down_global,
        "rank_global": q_rank_global,
        "stats1_windowed_global": q_stats1_windowed_global,
        "uniq_records": q_uniq_records,
        "mad_global": q_mad_global,
        "dsl_put": q_dsl_put,
        "dsl_filter": q_dsl_filter,
        "dsl_put_strings": q_dsl_put_strings,
        "dsl_put_conditional": q_dsl_put_conditional,
        "dedup_exact_stats": q_dedup_exact_stats,
        "dedup_keep_first": q_dedup_keep_first,
        "ngram_jaccard": q_ngram_jaccard,
        "ann_brute_force": q_ann_brute_force,
        "stats1_mad": q_stats1_mad,
        "stats1_iqr_fences": q_stats1_iqr_fences,
        "stats1_antimode": q_stats1_antimode,
        "stats2_covx": q_stats2_covx,
        "step_advanced": q_step_advanced,
        "stats1_windowed": q_stats1_windowed,
        "sort_natural": q_sort_natural,
        "tac": q_tac,
        "sub_first": q_sub_first,
        "format_values": q_format_values,
        "cut_rename_reorder": q_cut_rename_reorder,
        "label": q_label,
        "having_fields": q_having_fields,
        "sec2gmtdate": q_sec2gmtdate,
        "gmt2sec": q_gmt2sec,
        "altkv": q_altkv,
        "flatten": q_flatten,
        "json_stringify": q_json_stringify,
        "remove_empty_columns": q_remove_empty_columns,
        "merge_fields_var": q_merge_fields_var,
        "count_distinct_n": q_count_distinct_n,
        "top_full": q_top_full,
        "bpe_token_count": q_bpe_token_count,
        "embedding_near_dups": q_embedding_near_dups,
        "shuffle": q_shuffle,
        "group_by_stream": q_group_by_stream,
        "ann_ivf": q_ann_ivf,
        # --- round-1 driver-green keys (checked in CORRECTNESS_r01) ---
        "stats1_basic": q_stats1_basic,
        "stats1_percentiles_interp": q_stats1_percentiles_interp,
        "stats1_percentiles_miller": q_stats1_percentiles_miller,
        "stats1_mode": q_stats1_mode,
        "count_records": q_count_records,
        "count_distinct": q_count_distinct,
        "count_distinct_combo": q_count_distinct_combo,
        "count_distinct_unlashed": q_count_distinct_unlashed,
        "uniq_counts": q_uniq_counts,
        "uniq_distinct": q_uniq_distinct,
        "uniq_n": q_uniq_n,
        "top": q_top,
        "most_frequent_tokens": q_most_frequent_tokens,
        "least_frequent_tokens": q_least_frequent_tokens,
        "count_similar": q_count_similar,
        "fraction": q_fraction,
        "fraction_cumulative": q_fraction_cumulative,
        "histogram": q_histogram,
        "merge_fields": q_merge_fields,
        "stats2": q_stats2,
        "step": q_step,
        "slwin": q_slwin,
        "fill_down": q_fill_down,
        "fill_empty": q_fill_empty,
        "rank": q_rank,
        "decimate": q_decimate,
        "head_group": q_head_group,
        "tail_group": q_tail_group,
        "cat_numbered": q_cat_numbered,
        "join_inner": q_join_inner,
        "join_anti": q_join_anti,
        "join_left_outer": q_join_left_outer,
        "nest_explode": q_nest_explode,
        "nest_implode": q_nest_implode,
        "reshape_l2w": q_reshape_l2w,
        "reshape_w2l": q_reshape_w2l,
        "sec2gmt": q_sec2gmt,
        "seqgen": q_seqgen,
        "case_upper": q_case_upper,
        "gsub": q_gsub,
        "clean_whitespace": q_clean_whitespace,
        "repeat": q_repeat,
        "template": q_template,
        "json_parse": q_json_parse,
        "grep": q_grep,
        "sort_multi": q_sort_multi,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    # t-digest midpoint interpolation over singleton centroids (the
    # exact-below-capacity gate regime): a deterministic function of the
    # sorted values, mirrored op-for-op from TDigest.quantile so the
    # IEEE arithmetic matches bit-for-bit.
    def _td_q(q: str) -> str:
        return f"""CASE
            WHEN n = 1 OR {q} * nd <= 0.5 THEN s[1]
            WHEN {q} * nd >= nd - 0.5 THEN s[n]
            ELSE s[j{q.replace('0.', '')}]
                 + ({q} * nd - (CAST(j{q.replace('0.', '')} AS DOUBLE) - 0.5))
                   * (s[j{q.replace('0.', '')} + 1] - s[j{q.replace('0.', '')}])
        END"""

    _top_tokens_sql = """
            SELECT t AS value, count(*) AS count_est
            FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
            GROUP BY t ORDER BY count_est DESC, value ASC LIMIT 10
        """

    # engine-portable 60-bit md5 hash (== exact.md5_60 / dedup.md5_60_hash)
    def _md5h(x: str) -> str:
        return f"CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

    # Poisson(1) multiplicity via the SAME integer thresholds as
    # exact.poisson1_mult — pure int comparisons, bit-identical
    def _pois(h: str) -> str:
        from mlrsketch.verbs.exact import POISSON1_T60

        return "(" + " + ".join(
            f"CASE WHEN ({h}) >= {t} THEN 1 ELSE 0 END" for t in POISSON1_T60
        ) + ")"

    _boot_h = _md5h("'42:' || CAST(o_orderkey AS VARCHAR)")
    _ci_h = _md5h("'42:' || CAST(b AS VARCHAR) || ':' || k")
    # 64 simhash bit votes, mirrored from dedup.simhash's counters
    _simhash_bits = " | ".join(
        f"(CASE WHEN sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(64)
    )
    # 16 minhash permutation minima, mirrored from minhash_signature(md5)
    _mh_sigs = ",\n                 ".join(
        "min(" + _md5h("'%d:' || s" % j) + ") AS m%d" % j for j in range(16)
    )
    _mh_list = "[" + ", ".join(f"m{j}" for j in range(16)) + "]"
    _mh_agree = " + ".join(
        f"(CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END)" for j in range(16)
    )
    return {
        # -- sketch suite: exact-below-capacity gate configs ----------------
        "hll_distinct_per_lang": """
            SELECT lang,
                   CAST(count(DISTINCT text) AS DOUBLE) AS distinct_count_est,
                   CAST(0.0 AS DOUBLE) AS error_bound
            FROM documents GROUP BY lang
        """,
        "kll_quantiles": """
            SELECT event_type,
                   s[greatest(1, CAST(ceil(0.5 * n) AS BIGINT))] AS p50,
                   s[greatest(1, CAST(ceil(0.9 * n) AS BIGINT))] AS p90,
                   -- KLL.error_bound(): 2.296 / k^0.9723 at k=8192
                   CAST(0.0003597351221608861 AS DOUBLE) AS rank_error_bound
            FROM (SELECT event_type, list_sort(list(value)) AS s,
                         count(value) AS n
                  FROM events GROUP BY 1)
        """,
        "tdigest_quantiles": f"""
            WITH g AS (
              SELECT lang, list_sort(list(CAST(n_chars AS DOUBLE))) AS s,
                     count(n_chars) AS n, CAST(count(n_chars) AS DOUBLE) AS nd
              FROM documents GROUP BY 1),
            j AS (
              SELECT *, CAST(floor(0.5 * nd + 0.5) AS BIGINT) AS j5,
                        CAST(floor(0.9 * nd + 0.5) AS BIGINT) AS j9,
                        CAST(floor(0.99 * nd + 0.5) AS BIGINT) AS j99
              FROM g)
            SELECT lang,
                   {_td_q('0.5')} AS p50,
                   {_td_q('0.9')} AS p90,
                   {_td_q('0.99')} AS p99,
                   CAST(0.00146484375 AS DOUBLE) AS rank_error_bound
            FROM j
        """,
        "sketch_profile": """
            WITH tok AS (
              SELECT lang, t, count(*) AS c
              FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
              GROUP BY lang, t),
            tk AS (
              SELECT lang,
                     to_json(list_slice(list(t ORDER BY c DESC, t ASC), 1, 20)) AS top_tokens,
                     to_json(list_slice(list(c ORDER BY c DESC, t ASC), 1, 20)) AS top_counts
              FROM tok GROUP BY lang),
            base AS (
              SELECT lang,
                     CAST(count(DISTINCT doc_id) AS DOUBLE) AS url_distinct_est,
                     CAST(0.0 AS DOUBLE) AS url_distinct_bound,
                     list_sort(list(CAST(length(text) AS DOUBLE))) AS s,
                     count(text) AS n
              FROM documents GROUP BY lang)
            SELECT b.lang, url_distinct_est, url_distinct_bound,
                   s[greatest(1, CAST(ceil(0.5 * n) AS BIGINT))] AS len_p50,
                   s[greatest(1, CAST(ceil(0.9 * n) AS BIGINT))] AS len_p90,
                   s[greatest(1, CAST(ceil(0.99 * n) AS BIGINT))] AS len_p99,
                   -- KLL.error_bound(): 2.296 / k^0.9723 at k=1024
                   CAST(0.0027167972933084344 AS DOUBLE) AS len_rank_bound,
                   top_tokens, top_counts
            FROM base b JOIN tk USING (lang)
        """,
        "cms_top_tokens": _top_tokens_sql,
        "token_top_k": _top_tokens_sql,
        "frame_sample": """
            SELECT doc_id, CAST(f.g * 4 AS INTEGER) AS frame_idx
            FROM documents,
                 LATERAL (SELECT unnest(range(0, greatest(1, octet_length(encode(text)) // 256))) AS g) AS f
            WHERE doc_id < 50
        """,
        # STUB image decode (declared, environment-forced) but fully
        # deterministic: payload = utf-8 text bytes tiled to 192, image
        # = 8x8x3, features = per-channel byte means as float32. The
        # text is ASCII at gate scale so unicode(char) = byte value.
        "image_features": """
            WITH px AS (
              SELECT doc_id, i % 3 AS ch,
                     unicode(substr(text, CAST(i % length(text) AS BIGINT) + 1, 1)) AS v
              FROM documents,
                   LATERAL (SELECT unnest(range(0, 192)) AS i)
              WHERE doc_id < 200),
            m AS (
              SELECT doc_id,
                     CAST(CAST(CAST(sum(CASE WHEN ch = 0 THEN v END) AS DOUBLE) / 64.0 AS REAL) AS DOUBLE) AS m0,
                     CAST(CAST(CAST(sum(CASE WHEN ch = 1 THEN v END) AS DOUBLE) / 64.0 AS REAL) AS DOUBLE) AS m1,
                     CAST(CAST(CAST(sum(CASE WHEN ch = 2 THEN v END) AS DOUBLE) / 64.0 AS REAL) AS DOUBLE) AS m2
              FROM px GROUP BY doc_id)
            SELECT doc_id, round(m0, 4) AS f0, round(m1, 4) AS f1,
                   round(m2, 4) AS f2
            FROM m
        """,
        # Bloom keep-set: with n_bits = 2^20 over ~200 'en' texts the
        # per-probe FPR is ~(k*n/m)^k ~ 1e-12, and the hash functions are
        # fixed, so the filtered set is deterministically the exact
        # anti-join at gate scale (verified value-by-value).
        "bloom_dedup": """
            SELECT doc_id, lang FROM documents
            WHERE lang != 'en'
              AND text NOT IN (SELECT text FROM documents WHERE lang = 'en')
        """,
        "logireg": """
            WITH d AS (
              SELECT value AS x,
                     CAST(event_type = 'purchase' AS DOUBLE) AS y,
                     1.0 / (1.0 + exp(0.001 * value - 0.002)) AS p
              FROM events),
            s AS (
              SELECT sum(x * (y - p)) AS dldm, sum(y - p) AS dldb,
                     -sum(x * x * p * (1.0 - p)) AS ha,
                     -sum(x * p * (1.0 - p)) AS hb,
                     -sum(p * (1.0 - p)) AS hd,
                     count(*) AS n
              FROM d)
            SELECT round(-0.001 - (hd * dldm - hb * dldb) / (ha * hd - hb * hb), 6) AS m,
                   round(0.002 - (-hb * dldm + ha * dldb) / (ha * hd - hb * hb), 6) AS b,
                   n AS value_is_p_n
            FROM s
        """,
        "theta_bigram_overlap": f"""
            WITH toks AS (
              SELECT source, string_split(text, ' ') AS t
              FROM documents WHERE source IN ('src0', 'src1')
            ), bi AS (
              SELECT source, t[i] || ' ' || t[i+1] AS big
              FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
            ), a AS (SELECT DISTINCT big FROM bi WHERE source = 'src0'),
               b AS (SELECT DISTINCT big FROM bi WHERE source = 'src1'),
            c AS (
              SELECT
                (SELECT count(*) FROM (SELECT big FROM a UNION SELECT big FROM b)) AS u,
                (SELECT count(*) FROM (SELECT big FROM a INTERSECT SELECT big FROM b)) AS i,
                (SELECT count(*) FROM (SELECT big FROM a EXCEPT SELECT big FROM b)) AS ao,
                (SELECT count(*) FROM (SELECT big FROM b EXCEPT SELECT big FROM a)) AS bo
            )
            SELECT CAST(u AS BIGINT) AS union_cnt,
                   CAST(i AS BIGINT) AS intersect_cnt,
                   CAST(ao AS BIGINT) AS a_only_cnt,
                   CAST(bo AS BIGINT) AS b_only_cnt,
                   {_sig9_sql('CAST(i AS DOUBLE) / CAST(u AS DOUBLE)')} AS jaccard
            FROM c
        """,
        "step_global": """
            SELECT event_id,
                   lag(value) OVER w AS shift_v,
                   round(coalesce(value - lag(value) OVER w, 0), 6) AS delta_v,
                   round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW), 4) AS rsum_v,
                   count(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS counter_v
            FROM events
            WINDOW w AS (ORDER BY ts, event_id)
        """,
        "slwin_global": """
            SELECT event_id,
                   round(avg(value) OVER (ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING), 6) AS slwin_v
            FROM events
        """,
        "fill_down_global": """
            SELECT event_id,
                   last_value(v2 IGNORE NULLS) OVER (ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v2
            FROM (SELECT event_id, ts,
                         CASE WHEN value < 100 THEN NULL ELSE value END AS v2
                  FROM events)
        """,
        "rank_global": """
            SELECT l_orderkey, l_linenumber, l_quantity,
                   rank() OVER (ORDER BY l_quantity) AS rank
            FROM lineitem
        """,
        "stats1_windowed_global": """
            SELECT event_id,
                   round(avg(value) OVER w, 6) AS wmean,
                   min(value) OVER w AS wmin,
                   max(value) OVER w AS wmax
            FROM events
            WINDOW w AS (ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        "uniq_records": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS count
            FROM orders GROUP BY 1, 2
        """,
        "mad_global": """
            SELECT round(avg(abs(l_quantity -
                   (SELECT avg(l_quantity) FROM lineitem))), 6) AS mad
            FROM lineitem
        """,
        "dsl_put": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                   l_discount, l_returnflag,
                   l_extendedprice * (1 - l_discount) AS gross,
                   CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS bucket,
                   l_returnflag || '-' ||
                     CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS tag,
                   power(l_quantity, 2) AS qsq
            FROM lineitem
        """,
        "dsl_filter": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
            FROM lineitem
            WHERE (l_returnflag = 'R' OR l_returnflag = 'A')
              AND l_quantity >= 30 AND l_discount < 0.05
        """,
        "dsl_put_strings": """
            SELECT p_partkey, p_name, p_type,
                   upper(p_name) AS upper,
                   length(p_name) AS len,
                   regexp_replace(p_name, ' .*', '', 's') AS first,
                   substr(p_type, 1, 5) AS short,
                   regexp_replace(p_name, 'a', 'A') AS swapped
            FROM part
        """,
        "dsl_put_conditional": """
            SELECT o_orderkey, o_totalprice, o_orderpriority,
                   CASE WHEN o_totalprice > 200000 THEN 'L'
                        WHEN o_totalprice > 50000 THEN 'M'
                        ELSE 'S' END AS size,
                   CASE WHEN o_totalprice > 200000 THEN o_totalprice / 1000
                        WHEN o_totalprice > 50000 THEN o_totalprice / 2000
                        ELSE 0 END AS score
            FROM orders
        """,
        "stats1_basic": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS cnt,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(avg(l_quantity), 4) AS mean_qty,
                   min(l_quantity) AS min_qty,
                   max(l_quantity) AS max_qty,
                   round(var_samp(l_quantity), 4) AS var_qty,
                   round(stddev_samp(l_quantity), 4) AS stddev_qty
            FROM lineitem GROUP BY 1, 2
        """,
        "stats1_percentiles_interp": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.90), 4) AS p90,
                   round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
            FROM lineitem GROUP BY 1
        """,
        "percentiles_distributed": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.90), 4) AS p90,
                   round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
            FROM lineitem GROUP BY 1
        """,
        "stats1_percentiles_miller": """
            SELECT l_returnflag,
                   list_sort(list(l_extendedprice))[least(cast(floor(0.50*count(*)) AS BIGINT), count(*)-1) + 1] AS median_np,
                   list_sort(list(l_extendedprice))[least(cast(floor(0.25*count(*)) AS BIGINT), count(*)-1) + 1] AS p25_np,
                   list_sort(list(l_extendedprice))[least(cast(floor(0.90*count(*)) AS BIGINT), count(*)-1) + 1] AS p90_np
            FROM lineitem GROUP BY 1
        """,
        "stats1_mode": """
            WITH counted AS (
              SELECT l_returnflag, l_quantity, count(*) AS cnt,
                     min(l_orderkey * 10 + l_linenumber) AS first_seen
              FROM lineitem GROUP BY 1, 2)
            SELECT l_returnflag, l_quantity AS l_quantity_mode
            FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                         ORDER BY cnt DESC, first_seen ASC) AS rn FROM counted)
            WHERE rn = 1 ORDER BY l_returnflag
        """,
        "count_records": "SELECT l_returnflag, count(*) AS count FROM lineitem GROUP BY 1",
        "count_distinct": """
            SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts
            FROM lineitem GROUP BY 1
        """,
        "count_distinct_combo": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS count
            FROM orders GROUP BY 1, 2
        """,
        "count_distinct_unlashed": """
            SELECT 'o_orderstatus' AS field, o_orderstatus AS value, count(*) AS count
            FROM orders GROUP BY 2
            UNION ALL
            SELECT 'o_orderpriority' AS field, o_orderpriority AS value, count(*) AS count
            FROM orders GROUP BY 2
        """,
        "uniq_counts": "SELECT o_orderpriority, count(*) AS count FROM orders GROUP BY 1",
        "uniq_distinct": "SELECT DISTINCT lang, source FROM documents",
        "uniq_n": "SELECT count(*) AS count FROM (SELECT DISTINCT lang, source FROM documents)",
        "top": """
            SELECT o_orderpriority, top_idx, o_totalprice AS o_totalprice_top FROM (
              SELECT o_orderpriority, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS top_idx
              FROM orders) WHERE top_idx <= 3
        """,
        "most_frequent_tokens": """
            SELECT token, count(*) AS count
            FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
            GROUP BY 1 ORDER BY count DESC, token ASC LIMIT 10
        """,
        "least_frequent_tokens": """
            SELECT token, count(*) AS count
            FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
            GROUP BY 1 ORDER BY count ASC, token ASC LIMIT 10
        """,
        "count_similar": """
            SELECT doc_id, lang, count(*) OVER (PARTITION BY lang) AS count FROM documents
        """,
        "fraction": """
            SELECT o_orderkey, o_orderpriority,
                   round(o_totalprice / sum(o_totalprice) OVER (PARTITION BY o_orderpriority), 6) AS frac
            FROM orders
        """,
        "fraction_cumulative_global": f"""
            SELECT o_orderkey,
                   {_sig9_sql("sum(o_totalprice) OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / sum(o_totalprice) OVER ()")} AS cumfrac
            FROM orders
        """,
        "stats1_iterative": """
            SELECT event_id,
                   count(cents) OVER w AS rcount,
                   CAST(sum(cents) OVER w AS BIGINT) AS rsum,
                   CAST(sum(cents) OVER w AS DOUBLE) / count(cents) OVER w AS rmean,
                   min(cents) OVER w AS rmin,
                   max(cents) OVER w AS rmax
            FROM (SELECT *, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "stats1_iterative_global": """
            SELECT event_id,
                   count(cents) OVER w AS rcount,
                   CAST(sum(cents) OVER w AS DOUBLE) / count(cents) OVER w AS rmean,
                   min(cents) OVER w AS rmin,
                   max(cents) OVER w AS rmax
            FROM (SELECT *, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
            WINDOW w AS (ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "fraction_cumulative": """
            SELECT o_orderkey, o_orderpriority,
                   round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         / sum(o_totalprice) OVER (PARTITION BY o_orderpriority), 6) AS cumfrac
            FROM orders
        """,
        "histogram": """
            SELECT CAST(b * 25000.0 AS DOUBLE) AS bin_lo,
                   CAST((b+1) * 25000.0 AS DOUBLE) AS bin_hi,
                   coalesce(c, 0) AS count
            FROM range(20) t(b)
            LEFT JOIN (SELECT cast(floor(o_totalprice / 25000.0) AS BIGINT) AS b2, count(*) AS c
                       FROM orders WHERE o_totalprice >= 0 AND o_totalprice < 500000
                       GROUP BY 1) h ON b = b2
            ORDER BY bin_lo
        """,
        "merge_fields": """
            SELECT l_orderkey, l_linenumber,
                   least(l_quantity, l_discount, l_tax) AS qdt_min,
                   greatest(l_quantity, l_discount, l_tax) AS qdt_max,
                   round(l_quantity + l_discount + l_tax, 4) AS qdt_sum
            FROM lineitem
        """,
        "stats2": """
            SELECT l_returnflag,
                   round(corr(l_extendedprice, l_quantity), 6) AS corr_qp,
                   round(covar_samp(l_extendedprice, l_quantity), 4) AS cov_qp,
                   round(corr(l_extendedprice, l_quantity)^2, 6) AS r2_qp
            FROM lineitem GROUP BY 1
        """,
        "step": """
            SELECT event_id, user_id, value,
                   lag(value) OVER w AS shift_v,
                   round(coalesce(value - lag(value) OVER w, 0), 6) AS delta_v,
                   round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS rsum_v,
                   count(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS counter_v
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "slwin": """
            SELECT event_id,
                   round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS slwin_v
            FROM events
        """,
        "fill_down": """
            SELECT event_id, user_id,
                   last_value(CASE WHEN value < 100 THEN NULL ELSE value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v2
            FROM events
        """,
        "fill_empty": """
            SELECT doc_id, CASE WHEN lang = 'en' THEN 'N/A' ELSE source END AS src2
            FROM documents
        """,
        "rank": """
            SELECT l_orderkey, l_linenumber, l_quantity,
                   rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity ASC) AS rank
            FROM lineitem
        """,
        "decimate": """
            SELECT o_orderkey, o_totalprice FROM (
              SELECT o_orderkey, o_totalprice, row_number() OVER (ORDER BY o_orderkey) AS rn
              FROM orders) WHERE rn % 10 = 0
        """,
        "head_group": """
            SELECT o_orderkey, o_orderstatus FROM (
              SELECT o_orderkey, o_orderstatus,
                     row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn
              FROM orders) WHERE rn <= 2
        """,
        "tail_group": """
            SELECT o_orderkey, o_orderstatus FROM (
              SELECT o_orderkey, o_orderstatus,
                     row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey DESC) AS rn
              FROM orders) WHERE rn <= 2
        """,
        "cat_numbered": """
            SELECT row_number() OVER (ORDER BY r_regionkey) AS n, r_regionkey, r_name
            FROM region
        """,
        "join_inner": """
            SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
        "join_anti": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "join_left_outer": """
            SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON o_custkey = c_custkey
            GROUP BY 1, 2
        """,
        "nest_explode": """
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        """,
        "nest_implode": """
            SELECT doc_id, array_to_string(list_sort(string_split(text, ' ')), ' ') AS sorted_text
            FROM documents
        """,
        "reshape_l2w": """
            SELECT user_id,
                   round(avg(CASE WHEN event_type = 'click' THEN value END), 6) AS click,
                   round(avg(CASE WHEN event_type = 'error' THEN value END), 6) AS error,
                   round(avg(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase,
                   round(avg(CASE WHEN event_type = 'signup' THEN value END), 6) AS signup,
                   round(avg(CASE WHEN event_type = 'view' THEN value END), 6) AS view
            FROM events GROUP BY 1
        """,
        "reshape_w2l": """
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        """,
        "sec2gmt": """
            SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_gmt,
                   cast(ts AS DATE) AS ts_date
            FROM events
        """,
        "seqgen": "SELECT i FROM range(1, 101) t(i)",
        "case_upper": "SELECT p_partkey, upper(p_name) AS p_name FROM part",
        "gsub": "SELECT p_partkey, regexp_replace(p_name, '[aeiou]', '*', 'g') AS p_name FROM part",
        "clean_whitespace": """
            SELECT p_partkey,
                   regexp_replace(trim('  ' || p_name || '   x  '), '\\s+', ' ', 'g') AS messy
            FROM part
        """,
        "repeat": """
            SELECT r_regionkey, r_name FROM region, range(3)
        """,
        "template": """
            SELECT r_regionkey, r_name, CAST(NULL AS VARCHAR) AS extra FROM region
        """,
        "json_parse": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
        """,
        "grep": """
            SELECT doc_id FROM documents WHERE regexp_matches(text, 'batch join')
        """,
        "sort_multi": """
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
            ORDER BY o_orderstatus ASC, o_totalprice DESC
        """,
        "token_count": """
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
        """,
        "quality_score": """
            WITH f AS (
              SELECT doc_id,
                     length(text) AS nc,
                     len(string_split(text, ' ')) AS nt,
                     len(list_filter(string_split(text, ' '), t -> t = 'the'))
                     + len(list_filter(string_split(text, ' '), t -> t = 'and'))
                     + len(list_filter(string_split(text, ' '), t -> t = 'of')) AS stop,
                     length(regexp_replace(text, '[a-z ]', '', 'g')) AS nonalpha
              FROM documents)
            SELECT doc_id,
                   round(least(nc / 500.0, 1.0), 6) AS len_score,
                   round((nc - nonalpha) * 1.0 / nc, 6) AS alpha_ratio,
                   round(least(10.0 * stop / nt, 1.0), 6) AS stop_ratio,
                   round((least(nc / 500.0, 1.0) + (nc - nonalpha) * 1.0 / nc
                          + least(10.0 * stop / nt, 1.0)) / 3.0, 6) AS quality_score
            FROM f
        """,
        "lang_id": """
            WITH s AS (
              SELECT doc_id,
                len(list_filter(string_split(text,' '), t -> t='der'))
                + len(list_filter(string_split(text,' '), t -> t='und'))
                + len(list_filter(string_split(text,' '), t -> t='die')) AS s_de,
                len(list_filter(string_split(text,' '), t -> t='the'))
                + len(list_filter(string_split(text,' '), t -> t='and'))
                + len(list_filter(string_split(text,' '), t -> t='of')) AS s_en,
                len(list_filter(string_split(text,' '), t -> t='el'))
                + len(list_filter(string_split(text,' '), t -> t='de'))
                + len(list_filter(string_split(text,' '), t -> t='los')) AS s_es,
                len(list_filter(string_split(text,' '), t -> t='le'))
                + len(list_filter(string_split(text,' '), t -> t='et'))
                + len(list_filter(string_split(text,' '), t -> t='les')) AS s_fr,
                len(list_filter(string_split(text,' '), t -> t='i'))
                + len(list_filter(string_split(text,' '), t -> t='v'))
                + len(list_filter(string_split(text,' '), t -> t='ne')) AS s_ru
              FROM documents)
            SELECT doc_id,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_ru) = 0 THEN 'und'
                        WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_ru) THEN 'de'
                        WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_ru) THEN 'en'
                        WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_ru) THEN 'es'
                        WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_ru) THEN 'fr'
                        ELSE 'ru' END AS lang_pred
            FROM s
        """,
        "fingerprint": "SELECT doc_id, md5(text) AS fp FROM documents",
        "dedup_exact_stats": """
            SELECT count(*) AS n_rows, count(DISTINCT md5(text)) AS n_unique FROM documents
        """,
        "dedup_keep_first": """
            SELECT doc_id, lang FROM documents
            WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
        """,
        "ngram_jaccard": """
            WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
                       FROM documents WHERE lang = 'de')
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.toks, b.toks)) * 1.0
                         / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
            FROM t a, t b
            WHERE a.doc_id < b.doc_id
              AND len(list_intersect(a.toks, b.toks)) * 1.0
                  / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
        """,
        "ann_brute_force": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cosine
            FROM embeddings, q
            ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id ASC
            LIMIT 10
        """,
        "stats1_extended": f"""
            WITH m AS (
              SELECT l_returnflag,
                     count(l_quantity) AS n,
                     sum(l_quantity) AS s1,
                     sum(l_quantity*l_quantity) AS s2,
                     sum(l_quantity*l_quantity*l_quantity) AS s3,
                     sum(l_quantity*l_quantity*l_quantity*l_quantity) AS s4,
                     sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS nullc,
                     count(DISTINCT l_quantity) AS distc,
                     min(length(CAST(l_quantity AS VARCHAR))) AS minlen,
                     max(length(CAST(l_quantity AS VARCHAR))) AS maxlen,
                     var_samp(l_quantity) AS vs
              FROM lineitem GROUP BY 1)
            SELECT l_returnflag,
                   CAST(nullc AS BIGINT) AS null_cnt,
                   distc AS dist_cnt,
                   minlen, maxlen,
                   {_sig9_sql("sqrt(vs / n)")} AS meaneb,
                   {_sig9_sql("((s3 - (s1/n)*(3.0*s2 - 2.0*n*(s1/n)*(s1/n))) / n) / pow((s2 - n*(s1/n)*(s1/n)) / (n-1), 1.5)")} AS skew,
                   {_sig9_sql("((s4 - (s1/n)*(4.0*s3 - (s1/n)*(6.0*s2 - 3.0*n*(s1/n)*(s1/n)))) / n) / pow((s2 - n*(s1/n)*(s1/n)) / n, 2) - 3.0")} AS kurt
            FROM m
        """,
        "stats1_mad": """
            SELECT l_returnflag, round(avg(abs(l_quantity - m)), 6) AS mad
            FROM (SELECT l_returnflag, l_quantity,
                         avg(l_quantity) OVER (PARTITION BY l_returnflag) AS m
                  FROM lineitem)
            GROUP BY 1
        """,
        "stats1_iqr_fences": """
            WITH s AS (
              SELECT l_returnflag,
                     list_sort(list(l_extendedprice))[least(cast(floor(0.25*count(*)) AS BIGINT), count(*)-1) + 1] AS p25,
                     list_sort(list(l_extendedprice))[least(cast(floor(0.75*count(*)) AS BIGINT), count(*)-1) + 1] AS p75
              FROM lineitem GROUP BY 1)
            SELECT l_returnflag,
                   round(p75 - p25, 4) AS iqr,
                   round(p25 - 3.0*(p75-p25), 4) AS lof,
                   round(p25 - 1.5*(p75-p25), 4) AS lif,
                   round(p75 + 1.5*(p75-p25), 4) AS uif,
                   round(p75 + 3.0*(p75-p25), 4) AS uof
            FROM s
        """,
        "stats1_antimode": """
            WITH counted AS (
              SELECT l_returnflag, l_quantity, count(*) AS cnt,
                     min(l_orderkey * 10 + l_linenumber) AS first_seen
              FROM lineitem GROUP BY 1, 2)
            SELECT l_returnflag, l_quantity AS l_quantity_antimode
            FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                         ORDER BY cnt ASC, first_seen ASC) AS rn FROM counted)
            WHERE rn = 1 ORDER BY l_returnflag
        """,
        "stats2_linreg": f"""
            WITH m AS (
              SELECT l_returnflag,
                     count(*) AS n,
                     avg(l_quantity) AS xbar, avg(l_extendedprice) AS ybar,
                     covar_pop(l_quantity, l_extendedprice) AS cxy_p,
                     var_pop(l_quantity) AS vx_p,
                     var_samp(l_quantity) AS sxx,
                     var_samp(l_extendedprice) AS syy,
                     covar_samp(l_quantity, l_extendedprice) AS sxy
              FROM lineitem GROUP BY 1),
            pca AS (
              SELECT *,
                     (sxx + syy + sqrt((sxx-syy)*(sxx-syy) + 4*sxy*sxy)) / 2 AS l1,
                     (sxx + syy - sqrt((sxx-syy)*(sxx-syy) + 4*sxy*sxy)) / 2 AS l2
              FROM m)
            SELECT l_returnflag,
                   {_sig9_sql("cxy_p / vx_p")} AS ols_m,
                   {_sig9_sql("ybar - (cxy_p / vx_p) * xbar")} AS ols_b,
                   {_sig9_sql("(l1 - sxx) / sxy")} AS pca_m,
                   {_sig9_sql("ybar - ((l1 - sxx) / sxy) * xbar")} AS pca_b,
                   n AS pca_n,
                   {_sig9_sql("CASE WHEN abs(l1) = 0 THEN 0.0 ELSE 1.0 - abs(l2)/abs(l1) END")} AS pca_q
            FROM pca
        """,
        "stats2_covx": """
            SELECT l_returnflag,
                   round(var_samp(l_quantity), 6) AS xx,
                   round(covar_samp(l_quantity, l_extendedprice), 6) AS xy,
                   round(var_samp(l_extendedprice), 6) AS yy
            FROM lineitem GROUP BY 1
        """,
        "step_advanced": """
            SELECT event_id,
                   round(lead(value) OVER w, 6) AS lead_v,
                   coalesce(round(value / lag(value) OVER w, 6), 1) AS ratio_v,
                   round(value - first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS fromfirst_v,
                   round(lag(value, 2) OVER w, 6) AS lag2_v,
                   round(coalesce(value - lag(value, 2) OVER w, 0), 6) AS delta2_v
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "stats1_windowed": """
            SELECT event_id,
                   round(avg(value) OVER w5, 6) AS wmean,
                   round(min(value) OVER w5, 6) AS wmin,
                   round(max(value) OVER w5, 6) AS wmax
            FROM events WINDOW w5 AS (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        "summary": f"""
            SELECT 'o_orderkey' AS field_name, 'bigint' AS field_type,
                   count(*) AS count,
                   CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
                   count(DISTINCT o_orderkey) AS distinct_count,
                   {_sig9_sql("sum(CAST(o_orderkey AS DOUBLE))")} AS sum,
                   {_sig9_sql("avg(CAST(o_orderkey AS DOUBLE))")} AS mean,
                   {_sig9_sql("min(CAST(o_orderkey AS DOUBLE))")} AS min,
                   {_sig9_sql("max(CAST(o_orderkey AS DOUBLE))")} AS max,
                   {_sig9_sql("var_samp(CAST(o_orderkey AS DOUBLE))")} AS var,
                   {_sig9_sql("stddev_samp(CAST(o_orderkey AS DOUBLE))")} AS stddev,
                   {_sig9_sql("list_sort(list(CAST(o_orderkey AS DOUBLE)))[least(cast(floor(0.5*count(o_orderkey)) AS BIGINT), count(o_orderkey)-1) + 1]")} AS median,
                   min(length(CAST(o_orderkey AS VARCHAR))) AS minlen,
                   max(length(CAST(o_orderkey AS VARCHAR))) AS maxlen
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', 'double',
                   count(*),
                   CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   count(DISTINCT o_totalprice),
                   {_sig9_sql("sum(o_totalprice)")},
                   {_sig9_sql("avg(o_totalprice)")},
                   {_sig9_sql("min(o_totalprice)")},
                   {_sig9_sql("max(o_totalprice)")},
                   {_sig9_sql("var_samp(o_totalprice)")},
                   {_sig9_sql("stddev_samp(o_totalprice)")},
                   {_sig9_sql("list_sort(list(o_totalprice))[least(cast(floor(0.5*count(o_totalprice)) AS BIGINT), count(o_totalprice)-1) + 1]")},
                   min(length(CAST(o_totalprice AS VARCHAR))),
                   max(length(CAST(o_totalprice AS VARCHAR)))
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', 'string',
                   count(*),
                   CAST(sum(CASE WHEN o_orderstatus IS NULL OR o_orderstatus = '' THEN 1 ELSE 0 END) AS BIGINT),
                   count(DISTINCT o_orderstatus),
                   NULL, NULL, NULL, NULL, NULL, NULL, NULL,
                   min(length(o_orderstatus)),
                   max(length(o_orderstatus))
            FROM orders
        """,
        "sort_natural": """
            SELECT 'doc' || CAST(doc_id AS VARCHAR) AS name,
                   row_number() OVER (ORDER BY doc_id, 'doc' || CAST(doc_id AS VARCHAR)) AS rk
            FROM documents
        """,
        "tac": """
            SELECT r_regionkey,
                   row_number() OVER (ORDER BY r_regionkey DESC) AS rn
            FROM region
        """,
        "sub_first": """
            SELECT p_partkey, regexp_replace(p_name, '[aeiou]', '*') AS p_name FROM part
        """,
        "format_values": """
            SELECT l_orderkey, l_linenumber, printf('%.4f', l_discount) AS l_discount
            FROM lineitem
        """,
        "cut_rename_reorder": """
            SELECT l_quantity AS qty, l_orderkey, l_linenumber FROM lineitem
        """,
        "label": "SELECT r_regionkey AS rk, r_name AS rname FROM region",
        "having_fields": """
            SELECT event_id, value AS v2 FROM events WHERE value >= 100
        """,
        "sec2gmtdate": """
            SELECT event_id, strftime(ts, '%Y-%m-%d') AS epoch FROM events
        """,
        "gmt2sec": """
            SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS iso FROM events
        """,
        "altkv": """
            SELECT p_name AS key, p_brand AS value FROM part
            UNION ALL
            SELECT p_type, CAST(p_size AS VARCHAR) FROM part
        """,
        "flatten": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS "props.k"
            FROM events
        """,
        "json_stringify": """
            SELECT event_id,
                   '{"user_id":' || CAST(user_id AS VARCHAR) || ',"event_type":"' || event_type || '"}' AS js
            FROM events
        """,
        "remove_empty_columns": """
            SELECT event_id, user_id FROM events
        """,
        "surv_km": f"""
            WITH per AS (
              SELECT CAST(floor(value/50) AS BIGINT) AS t, count(*) AS c,
                     sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS d
              FROM events GROUP BY 1),
            w AS (
              SELECT t, c, d,
                     sum(c) OVER () AS total,
                     coalesce(sum(c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
              FROM per)
            SELECT t, CAST(total - prior AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_events,
                   {_sig9_sql("exp(sum(CASE WHEN d < total - prior THEN ln(1 - d*1.0/(total-prior)) ELSE '-infinity'::DOUBLE END) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))")} AS survival
            FROM w ORDER BY t
        """,
        "merge_fields_var": """
            SELECT l_orderkey, l_linenumber,
                   round(((l_quantity*l_quantity + l_discount*l_discount + l_tax*l_tax)
                          - (l_quantity + l_discount + l_tax)*(l_quantity + l_discount + l_tax)/3) / 2, 6) AS qdt_var,
                   round(sqrt(((l_quantity*l_quantity + l_discount*l_discount + l_tax*l_tax)
                          - (l_quantity + l_discount + l_tax)*(l_quantity + l_discount + l_tax)/3) / 2), 6) AS qdt_stddev
            FROM lineitem
        """,
        "count_distinct_n": """
            SELECT count(*) AS count
            FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        """,
        "top_full": """
            SELECT o_orderkey, o_orderpriority, o_totalprice, top_idx FROM (
              SELECT o_orderkey, o_orderpriority, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS top_idx
              FROM orders) WHERE top_idx <= 2
        """,
        "bpe_token_count": """
            SELECT doc_id,
                   len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
            FROM documents
        """,
        "embedding_near_dups": """
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                       FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
            FROM v a, v b
            WHERE a.vec_id < b.vec_id
              AND list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.45
        """,
        "ann_ivf": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cosine
            FROM embeddings, q
            ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id ASC
            LIMIT 10
        """,
        # LSH gate configs are exhaustively recall-1 (see the query
        # docstrings), so the brute-force SQL is the oracle verbatim.
        "embedding_near_dups_lsh": """
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                       FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
            FROM v a, v b
            WHERE a.vec_id < b.vec_id
              AND list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.45
        """,
        "ann_lsh": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cosine
            FROM embeddings, q
            ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id ASC
            LIMIT 10
        """,
        # simhash gate: recall-1 pigeonhole blocking => output == the
        # brute-force Hamming pair set over the SAME md5-60 token-hash
        # simhash, computed here from first principles (64 bit votes).
        "simhash_near_dups": f"""
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents WHERE doc_id < 100
            ),
            h AS (SELECT doc_id, {_md5h('t')} AS th FROM toks),
            sh AS (
              SELECT doc_id, ({_simhash_bits}) AS simhash
              FROM h GROUP BY doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
        """,
        # minhash gate: the md5 hash family + bands == n_hashes pipeline
        # mirrored op-for-op (shingles -> 16 permutation minima ->
        # >=1-agreeing-component candidates -> agreement filter).
        "minhash_near_dups": f"""
            WITH docs AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
            sh AS (
              SELECT doc_id,
                     unnest(list_transform(range(greatest(len(tk) - 4, 1)),
                            i -> array_to_string(list_slice(tk, i + 1, i + 5), ' '))) AS s
              FROM docs
            ),
            sigs AS (
              SELECT doc_id,
                 {_mh_sigs}
              FROM sh GROUP BY doc_id
            ),
            lng AS (
              SELECT doc_id, unnest({_mh_list}) AS sig, unnest(range(16)) AS j FROM sigs
            ),
            cand AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM lng a JOIN lng b ON a.j = b.j AND a.sig = b.sig AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT c.id_a, c.id_b, ({_mh_agree}) / 16.0 AS jaccard_est
            FROM cand c
            JOIN sigs sa ON sa.doc_id = c.id_a
            JOIN sigs sb ON sb.doc_id = c.id_b
            WHERE ({_mh_agree}) / 16.0 >= 0.9
        """,
        # deterministic Poisson bootstrap: multiplicity from the SAME
        # md5-60 hash + integer Poisson(1) thresholds as the Spark side
        "bootstrap": f"""
            SELECT o_orderkey FROM (
              SELECT o_orderkey, unnest(range(c)) AS rep FROM (
                SELECT o_orderkey, {_pois(_boot_h)} AS c FROM orders
              )
            )
        """,
        "bootstrap_ci": f"""
            WITH base AS (
              SELECT o_orderpriority AS g,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                     CAST(o_orderkey AS VARCHAR) AS k
              FROM orders
            ),
            boots AS (SELECT g, cents, k, unnest(range(100)) AS b FROM base),
            cs AS (SELECT g, b, cents, {_pois(_ci_h)} AS c FROM boots),
            bm AS (
              SELECT g, b,
                     CAST(sum(c * cents) AS BIGINT) / (100.0 * CAST(sum(c) AS BIGINT)) AS m
              FROM cs GROUP BY g, b
            ),
            ci AS (SELECT g, quantile_cont(m, 0.025) AS lo,
                          quantile_cont(m, 0.975) AS hi FROM bm GROUP BY g),
            mn AS (SELECT g, CAST(sum(cents) AS BIGINT) / (100.0 * count(*)) AS mean
                   FROM base GROUP BY g)
            SELECT g AS o_orderpriority,
                   {_sig9_sql('mean')} AS price_mean,
                   {_sig9_sql('lo')} AS price_ci_lo,
                   {_sig9_sql('hi')} AS price_ci_hi
            FROM mn JOIN ci USING (g)
        """,
        "shuffle": "SELECT o_orderkey, o_totalprice FROM orders",
        "group_by_stream": "SELECT o_orderkey, o_orderpriority FROM orders",
        # ewma closed form: per-row fold over the ordered prefix — the
        # y_t = a*x_t + (1-a)*y_{t-1} recursion Miller uses (step.go:647)
        "ewma": f"""
            SELECT event_id,
                   {_sig9_sql("list_reduce(lst, (acc, v) -> 0.3*v + 0.7*acc)")} AS ewma_v
            FROM (SELECT event_id,
                         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lst
                  FROM events)
        """,
        # deterministic seeded hash-sample: rank by md5('42' \\x01 pk)
        "sample_per_group": """
            SELECT o_orderpriority, o_orderkey FROM (
              SELECT o_orderpriority, o_orderkey,
                     row_number() OVER (PARTITION BY o_orderpriority
                         ORDER BY md5('42' || chr(1) || CAST(o_orderkey AS VARCHAR))) AS rn
              FROM orders) WHERE rn <= 5
        """,
    }
