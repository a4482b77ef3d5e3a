"""Golden parity against the reference's OWN regression corpus.

Each test replays a case from /root/reference/test/cases/<case>/cmd on
the case's original input file and compares our verbs' output against
the checked-in `expout` byte-derived values (numeric fields compared at
the reference's print precision, MLR_OFMT=%.8f — regtester.go:161).
This is the strongest parity evidence available: the reference's test
suite defines its semantics (SURVEY.md §5.1).

Only test DATA is read from the reference (inputs + expected outputs);
all computation is ours. Skipped wholesale if the reference checkout is
absent.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mlrsketch.verbs import exact as ev  # noqa: E402

REF = "/root/reference/test"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference checkout not present"
)


# ---------------------------------------------------------------------------
# parsers for the reference's formats (DKVP / XTAB / PPRINT / CSV)
# ---------------------------------------------------------------------------


def parse_dkvp(path: str) -> list[dict]:
    recs = []
    with open(os.path.join(REF, "input", path)) as f:
        for line in f:
            line = line.rstrip("\n")
            if not line:
                continue
            rec = {}
            for pair in line.split(","):
                k, _, v = pair.partition("=")
                rec[k] = v
            recs.append(rec)
    return recs


def parse_csv(path: str) -> list[dict]:
    with open(os.path.join(REF, "input", path)) as f:
        lines = [ln.rstrip("\n") for ln in f if ln.strip() != "" or True]
    header = lines[0].split(",")
    return [dict(zip(header, ln.split(","))) for ln in lines[1:] if ln != ""]


def _expout(case: str) -> str:
    with open(os.path.join(REF, "cases", case, "expout")) as f:
        return f.read()


def parse_xtab_out(case: str) -> list[dict]:
    recs, cur = [], {}
    for line in _expout(case).splitlines():
        if not line.strip():
            if cur:
                recs.append(cur)
                cur = {}
            continue
        k, v = line.split(None, 1)
        cur[k] = v.strip()
    if cur:
        recs.append(cur)
    return recs


def parse_pprint_out(case: str) -> list[dict]:
    recs = []
    for chunk in _expout(case).split("\n\n"):
        clines = [ln for ln in chunk.splitlines() if ln.strip()]
        if not clines:
            continue
        header = clines[0].split()
        recs.extend(dict(zip(header, ln.split())) for ln in clines[1:])
    return recs


def parse_dkvp_out(case: str) -> list[dict]:
    recs = []
    for line in _expout(case).splitlines():
        if not line.strip():
            continue
        rec = {}
        for pair in line.split(","):
            k, _, v = pair.partition("=")
            rec[k] = v
        recs.append(rec)
    return recs


def parse_csv_out(case: str) -> list[dict]:
    lines = [ln for ln in _expout(case).splitlines() if ln != ""]
    header = lines[0].split(",")
    return [dict(zip(header, ln.split(","))) for ln in lines[1:]]


# ---------------------------------------------------------------------------
# DataFrame construction with Miller-ish type inference
# ---------------------------------------------------------------------------


from mlrsketch.mlrcli import _infer, _infer_keep_void, to_df  # noqa: E402,F401


# ---------------------------------------------------------------------------
# tolerant comparison (reference prints floats at %.8f)
# ---------------------------------------------------------------------------


import re as _canon_re

_FLOAT_TOKEN = _canon_re.compile(r"-?\d+\.\d+(?:[eE][+-]?\d+)?")


def _canon(v):
    if v is None or v == "-" or v == "":
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    try:
        return float(v)
    except (TypeError, ValueError):
        pass
    s = str(v)
    if any(c.isdigit() for c in s):
        # the reference regtester compares floats at 8-decimal print
        # precision; normalize float tokens EMBEDDED in strings (e.g.
        # "0.34679014_0.72680286" from dot-concat) the same way
        def q(m):
            try:
                t = ("%.8f" % float(m.group(0))).rstrip("0").rstrip(".")
                return t if t else "0"
            except (ValueError, OverflowError):
                return m.group(0)

        s = _FLOAT_TOKEN.sub(q, s)
    return s


def _vals_close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        # reference prints %.8f (regtester.go:161): parsed values carry
        # up to 5e-9 quantization — compare at that precision, not
        # decimal-rounding boundaries
        import math

        return math.isclose(a, b, rel_tol=1e-6, abs_tol=2.5e-7)
    return a == b


def assert_matches(got: list[dict], exp: list[dict], ordered: bool = False):
    def norm(recs):
        out = []
        for r in recs:
            items = tuple(
                sorted((k, _canon(v)) for k, v in r.items() if _canon(v) is not None)
            )
            out.append(items)
        if not ordered:
            out = sorted(
                out,
                key=lambda rec: tuple(
                    (k, f"{round(v, 5):020.5f}" if isinstance(v, float) else str(v))
                    for k, v in rec
                ),
            )
        return out

    g, e = norm(got), norm(exp)
    assert len(g) == len(e), f"row count {len(g)} != {len(e)}"
    for gr, er in zip(g, e):
        assert len(gr) == len(er), f"\ngot:  {gr}\nwant: {er}"
        for (gk, gv), (ek, ev_) in zip(gr, er):
            assert gk == ek and _vals_close(gv, ev_), f"\ngot:  {gr}\nwant: {er}"


def collect_dicts(df) -> list[dict]:
    # __-prefixed columns are engine carriers (order, per-record key
    # order) the CLI strips at render; strip them here the same way
    return [
        {k: v for k, v in r.asDict().items() if not k.startswith("__")}
        for r in df.collect()
    ]


# ---------------------------------------------------------------------------
# cases
# ---------------------------------------------------------------------------


def test_stats1_0001_all_basic_accs(spark):
    # mlr --oxtab stats1 -a mean,sum,count,min,max,antimode,mode,mad -f i,x,y
    df = to_df(spark, parse_dkvp("abixy"))
    exp = parse_xtab_out("verb-stats1/0001")[0]
    base = ev.stats1(df, ["mean", "sum", "count", "min", "max"], ["i", "x", "y"]).first().asDict()
    got = dict(base)
    for f_ in ["i", "x", "y"]:
        got[f"{f_}_mad"] = ev.mad(df, f_).first()[f"{f_}_mad"]
        got[f"{f_}_mode"] = ev.mode_impl(df, f_, by=[]).first()[f"{f_}_mode"]
        got[f"{f_}_antimode"] = ev.mode_impl(df, f_, by=[], anti=True).first()[f"{f_}_antimode"]
    assert_matches([got], [exp])


def test_stats1_0002_percentiles_noninterp(spark):
    # mlr --oxtab stats1 -a min,p10,p50,median,antimode,mode,p90,max -f i,x,y
    df = to_df(spark, parse_dkvp("abixy"))
    exp = parse_xtab_out("verb-stats1/0002")[0]
    got = ev.stats1(df, ["min", "p10", "p50", "median", "p90", "max"], ["i", "x", "y"]).first().asDict()
    for f_ in ["i", "x", "y"]:
        got[f"{f_}_mode"] = ev.mode_impl(df, f_, by=[]).first()[f"{f_}_mode"]
        got[f"{f_}_antimode"] = ev.mode_impl(df, f_, by=[], anti=True).first()[f"{f_}_antimode"]
    assert_matches([got], [exp])


def test_stats1_0003_meaneb_stddev(spark):
    df = to_df(spark, parse_dkvp("abixy"))
    exp = parse_xtab_out("verb-stats1/0003")[0]
    got = ev.stats1(df, ["mean", "meaneb", "stddev"], ["i", "x", "y"]).first().asDict()
    assert_matches([got], [exp])


def test_count_distinct_0001_0002_0003(spark):
    # inputs: small + abixy concatenated (multi-file implicit union)
    recs = parse_dkvp("small") + parse_dkvp("abixy")
    df = to_df(spark, recs)
    assert_matches(
        collect_dicts(ev.count_distinct(df, ["a"])),
        parse_dkvp_out("verb-count-distinct/0001"),
    )
    assert_matches(
        collect_dicts(ev.count_distinct(df, ["a", "b"])),
        parse_dkvp_out("verb-count-distinct/0002"),
    )
    got_unlashed = collect_dicts(ev.count_distinct(df, ["a", "b"], unlashed=True))
    assert_matches(got_unlashed, parse_dkvp_out("verb-count-distinct/0003"))


def test_count_0001_0002_0003(spark):
    df = to_df(spark, parse_dkvp("medium.dkvp"))
    assert_matches(collect_dicts(ev.count_records(df)), parse_pprint_out("verb-count/0001"))
    assert_matches(
        collect_dicts(ev.count_records(df, by=["a"])), parse_pprint_out("verb-count/0002")
    )
    assert_matches(
        collect_dicts(ev.count_records(df, by=["a", "b"])),
        parse_pprint_out("verb-count/0003"),
    )


def test_step_0001_ungrouped(spark):
    # rsum,rprod,shift,delta,counter over x,y in stream order
    df = to_df(spark, parse_dkvp("abixy"))
    got = (
        ev.step(df, ["rsum", "rprod", "shift", "delta", "counter"], ["x", "y"],
                order_by=["__ord"])
        .orderBy("__ord")
        .drop("__ord")
    )
    assert_matches(collect_dicts(got), parse_pprint_out("verb-step/0001"), ordered=True)


def test_step_0003_ewma_grouped(spark):
    # mlr step -a ewma -d 0.1,0.9 -f x,y -g a  (column names x_ewma_0.1)
    df = to_df(spark, parse_dkvp("abixy"))
    got = (
        ev.step(df, [], ["x", "y"], order_by=["__ord"], by=["a"],
                ewma_alphas=[0.1, 0.9])
        .orderBy("__ord")
        .drop("__ord")
    )
    renames = {f"{f_}_ewma_0_{d}": f"{f_}_ewma_0.{d}" for f_ in "xy" for d in (1, 9)}
    got = got.withColumnsRenamed(renames)
    assert_matches(collect_dicts(got), parse_pprint_out("verb-step/0003"), ordered=True)


def test_fraction_0001_het(spark):
    df = to_df(spark, parse_dkvp("abixy-het"))
    got = (
        ev.fraction(df, "x")
        .withColumnRenamed("x_fraction", "x_fraction_tmp")
    )
    got = ev.fraction(got, "y").withColumnRenamed("x_fraction_tmp", "x_fraction")
    assert_matches(
        collect_dicts(got.orderBy("__ord").drop("__ord")),
        parse_xtab_out("verb-fraction/0001"),
        ordered=True,
    )


def test_head_tail_0001_het(spark):
    df = to_df(spark, parse_dkvp("abixy-het"))
    assert_matches(
        collect_dicts(ev.head(df, 2, order_by=["__ord"]).drop("__ord")),
        parse_dkvp_out("verb-head/0001"),
        ordered=True,
    )
    assert_matches(
        collect_dicts(ev.tail(df, 2, order_by=["__ord"]).orderBy("__ord").drop("__ord")),
        parse_dkvp_out("verb-tail/0001"),
        ordered=True,
    )


def test_decimate_0001(spark):
    df = to_df(spark, parse_dkvp("abixy"))
    got = ev.decimate(df, 4, order_by=["__ord"]).orderBy("__ord").drop("__ord")
    assert_matches(collect_dicts(got), parse_dkvp_out("verb-decimate/0001"), ordered=True)


def test_top_0001_two_fields_lashed(spark):
    # mlr top -f x,y -n 2: multi-field top is LASHED — only records with
    # ALL requested fields numeric are candidates (row 5 lacks x, row 8
    # lacks y; Miller's expout excludes BOTH from the y ranking too)
    df = to_df(spark, parse_dkvp("abixy-het")).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    tx = ev.top(df, "x", n=2)
    ty = ev.top(df, "y", n=2)
    got = collect_dicts(tx.join(ty, "top_idx").orderBy("top_idx"))
    assert_matches(got, parse_dkvp_out("verb-top/0001"), ordered=True)


def test_stats2_0001_full_surface(spark):
    # linreg-ols,linreg-pca,r2,corr,cov over (x,y) and (xy,y2), abixy-wide
    df = to_df(spark, parse_dkvp("abixy-wide"))
    exp = parse_xtab_out("verb-stats2/0001")[0]
    got = {}
    for xf, yf in [("x", "y"), ("xy", "y2")]:
        r = ev.stats2(df, xf, yf, ["linreg-ols", "linreg-pca", "r2", "corr", "cov"]).first()
        n = df.count()
        got[f"{xf}_{yf}_ols_m"] = r[f"{xf}_{yf}_m"]
        got[f"{xf}_{yf}_ols_b"] = r[f"{xf}_{yf}_b"]
        got[f"{xf}_{yf}_ols_n"] = n
        got[f"{xf}_{yf}_pca_m"] = r[f"{xf}_{yf}_pca_m"]
        got[f"{xf}_{yf}_pca_b"] = r[f"{xf}_{yf}_pca_b"]
        got[f"{xf}_{yf}_pca_n"] = r[f"{xf}_{yf}_pca_n"]
        got[f"{xf}_{yf}_pca_quality"] = r[f"{xf}_{yf}_pca_quality"]
        got[f"{xf}_{yf}_r2"] = r[f"{xf}_{yf}_r2"]
        got[f"{xf}_{yf}_corr"] = r[f"{xf}_{yf}_corr"]
        got[f"{xf}_{yf}_cov"] = r[f"{xf}_{yf}_cov"]
    assert_matches([got], [exp])


def test_rank_0001_0002_0003(spark):
    for case, path, by in [
        ("verb-rank/0001", "rank-data.csv", []),
        ("verb-rank/0002", "rank-data-unsorted.csv", []),
        ("verb-rank/0003", "rank-data-grouped.csv", ["g"]),
    ]:
        df = to_df(spark, parse_csv(path))
        got = (
            ev.rank(df, "x", by=by)
            .withColumnRenamed("rank", "x_rank")
            .orderBy("__ord")
            .drop("__ord")
        )
        assert_matches(collect_dicts(got), parse_csv_out(case), ordered=True)


def test_sort_0002_0003_lexical(spark):
    df = to_df(spark, parse_dkvp("s.dkvp"))
    for case, spec in [("verb-sort/0002", [("a", "f")]), ("verb-sort/0003", [("a", "r")])]:
        got = ev.sort(df.drop("__ord"), spec)
        assert_matches(collect_dicts(got), parse_pprint_out(case), ordered=True)


def test_cat_0003_numbered_het(spark):
    df = to_df(spark, parse_dkvp("abixy-het"))
    got = ev.cat_numbered(df, order_by=["__ord"]).orderBy("n").drop("__ord")
    assert_matches(collect_dicts(got), parse_dkvp_out("verb-cat/0003"), ordered=True)


def test_fill_down_0001_csv(spark):
    df = to_df(spark, parse_csv("fill-down.csv"))
    got = (
        ev.fill_down(df, ["a", "b", "c"], order_by=["__ord"])
        .orderBy("__ord")
        .drop("__ord")
    )
    exp = parse_csv_out("verb-fill-down/0001")
    assert_matches(collect_dicts(got), exp, ordered=True)


def test_histogram_0001_two_fields(spark):
    df = to_df(spark, parse_dkvp("small"))
    hx = ev.histogram(df, "x", 0.0, 1.0, 20).withColumnRenamed("count", "x_count")
    hy = ev.histogram(df, "y", 0.0, 1.0, 20).withColumnRenamed("count", "y_count")
    got = collect_dicts(hx.join(hy, ["bin_lo", "bin_hi"]).orderBy("bin_lo"))
    assert_matches(got, parse_pprint_out("verb-histogram/0001"), ordered=True)


# ---------------------------------------------------------------------------
# wave 2
# ---------------------------------------------------------------------------


def test_uniq_0001_0002_0005_het(spark):
    # uniq -g skips records missing any group key (absent != a group)
    df = to_df(spark, parse_dkvp("abixy-het"))
    da = df.filter(F.col("a").isNotNull())
    dab = df.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    assert_matches(collect_dicts(ev.uniq(da, ["a"])), parse_dkvp_out("verb-uniq/0001"))
    assert_matches(collect_dicts(ev.uniq(dab, ["a", "b"])), parse_dkvp_out("verb-uniq/0002"))
    assert_matches(
        collect_dicts(ev.uniq(da, ["a"], show_counts=True)),
        parse_dkvp_out("verb-uniq/0005"),
    )


def test_most_least_frequent(spark):
    df = to_df(spark, parse_dkvp("freq.dkvp"))
    assert_matches(
        collect_dicts(ev.most_frequent(df, ["a"], n=3)),
        parse_pprint_out("verb-most-least-frequent/0001"),
    )
    assert_matches(
        collect_dicts(ev.most_frequent(df, ["a", "b"], n=3)),
        parse_pprint_out("verb-most-least-frequent/0002"),
    )
    assert_matches(
        collect_dicts(ev.most_frequent(df, ["a"], n=3, descending=False)),
        parse_pprint_out("verb-most-least-frequent/0005"),
    )


def test_cut_0001_0003(spark):
    df = to_df(spark, parse_dkvp("s.dkvp")).drop("__ord")
    assert_matches(collect_dicts(ev.cut(df, ["x", "a"])), parse_pprint_out("verb-cut/0001"))
    assert_matches(
        collect_dicts(ev.cut(df, ["x", "a"], complement=True)),
        parse_pprint_out("verb-cut/0003"),
    )


def test_rename_0001_0002(spark):
    df = to_df(spark, parse_dkvp("s.dkvp")).drop("__ord")
    assert_matches(
        collect_dicts(ev.rename_fields(df, {"a": "AAA"})),
        parse_pprint_out("verb-rename/0001"),
    )
    assert_matches(
        collect_dicts(ev.rename_fields(df, {"a": "AAA", "x": "XXX"})),
        parse_pprint_out("verb-rename/0002"),
    )


def test_grep_0001_0002_0004(spark):
    # grep matches the SERIALIZED record "k=v,k=v,..." (grep.go:21)
    df = to_df(spark, parse_dkvp("s.dkvp")).drop("__ord")
    ser = F.concat_ws(",", *[F.concat(F.lit(f"{c}="), F.col(c).cast("string")) for c in df.columns])
    assert_matches(
        collect_dicts(df.filter(ser.rlike("pan"))), parse_pprint_out("verb-grep/0001")
    )
    assert_matches(
        collect_dicts(df.filter(~ser.rlike("pan"))), parse_pprint_out("verb-grep/0002")
    )
    assert_matches(
        collect_dicts(df.filter(ser.rlike("(?i)PAN"))), parse_pprint_out("verb-grep/0004")
    )


def test_having_fields_0001_0003(spark):
    df = to_df(spark, parse_dkvp("abixy")).drop("__ord")
    assert_matches(
        collect_dicts(ev.having_fields_all_defined(df, ["a", "b"])),
        parse_dkvp_out("verb-having-fields/0001"),
    )
    assert_matches(
        collect_dicts(ev.having_fields_all_defined(df, ["a", "b", "i", "x", "y"])),
        parse_dkvp_out("verb-having-fields/0003"),
    )


def test_count_similar_0001_0002(spark):
    df = to_df(spark, parse_dkvp("abixy")).drop("__ord")
    assert_matches(
        collect_dicts(ev.count_similar(df, ["a"])),
        parse_pprint_out("verb-count-similar/0001"),
    )
    assert_matches(
        collect_dicts(ev.count_similar(df, ["a", "b"])),
        parse_pprint_out("verb-count-similar/0002"),
    )


def test_seqgen_0001_0002(spark):
    assert_matches(
        collect_dicts(ev.seqgen(spark, 1, 5, 1)), parse_dkvp_out("verb-seqgen/0001")
    )
    assert_matches(
        collect_dicts(ev.seqgen(spark, 1, 5, 2)), parse_dkvp_out("verb-seqgen/0002")
    )


def test_label_0001(spark):
    df = to_df(spark, parse_dkvp("s.dkvp")).drop("__ord")
    assert_matches(
        collect_dicts(ev.label(df, ["A", "B", "I"])), parse_pprint_out("verb-label/0001")
    )


def test_histogram_0003_auto(spark):
    df = to_df(spark, parse_dkvp("ints.dkvp"))
    hx = ev.histogram_auto(df, "x", 9).withColumnRenamed("count", "x_count")
    hy = ev.histogram_auto(df, "y", 9).withColumnRenamed("count", "y_count")
    got = collect_dicts(
        hx.select(F.round("bin_lo", 6).alias("bin_lo"), F.round("bin_hi", 6).alias("bin_hi"), "x_count")
        .join(
            hy.select(F.round("bin_lo", 6).alias("bin_lo"), F.round("bin_hi", 6).alias("bin_hi"), "y_count"),
            ["bin_lo", "bin_hi"],
        )
        .orderBy("bin_lo")
    )
    assert_matches(got, parse_pprint_out("verb-histogram/0003"), ordered=True)


# ---------------------------------------------------------------------------
# wave 3
# ---------------------------------------------------------------------------


def parse_pprint_in(path: str) -> list[dict]:
    with open(os.path.join(REF, "input", path)) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    header = lines[0].split()
    return [dict(zip(header, ln.split())) for ln in lines[1:]]


def test_nest_evar_0001_explode_values_het(spark):
    # records without the field pass through unchanged (explode_outer)
    df = to_df(spark, parse_dkvp("nest-explode.dkvp"), infer=False)
    got = (
        ev.nest_explode_values(df, "x", sep=";")
        .orderBy("__ord")
        .drop("__ord")
    )
    assert_matches(collect_dicts(got), parse_dkvp_out("verb-nest/evar-0001"))


def test_reshape_0001_0002_wide_to_long(spark):
    df = to_df(spark, parse_pprint_in("reshape-wide.tbl")).drop("__ord")
    got = ev.reshape_wide_to_long(df, ["X", "Y", "Z"], "item", "price")
    assert_matches(collect_dicts(got), parse_pprint_out("verb-reshape/0001"))
    # -i X,Z: non-listed measure columns (Y) ride along as id columns
    got2 = ev.reshape_wide_to_long(df, ["X", "Z"], "item", "price")
    assert_matches(collect_dicts(got2), parse_pprint_out("verb-reshape/0002"))


def test_repeat_0001_0002(spark):
    df = to_df(spark, parse_dkvp("repeat-input.dat"), infer=False)
    got = ev.repeat(df.drop("__ord"), 5)
    assert_matches(collect_dicts(got), parse_dkvp_out("verb-repeat/0001"))
    got2 = ev.repeat(df.drop("__ord"), "a")
    assert_matches(collect_dicts(got2), parse_dkvp_out("verb-repeat/0002"))


def test_fill_empty_0001_0002(spark):
    df = to_df(spark, parse_csv("fill-down.csv"), infer=False).drop("__ord")
    assert_matches(
        collect_dicts(ev.fill_empty(df)), parse_csv_out("verb-fill-empty/0001")
    )
    assert_matches(
        collect_dicts(ev.fill_empty(df, fill="FOO")),
        parse_csv_out("verb-fill-empty/0002"),
    )


def test_decimate_0002_keep_first(spark):
    df = to_df(spark, parse_dkvp("abixy"))
    got = ev.decimate(df, 4, order_by=["__ord"], keep_first=True).orderBy("__ord").drop("__ord")
    assert_matches(collect_dicts(got), parse_dkvp_out("verb-decimate/0002"), ordered=True)


# ---------------------------------------------------------------------------
# wave 4
# ---------------------------------------------------------------------------


def test_sec2gmt_0001_nonnumeric_passthrough(spark):
    # put '$t = $i + 0.123456789' then sec2gmt a,t — 'pan' stays as-is,
    # fractional seconds truncate
    df = to_df(spark, parse_dkvp("s.dkvp")).drop("__ord")
    df = df.withColumn("t", F.col("i") + 0.123456789)
    got = ev.sec2gmt(df, ["a", "t"])
    assert_matches(collect_dicts(got), parse_pprint_out("verb-sec2gmt/0001"))


def test_case_0001_0002(spark):
    df = to_df(spark, parse_dkvp("abixy")).drop("__ord")
    all_fields = df.columns
    got_both = ev.case_fields(df, all_fields, "upper", which="both")
    assert_matches(collect_dicts(got_both), parse_dkvp_out("verb-case/0001"))
    got_keys = ev.case_fields(df, all_fields, "upper", which="keys")
    assert_matches(collect_dicts(got_keys), parse_dkvp_out("verb-case/0002"))


def test_sub_gsub_ssub_f(spark):
    df = to_df(spark, parse_csv("example.csv"), infer=False).drop("__ord")
    fields = ["color", "shape", "index"]
    g = df
    for f_ in fields:
        g = ev.sub_field(g, f_, "l", "X", all_matches=False)
    assert_matches(collect_dicts(g), parse_pprint_out("verb-sub-gsub-ssub/sub-f"))
    g = df
    for f_ in fields:
        g = ev.sub_field(g, f_, "l", "X", all_matches=True)
    assert_matches(collect_dicts(g), parse_pprint_out("verb-sub-gsub-ssub/gsub-f"))
    g = df
    for f_ in fields:
        g = ev.ssub_field(g, f_, "l", "X")
    assert_matches(collect_dicts(g), parse_pprint_out("verb-sub-gsub-ssub/ssub-f"))


def test_altkv_0001(spark):
    # input: one record of positional values a..f -> {a:b, c:d, e:f}
    rec = {str(i + 1): v for i, v in enumerate("abcdef")}
    df = to_df(spark, [rec]).drop("__ord")
    pairs = collect_dicts(ev.altkv(df, [str(i) for i in range(1, 7)]))
    got = {p["key"]: p["value"] for p in pairs}
    exp = parse_dkvp_out("verb-altkv/0001")[0]
    assert got == exp


# ---------------------------------------------------------------------------
# wave 5
# ---------------------------------------------------------------------------


def test_sort_0006_numeric(spark):
    df = to_df(spark, parse_dkvp("s.dkvp")).drop("__ord")
    got = ev.sort(df, [("i", "nf")])
    assert_matches(collect_dicts(got), parse_pprint_out("verb-sort/0006"), ordered=True)


def test_fraction_0004_percent(spark):
    df = to_df(spark, parse_dkvp("abixy-het"))
    got = ev.fraction(df, "x", percent=True)
    got = ev.fraction(got, "y", percent=True)
    assert_matches(
        collect_dicts(got.orderBy("__ord").drop("__ord")),
        parse_xtab_out("verb-fraction/0004"),
        ordered=True,
    )


def test_fill_down_0002_absent_only(spark):
    # -a fills only ABSENT values; CSV empty strings (VOID) stay empty
    df = to_df(spark, parse_csv("fill-down.csv"), infer=False)
    got = (
        ev.fill_down(df, ["a", "b", "c"], order_by=["__ord"], only_if_absent=True)
        .orderBy("__ord")
        .drop("__ord")
    )
    assert_matches(collect_dicts(got), parse_csv_out("verb-fill-down/0002"), ordered=True)


def test_template_0001(spark):
    df = to_df(spark, parse_dkvp("abixy")).drop("__ord")
    got = ev.template(df, ["x", "a", "b"])
    assert_matches(collect_dicts(got), parse_pprint_out("verb-template/0001"))


def test_merge_fields_name_0001_percentiles(spark):
    # head -n 2 then merge-fields -k -a p0,min,p29,max,p100,sum,count -f x,y -o xy
    df = to_df(spark, parse_dkvp("abixy"))
    two = ev.head(df, 2, order_by=["__ord"]).drop("__ord")
    got = ev.merge_fields(two, ["p0", "min", "p29", "max", "p100", "sum", "count"], ["x", "y"], "xy")
    assert_matches(collect_dicts(got), parse_xtab_out("verb-merge-fields/name-0001"))


def test_seqgen_0003_field_name(spark):
    got = ev.seqgen(spark, 1, 1, 1, field="a")
    assert_matches(collect_dicts(got), parse_dkvp_out("verb-seqgen/0003"))


def test_sec2gmt_0002_one_decimal(spark):
    df = to_df(spark, parse_dkvp("s.dkvp")).drop("__ord")
    df = df.withColumn("t", F.col("i") + 0.123456789)
    got = ev.sec2gmt(df, ["a", "t"], decimals=1)
    assert_matches(collect_dicts(got), parse_pprint_out("verb-sec2gmt/0002"))


def test_top_0002_grouped_lashed_padded(spark):
    df = to_df(spark, parse_dkvp("abixy-het")).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    tx = ev.top(df, "x", n=2, by=["a"], pad=True)
    ty = ev.top(df, "y", n=2, by=["a"], pad=True)
    got = collect_dicts(tx.join(ty, ["a", "top_idx"]))
    assert_matches(got, parse_dkvp_out("verb-top/0002"))
