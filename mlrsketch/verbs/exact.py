"""Miller's verb surface re-expressed as exact, Catalyst-planned DataFrame ops.

Each function cites the reference implementation it matches
(file:line into /root/reference, miller v6 Go) and preserves Miller's
semantics where they differ from SQL defaults:

- percentiles are NON-interpolated by default: index = int(p/100 * n)
  clamped to [0, n-1] over the sorted values
  (pkg/bifs/percentiles.go:193-208); ``interpolated=True`` gives the
  R-type-7 linear interpolation (percentiles.go:9-28).
- mode/antimode break ties by FIRST-SEEN order
  (pkg/transformers/utils/stats1_accumulators.go:367-445).
- distinct_count counts distinct ORIGINAL STRINGS ("4.1" != "4.10",
  stats1_accumulators.go:341-365); on a typed DataFrame column this is
  plain distinct of the column value.

All of these are shuffle-aware: grouped aggregations are single-shuffle
hash aggregations with map-side partial aggregation (Catalyst supplies
partial_/final split automatically); window verbs shuffle once on the
partition keys. Each ungrouped order-dependent verb (fraction -c,
cat -n, decimate, rank, fill-down, step, slwin, stats1 -s/-w,
percentiles_rank) makes one range pass (``_range_pass``), collects one
small row per range partition to the driver once (``_pid_prefix``;
percentiles_rank one per partition and group) and reads the folded
per-partition carry back with one ``_lookup``; no verb collects rows.
"""

from __future__ import annotations

import itertools
import operator
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

from mlrsketch.session import python_task

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _cols(c: str | Sequence[str]) -> list[str]:
    return [c] if isinstance(c, str) else list(c)


# ---------------------------------------------------------------------------
# partition carries: the ungrouped order-dependent verbs (fraction -c,
# cat -n, rank, fill-down, step, slwin, stats1 -s) take the same three
# steps. (1) _range_pass range-partitions the rows on the order keys; each
# partition then computes within itself. (2) _pid_prefix collects one
# small row per partition and folds, on the driver, what earlier (and, for
# step, later) partitions contribute to it. (3) _lookup reads that one
# per-partition value (a struct when a verb needs several) back by __pid.
# step, stats1 -s and fill-down have one body each (_ordered): grouped,
# they run it over Window.partitionBy(by), where nothing precedes a
# group, so the carry is a typed null and every carry term is coalesced
# to its identity.
# ---------------------------------------------------------------------------

# A literal map inlines every entry into the Catalyst plan at each use,
# so building the plan grows with the entry count (the blowup class
# dsl/compiler.py:85 warns about); a broadcast left-join against the
# table keeps the plan bounded but adds ~0.3 s of broadcast to the run.
# percentiles_rank over N (partition, group) entries, local[4], build +
# run: 108 -> 0.5 + 0.4 s literal vs 0.4 + 0.7 s joined; 308 -> 0.7 +
# 0.5 vs 0.4 + 0.7 s; 1,008 -> 1.6 + 0.5 vs 0.5 + 0.9 s; 3,008 -> 3.0 +
# 0.6 vs 0.6 + 0.8 s (BASELINE.md). Past the crossover, a lookup joins.
_LOOKUP_LITERAL_MAX = 300
_lookup_ids = itertools.count()
_LOCAL_BITS = 33  # monotonically_increasing_id: (partition << 33) | row index
# rows per block of a bounded frame (_framed), before the halo
_FRAME_BLOCK = 1024


def _range_pass(df: DataFrame, order: Sequence[Column]) -> DataFrame:
    """``df`` range-partitioned on ``order``, sorted within each partition
    and pinned, with ``__mid`` (ascending in ``order``) and ``__pid``.

    Range sampling is nondeterministic on recompute, so the placement is
    materialized before the collect and the final scan both read it:
    localCheckpoint (not persist) lets the ContextCleaner release the
    blocks once the result is garbage-collected. Over the pinned, sorted
    blocks, monotonically_increasing_id encodes the partition and the
    partition-local row index, so both are projections (_local_index),
    not a window that would re-exchange the payload."""
    ordered = df.repartitionByRange(*order).sortWithinPartitions(*order)
    tagged = ordered.localCheckpoint(eager=True).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    return tagged.withColumn("__pid", F.shiftright("__mid", _LOCAL_BITS).cast("int"))


def _local_index() -> Column:
    """A _range_pass row's 0-based index within its partition. The 33 bits
    cap a partition at 8.6e9 rows, far above a 128 MB split."""
    return F.col("__mid").bitwiseAND(F.lit((1 << _LOCAL_BITS) - 1))


def _pid_prefix(tagged: DataFrame, aggs: Sequence[Column], fold, init):
    """Per-partition values folded on the driver from ONE collect.

    Runs ``tagged.groupBy("__pid").agg(*aggs).collect()`` and walks the
    rows in ascending ``__pid`` order: ``value, acc = fold(acc, row,
    later)`` from ``init``, where ``later`` iterates the rows of the later
    partitions (step's gates and leads read ahead; the other verbs ignore
    it). Returns ``({pid: value}, final acc)``; ``value`` is usually the
    exclusive prefix, the acc before that partition. The fold stays on the
    driver: a ``Window.orderBy("__pid")`` has no partition keys and would
    funnel every row through one task."""
    rows = sorted(tagged.groupBy("__pid").agg(*aggs).collect(), key=lambda r: r["__pid"])
    table, acc = {}, init
    for i, r in enumerate(rows):
        table[r["__pid"]], acc = fold(acc, r, (rows[j] for j in range(i + 1, len(rows))))
    return table, acc


def _lit(v) -> Column:
    """A literal of a driver value: a tuple is a struct, a list an array."""
    if isinstance(v, tuple):
        return F.struct(*[_lit(x) for x in v])
    if isinstance(v, list):
        return F.array(*[_lit(x) for x in v])
    return F.lit(v)


def _lookup(df: DataFrame, key: Column, table: dict, dtype) -> tuple[DataFrame, Column]:
    """``(df, table[key])``: a driver-built table read back per row, null
    off the table. A ``StructType`` dtype takes tuple values (arrays as
    lists). Up to _LOOKUP_LITERAL_MAX entries it is a literal map of
    ``dtype`` values (an empty table is a typed null); past it, ``df``
    gains a broadcast left-join against the table on ``key``, and the
    returned column reads the joined value. Join columns are named
    ``__lk<n>``; callers select their output columns at the end."""
    if not table:
        return df, F.lit(None).cast(dtype)
    if len(table) <= _LOOKUP_LITERAL_MAX:
        # one cast of the whole value array: a cast per entry doubles
        # the expressions Catalyst walks while building the plan
        keys = F.array(*[F.lit(k) for k in table])
        values = F.array(*[_lit(v) for v in table.values()]).cast(ArrayType(dtype))
        return df, F.map_from_arrays(keys, values)[key]
    name = f"__lk{next(_lookup_ids)}"
    tagged = df.withColumn(name, key)
    schema = StructType([
        StructField(name, tagged.schema[name].dataType), StructField(name + "v", dtype)
    ])
    rows = df.sparkSession.createDataFrame(list(table.items()), schema)
    return tagged.join(F.broadcast(rows), name, "left"), F.col(name + "v")


def _carry(tagged: DataFrame, aggs: Sequence[Column], fold, init, dtype):
    """Steps 2 and 3 on a _range_pass frame: the _pid_prefix table read
    back with one _lookup on ``__pid``. Returns ``(frame, value, acc)``."""
    table, acc = _pid_prefix(tagged, aggs, fold, init)
    tagged, value = _lookup(tagged, F.col("__pid"), table, dtype)
    return tagged, value, acc


def _ordered(df: DataFrame, order_by, by, aggs, fold, init, dtype, prep=None):
    """One ordered verb's ``(frame, w, carry, acc)``, so that one body
    serves the grouped and the ungrouped verb.

    Grouped: ``df``, ``Window.partitionBy(*by).orderBy(order)``, a typed
    null ``carry`` (nothing precedes a group within its window partition)
    and ``init``; no Spark job runs. Ungrouped: a _range_pass frame with
    ``prep(frame, w)``'s columns, the window over each range partition
    and the _carry of ``aggs``/``fold`` (see _pid_prefix). The body
    coalesces every carry term to its identity."""
    by, order = _cols(by), [F.col(c) for c in _cols(order_by)]
    if by:
        return df, Window.partitionBy(*by).orderBy(*order), F.lit(None).cast(dtype), init
    w = Window.partitionBy("__pid").orderBy("__mid")
    tagged = _range_pass(df, order)
    tagged, carry, acc = _carry(prep(tagged, w) if prep else tagged, aggs, fold, init, dtype)
    return tagged, w, carry, acc


def _framed(
    df: DataFrame, order_by: Sequence[str], back: int, fwd: int, cols: dict[str, Column]
) -> DataFrame:
    """``df`` with each ``cols`` aggregate over the frame of the ``back``
    rows before and ``fwd`` rows after every row in global ``order_by``
    order, without a single-task window.

    global_row_number numbers the rows; the numbers are cut into blocks
    of B = max(back, fwd, _FRAME_BLOCK). A row also goes, read-only, into
    the next block when it is within ``back`` of its block's end, and
    into the previous one when within ``fwd`` of its block's start, so
    every home row's frame lies in its own block: one explode, one
    window partitioned by block, and each row's home copy kept."""
    size = max(back, fwd, _FRAME_BLOCK)
    n0, home = F.col("__n") - 1, F.col("__home")
    numbered = global_row_number(df, order_by, out="__n").withColumn("__home", F.floor(n0 / size))
    off = n0 - home * size
    blocks = F.sequence(home - (off < fwd).cast("long"), home + (off >= size - back).cast("long"))
    frame = Window.partitionBy("__blk").orderBy("__n").rowsBetween(-back, fwd)
    out = (
        numbered.withColumn("__blk", F.explode(blocks))
        .withColumns({name: agg.over(frame) for name, agg in cols.items()})
        .filter(F.col("__blk") == home)
    )
    return _keep(out, [*df.columns, *cols])


def _keep(out: DataFrame, cols: Sequence[str]) -> DataFrame:
    """``out`` without its internal (``__pid``, ``__lk<n>``, ...) columns:
    only ``cols``, in ``out``'s column order."""
    cols = set(cols)
    keep = [c for c in out.columns if c in cols]
    return out if len(keep) == len(out.columns) else out.select(*keep)


def _ieee_div(num: Column, den: Column) -> Column:
    """``num / den`` as IEEE doubles divide, as Miller's float division
    does: x/0 is +-Inf by the sign of x and 0/0 is NaN, where Spark's
    ANSI mode raises DIVIDE_BY_ZERO. A null operand gives null."""
    return F.when(den != 0, num / den).when(den == 0, num * F.lit(float("inf")))


# percentile-family accumulators share ONE keeper per field, exactly like
# Miller's shared PercentileKeeper (stats1_accumulators.go:160-168,258-290):
# median == p50; Tukey fences derive from p25/p75
# (utils/percentile_keeper.go:105-165, k = 1.5 inner / 3.0 outer at :19-21).
_FENCE_K = {"lof": -3.0, "lif": -1.5, "uif": 1.5, "uof": 3.0}


def _pct_needs(a: str) -> list[float] | None:
    """Percentile points acc `a` needs, or None if not percentile-family."""
    if a == "median":
        return [50.0]
    if a == "iqr" or a in _FENCE_K:
        return [25.0, 75.0]
    if a.startswith("p"):
        try:
            return [float(a[1:])]
        except ValueError:
            return None
    return None


_INT_PAT = r"^-?[0-9]+$"


def _stats1_typed(df, accs, values, by, interpolated):
    """Typed (mlr-CLI byte path) stats1 — see the stats1 docstring.

    min/max/percentile results are STRING columns carrying the typed
    Miller value: the original element spelling for picks (the writer
    re-scans: int prints bare, float through OFMT, strings verbatim),
    Miller collation (numbers numerically before strings lexically,
    cmp_dispositions mlrval_cmp.go:146; min/max matrices
    arithmetic.go:783-965) and int->float promotion when any float
    entered the fold. Plan shape is unchanged: one hash aggregation,
    one shared sorted buffer per field for the percentile family.
    """
    pct_points: dict[str, list[float]] = {}
    for f in values:
        pts = sorted({p for a in accs for p in (_pct_needs(a) or [])})
        if pts:
            pct_points[f] = pts
    want_mx = {"min", "max"} & set(accs)

    aggs = []
    dtypes = dict(df.dtypes)
    for f in values:
        num = F.col(f).try_cast("double")
        if dtypes.get(f, "string") == "string":
            s = F.col(f).cast("string")
        else:
            # numeric carrier column: integral values re-spell as INT
            # (a long/double column cast to string would say "1.0";
            # Miller's per-value typing prints data int 1 as "1")
            s = F.when(
                num.isNotNull() & (num == F.floor(num))
                & (F.abs(num) < F.lit(9.0e18)),
                num.cast("long").cast("string"),
            ).otherwise(F.col(f).cast("string"))
        present = F.col(f).isNotNull() & (s != "")  # void skips ingest
        # (stats1.go:667-675)
        isnum = present & num.isNotNull()
        elem = F.struct(
            F.when(isnum, F.lit(0)).otherwise(F.lit(1)).alias("r"),
            F.when(isnum, num).alias("num"),
            # int64 tiebreak: near-2^63 ints are indistinguishable as
            # doubles (cmp_b_ii compares exact int64)
            F.when(isnum, s.try_cast("long")).alias("lnum"),
            s.alias("s"),
        )
        for a in accs:
            if _pct_needs(a) is not None:
                continue
            if a in ("min", "max"):
                agg = (F.min if a == "min" else F.max)(
                    F.when(present, elem)
                )
                aggs.append(agg.alias(f"__mx_{f}_{a}"))
            else:
                aggs.append(_acc(a, f, interpolated).alias(f"{f}_{a}"))
        if f in pct_points:
            aggs.append(
                F.array_sort(
                    F.collect_list(F.when(present, elem))
                ).alias(f"__sorted_{f}")
            )
        if want_mx or f in pct_points:
            aggs.append(
                F.max(
                    F.when(isnum & ~s.rlike(_INT_PAT), 1).otherwise(0)
                ).alias(f"__anyf_{f}")
            )

    grouped = df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)

    def pickv(f: str, p: float):
        """(isnum, isint, num, out) of the Miller percentile result."""
        arr = F.col(f"__sorted_{f}")
        n = F.size(arr)
        if not interpolated:
            # sorted[clamp(int(p/100*n), 0, n-1)], the element ITSELF
            # (percentiles.go:193-208)
            idx = F.least(
                F.greatest(
                    F.floor(F.lit(p / 100.0) * n).cast("int"), F.lit(0)
                ),
                n - 1,
            )
            el = F.get(arr, idx)
            return (
                el.getField("r") == 0,
                el.getField("s").rlike(_INT_PAT),
                el.getField("num"),
                F.when(n == 0, F.lit("")).otherwise(el.getField("s")),
            )
        # linear interpolation (percentiles.go:9-28): findex =
        # p/100*(n-1); iindex>=n-1 returns the element itself; else
        # a + frac*(b-a) via the BIFs — float whenever computed
        findex = F.lit(p / 100.0) * (n - 1).cast("double")
        iindex = F.floor(findex).cast("int")
        a_el = F.get(arr, iindex)
        b_el = F.get(arr, F.least(iindex + 1, n - 1))
        top = iindex >= n - 1
        bothnum = (a_el.getField("r") == 0) & (b_el.getField("r") == 0)
        comp = a_el.getField("num") + (findex - iindex.cast("double")) * (
            b_el.getField("num") - a_el.getField("num")
        )
        isnum = F.when(top, a_el.getField("r") == 0).otherwise(bothnum)
        isint = F.when(top, a_el.getField("s").rlike(_INT_PAT)).otherwise(
            F.lit(False)
        )
        numv = F.when(top, a_el.getField("num")).otherwise(comp)
        out = (
            F.when(n == 0, F.lit(""))
            .when(top, a_el.getField("s"))
            .when(bothnum, comp.cast("string"))
            .otherwise(F.lit("(error)"))
        )
        return isnum, isint, numv, out

    out_cols: list[Column] = [F.col(c) for c in by]
    for f in values:
        anyf = F.col(f"__anyf_{f}") == 1
        for a in accs:
            if a in ("min", "max"):
                st = F.col(f"__mx_{f}_{a}")
                out_cols.append(
                    F.when(
                        (st.getField("r") == 0) & anyf,
                        st.getField("num").cast("string"),
                    )
                    .otherwise(st.getField("s"))
                    .alias(f"{f}_{a}")
                )
            elif _pct_needs(a) is None:
                out_cols.append(F.col(f"{f}_{a}"))
            elif a == "iqr" or a in _FENCE_K:
                n75, i75, v75, _ = pickv(f, 75.0)
                n25, i25, v25, _ = pickv(f, 25.0)
                d = v75 - v25
                if a == "iqr":
                    # BIF_minus: int-int stays int, any float -> float,
                    # non-numeric operand -> (error)
                    out_cols.append(
                        F.when(~(n75 & n25), F.lit("(error)"))
                        .when(i75 & i25, d.cast("long").cast("string"))
                        .otherwise(d.cast("string"))
                        .alias(f"{f}_{a}")
                    )
                else:
                    k = _FENCE_K[a]
                    nb, _, vb, _ = pickv(f, 25.0 if k < 0 else 75.0)
                    # base + K*iqr with float K -> always float
                    out_cols.append(
                        F.when(~(n75 & n25 & nb), F.lit("(error)"))
                        .otherwise((vb + F.lit(k) * d).cast("string"))
                        .alias(f"{f}_{a}")
                    )
            else:
                p = 50.0 if a == "median" else float(a[1:])
                out_cols.append(pickv(f, p)[3].alias(f"{f}_{a}"))
    return grouped.select(*out_cols)


# accumulator registry mirroring stats1 (pkg/transformers/utils/
# stats1_accumulators.go:29-124). Each returns a Column for value field f.
def _acc(name: str, f: str, interpolated: bool = False) -> Column:
    if name == "count":
        return F.count(F.col(f))
    if name == "null_count":
        return F.sum(F.when(F.col(f).isNull() | (F.col(f).cast("string") == ""), 1).otherwise(0))
    if name == "distinct_count":
        # void ("") values don't count as a distinct value (golden
        # verb-stats1/0019)
        return F.countDistinct(
            F.when(F.col(f).cast("string") != "", F.col(f))
        )
    if name == "sum":
        return F.sum(F.col(f))
    if name == "mean":
        return F.avg(F.col(f))
    if name == "min":
        return F.min(F.col(f))
    if name == "max":
        return F.max(F.col(f))
    if name == "minlen":
        return F.min(F.length(F.col(f).cast("string")))
    if name == "maxlen":
        return F.max(F.length(F.col(f).cast("string")))
    if name == "var":
        return F.var_samp(F.col(f))
    if name == "stddev":
        return F.stddev_samp(F.col(f))
    if name == "meaneb":  # stats1_accumulators.go:618-705: var/n then sqrt
        return F.sqrt(F.var_samp(F.col(f)) / F.count(F.col(f)))
    if name in ("skewness", "kurtosis"):
        # Miller's exact finalization from raw power sums
        # (pkg/bifs/stats.go:85-105 skewness, :121-147 kurtosis):
        # population central moment over SAMPLE-variance denominator —
        # different from both Spark's and DuckDB's builtins, so spelled
        # out. Raw sums are trivially mergeable => partial agg applies.
        x = F.col(f).cast("double")
        n = F.count(x).cast("double")
        s1, s2 = F.sum(x), F.sum(x * x)
        s3, s4 = F.sum(x * x * x), F.sum(x * x * x * x)
        mean = s1 / n
        if name == "skewness":  # denom: SAMPLE variance^1.5 (stats.go:102)
            svar = (s2 - n * mean * mean) / (n - 1)
            num = (s3 - mean * (3.0 * s2 - 2.0 * n * mean * mean)) / n
            return num / F.pow(svar, 1.5)
        # kurtosis denom: POPULATION variance^2 (stats.go:141-143)
        pvar = (s2 - n * mean * mean) / n
        num = (s4 - mean * (4.0 * s3 - mean * (6.0 * s2 - 3.0 * n * mean * mean))) / n
        return num / (pvar * pvar) - 3.0
    if name == "first":
        return F.first(F.col(f))
    if name == "last":
        return F.last(F.col(f))
    raise ValueError(f"unknown stats1 accumulator: {name}")


# ---------------------------------------------------------------------------
# aggregation verbs (SURVEY.md §2.5)
# ---------------------------------------------------------------------------


def stats1(
    df: DataFrame,
    accs: Sequence[str],
    values: Sequence[str],
    by: Sequence[str] = (),
    interpolated: bool = False,
    typed: bool = False,
) -> DataFrame:
    """`mlr stats1 -a ... -f ... -g ...` (pkg/transformers/stats1.go:36).

    Output columns named ``{field}_{acc}`` exactly like Miller
    (stats1.go docs). One single-shuffle hash aggregation; Catalyst
    emits partial aggregates map-side.

    All percentile-family accumulators of one field share a single
    aggregate buffer — one ``percentile(f, array(ps))`` (interpolated)
    or one sorted ``collect_list`` (Miller non-interpolated pick) —
    mirroring Miller's shared PercentileKeeper instead of sorting the
    group once per requested percentile.

    ``typed=True`` (the mlr-CLI byte path): min/max/percentile-family
    results become STRING columns carrying Miller's typed result —
    original element spelling for percentile picks
    (percentiles.go:9-28,193-208 return the mlrval itself), the
    min/max disposition collation (numbers before strings,
    arithmetic.go:783-965) with int->float promotion when any float
    entered the fold (min_f_fi/max_f_fi). Same plan shape — the only
    change is WHAT the one aggregation buffer carries.
    """
    accs, values, by = _cols(accs), _cols(values), _cols(by)
    if typed:
        return _stats1_typed(df, accs, values, by, interpolated)
    pct_points: dict[str, list[float]] = {}  # field -> sorted needed points
    for f in values:
        pts = sorted({p for a in accs for p in (_pct_needs(a) or [])})
        if pts:
            pct_points[f] = pts

    aggs = []
    for f in values:
        for a in accs:
            if _pct_needs(a) is None:
                aggs.append(_acc(a, f, interpolated).alias(f"{f}_{a}"))
        if f in pct_points:
            if interpolated:
                aggs.append(
                    F.percentile(
                        F.col(f), F.array(*[F.lit(p / 100.0) for p in pct_points[f]])
                    ).alias(f"__pcts_{f}")
                )
            else:
                aggs.append(F.array_sort(F.collect_list(F.col(f))).alias(f"__sorted_{f}"))

    grouped = df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)
    if not pct_points:
        return grouped

    def pick(f: str, p: float) -> Column:
        if interpolated:
            return F.element_at(F.col(f"__pcts_{f}"), pct_points[f].index(p) + 1)
        arr = F.col(f"__sorted_{f}")
        n = F.size(arr)
        idx = F.least(
            F.greatest(F.floor(F.lit(p / 100.0) * n).cast("int"), F.lit(0)), n - 1
        )
        return F.get(arr, idx)

    out_cols: list[Column] = [F.col(c) for c in by]
    for f in values:
        for a in accs:
            if _pct_needs(a) is None:
                out_cols.append(F.col(f"{f}_{a}"))
            elif a == "iqr":
                out_cols.append((pick(f, 75.0) - pick(f, 25.0)).alias(f"{f}_{a}"))
            elif a in _FENCE_K:
                k = _FENCE_K[a]
                base = pick(f, 25.0) if k < 0 else pick(f, 75.0)
                iqr = pick(f, 75.0) - pick(f, 25.0)
                out_cols.append((base + F.lit(k) * iqr).alias(f"{f}_{a}"))
            elif a == "median":
                out_cols.append(pick(f, 50.0).alias(f"{f}_{a}"))
            else:
                out_cols.append(pick(f, float(a[1:])).alias(f"{f}_{a}"))
    return grouped.select(*out_cols)


def mad(df: DataFrame, value: str, by: Sequence[str] = ()) -> DataFrame:
    """stats1 `mad` = MEAN absolute deviation from the mean
    (stats1_accumulators.go:496-534 — Miller keeps all samples and does
    two passes; here: two aggregations, no row retention).

    Grouped: per-group mean via one hash-partitioned window. Ungrouped:
    the mean is a SCALAR — computed with a plain aggregate and broadcast
    back, instead of an empty-partition window that would funnel every
    row through one task.
    """
    by = _cols(by)
    if by:
        w = Window.partitionBy(*by)
        centered = df.withColumn("__mean", F.avg(value).over(w))
        return centered.groupBy(*by).agg(
            F.avg(F.abs(F.col(value) - F.col("__mean"))).alias(f"{value}_mad")
        )
    mean_row = df.agg(F.avg(value).alias("m"))
    centered = df.crossJoin(F.broadcast(mean_row))
    return centered.agg(
        F.avg(F.abs(F.col(value) - F.col("m"))).alias(f"{value}_mad")
    )


def mode_impl(df: DataFrame, value: str, by: Sequence[str], anti: bool = False) -> DataFrame:
    """stats1 mode/antimode with Miller's first-seen tie-break
    (stats1_accumulators.go:367-445): among values with the max (min)
    count, the one seen earliest in stream order wins. Stream order is
    approximated by a caller-provided monotonic column ``__ord`` if
    present, else by value for determinism.
    """
    by = _cols(by)
    ordc = "__ord" if "__ord" in df.columns else value
    counted = df.groupBy(*by, value).agg(
        F.count("*").alias("__cnt"), F.min(ordc).alias("__first_seen")
    )
    name = f"{value}_antimode" if anti else f"{value}_mode"
    # Pure aggregations, no window: find the target count (min/max) per
    # group, keep only candidates at that count, break ties by earliest
    # first-seen with min_by. Distributed for ANY group cardinality —
    # the previous row_number window was single-task ungrouped.
    pick_cnt = F.min("__cnt") if anti else F.max("__cnt")
    target = (counted.groupBy(*by) if by else counted.groupBy()).agg(
        pick_cnt.alias("__best")
    )
    # grouped: plain equi-join (AQE broadcasts when the per-group best
    # table is small); ungrouped: broadcast the single-row target
    joined = (
        counted.join(target, on=by)
        if by
        else counted.crossJoin(F.broadcast(target))
    ).filter(F.col("__cnt") == F.col("__best"))
    best = (joined.groupBy(*by) if by else joined.groupBy()).agg(
        F.min_by(F.col(value), F.col("__first_seen")).alias(name)
    )
    return best


def count_records(df: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """`mlr count [-g ...]` (pkg/transformers/count.go:22)."""
    if by:
        return df.groupBy(*_cols(by)).agg(F.count("*").alias("count"))
    return df.agg(F.count("*").alias("count"))


def count_distinct(df: DataFrame, fields: Sequence[str], unlashed: bool = False) -> DataFrame:
    """`mlr count-distinct -f ...` (pkg/transformers/uniq.go:27,359-365).

    Default (lashed): count per distinct combination of the fields.
    Unlashed (-u, uniq.go:477-530): independent per-field value counts,
    output (field, value, count).
    """
    fields = _cols(fields)
    if not unlashed:
        return df.groupBy(*fields).agg(F.count("*").alias("count"))
    parts = [
        df.groupBy(F.lit(f).alias("field"), F.col(f).cast("string").alias("value")).agg(
            F.count("*").alias("count")
        )
        for f in fields
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def uniq(df: DataFrame, by: Sequence[str], show_counts: bool = False) -> DataFrame:
    """`mlr uniq -g ...` [-c] (pkg/transformers/uniq.go:45,391-454)."""
    by = _cols(by)
    if show_counts:
        return df.groupBy(*by).agg(F.count("*").alias("count"))
    return df.select(*by).distinct()


def uniq_distinct_count(df: DataFrame, by: Sequence[str]) -> DataFrame:
    """`mlr uniq -n` (uniq.go:427-454): number of distinct groups."""
    return df.select(*_cols(by)).distinct().agg(F.count("*").alias("count"))


def uniq_records(
    df: DataFrame,
    show_counts: bool = False,
    order_by: Sequence[str] = (),
    exclude: Sequence[str] = (),
    count_field: str = "count",
) -> DataFrame:
    """`mlr uniq -a [-c] [-x ...]` (pkg/transformers/uniq.go:391-425):
    whole-record dedupe (or all-fields-except with ``exclude``), the
    count PREPENDED when ``show_counts``. First-occurrence order is
    preserved when ``order_by`` names a stream-order column (min() of it
    travels with the group — one hash aggregate, no extra shuffle).
    """
    exclude = set(_cols(exclude))
    order_by = _cols(order_by)
    cols = [c for c in df.columns if c not in exclude and c not in order_by]
    aggs = [F.count("*").alias(count_field)] + [
        F.min(c).alias(c) for c in order_by
    ]
    g = df.groupBy(*cols).agg(*aggs)
    sel = ([count_field] if show_counts else []) + cols + order_by
    return g.select(*sel)


def top(
    df: DataFrame,
    value: str,
    n: int = 1,
    by: Sequence[str] = (),
    use_min: bool = False,
    show_full_records: bool = False,
    tiebreak: Sequence[str] = (),
    pad: bool = False,
) -> DataFrame:
    """`mlr top -f v -n N -g g [--min] [-a]` (pkg/transformers/top.go:29;
    sorted-insert keeper utils/top_keeper.go:68-94).

    Emits per group the top-N values of ``value`` with 1-up ``top_idx``.
    Spark plan: single shuffle on the group keys + in-partition sort;
    with AQE this is a bounded-memory windowed rank, the distributed
    analogue of Miller's capacity-N keeper.
    """
    by = _cols(by)
    order = [F.col(value).asc() if use_min else F.col(value).desc()] + [
        F.col(c).asc() for c in _cols(tiebreak)
    ]
    if not by:
        # global top-n: orderBy+limit plans as TakeOrdered (per-partition
        # top-n + driver merge of n·partitions rows) — NOT a global
        # single-partition window sort. The row_number window then runs
        # over just n rows.
        ranked = (
            df.orderBy(*order)
            .limit(n)
            .withColumn("top_idx", F.row_number().over(Window.orderBy(*order)))
        )
    else:
        w = Window.partitionBy(*by).orderBy(*order)
        ranked = df.withColumn("top_idx", F.row_number().over(w)).filter(
            F.col("top_idx") <= n
        )
    if show_full_records:
        return ranked
    out = ranked.select(*by, "top_idx", F.col(value).alias(f"{value}_top"))
    if pad:
        # Miller emits exactly n rows per group (one group when
        # ungrouped), void-padded when the group has fewer candidates
        # (top.go emit loop `for i < topCount`; golden verb-top/0002)
        idxs = df.sparkSession.range(1, n + 1).select(
            F.col("id").cast("int").alias("top_idx")
        )
        if by:
            full = out.select(*by).distinct().crossJoin(F.broadcast(idxs))
        else:
            full = idxs
        out = full.join(out, [*by, "top_idx"], "left")
    return out


def most_frequent(
    df: DataFrame, fields: Sequence[str], n: int = 10, descending: bool = True
) -> DataFrame:
    """`mlr most-frequent/least-frequent -f ... -b n`
    (pkg/transformers/most_or_least_frequent.go:28,216-295).

    Exact heavy hitters: groupBy + count + global top-n. The grouped
    count is one shuffle with map-side combine; the final top-n is a
    driver-sized limit (n rows), not a full sort.
    """
    fields = _cols(fields)
    counted = df.groupBy(*fields).agg(F.count("*").alias("count"))
    order = [F.col("count").desc() if descending else F.col("count").asc()] + [
        F.col(f).asc() for f in fields
    ]
    return counted.orderBy(*order).limit(n)


def count_similar(df: DataFrame, by: Sequence[str]) -> DataFrame:
    """`mlr count-similar -g ...` (pkg/transformers/count_similar.go:21):
    append per-group record count to every record."""
    w = Window.partitionBy(*_cols(by))
    return df.withColumn("count", F.count("*").over(w))


def fraction(
    df: DataFrame,
    value: str,
    by: Sequence[str] = (),
    cumulative: bool = False,
    order_by: Sequence[str] = (),
    percent: bool = False,
) -> DataFrame:
    """`mlr fraction -f v [-g g] [-c] [-p]` (pkg/transformers/fraction.go:25).
    -p emits {v}_percent = 100x the fraction (golden verb-fraction/0004).

    value / sum(value) per group; -c makes it cumulative in stream
    order (here: explicit ``order_by``). Window over the full group —
    one shuffle, no driver collect (Miller does two passes holding all
    records; fraction.go:19-22).
    """
    by = _cols(by)
    scale = F.lit(100.0) if percent else F.lit(1.0)
    suffix = "percent" if percent else "fraction"
    present = F.col(value).isNotNull()  # absent value => absent output field

    if cumulative and not by:
        # ungrouped -c: an empty-partition window funnels EVERY row
        # through one task — fatal at 100x. Range pass, per-partition
        # prefix sums, plus each partition's carry of the earlier sums
        # (_carry); the global denominator is the fold's grand total.
        ordered = _range_pass(df, [F.col(c) for c in _cols(order_by)])
        ordered, carry, total = _carry(
            ordered, [F.sum(value).alias("s")],
            lambda acc, r, _: (acc, acc + float(r["s"] or 0.0)), 0.0, DoubleType(),
        )
        w_in = Window.partitionBy("__pid").orderBy("__mid").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        num = F.sum(value).over(w_in) + carry
        name = f"{value}_cumulative_{suffix}"
        out = ordered.withColumn(name, F.when(present, _ieee_div(scale * num, F.lit(total))))
        return _keep(out, [*df.columns, name])

    if by:
        denom = F.sum(value).over(Window.partitionBy(*by))
    else:
        # ungrouped: the global sum is a scalar — aggregate it (partial +
        # final, fully parallel) and broadcast-cross-join the one row.
        total = df.agg(F.sum(value).alias("__total"))
        df = df.crossJoin(F.broadcast(total))
        denom = F.col("__total")
    if cumulative:
        w_cum = (
            Window.partitionBy(*by)
            .orderBy(*[F.col(c) for c in _cols(order_by)])
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        num = F.sum(value).over(w_cum)
        out = df.withColumn(
            f"{value}_cumulative_{suffix}", F.when(present, _ieee_div(scale * num, denom))
        )
    else:
        out = df.withColumn(
            f"{value}_{suffix}", F.when(present, _ieee_div(scale * F.col(value), denom))
        )
    return out.drop("__total") if not by else out


def histogram(
    df: DataFrame, value: str, lo: float, hi: float, nbins: int,
    include_hi: bool = False,
) -> DataFrame:
    """`mlr histogram -f v --lo --hi --nbins`
    (pkg/transformers/histogram.go:28). Fixed-width bins; values outside
    [lo, hi) are dropped (histogram.go semantics). Emits bin_lo, bin_hi,
    count for every bin including empty ones (Miller emits all bins).
    ``include_hi`` sends values == hi into the top bin (the --auto mode,
    where hi is the data max — clamping, never width-padding, so bin
    boundaries stay exact for integer data).
    """
    width = (hi - lo) / nbins
    upper = F.col(value) <= hi if include_hi else F.col(value) < hi
    binned = (
        df.filter((F.col(value) >= lo) & upper)
        .withColumn(
            "__bin",
            F.least(
                F.floor((F.col(value) - lo) / width).cast("int"), F.lit(nbins - 1)
            ),
        )
        .groupBy("__bin")
        .agg(F.count("*").alias("count"))
    )
    spark = df.sparkSession
    bins = spark.range(nbins).select(F.col("id").cast("int").alias("__bin"))
    return (
        bins.join(binned, "__bin", "left")
        .select(
            (F.lit(lo) + F.col("__bin") * F.lit(width)).alias("bin_lo"),
            (F.lit(lo) + (F.col("__bin") + 1) * F.lit(width)).alias("bin_hi"),
            F.coalesce(F.col("count"), F.lit(0)).alias("count"),
        )
        .orderBy("bin_lo")
    )


def merge_fields(
    df: DataFrame,
    accs: Sequence[str],
    fields: Sequence[str],
    out_prefix: str,
    interpolated: bool = False,
) -> DataFrame:
    """`mlr merge-fields -a ... -f ... -o prefix` [-i]
    (pkg/transformers/merge_fields.go:29): stats1 accumulators applied
    HORIZONTALLY across fields within each record. Pure row-wise
    expressions — zero shuffle, fully codegen'd.
    """
    fields = _cols(fields)
    arr = (
        F.array(*[F.col(f).try_cast("double") for f in fields])
        if fields
        else F.array().cast("array<double>")
    )
    accs = _cols(accs)
    # The non-null values, and their sorted copy when a percentile needs
    # it, are projected once: every accumulator reads these columns
    # instead of filtering (and sorting) the array again.
    out = df.withColumn("__nn", F.filter(arr, lambda x: x.isNotNull()))
    nn, srt = F.col("__nn"), F.col("__srt")
    if any(_pct_needs(a) is not None for a in accs):
        out = out.withColumn("__srt", F.array_sort(nn))
    for a in accs:
        name = f"{out_prefix}_{a}"
        ssum = F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x)
        ssum2 = F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x * x)
        cnt = F.size(nn)
        pct = _pct_needs(a)
        if pct is not None:
            # horizontal Miller percentile: sorted row values, index
            # int(p/100*n) clamped (percentiles.go:193-208); median/iqr/
            # fences share the same picks. With -i, R-type-7 linear
            # interpolation at (p/100)*(n-1) (percentiles.go:157-176).

            def pick(p: float) -> Column:
                if interpolated:
                    findex = F.greatest(
                        F.lit(p / 100.0) * (cnt - 1).cast("double"), F.lit(0.0)
                    )
                    iidx = F.floor(findex).cast("int")
                    frac = findex - iidx.cast("double")
                    lo = F.get(srt, iidx)
                    hi = F.coalesce(F.get(srt, iidx + 1), lo)
                    return lo + frac * (hi - lo)
                idx = F.least(
                    F.greatest(F.floor(F.lit(p / 100.0) * cnt).cast("int"), F.lit(0)),
                    cnt - 1,
                )
                return F.get(srt, idx)

            if a == "median":
                c = pick(50.0)
            elif a == "iqr":
                c = pick(75.0) - pick(25.0)
            elif a in _FENCE_K:
                k2 = _FENCE_K[a]
                c = (pick(25.0) if k2 < 0 else pick(75.0)) + F.lit(k2) * (
                    pick(75.0) - pick(25.0)
                )
            else:
                c = pick(float(a[1:]))
            out = out.withColumn(f"{out_prefix}_{a}", c)
            continue
        if a == "min":
            c = F.array_min(nn)
        elif a == "max":
            c = F.array_max(nn)
        elif a == "sum":
            c = ssum
        elif a == "mean":  # no value, no mean (as stats1 -s)
            c = F.when(cnt > 0, ssum / cnt)
        elif a == "count":
            c = cnt
        elif a == "var":  # sample variance from raw moments (n-1 denom)
            c = F.when(cnt > 1, (ssum2 - ssum * ssum / cnt) / (cnt - 1))
        elif a == "stddev":
            c = F.when(cnt > 1, F.sqrt((ssum2 - ssum * ssum / cnt) / (cnt - 1)))
        else:
            raise ValueError(f"merge-fields accumulator not supported: {a}")
        out = out.withColumn(name, c)
    return out.drop("__nn", "__srt")


def stats2(df: DataFrame, x: str, y: str, stats: Sequence[str], by: Sequence[str] = ()) -> DataFrame:
    """`mlr stats2 -a corr,cov,r2,linreg-ols -f x,y [-g ...]`
    (pkg/transformers/stats2.go:32; accumulators
    utils/stats2_accumulators.go:123-500). All derivable from raw
    cross-moments, so Catalyst's partial aggregation applies.
    """
    aggs = []
    for s in _cols(stats):
        if s == "corr":
            aggs.append(F.corr(x, y).alias(f"{x}_{y}_corr"))
        elif s == "cov":
            aggs.append(F.covar_samp(x, y).alias(f"{x}_{y}_cov"))
        elif s == "r2":
            aggs.append((F.corr(x, y) ** 2).alias(f"{x}_{y}_r2"))
        elif s == "linreg-ols":
            # slope m = cov/var(x), intercept b = ȳ - m·x̄ (stats2_accumulators.go:123+)
            m = F.covar_pop(x, y) / F.var_pop(x)
            aggs.append(m.alias(f"{x}_{y}_m"))
            aggs.append((F.avg(y) - m * F.avg(x)).alias(f"{x}_{y}_b"))
        elif s == "linreg-pca":
            # Total least squares via the principal eigenvector of the
            # 2x2 SAMPLE covariance matrix (lib/stats.go:165-183 GetCovMatrix,
            # :207-229 GetLinearRegressionPCA). Closed form for 2x2
            # symmetric [[sxx,sxy],[sxy,syy]]:
            #   lambda = ((sxx+syy) +- sqrt((sxx-syy)^2 + 4 sxy^2)) / 2
            #   principal direction (sxy, l1 - sxx)  =>  m = (l1-sxx)/sxy
            #   b = ybar - m*xbar; quality = 1 - |l2|/|l1|.
            sxx, syy, sxy = F.var_samp(x), F.var_samp(y), F.covar_samp(x, y)
            disc = F.sqrt((sxx - syy) * (sxx - syy) + 4 * sxy * sxy)
            l1 = (sxx + syy + disc) / 2
            l2 = (sxx + syy - disc) / 2
            m = (l1 - sxx) / sxy
            aggs.append(m.alias(f"{x}_{y}_pca_m"))
            aggs.append((F.avg(y) - m * F.avg(x)).alias(f"{x}_{y}_pca_b"))
            aggs.append(F.count(F.col(x)).alias(f"{x}_{y}_pca_n"))
            aggs.append(
                F.when(F.abs(l1) == 0, F.lit(0.0))
                .otherwise(1.0 - F.abs(l2) / F.abs(l1))
                .alias(f"{x}_{y}_pca_quality")
            )
        elif s == "covx":
            # sample-covariance matrix (stats2_accumulators.go:78-81)
            aggs.append(F.var_samp(x).alias(f"{x}_var"))
            aggs.append(F.covar_samp(x, y).alias(f"{x}_{y}_cov"))
            aggs.append(F.var_samp(y).alias(f"{y}_var"))
        else:
            raise ValueError(f"unknown stats2: {s}")
    if by:
        return df.groupBy(*_cols(by)).agg(*aggs)
    return df.agg(*aggs)


# ---------------------------------------------------------------------------
# per-record verbs (SURVEY.md §2.2) — zero-shuffle, codegen'd
# ---------------------------------------------------------------------------


def cut(df: DataFrame, fields: Sequence[str], complement: bool = False) -> DataFrame:
    """`mlr cut -f ...` [-x] (pkg/transformers/cut.go:26)."""
    fields = _cols(fields)
    if complement:
        return df.drop(*fields)
    return df.select(*fields)


def global_row_number(
    df: DataFrame, order_by: Sequence[str], out: str = "n", keep_pid: bool = False
) -> DataFrame:
    """Distributed 1-up row number in a global ``order_by`` order.

    A bare ``Window.orderBy`` funnels EVERY row through one task — fatal
    at 100 TB. Classic two-pass instead: range-partition on the order
    keys, so partition p holds a contiguous key range; number rows within
    each partition by their _local_index; add each partition's start
    offset, the exclusive prefix of per-partition counts (_carry). One
    range exchange, one collect, no window, no single-task stage.
    """
    tagged = _range_pass(df, [F.col(c) for c in _cols(order_by)])
    tagged, off, _ = _carry(
        tagged, [F.count(F.lit(1)).alias("rows")], lambda n, r, _: (n, n + r["rows"]), 0, LongType()
    )
    numbered = tagged.withColumn(out, _local_index() + 1 + off)
    return _keep(numbered, [*df.columns, out, *(["__pid"] if keep_pid else [])])


def percentiles_rank(
    df: DataFrame,
    value: str,
    ps: Sequence[float],
    by: Sequence[str] = (),
    interpolated: bool = True,
) -> DataFrame:
    """EXACT per-group percentiles WITHOUT per-group buffers — the
    distributed alternative to the sorted-collect_list oracle path
    (stats1 percentile family) and the exact cousin of the KLL/t-digest
    estimates.

    Plan: ONE range exchange on (by..., value) clusters and sorts the
    frame; per-partition group counts (a tiny collect — groups are
    CONTIGUOUS within a sorted partition) give every (partition, group)
    both its in-partition start index and its global rank offset, so a
    row's global in-group rank is a pure projection off
    monotonically_increasing_id — no Window, no second exchange. Only
    the <= 2 order statistics each requested percentile needs survive
    the rank filter (a broadcast semi-join against a few rows), and a
    conditional aggregation interpolates them. Memory class: O(one
    partition) rows executor-side, O(#partitions x #groups) driver
    state — this is the 100 TB shape when the quantile must be EXACT
    rather than KLL-approximate.

    Semantics: interpolated=True == Miller --interpolate == R type 7 ==
    SQL percentile_cont (position p*(n-1), linear); False == Miller's
    default element pick sorted[clamp(int(p/100*n), 0, n-1)]
    (pkg/bifs/percentiles.go:193-208). Output: by..., {value}_p{p}.
    """
    by = _cols(by)
    ps = list(ps)
    d = df.select(*by, F.col(value).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    tagged = _range_pass(d, [*[F.col(c) for c in by], F.col("__v")])
    # length-prefixed parts keep the key injective: a null (absent)
    # group, a "" (void) group and values holding the separator stay apart
    gkey = F.concat(*[
        F.coalesce(F.concat(F.length(s).cast("string"), F.lit(":"), s), F.lit("-"))
        for s in (F.col(c).cast("string") for c in by)
    ]) if by else F.lit("")
    # per-(partition, group) row counts; groups are contiguous in the
    # range-sorted layout, so these yield both start indexes and offsets
    pg = (
        tagged.groupBy("__pid", gkey.alias("__g"))
        .agg(F.count(F.lit(1)).alias("__c"), F.min(_local_index()).alias("__i0"))
        .collect()
    )
    # adj(pid, g): global in-group rank = partition-local row index
    # + adj, where adj = (rows of g in earlier partitions) - (g's start
    # index within this partition); the prefix runs per group, so it is
    # folded here rather than by _pid_prefix
    adj: dict[str, int] = {}
    n_of: dict[str, int] = {}
    for r in sorted(pg, key=lambda r: r["__pid"]):
        g = r["__g"]
        run = n_of.get(g, 0)
        adj[f"{r['__pid']}|{g}"] = run - r["__i0"]
        n_of[g] = run + r["__c"]
    tagged, adj_of = _lookup(
        tagged, F.concat(F.col("__pid").cast("string"), F.lit("|"), gkey), adj, LongType()
    )
    ranked = tagged.withColumn("__rk", _local_index() + adj_of)
    # needed 0-based ranks per group with interpolation weights
    need_rows = []
    for g, n in n_of.items():
        for p in ps:
            if n == 0:
                continue
            if interpolated:
                pos = (p / 100.0) * (n - 1)
                lo = int(pos)
                frac = pos - lo
                need_rows.append((g, lo, p, 1.0 - frac))
                if frac > 0 and lo + 1 <= n - 1:
                    need_rows.append((g, lo + 1, p, frac))
            else:
                idx = min(max(int((p / 100.0) * n), 0), n - 1)
                need_rows.append((g, idx, p, 1.0))
    spark = df.sparkSession
    dedup_need = {(g, rk, float(p)): w for g, rk, p, w in need_rows}
    need = spark.createDataFrame(
        [(g, int(rk), p, float(w)) for (g, rk, p), w in dedup_need.items()],
        StructType([
            StructField("__g", StringType()), StructField("__rk", LongType()),
            StructField("__p", DoubleType()), StructField("__w", DoubleType()),
        ]),
        # every value above already has its field's type; the per-row
        # check costs ~15 µs a row (~0.8 s at 20,000 groups)
        verifySchema=False,
    )
    hits = ranked.withColumn("__g", gkey).join(
        F.broadcast(need), ["__g", "__rk"]
    )
    aggs = [
        F.sum(F.when(F.col("__p") == p, F.col("__v") * F.col("__w"))).alias(
            f"{value}_p{('%g' % p).replace('.', '_')}"
        )
        for p in ps
    ]
    out = hits.groupBy(*by).agg(*aggs)
    # a global aggregate over no values still yields one all-null row;
    # like a group without values, it emits nothing
    return out if by or n_of else out.limit(0)


def cat_numbered(df: DataFrame, by: Sequence[str] = (), order_by: Sequence[str] = ()) -> DataFrame:
    """`mlr cat -n [-g ...]` (pkg/transformers/cat.go:23): prepend 1-up
    counter, optionally per group, in ``order_by`` order. Grouped:
    one hash-partitioned window. Ungrouped: distributed two-pass
    global_row_number (no single-task window)."""
    by = _cols(by)
    if not by:
        num = global_row_number(df, _cols(order_by), out="n")
        return num.select("n", *df.columns)
    w = Window.partitionBy(*by).orderBy(*[F.col(c) for c in _cols(order_by)])
    return df.select(F.row_number().over(w).alias("n"), "*")


def rename_fields(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """`mlr rename old,new,...` (pkg/transformers/rename.go:29).
    Renaming onto an EXISTING field replaces it — the prior field is
    dropped (golden verb-rename/0004: `rename a,b` discards old b)."""
    collisions = [
        new for old, new in mapping.items()
        if new in df.columns and new not in mapping
    ]
    return df.drop(*collisions).withColumnsRenamed(mapping)


def reorder(df: DataFrame, front: Sequence[str] = (), back: Sequence[str] = ()) -> DataFrame:
    """`mlr reorder -f ...` [-e] (pkg/transformers/reorder.go:26)."""
    front, back = _cols(front), _cols(back)
    mid = [c for c in df.columns if c not in front and c not in back]
    return df.select(*front, *mid, *back)


def fill_empty(df: DataFrame, fill: str = "N/A", fields: Sequence[str] | None = None) -> DataFrame:
    """`mlr fill-empty -v ...` (pkg/transformers/fill_empty.go:21):
    replace empty-string values (Miller's VOID) with a constant."""
    fields = _cols(fields) if fields else [c for c, t in df.dtypes if t == "string"]
    return df.withColumns(
        {f: F.when(F.col(f) == "", F.lit(fill)).otherwise(F.col(f)) for f in fields}
    )


def fill_down(
    df: DataFrame,
    fields: Sequence[str],
    order_by: Sequence[str],
    by: Sequence[str] = (),
    only_if_absent: bool = False,
    only_voids: bool = False,
) -> DataFrame:
    """`mlr fill-down` (pkg/transformers/fill_down.go:16-18,160-189) in
    ``order_by`` order, with the reference's three missingness modes
    under the fixed-schema mapping absent==null, void==empty string:

    - default (``-f a,b``): a field is missing when absent OR void;
      only non-void present values are remembered as the carry.
    - ``only_if_absent`` (``-a``/``--only-if-absent``): missing means
      absent only; void values are remembered and carried.
    - ``only_voids`` (``--all``): the reference iterates each record's
      OWN fields, so absent fields are never filled — only voids are
      replaced (and with ``-a`` too, ``--all`` is a pass-through).

    A field with no prior carry keeps its original value (absent stays
    absent, void stays void — fill_down.go:176-180).

    One body (_ordered): a missing value is filled from the last
    rememberable value up to it in its window partition, else from the
    partition's carry. Grouped, that partition is the group and the
    carry is null. Ungrouped, rows are range-partitioned on the order
    key and the carry is the last rememberable value of every PREVIOUS
    partition (a last-non-null fold over one tiny row per partition,
    read back as one struct of every field), not an empty-partition
    window that serializes all rows through one task."""
    fields = list(dict.fromkeys(_cols(fields)))
    str_cols = {c for c, t in df.dtypes if t == "string"}

    def memcol(f):  # the value a row contributes to the carry, else null
        if only_if_absent or f not in str_cols:
            return F.col(f)
        return F.nullif(F.col(f), F.lit(""))

    def fill_expr(f, carryv):  # apply the carry per missingness mode
        c = F.col(f)
        if only_voids:
            if f not in str_cols:
                return c
            missing = c == ""
        elif only_if_absent or f not in str_cols:
            missing = c.isNull()
        else:
            missing = c.isNull() | (c == "")
        return F.when(missing, F.coalesce(carryv, c)).otherwise(c)

    # per-partition last rememberable value of each field, in order:
    # max_by(f, __mid-when-rememberable); the fold keeps the latest one
    frame, w, carry, _ = _ordered(
        df, order_by, by,
        [F.max_by(memcol(f), F.when(memcol(f).isNotNull(), F.col("__mid"))).alias(f)
         for f in fields],
        lambda acc, r, _: (acc, tuple(a if r[f] is None else r[f] for a, f in zip(acc, fields))),
        (None,) * len(fields),
        StructType([StructField(f, df.schema[f].dataType) for f in fields]),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled = {
        f: fill_expr(f, F.coalesce(F.last(memcol(f), ignorenulls=True).over(run), carry[f]))
        for f in fields
    }
    return _keep(frame.withColumns(filled), df.columns)


def clean_whitespace(df: DataFrame, fields: Sequence[str] | None = None) -> DataFrame:
    """`mlr clean-whitespace` (pkg/transformers/clean_whitespace.go:21):
    trim + collapse internal runs of whitespace."""
    fields = _cols(fields) if fields else [c for c, t in df.dtypes if t == "string"]
    return df.withColumns(
        {f: F.regexp_replace(F.trim(F.col(f)), r"\s+", " ") for f in fields}
    )


def sub_field(df: DataFrame, field: str, pattern: str, replacement: str, all_matches: bool = True) -> DataFrame:
    """`mlr sub/gsub -f field pattern repl` (pkg/transformers/subs.go:26)."""
    if all_matches:
        return df.withColumn(field, F.regexp_replace(F.col(field), pattern, replacement))
    # sub: FIRST match only (subs.go:26 `sub` vs `gsub`). Spark's
    # regexp_replace is global, so wrap: the (?s)(.*) tail makes the
    # first match consume the rest of the string, leaving exactly one
    # replacement site. The wrap adds one leading group, so user
    # backrefs $n/\n in `replacement` shift to $n+1, and the tail group
    # index is (pattern's own group count)+2.
    import re as _re

    n_inner = _re.compile(pattern).groups
    shifted = _re.sub(
        r"(?<!\\)\$(\d)", lambda m: f"${int(m.group(1)) + 1}", replacement
    )
    return df.withColumn(
        field,
        F.regexp_replace(
            F.col(field),
            f"(?s)({pattern})(.*)",
            shifted + f"${n_inner + 2}",
        ),
    )


def case_fields(
    df: DataFrame, fields: Sequence[str], mode: str = "upper", which: str = "values"
) -> DataFrame:
    """`mlr case -u/-l/-t [-k|-v] -f ...` (pkg/transformers/case.go:29).
    Default (no -k/-v) cases BOTH keys and values (golden
    verb-case/0001); numeric values are untouched (casing a number is a
    no-op on its string form here since [A-Z] never appears)."""
    def _py_sentence(s: str) -> str:
        return (s[0].upper() + s[1:].lower()) if s else s

    py_fn = {"upper": str.upper, "lower": str.lower, "title": str.title,
             "sentence": _py_sentence}[mode]

    fn = {
        "upper": F.upper,
        "lower": F.lower,
        "title": F.initcap,
        "sentence": lambda c: F.when(
            F.length(c) > 0,
            F.concat(F.upper(c.substr(F.lit(1), F.lit(1))), F.lower(c.substr(F.lit(2), F.length(c)))),
        ).otherwise(c),
    }[mode]
    fields = _cols(fields)
    out = df
    if which in ("values", "both"):
        str_fields = [f for f in fields if dict(df.dtypes).get(f) == "string"]
        out = out.withColumns({f: fn(F.col(f)) for f in str_fields})
    if which in ("keys", "both"):
        out = out.withColumnsRenamed({f: py_fn(f) for f in fields})
    return out


def sec2gmt(
    df: DataFrame, fields: Sequence[str], decimals: int = 0, divisor: float = 1.0
) -> DataFrame:
    """`mlr sec2gmt [-1|-2|...] [--millis|--micros|--nanos]`
    (pkg/transformers/sec2gmt.go:30): epoch seconds → ISO-8601
    'YYYY-MM-DDTHH:MM:SSZ'. Non-numeric values pass through unchanged
    (golden verb-sec2gmt/0001); fractional seconds truncate to
    `decimals` digits (golden verb-sec2gmt/0002 for -1); --millis etc
    divide the input by 1e3/1e6/1e9 first."""
    def conv(f: str) -> Column:
        num = F.col(f).try_cast("double")  # ANSI-safe: non-numeric -> null
        if divisor != 1.0:
            num = num / F.lit(divisor)
        base = F.date_format(F.timestamp_seconds(F.floor(num)), "yyyy-MM-dd'T'HH:mm:ss")
        if decimals > 0:
            frac = F.floor((num - F.floor(num)) * (10 ** decimals)).cast("long")
            iso = F.concat(base, F.lit("."), F.lpad(frac.cast("string"), decimals, "0"), F.lit("Z"))
        else:
            iso = F.concat(base, F.lit("Z"))
        return F.when(num.isNotNull(), iso).otherwise(F.col(f).cast("string"))

    return df.withColumns({f: conv(f) for f in _cols(fields)})


def format_values(df: DataFrame, fmt: str = "%.6f", fields: Sequence[str] | None = None) -> DataFrame:
    """`mlr format-values -f fmt` (pkg/transformers/format_values.go:26)."""
    fields = _cols(fields) if fields else [c for c, t in df.dtypes if t in ("double", "float")]
    return df.withColumns({f: F.format_string(fmt, F.col(f)) for f in fields})


def having_fields_all_defined(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """`mlr having-fields --at-least ...`
    (pkg/transformers/having_fields.go:28) under a fixed schema:
    presence == non-null."""
    return having_fields(df, "at-least", fields=fields)


def having_fields(
    df: DataFrame,
    mode: str,
    fields: Sequence[str] | None = None,
    pattern: str | None = None,
    exclude: Sequence[str] = (),
) -> DataFrame:
    """`mlr having-fields` — all six modes
    (pkg/transformers/having_fields.go:27-35) under the fixed-schema
    mapping: a field is present in a record iff its column is non-null.

    ``mode`` ∈ {"at-least", "any-defined", "which-are", "at-most",
    "all-matching", "any-matching", "none-matching"}; the first four
    take ``fields``, the last three a Go-compatible regex ``pattern``
    (``"..."i`` / ``/.../i`` case-insensitive forms accepted).
    ``exclude`` names bookkeeping columns (e.g. an order key) ignored
    by the presence test. Pure Catalyst filter — pushes down, no
    shuffle."""
    import re as _re

    cols = [c for c in df.columns if c not in set(exclude)]
    if mode in ("all-matching", "any-matching", "none-matching"):
        pat = pattern or ""
        flags = 0
        m = _re.fullmatch(r'(?:/(.*)/|"(.*)")(i?)', pat, _re.S)
        if m:
            pat = m.group(1) if m.group(1) is not None else m.group(2)
            if m.group(3):
                flags = _re.I
        rx = _re.compile(pat, flags)
        hit = [c for c in cols if rx.search(c)]
        miss = [c for c in cols if c not in hit]
        if mode == "any-matching":
            cond = F.lit(False)
            for c in hit:
                cond = cond | F.col(c).isNotNull()
        elif mode == "all-matching":
            # every PRESENT field's name matches (and at least one does)
            cond = F.lit(True)
            for c in miss:
                cond = cond & F.col(c).isNull()
            any_hit = F.lit(False)
            for c in hit:
                any_hit = any_hit | F.col(c).isNotNull()
            cond = cond & any_hit
        else:  # none-matching
            cond = F.lit(True)
            for c in hit:
                cond = cond & F.col(c).isNull()
        return df.filter(cond)

    want = _cols(fields or ())
    if mode in ("at-least", "all-defined"):
        if any(f not in cols for f in want):
            return df.limit(0)  # a field no record has => nothing passes
        cond = F.lit(True)
        for f in want:
            cond = cond & F.col(f).isNotNull()
        return df.filter(cond)
    if mode == "any-defined":
        present = [f for f in want if f in cols]
        if not present:
            return df.limit(0)
        cond = F.lit(False)
        for f in present:
            cond = cond | F.col(f).isNotNull()
        return df.filter(cond)
    if mode == "which-are":
        wset = set(want)
        if wset - set(cols):
            return df.limit(0)
        cond = F.lit(True)
        for c in cols:
            has = F.col(c).isNotNull()
            cond = cond & (has if c in wset else ~has)
        return df.filter(cond)
    if mode == "at-most":
        allowed = set(want)
        cond = F.lit(True)
        for c in cols:
            if c not in allowed:
                cond = cond & F.col(c).isNull()
        return df.filter(cond)
    raise ValueError(f"having_fields: unknown mode {mode!r}")


def skip_trivial_records(df: DataFrame) -> DataFrame:
    """`mlr skip-trivial-records` (skip_trivial_records.go:16)."""
    return df.na.drop("all")


def repeat(df: DataFrame, n_field_or_const: str | int) -> DataFrame:
    """`mlr repeat -n n | -f field` (pkg/transformers/repeat.go:37):
    emit each record n times via explode(array_repeat) — distributed,
    no driver loop."""
    n = (
        F.lit(int(n_field_or_const))
        if isinstance(n_field_or_const, int)
        else F.col(n_field_or_const).cast("int")
    )
    return (
        df.withColumn("__rep", F.explode(F.array_repeat(F.lit(1), n)))
        .drop("__rep")
    )


def decimate(
    df: DataFrame, n: int, order_by: Sequence[str], by: Sequence[str] = (),
    keep_first: bool = False,
) -> DataFrame:
    """`mlr decimate -n N [-b|-e]` (pkg/transformers/decimate.go:21):
    keep one record per block of N — the last (default / -e) or the
    first (-b). Ungrouped path numbers rows with the distributed
    two-pass global_row_number."""
    by = _cols(by)
    keep = (F.col("__rn") % n == 1) if keep_first else (F.col("__rn") % n == 0)
    if not by:
        return (
            global_row_number(df, _cols(order_by), out="__rn")
            .filter(keep)
            .drop("__rn")
        )
    w = Window.partitionBy(*by).orderBy(*[F.col(c) for c in _cols(order_by)])
    return df.withColumn("__rn", F.row_number().over(w)).filter(keep).drop("__rn")


# ---------------------------------------------------------------------------
# sort / head / tail / sampling (SURVEY.md §2.7)
# ---------------------------------------------------------------------------


def sort(df: DataFrame, specs: Sequence[tuple[str, str]]) -> DataFrame:
    """`mlr sort -f/-r/-nf/-nr ...` (pkg/transformers/sort.go:69).

    specs: (field, one of 'f'|'r'|'nf'|'nr'|'c'|'cr'|'t'|'tr') —
    lexical asc/desc, numeric asc/desc, case-folded, natural
    (sort.go:57-66). Miller: numeric sort puts non-numerics last.
    Spark's sort is a distributed range-partitioned sort (spills),
    unlike Miller's in-memory sort (performance.md:27).
    """
    order = []
    for f, how in specs:
        c = F.col(f)
        # records MISSING the sort field always go last (sort.go),
        # regardless of direction
        if how == "f":
            order.append(c.cast("string").asc_nulls_last())
        elif how == "r":
            order.append(c.cast("string").desc_nulls_last())
        elif how == "nf":
            order.append(c.cast("double").asc_nulls_last())
        elif how == "nr":
            order.append(c.cast("double").desc_nulls_last())
        elif how == "c":
            order.append(F.lower(c.cast("string")).asc_nulls_last())
        elif how == "cr":
            order.append(F.lower(c.cast("string")).desc_nulls_last())
        elif how in ("t", "tr"):
            k = _natural_sort_key(c.cast("string"))
            order.append(k.asc_nulls_last() if how == "t" else k.desc_nulls_last())
        else:
            raise ValueError(how)
    return df.orderBy(*order)


def _natural_sort_key(c: Column) -> Column:
    """Natural-order sort key (`mlr sort -t`, sort.go:57-66): digit runs
    compare numerically, text runs lexically. Built entirely from JVM
    HOFs (split on digit/non-digit boundaries, left-pad digit runs to a
    fixed width) — stays inside whole-stage codegen, no UDF."""
    toks = F.split(c, r"(?<=\D)(?=\d)|(?<=\d)(?=\D)")
    padded = F.transform(
        toks,
        lambda t: F.when(t.rlike("^[0-9]+$"), F.lpad(t, 20, "0")).otherwise(t),
    )
    return F.array_join(padded, "")


def head(df: DataFrame, n: int, by: Sequence[str] = (), order_by: Sequence[str] = ()) -> DataFrame:
    """`mlr head -n N [-g ...]` (pkg/transformers/head.go:19). Ungrouped
    head maps to limit() — Spark's limit pushdown is the analogue of
    Miller's reader-stop done-channel (stream.go:79-86)."""
    if not by:
        if order_by:
            return df.orderBy(*[F.col(c) for c in _cols(order_by)]).limit(n)
        return df.limit(n)
    w = Window.partitionBy(*_cols(by)).orderBy(*[F.col(c) for c in _cols(order_by)])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= n).drop("__rn")


def tail(df: DataFrame, n: int, by: Sequence[str] = (), order_by: Sequence[str] = ()) -> DataFrame:
    """`mlr tail -n N [-g ...]` (pkg/transformers/tail.go:20). Ungrouped:
    last-n == top-n in reversed order, planned as TakeOrdered (no
    single-partition window)."""
    by = _cols(by)
    if not by:
        return df.orderBy(*[F.col(c).desc() for c in _cols(order_by)]).limit(n)
    w = Window.partitionBy(*by).orderBy(*[F.col(c).desc() for c in _cols(order_by)])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def tac(df: DataFrame, order_by: Sequence[str]) -> DataFrame:
    """`mlr tac` (pkg/transformers/tac.go:16): reverse; needs an explicit
    order column in Spark (no stream order)."""
    return df.orderBy(*[F.col(c).desc() for c in _cols(order_by)])


def sample(
    df: DataFrame,
    k: int,
    by: Sequence[str] = (),
    seed: int = 42,
    key: Sequence[str] = (),
) -> DataFrame:
    """`mlr sample -k K [-g ...]` (pkg/transformers/sample.go:30):
    exact-k per-group reservoir sample. Distributed equivalent: rank on
    a pseudo-random key — grouped: one-shuffle window; ungrouped: top-k
    on the key, planned as TakeOrdered (the distributed reservoir).

    With ``key`` (a stable record identity, e.g. the primary key) the
    rank key is ``md5(seed || key)`` — a seeded hash-sample that is
    reproducible across cluster sizes, partitionings, and resumed runs
    (the right default at 100 TB, and SQL-oracle-checkable). Without
    ``key`` it falls back to seeded ``rand()``, which is deterministic
    only for a fixed input partitioning.
    """
    by = _cols(by)
    key = _cols(key)
    if key:
        rk = F.md5(
            F.concat_ws("\x01", F.lit(str(seed)), *[F.col(c).cast("string") for c in key])
        )
    else:
        rk = F.rand(seed)
    if not by:
        return df.withColumn("__r", rk).orderBy("__r").limit(k).drop("__r")
    w = Window.partitionBy(*by).orderBy(rk)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


# ---------------------------------------------------------------------------
# join (SURVEY.md §2.4)
# ---------------------------------------------------------------------------

_JOIN_HOW = {
    "inner": "inner",
    "left": "left",
    "right": "right",
    "full": "full",
    "left-anti": "left_anti",
    "left-semi": "left_semi",
}


def join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    broadcast_left: bool = False,
    lp: str = "",
    rp: str = "",
) -> DataFrame:
    """`mlr join -f left.file -j keys` + emit flags
    (pkg/transformers/join.go:36; flag→join-type matrix join.go:24-31:
    inner / --ul left / --ur right / --ul --ur full / --np --ul anti).

    Miller's unsorted mode hash-loads the whole left file
    (join.go:533) — the Spark analogue is an explicit broadcast of the
    small side (``broadcast_left``); its sorted mode is Catalyst's
    SortMergeJoin, chosen automatically for large-large joins.
    --lp/--rp prefixes map to column renames before joining.
    """
    on = _cols(on)
    if lp:
        left = left.withColumnsRenamed({c: lp + c for c in left.columns if c not in on})
    if rp:
        right = right.withColumnsRenamed({c: rp + c for c in right.columns if c not in on})
    lhs = F.broadcast(left) if broadcast_left else left
    return lhs.join(right, on=on, how=_JOIN_HOW[how])


# ---------------------------------------------------------------------------
# step / windowed verbs (SURVEY.md §2.6)
# ---------------------------------------------------------------------------


def _steppers_max_forward(steppers: Sequence[str], slwins: Sequence[tuple[int, int]]) -> int:
    """Max forward-window across all steppers (step.go:36: 'the delay is
    the max of each stepper's look-forward' — the window structure is
    SHARED, so one shift_lead_2 delays every stepper's emission)."""
    f_max = 0
    for s in steppers:
        base_name, k = _parse_stepper(s)
        if base_name == "shift_lead":
            f_max = max(f_max, k)
    for _b, fw in slwins:
        f_max = max(f_max, fw)
    return f_max


def _ewma(v: Column, alpha: float, run: WindowSpec, seed: Column) -> Column:
    """Miller's ewma y_t = αx_t + (1-α)y_{t-1} (step.go:647-651) over the
    non-null ``v`` in ``run`` (an unbounded-preceding frame), started
    from ``seed`` (y_0; the first value itself when nothing precedes).

    The JVM's EWM window aggregate (pandas-on-Spark's ewm().mean())
    gives the adjust=True mean ew_i = Σ β^(i-j) x_j / Σ β^(i-j), β = 1-α,
    over the first i values; the recursion is y_i = (1-β^i)·ew_i + β^i·y_0.
    Every term shrinks as i grows, so no length overflows it."""
    decay = F.pow(F.lit(1.0 - alpha), F.count(v).over(run))
    ew = InternalFunction.ewm(v, alpha, True).over(run)
    return (1.0 - decay) * ew + decay * seed


def step(
    df: DataFrame,
    steppers: Sequence[str],
    values: Sequence[str],
    order_by: Sequence[str],
    by: Sequence[str] = (),
    ewma_alphas: Sequence[float] = (),
    slwins: Sequence[tuple[int, int]] = (),
) -> DataFrame:
    """`mlr step -a shift,delta,ratio,rsum,counter,from-first,slwin_m_n
    -f ...` (pkg/transformers/step.go:630-712). Output columns
    ``{f}_{stepper}`` like Miller (slwin: ``{f}_slwin_{m}_{n}`` — the
    caller renames to Miller's ``{f}_{m}_{n}``).

    Heterogeneity model (step.go:404-496): with F = max look-forward
    across steppers, record j is the 'window center' of the event fired
    when record j+F is ingested (or when record j itself is drained at
    end-of-stream, step.go:383-391). The event's GATE is the
    field-presence of the *ingested* record — r_{j+F} while streaming,
    r_j during drain. A gated-off event emits no stepper outputs for
    that field on the center record and pushes nil into the prev-value
    caches (clearPrevValue, step.go:446-457), so shift/delta/ratio read
    ``lag`` over the gated value sequence v_j = gate(j) ? f_j : null —
    NOT an ignorenulls lag. Running state (rsum/rprod/counter/
    from-first/ewma) advances only on events where the gate is open and
    the center value is present. Records in groups smaller than F are
    silently dropped by the reference's drain loop (each pending log
    entry gets exactly one nil-ingest): a group of m records emits only
    its first min(m, max(0, 2m-F)) records — verb-step/0022 and 0026
    goldens encode this.

    One body (_ordered): every window (gate, lag, lead, running
    aggregate) runs within a window partition, and what a partition
    needs from its neighbours comes from its carry struct. Grouped, the
    partition is the group and the carry is null. Ungrouped, an
    empty-partition window would single-task every row, so rows are
    range-partitioned instead. A row's gate reads the record F ahead,
    which for a partition's last F rows lies in a later partition, so
    each partition sends its row count, its first F and last max(K, F)
    raw values of each field (K the largest lag) and its running
    aggregates over the rows whose gate it knows. ONE driver collect
    resolves the other gates from the later partitions' heads, chains
    partitions shorter than the edges, and returns one struct per
    partition: its offset and size and, per field, the K gated values
    before it (lags), the F raw values after it (gates, leads) and the
    running carries.

    Every ewma alpha must lie in (0, 1], the JVM EWM aggregate's domain
    (ValueError otherwise); Miller takes any -d value. slwin steppers
    run grouped only; ungrouped, compose slwin() after step()
    (ValueError otherwise).
    """
    if any(not 0 < a <= 1 for a in ewma_alphas):
        raise ValueError(f"ewma alpha outside (0, 1]: {list(ewma_alphas)}")
    by = _cols(by)
    values = _cols(values)
    steppers = _cols(steppers)
    slwins = list(slwins)
    if slwins and not by:
        raise ValueError("ungrouped slwin: compose slwin() after step()")
    for s in steppers:
        if _parse_stepper(s)[0] not in (
            "shift", "shift_lag", "shift_lead", "delta", "ratio", "rsum", "rprod", "counter",
            "from-first",
        ):
            raise ValueError(f"unknown stepper: {s}")
    f_max = _steppers_max_forward(steppers, slwins)
    lag_ks = sorted({k for b, k in map(_parse_stepper, steppers)
                     if b in ("shift", "shift_lag", "delta", "ratio")})
    k_lag = max(lag_ks, default=0)
    k_tail = max(k_lag, f_max)
    ew_labels = [(a, ("%g" % a).replace(".", "_")) for a in ewma_alphas]
    running = bool(ew_labels) or any(s in ("rsum", "rprod", "counter", "from-first") for s in steppers)
    dtypes = {f: df.schema[f].dataType for f in values}
    sums = df.select(*map(F.sum, values)).schema if running else []
    sum_t = {f: fld.dataType for f, fld in zip(values, sums)}

    def prep(tagged, w):
        # ungrouped, executor side: edge windows and the running
        # aggregates over the rows whose gate is in-partition (all but
        # the last f_max; a gated-off or absent value is null)
        edges = {}
        for f in values:
            c = F.col(f)
            if k_tail:
                edges[f"__tail_{f}"] = F.array(*[
                    F.lag(c, i).over(w) if i else c for i in reversed(range(k_tail))
                ])
            if f_max:
                edges[f"__head_{f}"] = F.array(*[
                    F.lead(c, i).over(w) if i else c for i in range(f_max)
                ])
                edges[f"__iv_{f}"] = F.when(F.lead(c.isNotNull(), f_max).over(w), c)
            else:
                edges[f"__iv_{f}"] = c
        # the in-partition ewm of the values whose gate is known here
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return tagged.withColumns(edges).withColumns({
            f"__ew_{f}_{label}": InternalFunction.ewm(F.col(f"__iv_{f}"), alpha, True).over(run)
            for f in values for alpha, label in ew_labels
        })

    aggs = []
    for f in values:
        aggs += [F.max_by(f"__tail_{f}", "__mid").alias(f"__tail_{f}")] if k_tail else []
        aggs += [F.min_by(f"__head_{f}", "__mid").alias(f"__head_{f}")] if f_max else []
        iv = F.col(f"__iv_{f}")
        if running:
            aggs += [
                F.sum(iv).alias(f"__sum_{f}"), F.count(iv).alias(f"__cnt_{f}"),
                F.product(iv).alias(f"__prod_{f}"),
                F.min_by(iv, F.when(iv.isNotNull(), F.col("__mid"))).alias(f"__first_{f}"),
            ]
        aggs += [F.max_by(f"__ew_{f}_{label}", "__mid").alias(f"__ew_{f}_{label}")
                 for _a, label in ew_labels]

    # ---- driver side: one struct per partition; acc keys are its field names
    fields = [StructField("off", LongType()), StructField("rows", LongType())]
    init = {"off": 0}
    for f in values:
        fields += [StructField(f"lag_{f}", ArrayType(dtypes[f]))] if k_lag else []
        fields += [StructField(f"ahead_{f}", ArrayType(dtypes[f]))] if f_max else []
        init |= {f"lag_{f}": [], f"first_{f}": None}
        if running:
            fields += [StructField(f"rsum_{f}", sum_t[f]), StructField(f"counter_{f}", LongType()),
                       StructField(f"rprod_{f}", DoubleType()), StructField(f"first_{f}", dtypes[f])]
            init |= {f"rsum_{f}": None, f"counter_{f}": 0, f"rprod_{f}": 1.0}
        for _a, label in ew_labels:
            fields.append(StructField(f"ewma_{f}_{label}", DoubleType()))
            init[f"ewma_{f}_{label}"] = None

    def fold(acc, r, later):
        cnt, nxt = r["__rows"], dict(acc)
        nxt["off"] += cnt
        ahead, seen = {f: [] for f in values}, 0
        for q in later if f_max else ():  # the heads of the next partitions, up to f_max rows
            if seen >= f_max:
                break
            seen += q["__rows"]
            for f in values:
                ahead[f] += q[f"__head_{f}"][:q["__rows"]]
        for f in values:
            ahead[f] = ahead[f][:f_max]
            tail = r[f"__tail_{f}"][k_tail - min(cnt, k_tail):] if k_tail else []
            seq = tail + ahead[f]
            # a tail row's event ingests the record f_max ahead, or at the
            # stream's end (no such record) the row itself
            gated = [
                x if seq[i + f_max if i + f_max < len(seq) else i] is not None else None
                for i, x in enumerate(tail)
            ]
            nxt[f"lag_{f}"] = (gated[::-1] + acc[f"lag_{f}"])[:k_lag]  # nearest first
            if not running:
                continue
            # the partition's values in order: the in-partition aggregates
            # cover all but the last f_max rows, whose gates resolve here
            late = [x for x in gated[len(tail) - min(cnt, f_max):] if x is not None]
            first = r[f"__first_{f}"]
            for x in ([r[f"__sum_{f}"]] if r[f"__sum_{f}"] is not None else []) + late:
                nxt[f"rsum_{f}"] = x if nxt[f"rsum_{f}"] is None else nxt[f"rsum_{f}"] + x
            nxt[f"counter_{f}"] += r[f"__cnt_{f}"] + len(late)
            for x in [1.0 if r[f"__prod_{f}"] is None else r[f"__prod_{f}"], *late]:
                nxt[f"rprod_{f}"] *= float(x)
            if nxt[f"first_{f}"] is None:
                nxt[f"first_{f}"] = first if first is not None else next(iter(late), None)
            for alpha, label in ew_labels:
                # y_t = (1-beta^t) ew + beta^t y_0 (see _ewma), y_0 = the
                # carry, or at the first present value that value itself
                beta, y, t = 1.0 - alpha, acc[f"ewma_{f}_{label}"], r[f"__cnt_{f}"]
                if t:
                    decay = beta ** t
                    y = (1 - decay) * r[f"__ew_{f}_{label}"] + decay * float(first if y is None else y)
                for x in map(float, late):
                    y = x if y is None else alpha * x + beta * y
                nxt[f"ewma_{f}_{label}"] = y
        struct = acc | {"rows": cnt} | {f"ahead_{f}": ahead[f] for f in values}
        return tuple(struct[fld.name] for fld in fields), nxt

    out, w, carry, acc = _ordered(df, order_by, by, [F.count(F.lit(1)).alias("__rows"), *aggs],
                                  fold, init, StructType(fields), prep)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # a row's 1-up position in its window partition and the partition's
    # size, then its number in the stream (or group) and that size.
    # Grouped, every carry term below folds to null and takes pos and
    # cnt with it; only the drain rule reads n and n_total
    if by:
        pos = n = F.row_number().over(w)
        cnt = n_total = F.count(F.lit(1)).over(Window.partitionBy(*by))
    else:
        pos, cnt = _local_index() + 1, carry["rows"]
        n, n_total = pos + carry["off"], F.lit(acc["off"])

    def edge(f, k) -> Column:
        """The raw value k rows after a row, from the next partitions;
        null within the partition (a negative index)."""
        return F.get(carry[f"ahead_{f}"], (pos + k - cnt - 1).cast("int"))

    gates = {f: F.col(f).isNotNull() for f in values}
    if f_max:
        # het gate: the presence of the record f_max ahead (the
        # 'ingested' record of this center's event), within the
        # partition or else from the next ones; rows with no record
        # f_max ahead gate on their own presence (drain events). A
        # window, so computed once as a column
        out = out.withColumns({
            f"__g_{f}": F.coalesce(
                F.lead(F.col(f).isNotNull(), f_max).over(w),
                F.when(pos + f_max - cnt - 1 < F.size(carry[f"ahead_{f}"]),
                       edge(f, f_max).isNotNull()),
                F.col(f).isNotNull(),
            )
            for f in values
        })
        gates = {f: F.col(f"__g_{f}") for f in values}

    result_cols = {}
    for f in values:
        c, gate = F.col(f), gates[f]
        vc = F.when(gate, c)  # the value each event pushes into prev-caches (null when gated off)
        present = gate & c.isNotNull()

        def lag(k: int) -> Column:
            """The k-th previous GATED value (clearPrevValue pushes nil);
            a row within k of its partition's start reads the carried
            lags (past k, a negative index reads null)."""
            return F.coalesce(
                F.lag(vc, k).over(w), F.get(carry[f"lag_{f}"], (F.lit(k) - pos).cast("int"))
            )

        for s in steppers:
            base_name, k = _parse_stepper(s)
            name = f"{f}_{s.replace('-', '_')}"
            if base_name in ("shift", "shift_lag"):
                # outputs VOID when no prev (absent==null here; the two
                # canonicalize identically in the fixed-schema mapping)
                result_cols[name] = F.when(gate, lag(k))
            elif base_name == "shift_lead":
                # shift_lead reads the raw next-record value (step.go:1087-1106)
                result_cols[name] = F.when(gate, F.coalesce(F.lead(c, k).over(w), edge(f, k)))
            elif base_name == "delta":  # step.go:639-645: no prev gets 0
                result_cols[name] = F.when(present, F.coalesce(c - lag(k), F.lit(0)))
            elif base_name == "ratio":  # leading records (no lag yet) get 1
                result_cols[name] = F.when(present, F.coalesce(c / lag(k), F.lit(1.0)))
            elif s == "rsum":
                e = F.sum(vc).over(run) + F.coalesce(carry[f"rsum_{f}"], F.lit(0))
                result_cols[name] = F.when(present, e)
            elif s == "counter":
                e = F.count(vc).over(run) + F.coalesce(carry[f"counter_{f}"], F.lit(0))
                result_cols[name] = F.when(present, e)
            elif s == "rprod":
                e = F.product(vc).over(run) * F.coalesce(carry[f"rprod_{f}"], F.lit(1.0))
                result_cols[name] = F.when(present, e)
            elif s == "from-first":
                first = F.coalesce(carry[f"first_{f}"], F.first(vc, ignorenulls=True).over(run))
                result_cols[name] = F.when(present, c - first)
        for m_back, n_fwd in slwins:
            # slwin averages the RAW field over the positional window,
            # skipping absent/void slots (step.go:1575-1608); empty
            # window -> VOID
            result_cols[f"{f}_slwin_{m_back}_{n_fwd}"] = F.when(
                gate, F.avg(c).over(w.rowsBetween(-m_back, n_fwd))
            )
        # ewma (step.go:647-651), advancing only on gated-present values
        for alpha, label in ew_labels:
            seed = F.coalesce(carry[f"ewma_{f}_{label}"], F.first(vc, ignorenulls=True).over(run))
            result_cols[f"{f}_ewma_{label}"] = F.when(present, _ewma(vc, alpha, run, seed))

    out = out.withColumns(result_cols)
    if f_max:
        # drain drop rule (see docstring): keep the first min(m, 2m-F)
        # rows of a group, or of the stream (a no-op past F rows)
        out = out.withColumns({"__n": n, "__nt": n_total}).filter(
            (F.col("__nt") >= f_max) | (F.col("__n") <= 2 * F.col("__nt") - f_max)
        )
    return _keep(out, [*df.columns, *result_cols])


def _parse_stepper(s: str) -> tuple[str, int]:
    parts = s.rsplit("_", 1)
    if len(parts) == 2 and parts[1].isdigit() and parts[0] in (
        "shift_lag", "shift_lead", "delta", "ratio"
    ):
        return parts[0], int(parts[1])
    return s, 1


def slwin(
    df: DataFrame,
    value: str,
    m_back: int,
    n_fwd: int,
    order_by: Sequence[str],
    by: Sequence[str] = (),
) -> DataFrame:
    """`mlr step -a slwin_m_n` (step.go:703-711;
    utils/window_keeper.go:12-60): centered sliding-window mean.

    Grouped: hash-partitioned frame window. Ungrouped: the same frame
    over blocks of consecutive rows, each with a read-only halo of its
    neighbours' edge rows (_framed); no single-task window.

    Spark sums a sliding frame afresh for every row, so both paths do
    O(rows * (m+n)) work. That is small for the usual few-row windows,
    but wide ones cost more than a difference of prefix sums would:
    on 60k rows (local[4]) 2000,2000 took about 4 s against 1 s. The
    prefix difference loses the last digits of a long series' sums; the
    frame's mean equals the single-window one at any length."""
    name = f"{value}_slwin_{m_back}_{n_fwd}"
    if not by:
        return _framed(df, order_by, m_back, n_fwd, {name: F.avg(value)})
    w = (
        Window.partitionBy(*_cols(by))
        .orderBy(*[F.col(c) for c in _cols(order_by)])
        .rowsBetween(-m_back, n_fwd)
    )
    return df.withColumn(name, F.avg(value).over(w))


def rank(df: DataFrame, value: str, by: Sequence[str] = (), descending: bool = False) -> DataFrame:
    """`mlr rank -f v [-g ...]` (pkg/transformers/rank.go:22): competition
    rank 1,2,2,4 (percentile_keeper.go:87-104 EmitRank).

    Grouped: one hash-partitioned rank window. Ungrouped: a bare
    ``Window.orderBy`` would single-task every row; instead rank(v) =
    1 + count of strictly smaller values, computed on the (much smaller)
    DISTINCT-value table: range-partition it, prefix-sum the counts
    within each partition and add the earlier partitions' total
    (``_carry``), then join back on the value."""
    by = _cols(by)
    order = F.col(value).desc() if descending else F.col(value).asc()
    if by:
        w = Window.partitionBy(*by).orderBy(order)
        return df.withColumn("rank", F.rank().over(w))
    vals = (
        df.filter(F.col(value).isNotNull())
        .groupBy(value)
        .agg(F.count("*").alias("__c"))
    )
    ordered, off, _ = _carry(
        _range_pass(vals, [order]), [F.sum("__c").alias("s")],
        lambda acc, r, _: (acc, acc + r["s"]), 0, LongType(),
    )
    w_in = Window.partitionBy("__pid").orderBy("__mid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = ordered.withColumn(
        "rank", F.coalesce(F.sum("__c").over(w_in), F.lit(0)) + off + 1
    ).select(value, "rank")
    return df.join(ranked, on=value, how="left")


# ---------------------------------------------------------------------------
# restructuring (SURVEY.md §2.3)
# ---------------------------------------------------------------------------


def nest_explode_values(df: DataFrame, field: str, sep: str = ";") -> DataFrame:
    """`mlr nest --explode --values --across-records -f field --nested-fs sep`
    (pkg/transformers/nest.go:34): one output record per separated value;
    records WITHOUT the field pass through unchanged (golden
    verb-nest/evar-0001) — hence explode_outer, not explode.
    This is the tokenizer primitive for heavy-hitter token queries."""
    return df.withColumn(field, F.explode_outer(F.split(F.col(field), sep)))


def nest_implode_values(df: DataFrame, field: str, by: Sequence[str], sep: str = ";") -> DataFrame:
    """`mlr nest --implode ...` (nest.go:34): concat values back per group."""
    others = [c for c in df.columns if c != field and c not in _cols(by)]
    return df.groupBy(*_cols(by), *others).agg(
        F.concat_ws(sep, F.collect_list(field)).alias(field)
    )


def reshape_long_to_wide(df: DataFrame, key_field: str, value_field: str, by: Sequence[str]) -> DataFrame:
    """`mlr reshape --l2w` (pkg/transformers/reshape.go:50)."""
    return df.groupBy(*_cols(by)).pivot(key_field).agg(F.first(value_field))


def reshape_wide_to_long(
    df: DataFrame, fields: Sequence[str], key_name: str, value_name: str
) -> DataFrame:
    """`mlr reshape --w2l` (reshape.go:50) via stack()."""
    fields = _cols(fields)
    ids = [c for c in df.columns if c not in fields]
    pairs = ", ".join(f"'{f}', cast(`{f}` as double)" for f in fields)
    return df.select(
        *ids, F.expr(f"stack({len(fields)}, {pairs}) as ({key_name}, {value_name})")
    )


def seqgen(spark, start: int, stop: int, step_n: int = 1, field: str = "i") -> DataFrame:
    """`mlr seqgen --start --stop --step [-f name]`
    (pkg/transformers/seqgen.go:23). Miller's stop is inclusive."""
    return spark.range(start, stop + (1 if step_n > 0 else -1), step_n).select(
        F.col("id").alias(field)
    )


def split_write(df: DataFrame, path: str, by: Sequence[str] = (), n: int | None = None) -> None:
    """`mlr split -g ... | -n N` (pkg/transformers/split.go:33) as a
    partitioned parquet write."""
    if by:
        df.write.mode("overwrite").partitionBy(*_cols(by)).parquet(path)
    else:
        df.repartition(n or df.sparkSession.sparkContext.defaultParallelism).write.mode(
            "overwrite"
        ).parquet(path)


def template(df: DataFrame, fields: Sequence[str], fill: str | None = None) -> DataFrame:
    """`mlr template -f ...` (pkg/transformers/template.go:22): force
    column order/presence; missing columns filled with NULL (or fill)."""
    cols = []
    for f in _cols(fields):
        if f in df.columns:
            if fill is None:
                cols.append(F.col(f))
            else:
                # --fill-with also fills per-record ABSENT cells (nulls
                # under the fixed schema) — golden verb-template/0003
                cols.append(F.coalesce(F.col(f).cast("string"), F.lit(fill)).alias(f))
        else:
            cols.append(F.lit(fill).alias(f))
    # stream ordinal survives (template is a pure per-record projection)
    if "__ord" in df.columns:
        cols.append(F.col("__ord"))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# column profiling (SURVEY.md §2.5: summary / describe)
# ---------------------------------------------------------------------------

_NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def summary(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """`mlr summary` (pkg/transformers/summary.go:77; stat list
    summary.go:71): per-COLUMN profile. One output row per field with
    field_type, count, null_count, distinct_count, sum/mean/min/max/
    var/stddev/median for numeric fields, minlen/maxlen for all.

    Plan shape: one grouped aggregation per column, unioned — each is a
    single-shuffle partial/final hash agg over one column (column
    pruning means each branch scans only its own column). Miller builds
    the same profile in one streaming pass over a single process;
    at cluster scale the per-column branches run as independent stages.
    """
    cols = _cols(columns) if columns else df.columns
    dtypes = dict(df.dtypes)
    parts = []
    for name in cols:
        t = dtypes[name]
        is_num = any(t.startswith(nt) for nt in _NUMERIC_TYPES)
        c = F.col(name)
        s = c.cast("string")
        d = c.cast("double") if is_num else F.lit(None).cast("double")
        null_like = c.isNull() | (s == "")
        aggs = [
            F.count(F.lit(1)).alias("count"),
            F.sum(null_like.cast("long")).alias("null_count"),
            F.countDistinct(c).alias("distinct_count"),
            F.sum(d).alias("sum"),
            F.avg(d).alias("mean"),
            F.min(d).alias("min"),
            F.max(d).alias("max"),
            F.var_samp(d).alias("var"),
            F.stddev_samp(d).alias("stddev"),
            (
                F.get(
                    F.array_sort(F.collect_list(d)),
                    F.least(
                        F.greatest(
                            F.floor(F.lit(0.5) * F.count(d)).cast("int"), F.lit(0)
                        ),
                        F.count(d).cast("int") - 1,
                    ),
                )
                if is_num
                else F.lit(None).cast("double")
            ).alias("median"),
            F.min(F.length(s)).alias("minlen"),
            F.max(F.length(s)).alias("maxlen"),
        ]
        parts.append(
            df.select(c, s.alias("__s"), d.alias("__d"))
            .agg(*aggs)
            .select(
                F.lit(name).alias("field_name"), F.lit(t).alias("field_type"), "*"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# time verbs (SURVEY.md §2.2: sec2gmt / sec2gmtdate / gmt2sec)
# ---------------------------------------------------------------------------


def sec2gmtdate(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """`mlr sec2gmtdate` (pkg/transformers/sec2gmtdate.go:17): epoch
    seconds → 'YYYY-MM-DD'; non-numeric values pass through unchanged
    (and never trip ANSI timestamp parsing on string columns)."""

    def conv(f: str) -> Column:
        num = F.col(f).try_cast("double")
        return F.when(
            num.isNotNull(),
            F.date_format(F.timestamp_seconds(F.floor(num)), "yyyy-MM-dd"),
        ).otherwise(F.col(f).cast("string"))

    return df.withColumns({f: conv(f) for f in _cols(fields)})


def gmt2sec(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """DSL `gmt2sec` (pkg/bifs/datetime.go): ISO-8601 → epoch seconds."""
    return df.withColumns(
        {f: F.unix_timestamp(F.col(f), "yyyy-MM-dd'T'HH:mm:ss'Z'") for f in _cols(fields)}
    )


# ---------------------------------------------------------------------------
# key/value & nesting restructure (SURVEY.md §2.3)
# ---------------------------------------------------------------------------


def unspace(df: DataFrame, fill: str = "_", values_too: bool = True) -> DataFrame:
    """`mlr unspace -f X` (pkg/transformers/unspace.go:21): replace
    spaces in keys (column names) and optionally values."""
    renames = {c: c.replace(" ", fill) for c in df.columns if " " in c}
    out = df.withColumnsRenamed(renames) if renames else df
    if values_too:
        out = out.withColumns(
            {
                c: F.regexp_replace(F.col(c), " ", fill)
                for c, t in out.dtypes
                if t == "string"
            }
        )
    return out


def altkv(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """`mlr altkv` (pkg/transformers/altkv.go:18): alternating values
    become key/value pairs — (v1,v2,v3,v4) → {v1:v2, v3:v4}. Emitted
    exploded as (key, value) string rows (fixed-schema analogue of
    Miller's dynamic record)."""
    fields = _cols(fields)
    ks = F.array(*[F.col(f).cast("string") for f in fields[0::2]])
    vs = F.array(*[F.col(f).cast("string") for f in fields[1::2]])
    return df.select(F.explode(F.map_from_arrays(ks, vs)).alias("key", "value"))


def flatten_structs(df: DataFrame, sep: str = ".") -> DataFrame:
    """`mlr flatten` (pkg/transformers/flatten.go:20; core
    pkg/mlrval/mlrmap_flatten_unflatten.go): nested struct columns →
    dotted top-level columns, recursively."""
    out_cols: list[Column] = []

    def walk(prefix: str, schema, path: str):
        for field in schema.fields:
            full = f"{path}.`{field.name}`" if path else f"`{field.name}`"
            name = f"{prefix}{sep}{field.name}" if prefix else field.name
            if field.dataType.typeName() == "struct":
                walk(name, field.dataType, full)
            else:
                out_cols.append(F.col(full).alias(name))

    walk("", df.schema, "")
    return df.select(*out_cols)


def json_stringify(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """`mlr json-stringify -f ...` (pkg/transformers/json_stringify.go:35)."""
    return df.withColumns({f: F.to_json(F.col(f)) for f in _cols(fields)})


def json_parse(df: DataFrame, field: str, schema: str) -> DataFrame:
    """`mlr json-parse -f ...` (pkg/transformers/json_parse.go:29)."""
    return df.withColumn(field, F.from_json(F.col(field), schema))


def label(df: DataFrame, names: Sequence[str]) -> DataFrame:
    """`mlr label a,b,c` (pkg/transformers/label.go:17): rename the
    first n columns positionally; a LATER original column whose name
    collides with a new label is dropped (golden verb-label/0004)."""
    names = _cols(names)
    tail_cols = [c for c in df.columns[len(names):] if c not in names]
    return df.select(*df.columns[: len(names)], *tail_cols).toDF(*names, *tail_cols)


def group_by_stream(df: DataFrame, by: Sequence[str]) -> DataFrame:
    """`mlr group-by` (pkg/transformers/group_by.go:17): reorder the
    stream so same-group records are contiguous, WITHOUT aggregating.
    Spark: hash-repartition on the keys + in-partition sort — the records
    of one group land contiguous in one partition, no driver collect."""
    by = _cols(by)
    return df.repartition(*by).sortWithinPartitions(*by)


def remove_empty_columns(df: DataFrame) -> DataFrame:
    """`mlr remove-empty-columns` (remove_empty_columns.go:17): drop
    columns that are empty/null in EVERY record. Two-pass: one tiny agg
    row (max length per column) drives the projection."""
    probe = df.agg(
        *[
            F.max(F.length(F.col(c).cast("string"))).alias(c)
            for c in df.columns
        ]
    ).first()
    keep = [c for c in df.columns if probe[c] is not None and probe[c] > 0]
    return df.select(*keep)


# ---------------------------------------------------------------------------
# randomized verbs (SURVEY.md §2.7) — seeded, distributed
# ---------------------------------------------------------------------------


def shuffle_verb(df: DataFrame, seed: int = 42) -> DataFrame:
    """`mlr shuffle` (pkg/transformers/shuffle.go:17): random
    permutation — a seeded distributed sort on rand()."""
    return df.orderBy(F.rand(seed))


def bootstrap(df: DataFrame, seed: int = 42) -> DataFrame:
    """`mlr bootstrap` (pkg/transformers/bootstrap.go:19): sample WITH
    replacement, same expected size as the input — df.sample with
    replacement (Poisson per-row multiplicity; the distributed analogue
    of Miller's in-memory index draw)."""
    return df.sample(withReplacement=True, fraction=1.0, seed=seed)


def md5_60(col: Column) -> Column:
    """Deterministic 60-bit uniform hash: the first 15 hex chars of
    md5, parsed base-16. Engine-portable — DuckDB computes the identical
    value as ``('0x'||substr(md5(x),1,15))::BIGINT``, which is what
    makes hash-seeded randomness (bootstrap multiplicities, seeded
    samples) exactly oracle-checkable. Pure codegen (md5+conv), no
    Python."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _poisson1_thresholds(max_k: int = 10) -> list[int]:
    """Integer CDF thresholds for Poisson(1) scaled to 2^60: a uniform
    60-bit hash h maps to multiplicity k = #{t in thresholds : h >= t}.
    Integer comparisons only — bit-identical across engines."""
    import math

    out, cdf = [], 0.0
    for k in range(max_k + 1):
        cdf += math.exp(-1.0) / math.factorial(k)
        out.append(min(int(cdf * (1 << 60)), 1 << 60))
    return out


POISSON1_T60 = _poisson1_thresholds()


def poisson1_mult(hash_col: Column) -> Column:
    """Poisson(1) multiplicity from a uniform 60-bit hash via the
    integer inverse-CDF thresholds (POISSON1_T60)."""
    c = F.lit(0)
    for t in POISSON1_T60:
        c = c + (hash_col >= F.lit(t)).cast("int")
    return c


def bootstrap_hash(df: DataFrame, key: Sequence[str], seed: int = 42) -> DataFrame:
    """Deterministic Poisson bootstrap: each row is repeated
    Poisson(1)-many times, with the multiplicity drawn by inverse-CDF
    from a 60-bit md5 hash of (seed, key). Same sampling design as
    df.sample(replacement, 1.0) but partitioning-independent and
    engine-portable, so a DuckDB oracle reproduces the exact multiset.
    Pure codegen: hash -> integer threshold cascade -> array_repeat
    explode; no shuffle, no Python. This is also the preferred 100 TB
    shape (no RNG state, embarrassingly parallel, reproducible under
    any re-partitioning / task retry)."""
    key = _cols(key)
    h = md5_60(F.concat_ws(":", F.lit(str(seed)), *[F.col(k).cast("string") for k in key]))
    c = poisson1_mult(h)
    return (
        df.withColumn("__bc", c)
        .filter(F.col("__bc") > 0)
        .withColumn("__rep", F.explode(F.array_repeat(F.lit(1), F.col("__bc"))))
        .drop("__bc", "__rep")
    )


def bootstrap_ci_hash(
    df: DataFrame,
    value: str,
    key: Sequence[str],
    by: Sequence[str] = (),
    n_boot: int = 100,
    lo: float = 0.025,
    hi: float = 0.975,
    seed: int = 42,
) -> DataFrame:
    """Bootstrap CI for the per-group mean via the deterministic Poisson
    bootstrap (see bootstrap_hash): boot b's multiplicity for a row is
    poisson1(md5_60(seed:b:key)). Boot means accumulate in integer
    cents (sum(c*round(100*v)) / (100*sum(c))) so the sums are EXACT in
    any engine and the lo/hi quantiles over the n_boot means interpolate
    over identical doubles — the whole statistic is oracle-exact.

    Scale shape: one explode (x n_boot), one partial-aggregated groupBy
    on (by, b), one tiny groupBy on (by) — no per-group materialization
    (unlike the applyInPandas variant), no RNG state, skew-free keys.
    Output: (by..., {value}_mean, {value}_ci_lo, {value}_ci_hi)."""
    by, key = _cols(by), _cols(key)
    cents = F.round(F.col(value) * 100).cast("long")
    # a null value has no cents: it must not add its multiplicity to the
    # boot denominators either
    base = df.filter(F.col(value).isNotNull()).select(
        *by, cents.alias("__cents"),
        F.concat_ws(":", *[F.col(k).cast("string") for k in key]).alias("__k"),
    )
    boots = base.withColumn("__b", F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))))
    h = md5_60(F.concat_ws(":", F.lit(str(seed)), F.col("__b").cast("string"), F.col("__k")))
    c = poisson1_mult(h).cast("long")
    bm = (
        boots.withColumn("__c", c)
        .groupBy(*by, "__b")
        .agg(
            (F.sum(F.col("__c") * F.col("__cents"))
             / (F.lit(100.0) * F.sum("__c"))).alias("__bm")
        )
    )
    ci = bm.groupBy(*by).agg(
        F.percentile("__bm", F.lit(lo)).alias("__lo"),
        F.percentile("__bm", F.lit(hi)).alias("__hi"),
    )
    mean = base.groupBy(*by).agg(
        (F.sum("__cents") / (F.lit(100.0) * F.count("__cents"))).alias("__mean")
    )
    joined = mean.join(ci, by) if by else mean.crossJoin(ci)
    return joined.select(
        *by,
        F.col("__mean").alias(f"{value}_mean"),
        F.col("__lo").alias(f"{value}_ci_lo"),
        F.col("__hi").alias(f"{value}_ci_hi"),
    )


# ---------------------------------------------------------------------------
# survival analysis (SURVEY.md §2.5: surv)
# ---------------------------------------------------------------------------


def surv(df: DataFrame, time_col: str, status_col: str, by: Sequence[str] = ()) -> DataFrame:
    """`mlr surv -d t -s status` (pkg/transformers/surv.go:23):
    Kaplan-Meier product-limit survival estimate. At each distinct event
    time t_i: n_i = subjects still at risk, d_i = events at t_i,
    S(t_i) = prod_{j<=i} (1 - d_j/n_j).

    Expressed shuffle-lean: one grouped count per (time), a window
    cumsum for n_at_risk, and the running product as exp(sum(log)) —
    all Catalyst windows, no iteration.
    """
    by = _cols(by)
    total_w = Window.partitionBy(*by) if by else Window.partitionBy()
    ordw = (
        (Window.partitionBy(*by) if by else Window.partitionBy())
        .orderBy(F.col(time_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = (
        (Window.partitionBy(*by) if by else Window.partitionBy())
        .orderBy(F.col(time_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_t = (
        df.groupBy(*by, time_col)
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.col(status_col).cast("long")).alias("d"),
        )
    )
    per_t = per_t.withColumn("n_total_all", F.sum("n_total").over(total_w))
    per_t = per_t.withColumn(
        "n_risk", F.col("n_total_all") - F.coalesce(F.sum("n_total").over(prev), F.lit(0))
    )
    # running product via exp-sum-log; a factor of exactly 0 (all
    # at-risk subjects die: d == n_risk) would be log(0) -> null in
    # Spark, so it is tracked separately and forces survival 0 from
    # that time onward
    hit_zero = F.max((F.col("d") >= F.col("n_risk")).cast("int")).over(ordw)
    surv_col = F.when(hit_zero == 1, F.lit(0.0)).otherwise(
        F.exp(
            F.sum(
                F.log(
                    F.when(
                        F.col("d") < F.col("n_risk"),
                        1.0 - F.col("d") / F.col("n_risk"),
                    ).otherwise(F.lit(1.0))
                )
            ).over(ordw)
        )
    )
    return (
        per_t.withColumn("survival", surv_col)
        .select(*by, F.col(time_col), "n_risk", F.col("d").alias("n_events"), "survival")
        .orderBy(*by, time_col)
    )


# ---------------------------------------------------------------------------
# sliding-window stats1 (`stats1 -w n`, stats1.go:31,483-553)
# ---------------------------------------------------------------------------

_WIN_ACCS = {
    "count": F.count,
    "sum": F.sum,
    "mean": F.avg,
    "min": F.min,
    "max": F.max,
    "var": F.var_samp,
    "stddev": F.stddev_samp,
}


def stats1_windowed(
    df: DataFrame,
    accs: Sequence[str],
    values: Sequence[str],
    w: int,
    order_by: Sequence[str],
    by: Sequence[str] = (),
) -> DataFrame:
    """`mlr stats1 -w n` (stats1.go:31,483-553): trailing window of n
    records per group, one output per input record. All accumulators
    share one Window frame — Catalyst plans a single WindowExec.

    Ungrouped: the trailing frame runs over blocks of consecutive rows,
    each block also holding the last w-1 rows of the block before it as
    read-only context (_framed); no single-task window."""
    for a in _cols(accs):
        if a not in _WIN_ACCS:
            raise ValueError(f"stats1 -w accumulator not supported: {a}")
    cols = {f"{f}_{a}_{w}": _WIN_ACCS[a](F.col(f)) for f in _cols(values) for a in _cols(accs)}
    if not by:
        return _framed(df, order_by, w - 1, 0, cols)
    frame = (
        Window.partitionBy(*_cols(by))
        .orderBy(*[F.col(c) for c in _cols(order_by)])
        .rowsBetween(-(w - 1), 0)
    )
    return df.withColumns({name: agg.over(frame) for name, agg in cols.items()})


def _merge_moments(a, b):
    """Chan, Golub & LeVeque's pairwise update of two (count, mean, M2)
    summaries, M2 the sum of squared deviations from the mean; numbers
    or Columns. The caller ensures a nonzero total count."""
    (na, ma, m2a), (nb, mb, m2b) = a, b
    n, d = na + nb, mb - ma
    return n, ma + d * nb / n, m2a + m2b + d * d * na * nb / n


def stats1_iterative(
    df: DataFrame,
    accs: Sequence[str],
    values: Sequence[str],
    order_by: Sequence[str],
    by: Sequence[str] = (),
) -> DataFrame:
    """`mlr stats1 -s` (stats1.go:30,192-193,457-471): iterative
    (expanding/cumulative) stats appended to each record, one output
    per input record.

    One body (_ordered): every accumulator is a running statistic within
    a window partition combined with the partition's carry. count, sum,
    min and max combine by +/min/max; var and stddev keep (count, mean,
    M2) and combine by _merge_moments, which stays exact where a
    sum-of-squares difference cancels (values near 1e9). Grouped, the
    partition is the group and the carry is null. Ungrouped, a bare
    expanding window is a single-task stage, so rows are
    range-partitioned on the order keys and each partition's carry is
    the exclusive prefix of the earlier partitions' statistics (``_carry``
    folds one row per partition and reads it back as one struct). One
    range exchange, one collect, no SinglePartition anywhere.

    Output columns are named ``{field}_{acc}`` (stats1 -s emits the
    record plus the running stats under the batch naming). Supported
    accs: count, sum, mean, min, max, var, stddev; the full accumulator
    list (mode/antimode/percentiles cumulative) is replayed at test
    scale by the golden runner's array path and is memory-class A by
    nature — out of the scale contract by design.
    """
    accs = _cols(accs)
    values = _cols(values)
    for a in accs:
        if a not in _WIN_ACCS:
            raise ValueError(f"stats1 -s accumulator not supported: {a}")
    need_var = any(a in ("var", "stddev") for a in accs)
    need = {"c": True, "s": any(a in ("sum", "mean") for a in accs), "mn": "min" in accs,
            "mx": "max" in accs, "mu": need_var, "m2": need_var}
    int_t = {"tinyint", "smallint", "int", "bigint"}
    dtypes = dict(df.dtypes)

    def stats(over) -> dict[str, tuple[Column, object]]:
        """name -> (the statistic, its type), over the rows ``over``
        selects: per partition (an aggregate) or per row (a running
        window). Miller-typed results: min/max/sum of an integer column
        stay integer (reference pkg/lib/arithmetic.go:69-100); only the
        moments are forced to double."""
        out = {}
        for f in values:
            raw, v = F.col(f), F.col(f).cast("double")
            is_int = dtypes[f] in int_t
            every = {
                "c": (over(F.count(raw)), LongType()),
                "s": (over(F.sum(raw if is_int else v)), LongType() if is_int else DoubleType()),
                "mn": (over(F.min(raw)), df.schema[f].dataType),
                "mx": (over(F.max(raw)), df.schema[f].dataType),
                "mu": (over(F.avg(v)), DoubleType()),
                "m2": (over(F.var_pop(v)) * over(F.count(raw)), DoubleType()),
            }
            out |= {f"{k}_{f}": spec for k, spec in every.items() if need[k]}
        return out

    carried = stats(lambda agg: agg)
    init = {k: {"c": 0, "mu": 0.0, "m2": 0.0}.get(k.split("_", 1)[0]) for k in carried}

    def fold(acc, r, _):  # exclusive prefix: a partition joins the carry after it
        nxt = dict(acc)
        for f in values:
            for k, op in ((f"s_{f}", operator.add), (f"mn_{f}", min), (f"mx_{f}", max)):
                if k in acc and r[k] is not None:
                    nxt[k] = r[k] if acc[k] is None else op(acc[k], r[k])
            c, mu, m2 = f"c_{f}", f"mu_{f}", f"m2_{f}"
            nxt[c] = acc[c] + r[c]
            if need_var and r[c]:
                _, nxt[mu], nxt[m2] = _merge_moments((acc[c], acc[mu], acc[m2]), (r[c], r[mu], r[m2]))
        return tuple(acc.values()), nxt

    ordered, w, carry, _ = _ordered(
        df, order_by, by, [agg.alias(k) for k, (agg, _t) in carried.items()], fold, init,
        StructType([StructField(k, t) for k, (_a, t) in carried.items()]),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # each running statistic once, as a column: a repeated window
    # expression is evaluated once per use
    ordered = ordered.withColumns(
        {f"__run_{k}": agg for k, (agg, _t) in stats(lambda agg: agg.over(run)).items()}
    )

    def total(k: str) -> Column:  # the running value plus the carry; null-free sums
        here, before = F.col(f"__run_{k}"), carry[k]
        if k.startswith(("mn_", "mx_")):
            return (F.least if k.startswith("mn_") else F.greatest)(here, before)
        return F.coalesce(here, F.lit(0)) + F.coalesce(before, F.lit(0))

    out_cols: dict[str, Column] = {}
    for f in values:
        cnt = total(f"c_{f}")
        for a in accs:
            name = f"{f}_{a}"
            if a == "count":
                out_cols[name] = cnt
            elif a == "sum":
                out_cols[name] = F.when(cnt > 0, total(f"s_{f}"))
            elif a == "mean":
                out_cols[name] = F.when(cnt > 0, total(f"s_{f}").cast("double") / cnt)
            elif a == "min":
                out_cols[name] = total(f"mn_{f}")
            elif a == "max":
                out_cols[name] = total(f"mx_{f}")
            else:  # var, stddev: the carry's moments merged with the running ones
                ident = ((f"c_{f}", 0), (f"mu_{f}", 0.0), (f"m2_{f}", 0.0))
                n, _, m2 = _merge_moments(
                    [F.coalesce(carry[k], F.lit(z)) for k, z in ident],
                    [F.coalesce(F.col(f"__run_{k}"), F.lit(z)) for k, z in ident],
                )
                var = m2 / (n - 1)
                out_cols[name] = F.when(n > 1, F.sqrt(var) if a == "stddev" else var)
    return _keep(ordered.withColumns(out_cols), [*df.columns, *out_cols])


def count_distinct_n(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """`mlr count-distinct -n` (uniq.go:18-25): just the number of
    distinct field-value combinations."""
    return df.select(*_cols(fields)).distinct().agg(F.count("*").alias("count"))


# ---------------------------------------------------------------------------
# small remaining verbs (SURVEY.md §2.1/2.2 completeness)
# ---------------------------------------------------------------------------


def tee(df: DataFrame, path: str, fmt: str = "parquet") -> DataFrame:
    """`mlr tee file` (pkg/transformers/tee.go:20): copy the stream to a
    sink and pass it through. Spark: persist once so the side write and
    the downstream plan share the scan, write, return the df."""
    df = df.persist()
    df.write.mode("overwrite").format(fmt).save(path)
    return df


def nothing(df: DataFrame) -> DataFrame:
    """`mlr nothing` (pkg/transformers/nothing.go:16): consume the
    stream, emit no records (side-effects only)."""
    return df.limit(0)


def ssub_field(df: DataFrame, field: str, literal: str, replacement: str) -> DataFrame:
    """`mlr ssub` (pkg/transformers/subs.go:26): LITERAL (non-regex)
    first-occurrence replacement. F.replace is literal but global;
    Miller ssub replaces only the first occurrence — split once on the
    literal and rejoin."""
    c = F.col(field)
    pos = F.instr(c, literal)
    return df.withColumn(
        field,
        F.when(
            pos > 0,
            F.concat(
                F.substring(c, 1, pos - 1),
                F.lit(replacement),
                F.substring(c, pos + len(literal), F.length(c)),
            ),
        ).otherwise(c),
    )


def latin1_to_utf8(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """`mlr latin1-to-utf8` (latin1_to_utf8.go:18). The reference works
    on raw bytes (latin-1 byte 0xE9 re-encodes as the UTF-8 pair for
    é); in this engine strings are already decoded code points, so the
    VALUE is unchanged — every latin-1 code point is a valid character.
    The byte-level change happens in the writer's encoding, not here."""
    return df


def utf8_to_latin1(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """`mlr utf8-to-latin1` (utf8_to_latin1.go:18): the VALUE is
    unchanged when it fits in latin-1 (only the byte encoding changes at
    write time); values with code points above U+00FF cannot be encoded
    and become Miller's (error) value."""
    return df.withColumns(
        {
            f: F.when(
                F.col(f).rlike("[^\\x00-\\xff]"), F.lit("(error)")
            ).otherwise(F.col(f))
            for f in _cols(fields)
        }
    )


def histogram_auto(df: DataFrame, value: str, nbins: int) -> DataFrame:
    """`mlr histogram --auto` (histogram.go:19-25): lo/hi from the data.
    Miller holds all values; here a first tiny min/max aggregate sizes
    the bins, then the binned count runs as usual (two scans, bounded
    memory — the 100 TB-safe variant of Miller's retain-all)."""
    row = df.agg(
        F.min(F.col(value).cast("double")).alias("lo"),
        F.max(F.col(value).cast("double")).alias("hi"),
    ).first()
    lo, hi = row["lo"], row["hi"]
    if lo is None:
        return histogram(df, value, 0.0, 1.0, nbins)
    if hi == lo:
        hi = lo + 1.0
    return histogram(df, value, lo, hi, nbins, include_hi=True)


def logireg(df: DataFrame, x: str, y: str, by: Sequence[str] = (),
            tol: float = 1e-9, maxits: int = 100,
            reference_stopping: bool = True) -> DataFrame:
    """`mlr stats2 -a logireg -f x,y` (pkg/transformers/utils/
    stats2_accumulators.go:63-66; solver pkg/lib/mlrmath.go:324-420):
    per-group 1-D logistic regression y ~ sigmoid(m*x + b), fit by
    Newton-Raphson on the log-likelihood with Miller's exact seeds
    (m0=-0.001, b0=0.002) and stopping rule.

    Iterative => no closed moments, so this runs as a vectorized
    numpy Newton loop per group via applyInPandas (the per-iteration
    reductions are O(n) numpy sums; ~10 iterations typical). Groups fit
    independently in parallel; at 100 TB scale fit per group, not one
    global fit over 10^12 rows (subsample first if you need that).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    by = _cols(by)
    by_fields = [df.schema[c] for c in by]
    schema = StructType(
        by_fields
        + [
            StructField(f"{x}_{y}_m", DoubleType()),
            StructField(f"{x}_{y}_b", DoubleType()),
            StructField(f"{x}_{y}_n", LongType()),
        ]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = pdf[x].to_numpy(dtype=np.float64)
        ys = pdf[y].to_numpy(dtype=np.float64)
        ok = ~(np.isnan(xs) | np.isnan(ys))
        xs, ys = xs[ok], ys[ok]
        m0, b0 = -0.001, 0.002
        m, b = m0, b0
        with np.errstate(over="ignore"):
            ell0 = None
            for _ in range(maxits):
                p = 1.0 / (1.0 + np.exp(-m0 * xs - b0))
                q = 1.0 - p
                dldm = float(np.sum(xs * (ys - p)))
                dldb = float(np.sum(ys - p))
                pq = p * q
                ha = -float(np.sum(xs * xs * pq))
                hb = -float(np.sum(xs * pq))
                hd = -float(np.sum(pq))
                ell0 = float(np.sum(np.log(np.maximum(q, 1e-300)) + ys * (m0 * xs + b0)))
                D = ha * hd - hb * hb
                m = m0 - (hd * dldm - hb * dldb) / D
                b = b0 - (-hb * dldm + ha * dldb) / D
                qn = 1.0 / (1.0 + np.exp(m * xs + b))
                ell = float(np.sum(np.log(np.maximum(qn, 1e-300)) + ys * (m0 * xs + b0)))
                dell = max(ell, ell0)
                # Reference parity (mlrmath.go:404-407): |Δℓ| is divided
                # by the SIGNED max log-likelihood; with the always-
                # negative ℓ the ratio is negative, so the loop stops
                # after one Newton step. Reproduced bit-for-bit when
                # reference_stopping=True; pass False for a properly
                # converged Newton fit.
                err = (abs(ell - ell0) / dell) if dell != 0.0 else 0.0
                if not reference_stopping:
                    err = abs(err)
                m0, b0 = m, b
                if err < tol:
                    break
        row = {c: pdf[c].iloc[0] for c in by}
        row[f"{x}_{y}_m"] = m
        row[f"{x}_{y}_b"] = b
        row[f"{x}_{y}_n"] = int(len(xs))
        return pd.DataFrame([row])

    grouped = df.groupBy(*by) if by else df.groupBy()
    return grouped.applyInPandas(python_task(fit), schema=schema)
