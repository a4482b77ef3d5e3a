"""Miller-verb-shaped APPROXIMATE verbs — the sketch-backed scale path.

Each verb mirrors an exact verb in mlrsketch.verbs.exact (and hence a
Miller verb) but returns bounded-state estimates suitable for 10^12-row
inputs, with the sketch's published error bound attached:

  count_distinct_hll   ~ `mlr count-distinct` / stats1 distinct_count
                         (reference: pkg/transformers/uniq.go:27)
  quantiles_tdigest /
  quantiles_kll        ~ `mlr stats1 -a median,p10,...`
                         (pkg/transformers/utils/percentile_keeper.go)
  most_frequent_cms    ~ `mlr most-frequent`
                         (pkg/transformers/most_or_least_frequent.go:28)
  seen_bloom / bloom_dedup
                       ~ `mlr uniq -a` membership
                         (pkg/transformers/uniq.go:391-425)
  ewma_pandas          ~ `mlr step -a ewma` (pkg/transformers/step.go:647),
                         step by step (exact.step is the window path)

All run the two-level partial/final plan in mlrsketch.agg: per-partition
Arrow-batched partials, associative merge, single KB-scale shuffle.

The `_*_spec` factories below are the only code that knows how a sketch
family ingests a batch and reports its result; the batch verbs, the
stateful streaming operators (mlrsketch.streaming) and resumable
checkpoints (mlrsketch.checkpoint) all run them.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mlrsketch.agg import STATE_COL, SketchSpec, sketch_aggregate
from mlrsketch.session import python_task
from mlrsketch.sketches import (
    KLL,
    BloomFilter,
    BootstrapCI,
    HyperLogLog,
    TDigest,
    ThetaSketch,
    TopKSketch,
    theta_a_not_b,
    theta_intersect,
    theta_union,
)
from mlrsketch.sketches.multi import MultiSketch


def _schema(df: DataFrame, by: Sequence[str], fields: Sequence[StructField]) -> StructType:
    """Output schema of a grouped verb: the group keys' fields, then `fields`."""
    return StructType([df.schema[c] for c in by] + list(fields))


# ---------------------------------------------------------------------------
# sketch specs: how each sketch family ingests a batch and reports
# ---------------------------------------------------------------------------

_DISTINCT_FIELDS = [
    StructField("distinct_count_est", DoubleType()),
    StructField("error_bound", DoubleType()),
]
_TOP_FIELDS = [StructField("value", StringType()), StructField("count_est", LongType())]
_PROFILE_FIELDS = [
    StructField("url_distinct_est", DoubleType()),
    StructField("url_distinct_bound", DoubleType()),
    StructField("len_p50", DoubleType()),
    StructField("len_p90", DoubleType()),
    StructField("len_p99", DoubleType()),
    StructField("len_rank_bound", DoubleType()),
    StructField("top_tokens", ArrayType(StringType())),
    StructField("top_counts", ArrayType(LongType())),
]


# The JVM-side hash of a null value: xxhash64(null) is its seed, which
# the distinct sketches would count as one more value, so a null maps to
# this reserved code instead and the Python update drops it.
_NULL_HASH = 0


def _hash_of(c: Column) -> Column:
    return F.when(c.isNull(), F.lit(_NULL_HASH).cast("long")).otherwise(F.xxhash64(c.cast("string")))


def _value_hashes(pdf: pd.DataFrame, col: str = "__h") -> np.ndarray:
    """The hashes in `col` of the batch's non-null values."""
    h = pdf[col].to_numpy(dtype=np.int64)
    return h[h != _NULL_HASH]


def _update_hashes(sk, pdf: pd.DataFrame) -> None:
    sk.update_hashes(_value_hashes(pdf))


def _prepare_hash(df: DataFrame, of: str) -> DataFrame:
    return df.withColumn("__h", _hash_of(F.col(of)))


def _distinct_rows(sk) -> pd.DataFrame:
    return pd.DataFrame({"distinct_count_est": [sk.estimate()], "error_bound": [sk.error_bound()]})


def _hll_spec(p: int) -> SketchSpec:
    return SketchSpec(
        make=lambda: HyperLogLog(p=p),
        update=_update_hashes,
        finalize=_distinct_rows,
        prepare=_prepare_hash,
        deserialize=HyperLogLog.deserialize,
    )


def _theta_spec(k: int) -> SketchSpec:
    return SketchSpec(
        make=lambda: ThetaSketch(k=k),
        update=_update_hashes,
        finalize=_distinct_rows,
        prepare=_prepare_hash,
        deserialize=ThetaSketch.deserialize,
    )


def _qcol(q: float) -> str:
    """Output column of quantile q: 0.5 -> p50, 0.999 -> p99_9."""
    return f"p{str(q * 100).rstrip('0').rstrip('.').replace('.', '_')}"


def _quantile_fields(qs: Sequence[float]) -> list[StructField]:
    return [StructField(_qcol(q), DoubleType()) for q in qs] + [
        StructField("rank_error_bound", DoubleType())
    ]


def _quantile_spec(make_sketch, deserialize, qs: Sequence[float], bound_fn) -> SketchSpec:
    def finalize(sk) -> pd.DataFrame:
        row = {_qcol(q): sk.quantile(q) for q in qs}
        row["rank_error_bound"] = bound_fn(sk)
        return pd.DataFrame([row])

    return SketchSpec(
        make=make_sketch,
        update=lambda sk, pdf: sk.update_batch(pdf["__v"].to_numpy(dtype=np.float64)),
        finalize=finalize,
        internal_cols=("__v",),
        prepare=lambda df, of: df.withColumn("__v", F.col(of).cast("double")),
        deserialize=deserialize,
    )


def _kll_spec(k: int, qs: Sequence[float]) -> SketchSpec:
    return _quantile_spec(lambda: KLL(k=k), KLL.deserialize, qs, lambda sk: sk.error_bound())


def _top_rows(k: int):
    def finalize(sk: TopKSketch) -> pd.DataFrame:
        rows = sk.top(k)
        return pd.DataFrame({"value": [r[0] for r in rows], "count_est": [r[1] for r in rows]})

    return finalize


def _add_tokens(sk: TopKSketch, texts, sep: str = " ") -> None:
    """Fold the `sep`-split tokens of a batch of texts into `sk`; null
    texts are skipped. Counter over split lists beats pandas
    explode+value_counts ~2.3x (no 10^6-element object Series
    materialized), and the summary merges only the DISTINCT tokens."""
    c: Counter = Counter()
    for t in texts:
        if t is not None:
            c.update(t.split(sep))
    if c:
        sk.update_values(list(c), list(c.values()))


def _profile_spec(
    url_col: str, text_col: str, p: int, kll_k: int, top_k: int, cms_depth: int, cms_width: int
) -> SketchSpec:
    """HLL of `url_col`, KLL of text length and top-k tokens of
    `text_col` as one MultiSketch; finalize emits `_PROFILE_FIELDS`."""
    deserializers = {
        "hll": HyperLogLog.deserialize,
        "kll": KLL.deserialize,
        "topk": TopKSketch.deserialize,
    }

    def make() -> MultiSketch:
        return MultiSketch(
            {
                "hll": HyperLogLog(p=p),
                "kll": KLL(k=kll_k),
                "topk": TopKSketch(depth=cms_depth, width=cms_width, capacity=4 * top_k + 1024),
            }
        )

    def update(sk: MultiSketch, pdf: pd.DataFrame) -> None:
        sk.parts["hll"].update_hashes(_value_hashes(pdf, "__h_url"))
        tl = pdf["__tl"].to_numpy(dtype=np.float64)
        tl = tl[~np.isnan(tl)]  # null text has no length
        if tl.size:
            sk.parts["kll"].update_batch(tl)
        _add_tokens(sk.parts["topk"], pdf["__text"])

    def finalize(sk: MultiSketch) -> pd.DataFrame:
        hll, kll, topk = sk.parts["hll"], sk.parts["kll"], sk.parts["topk"]
        top = topk.top(top_k)
        return pd.DataFrame(
            [
                {
                    "url_distinct_est": hll.estimate(),
                    "url_distinct_bound": hll.error_bound(),
                    "len_p50": kll.quantile(0.5),
                    "len_p90": kll.quantile(0.9),
                    "len_p99": kll.quantile(0.99),
                    "len_rank_bound": kll.error_bound(),
                    "top_tokens": [t for t, _ in top],
                    "top_counts": [c for _, c in top],
                }
            ]
        )

    return SketchSpec(
        make=make,
        update=update,
        finalize=finalize,
        internal_cols=("__h_url", "__tl", "__text"),
        prepare=lambda df, of: (
            df.withColumn("__h_url", _hash_of(F.col(url_col)))
            .withColumn("__tl", F.length(F.col(text_col)).cast("double"))
            .withColumn("__text", F.col(text_col).cast("string"))
        ),
        deserialize=lambda b: MultiSketch.deserialize(b, deserializers),
    )


# ---------------------------------------------------------------------------
# distinct count (HLL++, theta / KMV) and theta set operations
# ---------------------------------------------------------------------------


def count_distinct_hll(
    df: DataFrame, of: str, by: Sequence[str] = (), p: int = 14, salted: bool = False
) -> DataFrame:
    """Approximate `count-distinct -f of [-g by]`; ±1.04/sqrt(2^p) stderr.

    Output: by..., distinct_count_est:double, error_bound:double.
    """
    schema = _schema(df, by, _DISTINCT_FIELDS)
    return sketch_aggregate(df, of, _hll_spec(p), by=by, out_schema=schema, salted=salted)


def count_distinct_theta(
    df: DataFrame, of: str, by: Sequence[str] = (), k: int = 4096, salted: bool = False
) -> DataFrame:
    """Approximate `count-distinct -f of [-g by]` via a theta/KMV sketch.

    Same query shape as count_distinct_hll but the state supports set
    algebra (see theta_set_ops); error_bound is 0 while the group has
    fewer than k distinct values (exact mode), else ~1/sqrt(k-1).
    """
    schema = _schema(df, by, _DISTINCT_FIELDS)
    return sketch_aggregate(df, of, _theta_spec(k), by=by, out_schema=schema, salted=salted)


def theta_set_ops(
    df: DataFrame, of: str, group_col: str, group_a, group_b, k: int = 4096
) -> DataFrame:
    """Distinct-set algebra between two groups' values of `of`:
    union / intersection / difference cardinalities + Jaccard, each a
    theta-sketch estimate with its published error bound.

    The crawl-overlap query: "how many distinct URLs does crawl A share
    with crawl B?" — Miller can only answer by materializing both
    distinct sets (pkg/transformers/count_distinct.go keeps every
    distinct value in an ordered map); the theta algebra answers from
    two O(k) states. At test scale (distinct < k) theta stays 1 and
    every number is EXACT, which is what the DuckDB oracle checks.

    Output (one row): union_est, intersect_est, a_not_b_est,
    b_not_a_est, jaccard_est, error_bound.
    """
    # the grouped two-level plan over the two groups, finalizing each
    # group to its merged state; only two O(k) states reach the driver
    spec = _theta_spec(k)
    spec.finalize = lambda sk: pd.DataFrame({STATE_COL: [sk.serialize()]})
    pair = df.filter(F.col(group_col).isin([group_a, group_b]))
    state_schema = _schema(df, [group_col], [StructField(STATE_COL, BinaryType())])
    states = sketch_aggregate(pair, of, spec, by=[group_col], out_schema=state_schema)
    sketches = {
        r[group_col]: ThetaSketch.deserialize(bytes(r[STATE_COL])) for r in states.collect()
    }
    ska = sketches.get(group_a, ThetaSketch(k=k))
    skb = sketches.get(group_b, ThetaSketch(k=k))
    un = theta_union(ska, skb)
    inter = theta_intersect(ska, skb)
    only_a = theta_a_not_b(ska, skb)
    only_b = theta_a_not_b(skb, ska)
    u_est = un.estimate()
    out = pd.DataFrame(
        {
            "union_est": [u_est],
            "intersect_est": [inter.estimate()],
            "a_not_b_est": [only_a.estimate()],
            "b_not_a_est": [only_b.estimate()],
            "jaccard_est": [inter.estimate() / u_est if u_est else 0.0],
            "error_bound": [max(un.error_bound(), inter.error_bound())],
        }
    )
    schema = StructType([StructField(c, DoubleType()) for c in out.columns])
    return df.sparkSession.createDataFrame(out, schema=schema)


# ---------------------------------------------------------------------------
# quantiles (t-digest / KLL)
# ---------------------------------------------------------------------------


def quantiles_tdigest(
    df: DataFrame,
    of: str,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    by: Sequence[str] = (),
    delta: int = 200,
    salted: bool = False,
) -> DataFrame:
    """Approximate `stats1 -a p50,p90,... -f of -g by` via merging t-digest."""
    spec = _quantile_spec(
        lambda: TDigest(delta=delta),
        TDigest.deserialize,
        qs,
        lambda sk: sk.rank_error_bound(0.5),
    )
    schema = _schema(df, by, _quantile_fields(qs))
    return sketch_aggregate(df, of, spec, by=by, out_schema=schema, salted=salted)


def quantiles_kll(
    df: DataFrame,
    of: str,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    by: Sequence[str] = (),
    k: int = 200,
    salted: bool = False,
) -> DataFrame:
    """Approximate grouped quantiles via KLL (uniform rank error
    2.296/k^0.9723 at 99% confidence: 1.33% at k=200)."""
    schema = _schema(df, by, _quantile_fields(qs))
    return sketch_aggregate(df, of, _kll_spec(k, qs), by=by, out_schema=schema, salted=salted)


# ---------------------------------------------------------------------------
# heavy hitters (mergeable SpaceSaving summary)
# ---------------------------------------------------------------------------


def most_frequent_cms(
    df: DataFrame,
    of: str,
    k: int = 10,
    by: Sequence[str] = (),
    depth: int = 5,
    width: int = 8192,
    capacity: int = 1024,
    salted: bool = False,
) -> DataFrame:
    """Approximate `most-frequent -f of -b k [-g by]`.

    Output: by..., value:string, count_est:long — top-k per group from a
    SpaceSaving summary of max(capacity, ceil(width/e)) values
    (sketches/cms.py): exact while the group has at most that many
    distinct values, else never an undercount and over by at most
    N/size <= e/width * N, deterministically. `depth` is unused. Null
    values are not counted.
    """

    def update(sk: TopKSketch, pdf: pd.DataFrame) -> None:
        g = pdf["__v"].value_counts(sort=False)  # pre-aggregated; nulls dropped
        sk.update_values(g.index.to_numpy(), g.to_numpy(dtype=np.int64))

    spec = SketchSpec(
        make=lambda: TopKSketch(depth=depth, width=width, capacity=capacity),
        update=update,
        finalize=_top_rows(k),
        internal_cols=("__v",),
        prepare=lambda df, of: df.withColumn("__v", F.col(of).cast("string")),
        deserialize=TopKSketch.deserialize,
    )
    schema = _schema(df, by, _TOP_FIELDS)
    return sketch_aggregate(df, of, spec, by=by, out_schema=schema, salted=salted)


def token_top_k(
    df: DataFrame,
    text_col: str = "text",
    k: int = 10,
    sep: str = " ",
    by: Sequence[str] = (),
    depth: int = 5,
    width: int = 16384,
    capacity: int = 2048,
    salted: bool = False,
) -> DataFrame:
    """Global token heavy hitters straight from a TEXT column — the
    `nest --explode then most-frequent` composition (reference:
    pkg/transformers/nest.go:34 + most_or_least_frequent.go:28) without
    materializing one row per token.

    Why not explode + most_frequent_cms: exploding 10^2 tokens/doc
    multiplies the Arrow JVM->Python transfer by the token count — at
    1M docs that round-trip alone costs ~16s vs ~2s for shipping each
    text once (measured, BENCH_scaling). Instead the document string
    crosses Arrow once and tokenization happens inside the batch
    (`_add_tokens`), with only the ~vocab-sized distinct set merged into
    the summary per batch. Same estimates, same bounds.
    """
    spec = SketchSpec(
        make=lambda: TopKSketch(depth=depth, width=width, capacity=capacity),
        update=lambda sk, pdf: _add_tokens(sk, pdf["__text"], sep),
        finalize=_top_rows(k),
        internal_cols=("__text",),
        prepare=lambda df, of: df.withColumn("__text", F.col(of).cast("string")),
        deserialize=TopKSketch.deserialize,
    )
    schema = _schema(df, by, _TOP_FIELDS)
    return sketch_aggregate(df, text_col, spec, by=by, out_schema=schema, salted=salted)


# ---------------------------------------------------------------------------
# one-pass multi-sketch profile (Miller `summary` reimagined)
# ---------------------------------------------------------------------------


def sketch_profile(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    by: Sequence[str] = (),
    p: int = 14,
    kll_k: int = 200,
    top_k: int = 20,
    cms_depth: int = 5,
    cms_width: int = 16384,
    salted: bool = False,
) -> DataFrame:
    """The north-star page profile in ONE scan: HLL distinct urls, KLL
    text-length quantiles, and SpaceSaving top tokens — Miller `summary`
    (reference: pkg/transformers/summary.go:77,237-246 computes every
    stat in one streaming pass) rebuilt as a fused MultiSketch plan.

    At 100 TB the table scan dominates; fusing k sketches into one
    partial/final plan reads the data once instead of k times and pays
    one job's scheduling cost instead of k. State per (partition x
    group) = 2^p + O(k_kll) + at most ceil(cms_width/e) tokens with their
    counts (~60 KB by default, less for a small group);
    `cms_depth` is unused.

    Output: by..., url_distinct_est, url_distinct_bound, len_p50/p90/
    p99, len_rank_bound, top_tokens:array<string>, top_counts:array<long>.
    """
    spec = _profile_spec(url_col, text_col, p, kll_k, top_k, cms_depth, cms_width)
    schema = _schema(df, by, _PROFILE_FIELDS)
    return sketch_aggregate(df, url_col, spec, by=by, out_schema=schema, salted=salted)


# ---------------------------------------------------------------------------
# membership (Bloom)
# ---------------------------------------------------------------------------


def build_bloom(df: DataFrame, of: str, n_bits: int = 1 << 23, n_hashes: int = 7) -> BloomFilter:
    """Build a Bloom filter over column `of` with the two-level plan and
    return the merged driver-side filter (state is n_bits/8 bytes). A
    null value is not inserted."""
    spec = SketchSpec(
        make=lambda: BloomFilter(n_bits=n_bits, n_hashes=n_hashes),
        update=lambda sk, pdf: sk.add_hashes(_value_hashes(pdf)),
        finalize=lambda sk: pd.DataFrame({"state": [sk.serialize()]}),
        prepare=_prepare_hash,
        deserialize=BloomFilter.deserialize,
    )
    schema = StructType([StructField("state", BinaryType())])
    rows = sketch_aggregate(df, of, spec, by=(), out_schema=schema).collect()
    if not rows:
        return BloomFilter(n_bits=n_bits, n_hashes=n_hashes)
    return BloomFilter.deserialize(bytes(rows[0]["state"]))


def bloom_filter_new(df: DataFrame, of: str, bloom: BloomFilter) -> DataFrame:
    """`uniq -a`-style membership at scale: keep rows whose `of` value is
    definitely NOT in the filter (no false negatives ⇒ no true duplicate
    survives; a published-FPR fraction of new rows is dropped).

    The filter is broadcast once; the membership test is a vectorized
    Arrow-batched predicate over JVM-computed xxhash64.
    """
    sc = df.sparkSession.sparkContext
    b_state = sc.broadcast(bloom.serialize())

    def keep_new(batches):
        bf = BloomFilter.deserialize(b_state.value)
        for pdf in batches:
            mask = ~bf.contains_hashes(pdf["__h"].to_numpy(dtype=np.int64))
            yield pdf[mask]

    prepared = df.withColumn("__h", F.xxhash64(F.col(of).cast("string")))
    return prepared.mapInPandas(python_task(keep_new), schema=prepared.schema).drop("__h")


# ---------------------------------------------------------------------------
# ewma, step by step (order-sensitive; exact.step's window form is within
# a few ULP of the sequential recursion, this one runs the recursion)
# ---------------------------------------------------------------------------


def ewma_pandas(
    df: DataFrame,
    value: str,
    alphas: Sequence[float],
    order_by: Sequence[str],
    by: Sequence[str] = (),
) -> DataFrame:
    """`mlr step -a ewma -d a1,a2 -f value` (reference: step.go:647-651):
    y_0 = x_0; y_t = a*x_t + (1-a)*y_{t-1}, one output column per alpha.
    applyInPandas per group, pandas ewm (adjust=False matches Miller):
    a sequential float recursion, whose last bits a 9-digit compare of a
    rounding tie can see. The scale path, without a per-group Python
    task, is exact.step(..., ewma_alphas=...).
    """
    by = list(by)
    cols = {
        f"{value}_ewma_{('%g' % a).replace('.', '_')}": a for a in alphas
    }
    schema = StructType(
        list(df.schema.fields) + [StructField(n, DoubleType()) for n in cols]
    )

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(list(order_by), kind="stable")
        for name, a in cols.items():
            pdf[name] = pdf[value].ewm(alpha=a, adjust=False).mean()
        return pdf

    grouped = df.groupBy(*by) if by else df.groupBy()
    return grouped.applyInPandas(python_task(per_group), schema=schema)


# ---------------------------------------------------------------------------
# bootstrap-ci as a sketch (SURVEY.md §2.5 `bootstrap-ci`, the scale path)
# ---------------------------------------------------------------------------


def bootstrap_ci_sketch(
    df: DataFrame,
    value: str,
    key: str,
    by: Sequence[str] = (),
    n_boot: int = 100,
    lo: float = 0.025,
    hi: float = 0.975,
    seed: int = 42,
    salted: bool = False,
) -> DataFrame:
    """`mlr bootstrap-ci` riding the two-level partial/final sketch
    plan: the mergeable state is n_boot (sum c*v, sum c) Poisson-
    bootstrap accumulators (sketches/bootci.py) — constant KB per
    group, no per-group materialization, resample multiplicities
    deterministic in (key row hash, replicate, seed) under ANY
    partitioning. Output: by..., {value}_mean, {value}_ci_lo,
    {value}_ci_hi.

    This is the 10^12-row shape for CI estimation.
    tests/test_sketch_verbs_spark.py checks it against the exact mean
    and a classical-theory interval width, salted and unsalted;
    exact.bootstrap_ci_hash is the engine-portable oracle variant."""

    def prepare(d: DataFrame, of: str) -> DataFrame:
        return d.withColumn(
            "__h", F.xxhash64(F.coalesce(F.col(key).cast("string"), F.lit("")))
        ).withColumn("__v", F.col(of).cast("double"))

    names = (f"{value}_mean", f"{value}_ci_lo", f"{value}_ci_hi")
    spec = SketchSpec(
        make=lambda: BootstrapCI(n_boot=n_boot, lo=lo, hi=hi, seed=seed),
        update=lambda sk, pdf: sk.update(
            pdf["__h"].to_numpy(dtype=np.int64),
            pdf["__v"].to_numpy(dtype=np.float64),
        ),
        finalize=lambda sk: pd.DataFrame([dict(zip(names, sk.result()))]),
        internal_cols=("__h", "__v"),
        prepare=prepare,
        deserialize=BootstrapCI.deserialize,
    )
    schema = _schema(df, by, [StructField(n, DoubleType()) for n in names])
    return sketch_aggregate(df, value, spec, by=by, out_schema=schema, salted=salted)
