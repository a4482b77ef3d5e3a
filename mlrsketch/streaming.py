"""Structured Streaming surface for mlrsketch.

Miller has no event-time semantics — all its windows are record-count
based over arrival order (reference: /root/reference/docs/src/
streaming-and-memory.md:77-190; the `step`/`stats1 -w` verbs). This
module is therefore a pure Spark-first extension, per SURVEY.md §2.6:
time windows over `warc_ts` (or any event-time column) with watermarks
for late data, and the library's mergeable sketch states running as
custom stateful streaming operators.

Three layers:

- stream_stats1: Miller `stats1` over tumbling/sliding event-time
  windows — built-in aggregates only, so Spark's incremental state
  store handles partial aggregation per micro-batch (the streaming
  analogue of our batch partial/final split).
- stream_count_distinct_hll / stream_quantiles_kll /
  stream_sketch_profile: sketches as CUSTOM STATEFUL operators — one
  grouped-state body (`_stateful_sketch`) where the group's
  serialized sketch IS the state, driven by the same SketchSpec
  factories as the batch verbs (mlrsketch.verbs.sketch), so a stream
  and a batch query over the same rows build the same sketch. Because
  every sketch merge is associative and commutative, late/out-of-order
  data needs no special-casing: updates commute.
- sketch_foreach_batch: micro-batch → partial sketch states appended
  to a parquet state directory (same layout as mlrsketch.checkpoint),
  merged on read. This is the resumable-run path: the sink directory
  plus the streaming checkpoint give exactly-once state accumulation.

Scale notes: state per group is the sketch size (KB), not the data;
watermark bounds the number of live windows; shuffle is on
(window, *by) which Spark hash-partitions across executors.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from mlrsketch.agg import SketchSpec, merge_states
from mlrsketch.session import python_task
from mlrsketch.verbs.sketch import (
    _DISTINCT_FIELDS,
    _PROFILE_FIELDS,
    _hll_spec,
    _kll_spec,
    _profile_spec,
    _quantile_fields,
)

_STATS1_STREAM_ACCS = {
    "count": F.count,
    "sum": F.sum,
    "mean": F.avg,
    "min": F.min,
    "max": F.max,
}


def stream_stats1(
    sdf: DataFrame,
    accs: Sequence[str],
    values: Sequence[str],
    time_col: str,
    window: str = "10 minutes",
    slide: str | None = None,
    by: Sequence[str] = (),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed `stats1` over an event-time stream.

    Returns a streaming DataFrame with (window_start, window_end, by...,
    {field}_{acc}...). Late rows beyond `watermark` are dropped by the
    engine; everything else is incrementally aggregated in the state
    store (sum/count/min/max are all mergeable, so Spark keeps O(1)
    state per window x group).
    """
    by = list(by)
    win = (
        F.window(F.col(time_col), window, slide) if slide else F.window(F.col(time_col), window)
    )
    aggs = []
    for f in values:
        for a in accs:
            if a not in _STATS1_STREAM_ACCS:
                raise ValueError(
                    f"streaming stats1 supports {sorted(_STATS1_STREAM_ACCS)}, got {a}"
                )
            aggs.append(_STATS1_STREAM_ACCS[a](F.col(f)).alias(f"{f}_{a}"))
    return (
        sdf.withWatermark(time_col, watermark)
        .groupBy(win.alias("window"), *by)
        .agg(*aggs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *by,
            *[f"{f}_{a}" for f in values for a in accs],
        )
    )


def _stateful_sketch(
    sdf: DataFrame,
    of: str,
    spec: SketchSpec,
    by: Sequence[str],
    fields: Sequence[StructField],
    timeout: str,
) -> DataFrame:
    """Run `spec` as a custom stateful streaming operator over
    `groupBy(by)` (pandas grouped state, output mode "update").

    State per group = the serialized sketch plus its micro-batch count.
    Each micro-batch is prepared JVM-side by `spec.prepare` (xxhash64,
    casts: the batch path's columns), folded into the state sketch with
    `spec.update`, and the operator emits the group's running answer:
    by..., the `fields` columns of `spec.finalize`, n_batches. Updates
    commute, so out-of-order arrival changes nothing — the defining
    property that makes sketches the right streaming state.
    """
    by = list(by)
    names = [f.name for f in fields]
    out_schema = StructType(
        [sdf.schema[c] for c in by] + list(fields) + [StructField("n_batches", LongType())]
    )
    state_schema = StructType(
        [StructField("sketch", BinaryType()), StructField("n_batches", LongType())]
    )
    prepared = spec.prepare(sdf, of).select(*by, *spec.internal_cols)
    internal = spec.internal_cols
    make, update, finalize, deserialize = spec.make, spec.update, spec.finalize, spec.deserialize

    def step(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob, n_batches = state.get
            sk = deserialize(bytes(blob))
        else:
            sk, n_batches = make(), 0
        for pdf in pdfs:
            update(sk, pdf[internal])
        n_batches += 1
        state.update((sk.serialize(), n_batches))
        out = finalize(sk)[names].assign(n_batches=n_batches, **dict(zip(by, key)))
        yield out[by + names + ["n_batches"]]

    return prepared.groupBy(*by).applyInPandasWithState(
        python_task(step), out_schema, state_schema, "update", timeout
    )


def stream_count_distinct_hll(
    sdf: DataFrame,
    of: str,
    by: Sequence[str],
    p: int = 12,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """`count-distinct -f of -g by` as a custom stateful streaming
    operator: the group's HLL (2^p bytes, or the sparse hash list) is
    the state, emitting the running (distinct_count_est, error_bound,
    n_batches). Output mode must be "update"."""
    return _stateful_sketch(sdf, of, _hll_spec(p), by, _DISTINCT_FIELDS, timeout)


def stream_quantiles_kll(
    sdf: DataFrame,
    of: str,
    by: Sequence[str],
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    k: int = 200,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """`stats1 -a p50,p90,...` as a custom stateful streaming operator:
    the group's KLL sketch is the state, updated per micro-batch,
    emitting running quantile estimates, rank_error_bound and
    n_batches. Output mode "update"."""
    return _stateful_sketch(sdf, of, _kll_spec(k, qs), by, _quantile_fields(qs), timeout)


def sketch_foreach_batch(
    query_df_fn,
    state_dir: str,
):
    """Build a foreachBatch sink that appends each micro-batch's partial
    sketch-state rows (as produced by mlrsketch.agg partials or any
    DataFrame with a binary state column) to `state_dir` parquet,
    partitioned by batch id. Combined with the stream's
    checkpointLocation this gives resumable, exactly-once state
    accumulation: replaying a batch overwrites its own partition.

    query_df_fn: micro-batch DataFrame -> state DataFrame to persist.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = query_df_fn(batch_df)
        out.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"batch_id={batch_id}")
        )

    return sink


def read_merged_states(spark, state_dir: str, deserialize, state_col: str = "__sketch_state"):
    """Merge all persisted partial states under `state_dir` into one
    sketch (driver-side; states are KB each)."""
    rows = spark.read.parquet(state_dir).select(state_col).collect()
    return merge_states(deserialize, (r[state_col] for r in rows))


def stream_sketch_profile(
    sdf: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    by: Sequence[str] = ("lang",),
    p: int = 12,
    kll_k: int = 200,
    top_k: int = 20,
    cms_depth: int = 5,
    cms_width: int = 16384,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """The flagship fused page profile (HLL distinct urls + KLL
    text-length quantiles + SpaceSaving top tokens — see
    verbs.sketch.sketch_profile) as ONE custom stateful streaming
    operator: the group's MultiSketch is the state, each micro-batch
    folds in vectorized, and the operator emits the group's running
    profile. Because every constituent merge is associative and
    commutative, late/out-of-order pages need no special handling.

    State per group = 2^p (or the sparse list below m/4) + O(kll_k) +
    ceil(cms_width/e) tokens — independent of rows seen, the property that
    makes a 10^12-page continuous ingest viable. Output mode "update";
    columns by..., url_distinct_est, url_distinct_bound, len_p50/p90/
    p99, top_tokens (comma-joined, scalar-friendly), n_batches.
    """
    spec = _profile_spec(url_col, text_col, p, kll_k, top_k, cms_depth, cms_width)
    profile = spec.finalize
    spec.finalize = lambda sk: profile(sk).assign(
        top_tokens=lambda d: [",".join(t) for t in d["top_tokens"]]
    )
    # url_distinct_est/bound and len_p50/p90/p99, then csv tokens
    fields = _PROFILE_FIELDS[:5] + [StructField("top_tokens", StringType())]
    return _stateful_sketch(sdf, url_col, spec, by, fields, timeout)
