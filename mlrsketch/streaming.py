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
- stream_count_distinct_hll: `count-distinct` as a CUSTOM STATEFUL
  operator via applyInPandasWithState — the group's HLL sketch IS the
  state (serialized bytes), updated per micro-batch with the same
  vectorized core as the batch path, emitting a running estimate.
  Because HLL merge is associative and commutative, late/out-of-order
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
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mlrsketch.agg import merge_states
from mlrsketch.session import python_task
from mlrsketch.sketches import HyperLogLog

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


def stream_count_distinct_hll(
    sdf: DataFrame,
    of: str,
    by: Sequence[str],
    p: int = 12,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """`count-distinct -f of -g by` as a custom stateful streaming
    operator (applyInPandasWithState).

    State per group = one serialized HLL (2^p bytes). Each micro-batch
    hashes its rows JVM-side (xxhash64, same as the batch path), the
    Python side unions them into the state sketch, and the operator
    emits the group's running (estimate, error_bound). Updates commute,
    so out-of-order arrival changes nothing — the defining property
    that makes sketches the right streaming state.

    Output mode must be "update".
    """
    by = list(by)
    import numpy as np

    by_fields = [sdf.schema[c] for c in by]
    out_schema = StructType(
        by_fields
        + [
            StructField("distinct_count_est", DoubleType()),
            StructField("error_bound", DoubleType()),
            StructField("n_batches", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("sketch", BinaryType()), StructField("n_batches", LongType())]
    )

    prepared = sdf.withColumn("__h", F.xxhash64(F.col(of).cast("string"))).select(
        *by, "__h"
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob, n_batches = state.get
            hll = HyperLogLog.deserialize(bytes(blob))
        else:
            hll, n_batches = HyperLogLog(p=p), 0
        for pdf in pdfs:
            hll.update_hashes(pdf["__h"].to_numpy(dtype=np.int64))
        n_batches += 1
        state.update((hll.serialize(), n_batches))
        row = dict(zip(by, key))
        row["distinct_count_est"] = hll.estimate()
        row["error_bound"] = hll.error_bound()
        row["n_batches"] = n_batches
        yield pd.DataFrame([row])

    return prepared.groupBy(*by).applyInPandasWithState(
        python_task(update), out_schema, state_schema, "update", timeout
    )


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
    emitting running quantile estimates. Same mergeable-state shape as
    stream_count_distinct_hll; output mode "update"."""
    import numpy as np

    from mlrsketch.sketches import KLL

    by = list(by)
    by_fields = [sdf.schema[c] for c in by]
    qcols = [f"p{str(q * 100).rstrip('0').rstrip('.').replace('.', '_')}" for q in qs]
    out_schema = StructType(
        by_fields
        + [StructField(c, DoubleType()) for c in qcols]
        + [
            StructField("rank_error_bound", DoubleType()),
            StructField("n_batches", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("sketch", BinaryType()), StructField("n_batches", LongType())]
    )
    prepared = sdf.withColumn("__v", F.col(of).cast("double")).select(*by, "__v")

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob, n_batches = state.get
            sk = KLL.deserialize(bytes(blob))
        else:
            sk, n_batches = KLL(k=k), 0
        for pdf in pdfs:
            sk.update_batch(pdf["__v"].to_numpy(dtype=np.float64))
        n_batches += 1
        state.update((sk.serialize(), n_batches))
        row = dict(zip(by, key))
        for q, c in zip(qs, qcols):
            row[c] = sk.quantile(q)
        row["rank_error_bound"] = sk.error_bound()
        row["n_batches"] = n_batches
        yield pd.DataFrame([row])

    return prepared.groupBy(*by).applyInPandasWithState(
        python_task(update), out_schema, state_schema, "update", timeout
    )


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
    text-length quantiles + CMS/TopK tokens — see
    verbs.sketch.sketch_profile) as ONE custom stateful streaming
    operator: the group's MultiSketch is the state, each micro-batch
    folds in vectorized, and the operator emits the group's running
    profile. Because every constituent merge is associative and
    commutative, late/out-of-order pages need no special handling.

    State per group = 2^p (or the sparse list below m/4) + O(kll_k) +
    depth*width*8 bytes — independent of rows seen, the property that
    makes a 10^12-page continuous ingest viable. Output mode "update".
    """
    import numpy as np

    from mlrsketch.sketches import KLL
    from mlrsketch.sketches.cms import TopKSketch
    from mlrsketch.sketches.hashing import hash_strings
    from mlrsketch.sketches.multi import MultiSketch

    by = list(by)
    by_fields = [sdf.schema[c] for c in by]
    out_schema = StructType(
        by_fields
        + [
            StructField("url_distinct_est", DoubleType()),
            StructField("url_distinct_bound", DoubleType()),
            StructField("len_p50", DoubleType()),
            StructField("len_p90", DoubleType()),
            StructField("len_p99", DoubleType()),
            StructField("top_tokens", StringType()),  # csv, scalar-friendly
            StructField("n_batches", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("sketch", BinaryType()), StructField("n_batches", LongType())]
    )
    deserializers = {
        "hll": HyperLogLog.deserialize,
        "kll": KLL.deserialize,
        "topk": TopKSketch.deserialize,
    }

    prepared = sdf.withColumn(
        "__h_url", F.xxhash64(F.col(url_col).cast("string"))
    ).withColumn("__tl", F.length(F.col(text_col)).cast("double")).withColumn(
        "__text", F.col(text_col).cast("string")
    ).select(*by, "__h_url", "__tl", "__text")

    def make() -> MultiSketch:
        return MultiSketch(
            {
                "hll": HyperLogLog(p=p),
                "kll": KLL(k=kll_k),
                "topk": TopKSketch(
                    depth=cms_depth, width=cms_width, capacity=4 * top_k + 1024
                ),
            }
        )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from collections import Counter

        if state.exists:
            blob, n_batches = state.get
            sk = MultiSketch.deserialize(bytes(blob), deserializers)
        else:
            sk, n_batches = make(), 0
        for pdf in pdfs:
            sk.parts["hll"].update_hashes(pdf["__h_url"].to_numpy(dtype=np.int64))
            tl = pdf["__tl"].to_numpy(dtype=np.float64)
            tl = tl[~np.isnan(tl)]
            if tl.size:
                sk.parts["kll"].update_batch(tl)
            c: Counter = Counter()
            for t in pdf["__text"]:
                if t is not None:
                    c.update(t.split(" "))
            if c:
                vals = np.array(list(c.keys()), dtype=object)
                cnts = np.fromiter(c.values(), dtype=np.int64, count=len(c))
                sk.parts["topk"].update_hashed(vals, hash_strings(vals), cnts)
        n_batches += 1
        state.update((sk.serialize(), n_batches))
        row = dict(zip(by, key))
        row["url_distinct_est"] = sk.parts["hll"].estimate()
        row["url_distinct_bound"] = sk.parts["hll"].error_bound()
        row["len_p50"] = sk.parts["kll"].quantile(0.5)
        row["len_p90"] = sk.parts["kll"].quantile(0.9)
        row["len_p99"] = sk.parts["kll"].quantile(0.99)
        row["top_tokens"] = ",".join(t for t, _ in sk.parts["topk"].top(top_k))
        row["n_batches"] = n_batches
        yield pd.DataFrame([row])

    return prepared.groupBy(*by).applyInPandasWithState(
        python_task(update), out_schema, state_schema, "update", timeout
    )
