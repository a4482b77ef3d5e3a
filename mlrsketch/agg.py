"""Two-level partial/final sketch aggregation over DataFrames.

The distributed shape (SURVEY.md §4.2, north rule):

  stage 1 (partial):  mapInPandas over input partitions — one sketch
                      state per (input partition x group). No shuffle of
                      raw rows on the (possibly skewed) group key: the
                      input partitioning IS the salt, generalizing the
                      explicit `groupBy(keys, salt)` two-level plan. A
                      1000-executor job shuffles only KB-scale states.
  stage 2 (final):    grouped: groupBy(keys) over the tiny state rows +
                      applyInPandas merge → finalize. Global: the driver
                      collects the per-partition states and folds them
                      (`merge_states`); past DRIVER_FOLD_MAX_PARTITIONS a
                      narrow pre-merge stage runs first (treeAggregate's
                      extra level), so driver memory stays bounded.

An explicit salted variant (`salted=True`) reshuffles rows on
(keys, pmod(hash, n_salts)) first — useful when upstream partitioning
already clusters one giant group into few partitions and per-partition
partial states would be too few to parallelize the merge. Both plans
produce identical answers because every sketch merge is associative
(property-tested in tests/test_merge_properties.py).

Hashing happens JVM-side (`F.xxhash64`) inside whole-stage codegen;
Python only ever sees int64 hash batches through Arrow.

Miller contrast: Miller's accumulators update record-at-a-time in one
process and never merge (reference: /root/reference/pkg/transformers/
stats1.go:287-291, docs/src/streaming-and-memory.md:155-167). The merge
stage is the piece Miller never needed and the whole point here.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from mlrsketch.session import python_task

STATE_COL = "__sketch_state"

# A global aggregate folds at most this many partial partitions' states
# on the driver directly; past it, a pre-merge stage shrinks them first.
DRIVER_FOLD_MAX_PARTITIONS = 64
PRE_MERGE_PARTITIONS = 8


class SketchSpec:
    """Adapter between a sketch core and the two-level Spark plan.

    Parameters
    ----------
    make:      () -> fresh sketch
    update:    (sketch, pdf) -> None   — vectorized ingest of a pandas
               slice holding the prepared internal columns
    finalize:  (sketch) -> pd.DataFrame — output rows for one group
    prepare:   (df, of) -> df with internal columns added (JVM-side;
               e.g. xxhash64). Defaults to hashing `of` into "__h".
    """

    def __init__(
        self,
        make: Callable,
        update: Callable,
        finalize: Callable[[object], pd.DataFrame],
        internal_cols: Sequence[str] = ("__h",),
        prepare: Callable[[DataFrame, str], DataFrame] | None = None,
        deserialize: Callable[[bytes], object] | None = None,
    ):
        self.make = make
        self.update = update
        self.finalize = finalize
        self.internal_cols = list(internal_cols)
        self.prepare = prepare or (
            lambda df, of: df.withColumn("__h", F.xxhash64(F.col(of).cast("string")))
        )
        self.deserialize = deserialize


def merge_states(deserialize: Callable[[bytes], object], blobs: Iterable) -> object | None:
    """Fold serialized sketch states into one sketch; None when `blobs`
    is empty."""
    merged = None
    for blob in blobs:
        sk = deserialize(bytes(blob))
        merged = sk if merged is None else merged.merge(sk)
    return merged


def _group_key_tuple(key) -> tuple:
    return key if isinstance(key, tuple) else (key,)


def partial_states(
    df: DataFrame,
    of: str,
    spec: SketchSpec,
    by: Sequence[str] = (),
    salted: bool = False,
    n_salts: int = 64,
) -> DataFrame:
    """Stage 1 only: per-(input partition x group) serialized sketch
    states as (by..., __sketch_state:binary) rows; a group with no rows
    has no state row. Composed with the final merge by
    `sketch_aggregate`; used standalone by the checkpoint layer (keyed
    by source file, `by=["__unit"]`) and by streaming foreachBatch
    sinks."""
    by = list(by)
    prepared = spec.prepare(df, of).select(*by, *spec.internal_cols)
    if salted:
        # explicit salted two-level: spread each group over n_salts
        # reducers before building partials (skew mitigation when the
        # input partitioning is adversarial).
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in spec.internal_cols]), F.lit(n_salts))
        prepared = prepared.repartition(*(by + [salt.alias("__salt")]) if by else [salt])

    by_fields = [prepared.schema[c] for c in by]
    state_schema = StructType(by_fields + [StructField(STATE_COL, BinaryType(), False)])
    internal = spec.internal_cols
    make, update = spec.make, spec.update

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[tuple, object] = {}
        for pdf in batches:
            if by:
                for key, idx in pdf.groupby(by, sort=False, dropna=False).indices.items():
                    kt = _group_key_tuple(key)
                    sk = sketches.get(kt)
                    if sk is None:
                        sk = sketches[kt] = make()
                    update(sk, pdf.iloc[idx][internal])
            else:
                sk = sketches.get(())
                if sk is None:
                    sk = sketches[()] = make()
                update(sk, pdf[internal])
        if sketches:
            rows = [
                dict(zip(by, kt)) | {STATE_COL: sk.serialize()}
                for kt, sk in sketches.items()
            ]
            yield pd.DataFrame(rows, columns=by + [STATE_COL])

    return prepared.mapInPandas(python_task(partial), schema=state_schema)


def sketch_aggregate(
    df: DataFrame,
    of: str,
    spec: SketchSpec,
    by: Sequence[str] = (),
    out_schema: StructType | str = "",
    salted: bool = False,
    n_salts: int = 64,
) -> DataFrame:
    """Run the two-level partial/final sketch plan; returns the finalized
    DataFrame with the group keys + whatever `spec.finalize` emits."""
    by = list(by)
    partials = partial_states(df, of, spec, by=by, salted=salted, n_salts=n_salts)

    deser = spec.deserialize
    finalize = spec.finalize

    if not by:
        if partials.rdd.getNumPartitions() > DRIVER_FOLD_MAX_PARTITIONS:
            # repartition, NOT coalesce: coalesce fuses into the parent
            # stage and would collapse the partial computation itself to
            # PRE_MERGE_PARTITIONS tasks. The shuffle moves only states.
            def merge_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                merged = merge_states(deser, (b for pdf in batches for b in pdf[STATE_COL]))
                if merged is not None:
                    yield pd.DataFrame({STATE_COL: [merged.serialize()]})

            partials = partials.repartition(PRE_MERGE_PARTITIONS).mapInPandas(
                python_task(merge_partition), schema=partials.schema
            )
        merged = merge_states(deser, (r[STATE_COL] for r in partials.collect()))
        out = [] if merged is None else finalize(merged)
        return df.sparkSession.createDataFrame(out, schema=out_schema)

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        out = finalize(merge_states(deser, pdf[STATE_COL]))
        for c in by:
            out.insert(0, c, pdf[c].iloc[0]) if c not in out.columns else None
        return out[ [c for c in by] + [c for c in out.columns if c not in by] ]

    return partials.groupBy(*by).applyInPandas(python_task(final), schema=out_schema)
