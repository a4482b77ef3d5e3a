"""Distributed execution of full-DSL (stateful) programs.

The Column compiler (compiler.py) is the fast path for per-record
scalar programs — one whole-stage-codegen'd projection, no Python.
Programs that carry state across records (oosvars, begin/end, emit)
are inherently sequential — Miller itself is a single-core stream
(reference pkg/stream/stream.go). On Spark we recover scale-out by
running the stream PER GROUP: each group's rows are ordered and fed
through the interpreter independently inside `applyInPandas`, state
confined to the group. This matches Miller semantics whenever the
cross-record state is keyed by the group (running sums per host,
sessionization per user, dedupe per key): the common case for the
library's Common-Crawl-style workloads.

Plan shape at scale: one hash-partition exchange on the group keys,
then Arrow-batched Python per group — the same shape as any grouped
Pandas-UDF aggregation; no driver collect, no global single task.

For truly GLOBAL sequential programs (state spanning all records of a
100 TB table) there is no distributed execution in any engine without
changing the algorithm; `put_stream(df, prog, by=None)` therefore
funnels through ONE task and is guarded by `allow_single_task=True` so
the scale hazard is explicit at the call site.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from mlrsketch.dsl import interp as MI
from mlrsketch.session import python_task


def _schema_of(sample_cols: list[tuple[str, str]]) -> StructType:
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
    )

    m = {
        "bigint": LongType(),
        "long": LongType(),
        "int": LongType(),
        "double": DoubleType(),
        "float": DoubleType(),
        "boolean": BooleanType(),
    }
    return StructType(
        [StructField(c, m.get(t, StringType()), True) for c, t in sample_cols]
    )


def _run_group(pdf, prog: str, mode: str, emit_only: bool, in_cols,
               out_cols, order_col):
    import pandas as pd

    if order_col is not None and order_col in pdf.columns:
        pdf = pdf.sort_values(order_col, kind="mergesort")
    records = []
    for row in pdf[in_cols].itertuples(index=False):
        rec = {}
        for k, v in zip(in_cols, row):
            if v is None or (isinstance(v, float) and v != v):
                continue
            rec[k] = MI.infer_value(v) if isinstance(v, str) else v
        records.append(rec)
    # library API stance: the `filter` statement IS allowed inside
    # filter_stream programs (the mlr-CLI restriction is a golden-replay
    # concern only)
    items = MI.run_stream(prog, records, mode=mode, emit_only=emit_only,
                          typed=True, allow_filter_stmt=True)
    out_rows = []
    for kind, payload in items:
        if kind != "rec":
            continue  # print/dump text is a terminal-only concern
        out_rows.append([payload.get(c) for c in out_cols])
    out = pd.DataFrame(out_rows, columns=out_cols)
    return out


def put_stream(
    df: DataFrame,
    program: str,
    by: list[str] | None = None,
    order_by: str | None = None,
    output_columns: list[tuple[str, str]] | None = None,
    mode: str = "put",
    emit_only: bool = False,
    allow_single_task: bool = False,
) -> DataFrame:
    """Run a stateful Miller-DSL program over `df`, stream state scoped
    per `by`-group (distributed: one Arrow batch pipeline per group).

    output_columns: [(name, spark_type_string)] for the result schema.
    Required when the program adds fields (the engine cannot infer a
    dynamic schema without running the program). Defaults to the input
    schema.

    order_by: column defining stream order within each group (e.g. a
    timestamp or the source row number). Without it the within-group
    order is partition order — fine for order-insensitive programs.
    """
    if by is None or len(by) == 0:
        if not allow_single_task:
            raise ValueError(
                "put_stream without `by` is a single sequential stream "
                "(one task); pass allow_single_task=True to accept, or "
                "give group keys to distribute"
            )
        by_cols = [F.lit(0).alias("__g")]
        group_names = ["__g"]
        df = df.select(*by_cols, *df.columns)
    else:
        group_names = list(by)

    in_cols = [c for c in df.columns if c not in ("__g",)]
    if output_columns is None:
        out_schema = StructType(
            [f for f in df.schema.fields if f.name != "__g"]
        )
        out_cols = [f.name for f in out_schema.fields]
    else:
        out_schema = _schema_of(output_columns)
        out_cols = [c for c, _ in output_columns]

    prog = program
    mode_ = mode
    eo = emit_only
    oc = order_by

    def apply_fn(pdf):
        return _run_group(pdf, prog, mode_, eo, in_cols, out_cols, oc)

    out = df.groupBy(*group_names).applyInPandas(python_task(apply_fn), schema=out_schema)
    if "__g" in out.columns:
        out = out.drop("__g")
    return out


def filter_stream(df, program, **kw):
    return put_stream(df, program, mode="filter", **kw)
