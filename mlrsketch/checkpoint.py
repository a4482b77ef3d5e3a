"""Per-partition sketch checkpoints + lineage for resumable runs.

North-rule requirement: a 10^12-row sketch job must be resumable.
Mechanism (pure application logic — no engine hooks):

1. The input is split into named UNITS (normally: parquet files or
   Iceberg manifests; here: deterministic row-id ranges / file paths).
2. Each unit's partial sketch state is written to a checkpoint
   directory as one parquet row carrying lineage:
   (job_id, unit_id, input_fingerprint, extractor_version, rows_in,
    wall_ms, state:binary).
3. Resume = read checkpoint rows, recompute ONLY units whose
   (unit_id, input_fingerprint, extractor_version) are missing or
   stale, then merge all states — valid because every sketch merge is
   associative and the units partition the input.

Miller contrast: Miller has no resumability — a stream dies, you rerun
it (single process, minutes). At 10^12 rows a rerun is days, hence this
layer.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mlrsketch.agg import STATE_COL, merge_states
from mlrsketch.session import python_task
from mlrsketch.textextract import EXTRACTOR_VERSION

CHECKPOINT_SCHEMA = StructType(
    [
        StructField("job_id", StringType(), False),
        StructField("unit_id", StringType(), False),
        StructField("input_fingerprint", StringType(), False),
        StructField("extractor_version", StringType(), False),
        StructField("rows_in", LongType(), False),
        StructField("wall_ms", LongType(), False),
        StructField("state", BinaryType(), False),
    ]
)


def list_units(spark: SparkSession, path: str) -> list[tuple[str, str]]:
    """(unit_id, input_fingerprint) per parquet file of a table — the
    file path + size+mtime fingerprint. On Iceberg these would be
    manifest entries with snapshot ids."""
    units = []
    for fname in sorted(os.listdir(path)):
        if not fname.endswith(".parquet"):
            continue
        full = os.path.join(path, fname)
        st = os.stat(full)
        units.append((full, f"{st.st_size}:{int(st.st_mtime)}"))
    return units


def completed_units(spark: SparkSession, ckpt_dir: str, job_id: str) -> dict[str, str]:
    """unit_id -> input_fingerprint for checkpointed units of this job
    at the current extractor version."""
    if not os.path.exists(ckpt_dir):
        return {}
    df = spark.read.parquet(ckpt_dir)
    rows = (
        df.filter(
            (F.col("job_id") == job_id)
            & (F.col("extractor_version") == EXTRACTOR_VERSION)
        )
        .select("unit_id", "input_fingerprint")
        .collect()
    )
    return {r["unit_id"]: r["input_fingerprint"] for r in rows}


def run_resumable_sketch_spec(
    spark: SparkSession,
    table_path: str,
    job_id: str,
    ckpt_dir: str,
    of: str,
    spec,  # mlrsketch.agg.SketchSpec
):
    """Compute-or-resume a global sketch over a parquet table — ALL
    pending units in ONE Spark job.

    The serial variant (`run_resumable_sketch`) launches one job per
    pending file: at 100k files that is a driver scheduling loop with
    the cluster mostly idle. Here every pending file is read in a single
    `spark.read.parquet(*files)` scan, rows are tagged with their source
    file (`input_file_name`), partial states build per (task x unit) in
    one `mapInPandas` pass, the driver collects those KB-scale states and
    folds them per unit, and the per-unit rows land in the checkpoint dir
    in one append. Wall time is governed by the scan, not the unit count.

    Returns (merged_sketch, n_units_recomputed).
    """
    import numpy as np  # noqa: F401 (callers' update fns expect numpy present)

    units = list_units(spark, table_path)
    done = completed_units(spark, ckpt_dir, job_id)
    pending = [(u, fp) for u, fp in units if done.get(u) != fp]
    if pending:
        t0 = time.monotonic()
        by_base = {os.path.basename(u): (u, fp) for u, fp in pending}
        tagged = spark.read.parquet(*[u for u, _ in pending]).withColumn(
            "__unit", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        prepared = spec.prepare(tagged, of).select("__unit", *spec.internal_cols)
        make, update, internal = spec.make, spec.update, spec.internal_cols
        part_schema = StructType(
            [
                StructField("__unit", StringType(), False),
                StructField(STATE_COL, BinaryType(), False),
                StructField("rows_in", LongType(), False),
            ]
        )

        def partial(batches):
            sketches: dict[str, object] = {}
            rows_in: dict[str, int] = {}
            for pdf in batches:
                for unit, idx in pdf.groupby("__unit", sort=False).indices.items():
                    sk = sketches.get(unit)
                    if sk is None:
                        sk = sketches[unit] = make()
                    update(sk, pdf.iloc[idx][list(internal)])
                    rows_in[unit] = rows_in.get(unit, 0) + len(idx)
            if sketches:
                yield pd.DataFrame(
                    [
                        {"__unit": u, STATE_COL: sk.serialize(), "rows_in": rows_in[u]}
                        for u, sk in sketches.items()
                    ]
                )

        blobs: dict[str, list] = {}
        unit_rows: dict[str, int] = {}
        for r in prepared.mapInPandas(python_task(partial), schema=part_schema).collect():
            blobs.setdefault(r["__unit"], []).append(r[STATE_COL])
            unit_rows[r["__unit"]] = unit_rows.get(r["__unit"], 0) + r["rows_in"]
        wall_ms = int((time.monotonic() - t0) * 1000)
        out = pd.DataFrame(
            [
                {
                    "job_id": job_id,
                    "unit_id": by_base[unit][0],
                    "input_fingerprint": by_base[unit][1],
                    "extractor_version": EXTRACTOR_VERSION,
                    "rows_in": unit_rows[unit],
                    "wall_ms": wall_ms,
                    "state": merge_states(spec.deserialize, unit_blobs).serialize(),
                }
                for unit, unit_blobs in blobs.items()
            ]
        )
        spark.createDataFrame(out, schema=CHECKPOINT_SCHEMA).write.mode(
            "append"
        ).parquet(ckpt_dir)

    merged = _merge_checkpointed(spark, ckpt_dir, job_id, spec.deserialize)
    return merged, len(pending)


def _merge_checkpointed(spark, ckpt_dir, job_id, deserialize):
    ckpt = spark.read.parquet(ckpt_dir).filter(
        (F.col("job_id") == job_id) & (F.col("extractor_version") == EXTRACTOR_VERSION)
    )
    # latest state per unit (re-runs may append duplicates)
    latest = ckpt.groupBy("unit_id").agg(F.max_by("state", "wall_ms").alias("state"))
    return merge_states(deserialize, (r["state"] for r in latest.collect()))


def run_resumable_sketch(
    spark: SparkSession,
    table_path: str,
    job_id: str,
    ckpt_dir: str,
    build_state,  # (DataFrame for one unit) -> (bytes, rows_in)
    deserialize,  # bytes -> sketch
):
    """Compute-or-resume a global sketch over a parquet table.

    Returns (merged_sketch, n_units_recomputed). Each unit is one
    parquet file; per-unit states land in ckpt_dir as they finish, so a
    killed job resumes from the last completed unit.

    NOTE: this variant runs ONE SPARK JOB PER PENDING UNIT, serially on
    the driver — it exists for build_state callbacks that need an
    arbitrary per-unit DataFrame plan. For SketchSpec-shaped sketches
    use `run_resumable_sketch_spec`, which recomputes every pending unit
    in a single job.
    """
    units = list_units(spark, table_path)
    done = completed_units(spark, ckpt_dir, job_id)
    recomputed = 0
    for unit_id, fp in units:
        if done.get(unit_id) == fp:
            continue
        t0 = time.monotonic()
        unit_df = spark.read.parquet(unit_id)
        state, rows_in = build_state(unit_df)
        wall_ms = int((time.monotonic() - t0) * 1000)
        row = pd.DataFrame(
            [
                {
                    "job_id": job_id,
                    "unit_id": unit_id,
                    "input_fingerprint": fp,
                    "extractor_version": EXTRACTOR_VERSION,
                    "rows_in": rows_in,
                    "wall_ms": wall_ms,
                    "state": state,
                }
            ]
        )
        spark.createDataFrame(row, schema=CHECKPOINT_SCHEMA).write.mode("append").parquet(
            ckpt_dir
        )
        recomputed += 1

    return _merge_checkpointed(spark, ckpt_dir, job_id, deserialize), recomputed
