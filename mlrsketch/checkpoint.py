"""Per-partition sketch checkpoints + lineage for resumable runs.

North-rule requirement: a 10^12-row sketch job must be resumable.
Mechanism (pure application logic — no engine hooks):

1. The input is split into named UNITS (normally: parquet files or
   Iceberg manifests; here: the parquet files of a table directory).
2. Every pending unit's sketch state is built in one Spark job (the
   batch partial stage, `agg.partial_states`, keyed by unit) and
   written to a checkpoint directory as one parquet row carrying
   lineage:
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
from urllib.parse import unquote

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mlrsketch import agg
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

    Every pending file is read in a single `spark.read.parquet(*files)`
    scan, rows are tagged with their source file (`input_file_name`),
    `agg.partial_states(by=["__unit"])` builds one state per (task x
    unit), the driver collects those KB-scale states and folds them per
    unit, and one lineage row per pending unit lands in the checkpoint
    dir in one append. A unit with no rows gets an empty state, so it
    is not recomputed on the next run. `rows_in` is read from the
    unit's parquet footer. Wall time is governed by the scan, not the
    unit count.

    Returns (merged_sketch, n_units_recomputed).
    """
    units = list_units(spark, table_path)
    done = completed_units(spark, ckpt_dir, job_id)
    pending = [(u, fp) for u, fp in units if done.get(u) != fp]
    if pending:
        t0 = time.monotonic()
        tagged = spark.read.parquet(*[u for u, _ in pending]).withColumn(
            "__unit", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        blobs: dict[str, list] = {}
        for r in agg.partial_states(tagged, of, spec, by=["__unit"]).collect():
            blobs.setdefault(unquote(r["__unit"]), []).append(r[agg.STATE_COL])
        unknown = blobs.keys() - {os.path.basename(u) for u, _ in pending}
        if unknown:
            raise RuntimeError(f"states for units not in {table_path}: {sorted(unknown)}")

        def unit_state(unit: str) -> bytes:
            merged = agg.merge_states(spec.deserialize, blobs.get(os.path.basename(unit), ()))
            return (spec.make() if merged is None else merged).serialize()

        out = pd.DataFrame(
            {
                "job_id": job_id,
                "unit_id": [u for u, _ in pending],
                "input_fingerprint": [fp for _, fp in pending],
                "extractor_version": EXTRACTOR_VERSION,
                "rows_in": [pq.read_metadata(u).num_rows for u, _ in pending],
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "state": [unit_state(u) for u, _ in pending],
            }
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
    return agg.merge_states(deserialize, (r["state"] for r in latest.collect()))
