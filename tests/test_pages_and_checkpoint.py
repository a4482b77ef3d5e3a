"""Pages synthesis determinism, byte-identity invariant, and
checkpoint/resume semantics."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mlrsketch import checkpoint, pages, textextract
from mlrsketch.agg import SketchSpec
from mlrsketch.sketches import HyperLogLog


def test_pages_deterministic_across_partitionings(spark):
    a = pages.generate_pages(spark, 500, partitions=2).orderBy("row_id").collect()
    b = pages.generate_pages(spark, 500, partitions=7).orderBy("row_id").collect()
    assert [(r["url"], r["text"], r["lang"]) for r in a] == [
        (r["url"], r["text"], r["lang"]) for r in b
    ]


def test_byte_identity_invariant(spark):
    df = pages.generate_pages(spark, 1_000, partitions=4)
    assert textextract.verify_byte_identity(df) == 0


def test_pages_has_duplicates_and_skew(spark):
    df = pages.generate_pages(spark, 2_000, partitions=4).cache()
    n = df.count()
    n_urls = df.select("url").distinct().count()
    assert n_urls < n  # ~2% duplicate urls
    langs = {r["lang"]: r["cnt"] for r in df.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert max(langs.values()) > 0.4 * n  # en-heavy skew


def _hll_spec(p: int) -> SketchSpec:
    return SketchSpec(
        make=lambda: HyperLogLog(p=p),
        update=lambda sk, pdf: sk.update_hashes(pdf["__h"].to_numpy(dtype=np.int64)),
        finalize=None,
        deserialize=HyperLogLog.deserialize,
    )


def test_checkpoint_resume(spark, tmp_path):
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    pages.generate_pages(spark, 1_000, partitions=4).write.parquet(table)

    sk1, recomputed1 = checkpoint.run_resumable_sketch_spec(
        spark, table, "job1", ckpt, "url", _hll_spec(10)
    )
    assert recomputed1 >= 1
    # second run: everything checkpointed, nothing recomputed, same answer
    sk2, recomputed2 = checkpoint.run_resumable_sketch_spec(
        spark, table, "job1", ckpt, "url", _hll_spec(10)
    )
    assert recomputed2 == 0
    assert sk2.serialize() == sk1.serialize()
    # estimate sane vs exact
    exact = spark.read.parquet(table).select("url").distinct().count()
    assert abs(sk1.estimate() - exact) / exact <= 3 * sk1.error_bound() + 0.02


def test_checkpoint_empty_unit_is_recorded(spark, tmp_path):
    """A 0-row parquet file is a unit too: it gets an empty-state
    lineage row with rows_in 0, so a resume recomputes nothing (it used
    to be pending forever, and alone it crashed the lineage write)."""
    table = tmp_path / "tablee"
    ckpt = str(tmp_path / "ckpte")
    pages.generate_pages(spark, 100, partitions=1).write.parquet(str(table))
    full = next(table.glob("*.parquet"))
    pq.write_table(pq.read_table(full).slice(0, 0), str(table / "empty.parquet"))

    sk1, rec1 = checkpoint.run_resumable_sketch_spec(
        spark, str(table), "je", ckpt, "url", _hll_spec(10)
    )
    assert rec1 == 2
    sk2, rec2 = checkpoint.run_resumable_sketch_spec(
        spark, str(table), "je", ckpt, "url", _hll_spec(10)
    )
    assert rec2 == 0
    assert sk2.serialize() == sk1.serialize()
    rows = {r["unit_id"]: r["rows_in"] for r in spark.read.parquet(ckpt).collect()}
    assert rows == {str(full): 100, str(table / "empty.parquet"): 0}
    exact = spark.read.parquet(str(table)).select("url").distinct().count()
    assert sk1.estimate() == exact  # sparse HLL: exact below m/4


def test_checkpoint_unit_name_needing_url_encoding(spark, tmp_path):
    """input_file_name() URL-encodes the path; a unit named with a
    space and a '%' still maps back to its own lineage row."""
    table = tmp_path / "tableu"
    pages.generate_pages(spark, 100, partitions=1).write.parquet(str(table))
    full = next(table.glob("*.parquet"))
    full.rename(table / "unit 1%.parquet")
    sk, rec = checkpoint.run_resumable_sketch_spec(
        spark, str(table), "ju", str(tmp_path / "ckptu"), "url", _hll_spec(10)
    )
    assert rec == 1
    assert sk.estimate() == spark.read.parquet(str(table)).select("url").distinct().count()


def test_checkpoint_resume_parallel_one_job(spark, tmp_path):
    """run_resumable_sketch_spec recomputes every pending unit in one
    Spark job and matches the serial path's merged estimate."""
    from mlrsketch.agg import SketchSpec

    table = str(tmp_path / "tablep")
    ckpt = str(tmp_path / "ckptp")
    pages.generate_pages(spark, 1_000, partitions=4).write.parquet(table)

    spec = SketchSpec(
        make=lambda: HyperLogLog(p=10),
        update=lambda sk, pdf: sk.update_hashes(
            pdf["__h"].to_numpy().astype(np.int64)
        ),
        finalize=None,
        internal_cols=("__h",),
        prepare=lambda df, of: df.withColumn("__h", F.xxhash64(F.col(of))),
        deserialize=HyperLogLog.deserialize,
    )
    sk1, rec1 = checkpoint.run_resumable_sketch_spec(
        spark, table, "jp", ckpt, "url", spec
    )
    assert rec1 == len(checkpoint.list_units(spark, table)) and rec1 > 1

    # resume: nothing pending, zero recomputes, same state
    sk2, rec2 = checkpoint.run_resumable_sketch_spec(
        spark, table, "jp", ckpt, "url", spec
    )
    assert rec2 == 0
    assert sk2.serialize() == sk1.serialize()

    # appending a NEW unit recomputes only that unit
    pages.generate_pages(spark, 100, partitions=1).write.mode("append").parquet(table)
    sk3, rec3 = checkpoint.run_resumable_sketch_spec(
        spark, table, "jp", ckpt, "url", spec
    )
    assert rec3 == len(checkpoint.list_units(spark, table)) - rec1

    exact = spark.read.parquet(table).select("url").distinct().count()
    assert abs(sk3.estimate() - exact) / exact <= 3 * sk3.error_bound() + 0.02

    # lineage rows carry real per-unit row counts
    rows = spark.read.parquet(ckpt).collect()
    total_rows_in = sum(r["rows_in"] for r in rows)
    assert total_rows_in == spark.read.parquet(table).count()


def test_checkpoint_lineage_fields(spark, tmp_path):
    table = str(tmp_path / "t2")
    ckpt = str(tmp_path / "c2")
    pages.generate_pages(spark, 200, partitions=2).write.parquet(table)

    checkpoint.run_resumable_sketch_spec(spark, table, "j", ckpt, "url", _hll_spec(8))
    rows = spark.read.parquet(ckpt).collect()
    assert all(r["extractor_version"] == textextract.EXTRACTOR_VERSION for r in rows)
    assert all(r["rows_in"] > 0 and r["wall_ms"] >= 0 for r in rows)
    assert {r["unit_id"] for r in rows} == {u for u, _ in checkpoint.list_units(spark, table)}
