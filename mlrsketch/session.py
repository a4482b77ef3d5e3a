"""SparkSession factory + table loaders for the test datasets.

Config choices are scale-driven (see SURVEY.md §4.2 / §7):
- AQE on: runtime coalescing + skew-join splitting stand in for the
  manual re-planning a 1000-executor job would need.
- Arrow on: every Python-side op in this library is pandas/Arrow-batched;
  there is no per-row Python anywhere (BASELINE.json input_hint).
- shuffle.partitions default 32 to match local[32]; production jobs set
  this to ~2-3x total cores (or rely on AQE coalescing from a high value).

`python_task(fn)` wraps every Python function this library hands to
Spark (`mapInPandas`, `applyInPandas`, `applyInPandasWithState`,
`F.udf`). Spark's Python worker calls `importlib.invalidate_caches()`
at the start of every task, and on Python < 3.12 each
`zipimport.zipimporter` in `sys.path_importer_cache` then re-reads its
whole archive directory: one for each pyspark package imported from
pyspark.zip, plus the Spark jar on the worker path. That is 0.17-0.22 s
of a ~0.3 s task on a 4-core host, whatever the task's input. Once per
task attempt the wrapper drops those zipimporter entries, so the next
task's invalidation finds (almost) nothing to re-read. The cache is
only a cache: the path finder rebuilds a finder when it next needs the
path, and `zipimporter()` reuses the directory `zipimport` already
holds, so every module stays importable. Outside a task it does nothing.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import zipimport
from collections.abc import Callable

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app: str = "mlrsketch",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a local SparkSession with scale-appropriate conf."""
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.caseSensitive", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def drop_zip_finders() -> None:
    """Remove every zipimporter from `sys.path_importer_cache`."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


# Module-level on purpose: it belongs to the worker process, like the
# import cache it clears.
_cleared_attempt: int | None = None


def _enter_task() -> None:
    global _cleared_attempt
    ctx = TaskContext.get()
    if ctx is None:
        return
    attempt = ctx.taskAttemptId()
    if attempt != _cleared_attempt:
        _cleared_attempt = attempt
        drop_zip_finders()


def python_task(fn: Callable) -> Callable:
    """Wrap a function that Spark runs in its Python workers so each task
    attempt first drops the worker's zipimporter cache entries (see the
    module docstring). Grouped UDFs call it once per group; after the
    first call in a task it costs one TaskContext lookup."""

    @functools.wraps(fn)
    def task(*args, **kwargs):
        _enter_task()
        return fn(*args, **kwargs)

    # pyspark reads a grouped UDF's arity with getfullargspec, which
    # ignores __wrapped__ but honours __signature__
    task.__signature__ = inspect.signature(fn)
    return task


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Iceberg integration (north rule: "over Iceberg tables ... at 10^12-
# document scale"). The sandbox ships no Iceberg runtime jar, so the
# layer is capability-gated: configuration and the format-dispatching
# reader are real and tested; the Iceberg branch activates when the
# deployment provides the connector (spark-submit --packages
# org.apache.iceberg:iceberg-spark-runtime-<ver>).
# ---------------------------------------------------------------------------


def iceberg_conf(
    catalog: str = "ice",
    warehouse: str = "s3://warehouse/",
    catalog_impl: str = "org.apache.iceberg.spark.SparkCatalog",
    catalog_type: str = "hadoop",
) -> dict[str, str]:
    """SparkSession conf for an Iceberg catalog — pass as
    ``get_spark(extra_conf=iceberg_conf(...))``.

    Scale notes for the 10^12-row pages table: partition the Iceberg
    table by ``days(warc_ts)`` (hidden partitioning — readers filter on
    warc_ts and pruning happens without a partition column in queries)
    and optionally ``bucket(N, url)`` so seen-URL anti-joins co-locate;
    Iceberg's metadata tree gives scan planning + min/max file pruning
    at a scale where a Hive-style listing would dominate job startup.
    """
    p = f"spark.sql.catalog.{catalog}"
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        p: catalog_impl,
        f"{p}.type": catalog_type,
        f"{p}.warehouse": warehouse,
    }


def has_iceberg(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 — any classloader failure = absent
        return False


def read_pages(spark: SparkSession, source: str, fmt: str = "auto") -> DataFrame:
    """Load a Common-Crawl-style pages table (url, warc_ts, html, text,
    lang) from either an Iceberg table identifier (``catalog.db.tbl``)
    or a parquet path.

    fmt="auto": a filesystem path reads as parquet; a dotted identifier
    reads through ``spark.table`` (Iceberg catalogs resolve there, and
    time travel works via ``source + '@snapshot_id'`` / VERSION AS OF
    on the SQL side). Either way the result is a plain DataFrame — every
    verb and sketch in this library is source-agnostic from here, and
    Catalyst pushes filters/pruning into the Iceberg scan exactly as it
    does for parquet (verified by the PushedFilters plan tests).
    """
    # auto: anything path-shaped (a URI scheme like s3://, or a path
    # separator) reads as parquet — os.path.exists only resolves
    # driver-LOCAL paths, and executor-visible/remote parquet must not
    # fall through to a confusing catalog lookup. Only bare dotted
    # identifiers go to spark.table.
    path_like = "://" in source or "/" in source or os.path.exists(source)
    if fmt == "parquet" or (fmt == "auto" and path_like):
        return spark.read.parquet(source)
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(source)
    return spark.table(source)
