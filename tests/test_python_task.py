"""`session.python_task`: every Python function the library hands to
Spark is wrapped, the wrapper keeps Spark workers' import cache free of
archive-internal zipimporters, and dropping those entries never makes a
module unimportable."""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib
import re
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from mlrsketch import session
from mlrsketch.session import python_task
from mlrsketch.verbs import sketch as sv

PKG = pathlib.Path(__file__).resolve().parent.parent / "mlrsketch"
SPARK_UDF_METHODS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}
# a path INSIDE an archive, e.g. .../pyspark.zip/pyspark/sql or .../x.jar/org
INNER_ARCHIVE_PATH = re.compile(r"\.(zip|jar|egg)[/\\].")


def _handed_to_spark(call: ast.Call) -> ast.expr | None:
    """The function argument of a call that ships Python code to Spark."""
    f = call.func
    if not isinstance(f, ast.Attribute):
        return None
    if f.attr in SPARK_UDF_METHODS or (f.attr == "udf" and isinstance(f.value, ast.Name)
                                       and f.value.id == "F"):
        if call.args:
            return call.args[0]
        return next((k.value for k in call.keywords if k.arg in ("func", "f")), None)
    return None


def test_every_spark_python_function_is_wrapped():
    unwrapped, found = [], 0
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            fn = _handed_to_spark(node)
            if fn is None:
                continue
            found += 1
            if not (isinstance(fn, ast.Call) and isinstance(fn.func, ast.Name)
                    and fn.func.id == "python_task"):
                unwrapped.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert found >= 13, found
    assert not unwrapped, f"not wrapped with python_task: {unwrapped}"


def test_wrapper_keeps_grouped_udf_arity():
    # pyspark picks (pdf) vs (key, pdf) for applyInPandas from getfullargspec
    def one(pdf):
        return pdf

    def two(key, pdf):
        return pdf

    assert inspect.getfullargspec(python_task(one)).args == ["pdf"]
    assert inspect.getfullargspec(python_task(two)).args == ["key", "pdf"]
    assert python_task(two)(("k",), 5) == 5


def test_modules_in_a_zip_stay_importable_after_drop(tmp_path):
    archive = tmp_path / "zpkg_archive.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "A = 1\n")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/first.py", "B = 2\n")
        z.writestr("zpkg/sub/second.py", "C = 3\n")
    sys.path.insert(0, str(archive))
    try:
        import zpkg.sub.first

        assert zpkg.A == 1 and zpkg.sub.first.B == 2
        zips = [p for p, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter) and str(archive) in p]
        assert len(zips) >= 2  # the archive and its zpkg/sub directory

        # outside a Spark task the wrapper leaves the cache alone
        python_task(lambda: None)()
        assert all(p in sys.path_importer_cache for p in zips)

        session.drop_zip_finders()
        assert not any(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        importlib.invalidate_caches()
        second = importlib.import_module("zpkg.sub.second")
        assert second.C == 3
        assert importlib.reload(zpkg.sub.first).B == 2
    finally:
        sys.path.remove(str(archive))
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if str(archive) in p]:
            del sys.path_importer_cache[p]


def test_workers_hold_no_archive_internal_zipimporters(spark):
    n_parts = 2 * spark.sparkContext.defaultParallelism
    df = spark.range(0, 4000, numPartitions=n_parts).select(F.col("id").alias("v"))
    for _ in range(2):
        rows = sv.count_distinct_hll(df, "v").collect()
        assert abs(rows[0]["distinct_count_est"] - 4000) < 200

    def probe(batches):  # deliberately not wrapped
        import sys
        import zipimport

        for _ in batches:
            pass
        inner = [p for p, f in sys.path_importer_cache.items()
                 if isinstance(f, zipimport.zipimporter) and INNER_ARCHIVE_PATH.search(p)]
        yield pd.DataFrame({"path": inner or [""]})

    seen = {r["path"] for r in df.mapInPandas(probe, schema="path string").collect()}
    assert seen == {""}, sorted(seen - {""})
