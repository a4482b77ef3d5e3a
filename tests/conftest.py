from __future__ import annotations

import pathlib
import sys

import numpy as np
import pytest

# the checkout this conftest belongs to, ahead of any installed or
# other checkout's mlrsketch
REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from mlrsketch.session import get_spark

    s = get_spark(app="mlrsketch-tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def no_coalesce(spark):
    """AQE coalescing off for one test, restored afterwards. At test sizes
    AQE folds a range exchange into ONE partition, so every row would land
    in one ``__pid`` and a cross-partition carry would never run; with it
    off, the range pass spreads rows over ``spark.sql.shuffle.partitions``."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="session")
def abixy(spark):
    """The reference's canonical stats fixture (mirrors
    /root/reference/test/input/abixy: fields a,b categorical, i 1..10,
    x,y uniform floats) — FIXTURES.md §2."""
    rng = np.random.default_rng(7)
    rows = [
        {
            "a": ["pan", "eks", "wye", "zee", "hat"][i % 5],
            "b": ["pan", "wye", "zee"][i % 3],
            "i": i + 1,
            "x": float(rng.uniform()),
            "y": float(rng.uniform()),
        }
        for i in range(10)
    ]
    return spark.createDataFrame(rows).cache()
