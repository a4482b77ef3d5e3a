"""Unit coverage for the small §2.1/2.2 completeness verbs (the oracle
gate covers the rest)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mlrsketch.verbs import exact as ev  # noqa: E402


def test_ssub_first_literal_only(spark):
    df = spark.createDataFrame([("aXbXc",), ("noop",)], ["s"])
    got = {r["s"] for r in ev.ssub_field(df, "s", "X", "-").collect()}
    assert got == {"a-bXc", "noop"}  # first occurrence only, literal


def test_nothing_and_tee(spark, tmp_path):
    df = spark.range(10)
    assert ev.nothing(df).count() == 0
    out = ev.tee(df, str(tmp_path / "tee_out"))
    assert out.count() == 10
    assert spark.read.parquet(str(tmp_path / "tee_out")).count() == 10


def test_latin1_roundtrip(spark):
    # value-level model: both conversions preserve latin-1-representable
    # values; utf8-to-latin1 errors out on code points above U+00FF
    df = spark.createDataFrame([("café",)], ["s"])
    rt = ev.latin1_to_utf8(ev.utf8_to_latin1(df, ["s"]), ["s"])
    assert rt.first()["s"] == "café"


def test_histogram_auto_covers_all_rows(spark):
    df = spark.createDataFrame([(float(i),) for i in range(100)], ["x"])
    bins = ev.histogram_auto(df, "x", 10).collect()
    assert len(bins) == 10
    assert sum(r["count"] for r in bins) == 100  # max included via open-top pad


def test_natural_sort_orders_numerically(spark):
    df = spark.createDataFrame([("doc10",), ("doc2",), ("doc1",)], ["s"])
    got = [r["s"] for r in ev.sort(df, [("s", "t")]).collect()]
    assert got == ["doc1", "doc2", "doc10"]


def test_step_rprod_matches_cumprod(spark):
    import numpy as np

    vals = [1.5, 2.0, 0.5, 3.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["i", "v"])
    got = (
        ev.step(df, ["rprod"], ["v"], order_by=["i"])
        .orderBy("i")
        .select("v_rprod")
        .collect()
    )
    exp = np.cumprod(vals)
    for g, e in zip(got, exp):
        assert abs(g["v_rprod"] - e) < 1e-9


def test_logireg_recovers_known_params(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    m_true, b_true = 1.8, -0.7
    xs = rng.normal(0, 2, 4000)
    p = 1.0 / (1.0 + np.exp(-(m_true * xs + b_true)))
    ys = (rng.random(4000) < p).astype(float)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(xs, ys)], ["x", "y"]
    )
    # converged mode recovers the generating parameters
    r = ev.logireg(df, "x", "y", reference_stopping=False).first()
    assert abs(r["x_y_m"] - m_true) < 0.2, r["x_y_m"]
    assert abs(r["x_y_b"] - b_true) < 0.2, r["x_y_b"]
    assert r["x_y_n"] == 4000
    # reference mode reproduces Miller's signed-relative-error stopping
    # (one Newton step from the fixed seeds) — different, by design
    r_ref = ev.logireg(df, "x", "y").first()
    assert r_ref["x_y_n"] == 4000


def test_step_ewma_closed_form_matches_pandas(spark):
    import pandas as pd

    vals = [10.0, 12.0, 9.0, 15.0, 14.0, 8.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["i", "v"])
    got = [
        r["v_ewma_0_3"]
        for r in ev.step(df, [], ["v"], order_by=["i"], ewma_alphas=[0.3])
        .orderBy("i")
        .collect()
    ]
    exp = pd.Series(vals).ewm(alpha=0.3, adjust=False).mean().tolist()
    for g, e in zip(got, exp):
        assert abs(g - e) < 1e-9


def test_unspace_keys_and_values(spark):
    df = spark.createDataFrame([("a b", "x y")], ["col one", "v"])
    out = ev.unspace(df)
    assert out.columns == ["col_one", "v"]
    assert out.first()["col_one"] == "a_b"


def test_skip_trivial_records(spark):
    df = spark.createDataFrame(
        [(None, None), (1, "a"), (None, "b")],
        "i int, s string",
    )
    assert ev.skip_trivial_records(df).count() == 2


def test_split_write_by_group(spark, tmp_path):
    import os

    df = spark.createDataFrame([(i, "g" + str(i % 3)) for i in range(30)], ["i", "g"])
    path = str(tmp_path / "split_out")
    ev.split_write(df, path, by=["g"])
    assert sorted(
        d for d in os.listdir(path) if d.startswith("g=")
    ) == ["g=g0", "g=g1", "g=g2"]
    assert spark.read.parquet(path).count() == 30


def test_global_row_number_distributed(spark, no_coalesce):
    # range-partitioned two-pass numbering == single-window numbering
    df = spark.range(0, 5000).withColumn("k", (F.col("id") * 37) % 5000).repartition(16)
    rows = ev.global_row_number(df.select("k"), ["k"], keep_pid=True).collect()
    assert len({r["__pid"] for r in rows}) > 1  # the offsets cross partitions
    got = {r["k"]: r["n"] for r in rows}
    assert len(got) == 5000
    assert all(got[k] == k + 1 for k in range(0, 5000, 613))


def test_tee_roundtrip(spark, tmp_path):
    # tee writes the stream to a side sink AND passes it through
    # unchanged (tee.go:20)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)], ["i", "s"])
    path = str(tmp_path / "tee_out")
    out = ev.tee(df, path)
    assert sorted(r["i"] for r in out.collect()) == list(range(20))
    back = spark.read.parquet(path)
    assert sorted(r["s"] for r in back.collect()) == sorted(f"v{i}" for i in range(20))


def test_utf8_to_latin1_error_value(spark):
    # values with code points above U+00FF become Miller's (error)
    # (utf8_to_latin1.go:18); latin-1-representable values pass through
    df = spark.createDataFrame(
        [("plain ascii",), ("café",), ("世界",)], ["x"]
    )
    got = [r["x"] for r in ev.utf8_to_latin1(df, ["x"]).collect()]
    assert got == ["plain ascii", "café", "(error)"]


def test_iceberg_layer_capability_gated(spark):
    """Iceberg integration: conf shape is stable, availability probe is
    honest (no jar in this sandbox), and the dispatching reader loads
    parquet paths; the iceberg branch activates only with the runtime
    jar (spark-submit --packages) and is exercised there."""
    from mlrsketch.session import has_iceberg, iceberg_conf, read_pages

    conf = iceberg_conf(catalog="c1", warehouse="/tmp/wh")
    assert conf["spark.sql.catalog.c1.warehouse"] == "/tmp/wh"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]
    assert has_iceberg(spark) is False  # sandbox ships no connector
    df = read_pages(spark, "/root/testdata/sf0.001/documents.parquet")
    assert df.count() == 500


def test_reshape_repeated_r_accumulates(spark):
    # each -r is one whole regex; repeated -r flags select the union
    from mlrsketch.mlrcli import v_reshape

    df = spark.createDataFrame([(0, 1, 2, 3, 4)], ["__ord", "id", "x1", "y1", "z1"])
    out = v_reshape(df, ["-r", "^x", "-r", "^y", "-o", "key,value"])
    assert sorted((r["key"], r["value"]) for r in out.collect()) == [("x1", "2"), ("y1", "3")]
