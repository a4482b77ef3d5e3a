"""Structured Streaming: windowed stats1 with watermark, HLL as a
custom stateful operator (applyInPandasWithState), and the resumable
foreachBatch sketch-state sink — each validated against the batch
answer on the same data (file-source stream, Trigger.AvailableNow)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mlrsketch import streaming as st  # noqa: E402
from mlrsketch.agg import SketchSpec, partial_states  # noqa: E402
from mlrsketch.sketches import HyperLogLog  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_src(spark, tmp_path_factory):
    """events split into 4 files so AvailableNow runs multiple batches."""
    path = str(tmp_path_factory.mktemp("stream_src"))
    batch = spark.read.parquet(os.path.join(SF, "events.parquet")).withColumn(
        "ts", F.col("ts").cast("timestamp")  # NTZ -> LTZ: watermarks need TIMESTAMP
    )
    batch.repartition(4).write.mode("overwrite").parquet(path)
    schema = batch.schema
    return path, schema


def _run_available_now(sdf, name, output_mode, max_files=2):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_stats1_matches_batch(spark, stream_src):
    path, schema = stream_src
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(path)
    out = st.stream_stats1(
        sdf, ["count", "sum", "min", "max"], ["value"], time_col="ts",
        window="6 hours", by=["event_type"], watermark="1 hour",
    )
    _run_available_now(out, "t_stats1", "complete")
    got = {
        (r["window_start"], r["event_type"]): (r["value_count"], round(r["value_sum"], 6))
        for r in spark.sql("select * from t_stats1").collect()
    }

    batch = spark.read.parquet(path)
    exp = {
        (r["ws"], r["event_type"]): (r["c"], round(r["s"], 6))
        for r in batch.groupBy(
            F.window("ts", "6 hours").alias("w"), "event_type"
        )
        .agg(F.count("value").alias("c"), F.sum("value").alias("s"))
        .select(F.col("w.start").alias("ws"), "event_type", "c", "s")
        .collect()
    }
    assert got == exp and len(got) > 5


def test_stream_hll_stateful_matches_exact(spark, stream_src):
    path, schema = stream_src
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    out = st.stream_count_distinct_hll(sdf, of="event_id", by=["event_type"], p=12)
    _run_available_now(out, "t_hll", "update")
    rows = spark.sql("select * from t_hll").collect()
    # update mode emits one row per group per batch touching it — keep the
    # last (max n_batches) per group
    best: dict[str, tuple[int, float, float]] = {}
    for r in rows:
        cur = best.get(r["event_type"])
        if cur is None or r["n_batches"] > cur[0]:
            best[r["event_type"]] = (r["n_batches"], r["distinct_count_est"], r["error_bound"])

    exact = {
        r["event_type"]: r["d"]
        for r in spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("d"))
        .collect()
    }
    assert set(best) == set(exact)
    for etype, (nb, est, bound) in best.items():
        assert nb >= 2, "stream should have processed multiple batches"
        assert abs(est - exact[etype]) <= 4 * bound * exact[etype] + 2, (
            etype, est, exact[etype], bound,
        )


def test_foreach_batch_state_sink_resumable(spark, stream_src, tmp_path):
    path, schema = stream_src
    state_dir = str(tmp_path / "hll_states")
    ckpt = str(tmp_path / "ckpt")

    spec = SketchSpec(
        make=lambda: HyperLogLog(p=12),
        update=lambda sk, pdf: sk.update_hashes(
            pdf["__h"].to_numpy(dtype="int64")
        ),
        finalize=lambda sk: None,
        deserialize=HyperLogLog.deserialize,
    )
    sink = st.sketch_foreach_batch(
        lambda bdf: partial_states(bdf, "event_id", spec), state_dir
    )
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    q = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = st.read_merged_states(spark, state_dir, HyperLogLog.deserialize)
    exact = spark.read.parquet(path).select("event_id").distinct().count()
    assert abs(merged.estimate() - exact) <= 4 * merged.error_bound() * exact + 2

    # resume: restarting with the same checkpoint reprocesses nothing,
    # so the merged estimate is unchanged (exactly-once accumulation)
    q2 = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    merged2 = st.read_merged_states(spark, state_dir, HyperLogLog.deserialize)
    assert merged2.estimate() == merged.estimate()


def test_stream_kll_stateful_matches_exact(spark, stream_src):
    path, schema = stream_src
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(path)
    out = st.stream_quantiles_kll(sdf, of="value", by=["event_type"], qs=(0.5, 0.9))
    q = (
        out.writeStream.format("memory").queryName("t_kll").outputMode("update")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from t_kll").collect()
    best = {}
    for r in rows:
        cur = best.get(r["event_type"])
        if cur is None or r["n_batches"] > cur["n_batches"]:
            best[r["event_type"]] = r.asDict()

    batch = spark.read.parquet(path)
    for etype, got in best.items():
        grp = batch.filter(F.col("event_type") == etype)
        n = grp.count()
        for q_, col in ((0.5, "p50"), (0.9, "p90")):
            est = got[col]
            rank = grp.filter(F.col("value") <= est).count() / n
            assert abs(rank - q_) <= 3 * got["rank_error_bound"] + 2.0 / n, (
                etype, col, est, rank,
            )


def test_stream_sketch_profile_matches_batch(spark, tmp_path_factory):
    """The fused HLL+KLL+TopK profile as a stateful stream: final
    per-lang numbers must match the batch sketch_profile over the same
    documents (associative merges => stream order is irrelevant)."""
    path = str(tmp_path_factory.mktemp("profile_src"))
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    docs.repartition(4).write.mode("overwrite").parquet(path)
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = st.stream_sketch_profile(
        sdf, url_col="doc_id", text_col="text", by=["lang"], p=12, kll_k=1024
    )
    _run_available_now(out, "t_profile", "update")
    rows = spark.sql("select * from t_profile").collect()
    best = {}
    for r in rows:
        cur = best.get(r["lang"])
        if cur is None or r["n_batches"] > cur["n_batches"]:
            best[r["lang"]] = r.asDict()

    from mlrsketch.verbs import sketch as sv

    batch = {
        r["lang"]: r.asDict()
        for r in sv.sketch_profile(
            docs, url_col="doc_id", text_col="text", by=["lang"], p=12, kll_k=1024
        ).collect()
    }
    assert set(best) == set(batch)
    for lang, b in batch.items():
        s = best[lang]
        assert s["n_batches"] >= 2
        # sparse HLL + uncompacted KLL at this scale: exact equality
        assert s["url_distinct_est"] == b["url_distinct_est"]
        for q in ("len_p50", "len_p90", "len_p99"):
            assert s[q] == b[q], (lang, q, s[q], b[q])
        assert s["top_tokens"].split(",") == b["top_tokens"]


def test_stream_stats1_watermark_drops_late(spark, tmp_path_factory):
    """Append mode + watermark: once a window has been FINALIZED (its
    state evicted after the watermark passed its end), a late row for
    that window is guaranteed-dropped — the emitted result neither
    changes nor re-emits. (Before eviction, dropping is best-effort:
    Spark may still fold a late row into live state, so the test
    advances the watermark with a separate micro-batch FIRST and
    delivers the late row only after the eviction batch.)

    Three files processed as separate micro-batches (mtime order,
    maxFilesPerTrigger=1): A fills window 1 and advances event time to
    10:00 (watermark 09:00 after A); B's filler row lets the eviction
    of window 1 happen at the end of its batch; C replays a late
    window-1 row, which must hit evicted state and vanish."""
    import time

    path = str(tmp_path_factory.mktemp("late_src"))
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(r[0], "e", float(r[1])) for r in rows], "ts string, event_type string, value double"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
    a = mk([("2026-01-01 00:10:00", 1), ("2026-01-01 00:20:00", 2),
            ("2026-01-01 10:00:00", 100)])
    b = mk([("2026-01-01 10:05:00", 150)])  # watermark 09:00 > 01:00: evict w1
    c = mk([("2026-01-01 00:30:00", 50),    # late for the EVICTED window 1
            ("2026-01-01 10:30:00", 200)])  # on time, window still open
    now = time.time()
    for name, df_, age in (("a", a, 300), ("b", b, 200), ("c", c, 100)):
        df_.coalesce(1).write.mode("overwrite").parquet(f"{path}/{name}")
        for root, _, files in os.walk(f"{path}/{name}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (now - age, now - age))
    schema = a.schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(path + "/*")
    )
    out = st.stream_stats1(
        sdf, ["count", "sum"], ["value"], time_col="ts",
        window="1 hour", watermark="1 hour",
    )
    q = (
        out.writeStream.format("memory").queryName("t_late")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    collected = spark.sql("select * from t_late").collect()
    rows = {
        str(r["window_start"]): (r["value_count"], r["value_sum"])
        for r in collected
    }
    # window 1 finalized with ONLY the on-time rows; the late 00:30 row
    # (value 50) hit evicted state and was dropped — and the window was
    # emitted exactly once
    assert rows["2026-01-01 00:00:00"] == (2, 3.0), rows
    assert len(collected) == len(rows), collected
    # the 10:00 window never closed (watermark never passed 11:00), so
    # append mode has not emitted it
    assert "2026-01-01 10:00:00" not in rows


def test_stream_sketch_profile_out_of_order_batches(spark, tmp_path_factory):
    """The fused profile's late-data contract is TOLERANCE, not
    dropping: every constituent merge is commutative, so delivering
    micro-batches out of event-time order must land on exactly the
    same profile as one in-order batch pass."""
    import time

    path = str(tmp_path_factory.mktemp("ooo_src"))
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        F.col("doc_id").cast("string").alias("url"), "text", "lang",
        F.col("doc_id").alias("k"),
    )
    # "newest" half first, "oldest" half second — reversed delivery
    docs.filter("k % 2 = 0").coalesce(1).write.mode("overwrite").parquet(path + "/new")
    time.sleep(1.1)
    docs.filter("k % 2 = 1").coalesce(1).write.mode("overwrite").parquet(path + "/old")
    os.utime(path + "/new", (time.time() - 100, time.time() - 100))
    schema = docs.schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/*")
    )
    out = st.stream_sketch_profile(
        sdf, url_col="url", text_col="text", by=["lang"], p=12, kll_k=1024
    )
    q = (
        out.writeStream.format("memory").queryName("t_ooo")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    # last update per lang = the final running profile
    final = {}
    for r in spark.sql("select * from t_ooo").collect():
        prev = final.get(r["lang"])
        if prev is None or r["n_batches"] >= prev["n_batches"]:
            final[r["lang"]] = r
    from mlrsketch.verbs import sketch as sv

    batch = {
        r["lang"]: r
        for r in sv.sketch_profile(
            docs, url_col="url", text_col="text", by=["lang"], p=12, kll_k=1024
        ).collect()
    }
    assert set(final) == set(batch)
    for lang, fr in final.items():
        br = batch[lang]
        assert fr["n_batches"] >= 2, lang  # genuinely multi-batch
        assert fr["url_distinct_est"] == br["url_distinct_est"], lang
        assert (fr["len_p50"], fr["len_p90"], fr["len_p99"]) == (
            br["len_p50"], br["len_p90"], br["len_p99"]), lang
        assert fr["top_tokens"].split(",") == br["top_tokens"], lang


def test_stream_hll_null_and_void_groups_stay_apart(spark, tmp_path):
    """One micro-batch holding a null and a "" event_type gives two
    groups (Miller's absent vs void), each equal to the batch
    count_distinct_hll answer for that group."""
    from mlrsketch.verbs import sketch as sv

    path = str(tmp_path / "nullvoid")
    rows = [(None, i) for i in range(30)] + [("", i) for i in range(20, 70)] + [("x", 1)]
    batch = spark.createDataFrame(rows, "event_type string, event_id long")
    batch.coalesce(1).write.parquet(path)
    sdf = spark.readStream.schema(batch.schema).parquet(path)
    out = st.stream_count_distinct_hll(sdf, of="event_id", by=["event_type"], p=12)
    _run_available_now(out, "t_nullvoid", "update")
    got = {r["event_type"]: (r["distinct_count_est"], r["error_bound"], r["n_batches"])
           for r in spark.sql("select * from t_nullvoid").collect()}
    exp = {r["event_type"]: (r["distinct_count_est"], r["error_bound"], 1)
           for r in sv.count_distinct_hll(batch, "event_id", ["event_type"], p=12).collect()}
    assert got == exp
    assert got[None][0] == 30 and got[""][0] == 50
