"""Traced run: per-layer metrics for one workload.

The layers are mlrsketch's modules. Spans are recorded from outside the
library: while a traced pass runs, the public functions of each layer
are replaced by wrappers that record (name, start, end, parent span,
operation id) and hand selected arguments to the measurements below.
Spans stay in memory and are written to <work>/spans.jsonl at the end.

A traced run does one warm pass, then runs each operation twice back to
back, untraced and traced, alternating which goes first (the ratio of
the two sums is trace.overhead_frac), then measurements that need extra
Spark jobs, outside both:

- the agg prefix ladder of every sketch aggregation the traced pass
  made: scan -> SketchSpec.prepare -> Arrow identity mapInPandas ->
  partial_states -> the full aggregation, each step materialized. A
  layer's self time is its step minus the previous step;
- scans of the columns each operation reads, plan optimization time,
  ANN candidate counts, the checkpoint partial of the newest unit;
- driver-side micro-timings of every sketch core on one fixed batch.

Spark engine counters come from the event log of the traced pass's
jobs (job group "traced"), parsed after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from pyspark.sql import functions as F

import mlrsketch.agg as agg
import mlrsketch.checkpoint as checkpoint
import mlrsketch.dsl as dsl
import mlrsketch.pipeline.dedup as dedup
import mlrsketch.pipeline.similarity as similarity
import mlrsketch.verbs.exact as exact
import mlrsketch.verbs.sketch as sketch_verbs
from mlrsketch.sketches import KLL, BloomFilter, HyperLogLog, TDigest, ThetaSketch, TopKSketch
from mlrsketch.sketches.hashing import hash_strings
from workloads import ANN_K

SPARK_COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "result_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
                  "input_rows", "input_bytes")

# Public functions wrapped per layer: (module, attribute, span name).
WRAPPED = (
    [(sketch_verbs, f, f"verbs.sketch.{f}") for f in (
        "count_distinct_hll", "count_distinct_theta", "quantiles_kll", "quantiles_tdigest",
        "token_top_k", "sketch_profile", "build_bloom", "bloom_filter_new")]
    + [(sketch_verbs, "sketch_aggregate", "agg.sketch_aggregate"),
       (agg, "partial_states", "agg.partial_states")]
    + [(exact, f, f"verbs.exact.{f}") for f in (
        "stats1", "percentiles_rank", "top", "count_distinct", "most_frequent", "step", "rank",
        "fraction")]
    + [(dsl, f, f"dsl.{f}") for f in ("put", "filter_records")]
    + [(dedup, f, f"pipeline.dedup.{f}") for f in ("minhash_lsh_pairs", "minhash_signature")]
    + [(similarity, f, f"pipeline.similarity.{f}") for f in (
        "lsh_topk", "ivf_topk", "brute_force_topk")]
    + [(checkpoint, f, f"checkpoint.{f}") for f in (
        "run_resumable_sketch_spec", "list_units", "completed_units")]
)


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.active = False
        self.op = None
        self.patches = []

    def open(self, name: str) -> dict:
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self.stack[-1] if self.stack else None, "start": time.perf_counter()}
        self.spans.append(rec)
        self.stack.append(rec["id"])
        return rec

    def close(self, rec: dict) -> None:
        self.stack.pop()
        rec["end"] = time.perf_counter()

    def install(self) -> None:
        for module, attr, name in WRAPPED:
            orig = getattr(module, attr)
            setattr(module, attr, self._wrapper(orig, name))
            self.patches.append((module, attr, orig))

    def _wrapper(self, orig, name):
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            rec = self.open(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                self.close(rec)
            rec["args"], rec["kwargs"], rec["out"] = args, kwargs, out
            return out
        return traced

    def restore(self) -> None:
        for module, attr, orig in reversed(self.patches):
            setattr(module, attr, orig)
        self.patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: s[k] for k in ("id", "name", "op", "parent", "start", "end")}) + "\n")

    def top_level(self, prefix: str):
        """Spans named prefix* whose parent is an operation span."""
        ops = {s["id"] for s in self.spans if s["name"].startswith("op.")}
        return [s for s in self.spans if s["name"].startswith(prefix) and s["parent"] in ops]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def scan_sources(df) -> list[tuple[str, tuple[str, ...]]]:
    """(parquet root, columns read) of every file scan in df's plan."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()  # noqa: SLF001
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            root = leaf.relation().location().rootPaths().head().toString()
            out.append((root, tuple(leaf.requiredSchema().fieldNames())))
    return out


def plan_stats(df) -> tuple[float, int]:
    """Time to optimize a fresh copy of df's plan, and its node count."""
    qe = df.select("*")._jdf.queryExecution()  # noqa: SLF001
    t0 = time.perf_counter()
    plan = qe.optimizedPlan()
    return time.perf_counter() - t0, len(plan.treeString().splitlines())


def _materialize(out) -> None:
    if hasattr(out, "toPandas"):
        out.toPandas()


def _scan(spark, tables: dict, src: tuple) -> None:
    """Read `src`'s columns through the workload's own table DataFrame
    (so file listing is not counted), else straight from parquet."""
    root, cols = src
    _noop((tables[root] if root in tables else spark.read.parquet(root)).select(*cols))


def agg_ladder(spark, rec: dict, tables: dict) -> dict:
    """Prefix ladder of one captured sketch_aggregate call."""
    df, of, spec = rec["args"][:3]
    by = list(rec["kwargs"].get("by", rec["args"][3] if len(rec["args"]) > 3 else ()))
    prepared = spec.prepare(df, of).select(*by, *spec.internal_cols)

    def scan():
        for src in scan_sources(prepared):
            _scan(spark, tables, src)

    def ident(batches):
        yield from batches

    t_scan, _ = _timed(scan)
    t_prep, _ = _timed(lambda: _noop(prepared))
    t_arrow, _ = _timed(lambda: _noop(prepared.mapInPandas(ident, schema=prepared.schema)))
    t_part, row = _timed(lambda: agg.partial_states(df, of, spec, by=by).agg(
        F.count("*").alias("n"), F.sum(F.length(agg.STATE_COL)).alias("b")).collect()[0])
    t_full, _ = _timed(lambda: _materialize(agg.sketch_aggregate(*rec["args"], **rec["kwargs"])))
    return {"scan": t_scan, "prepare": t_prep - t_scan, "arrow": t_arrow - t_prep,
            "partial": t_part - t_arrow, "merge": t_full - t_part, "total": t_full,
            "state_rows": int(row["n"]), "state_bytes": int(row["b"] or 0)}


def _median_time(fn, reps: int = 5) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def sketch_micro(batch: dict, reps: int = 5) -> dict:
    """Driver-side cost of each sketch core on one fixed batch."""
    strs, vals = batch["strings"], batch["values"]
    tv, tc = batch["tokens"]
    h, th = hash_strings(strs), hash_strings(tv)
    out = {"sketches.hashing.hash_strings_ns": _median_time(lambda: hash_strings(strs), reps)
           / len(strs) * 1e9}
    cores = {
        "hll": (lambda: HyperLogLog(p=14), lambda s, sl: s.update_hashes(h[sl]), len(h)),
        "theta": (lambda: ThetaSketch(k=4096), lambda s, sl: s.update_hashes(h[sl]), len(h)),
        "kll": (lambda: KLL(k=200), lambda s, sl: s.update_batch(vals[sl]), len(vals)),
        "tdigest": (lambda: TDigest(delta=200), lambda s, sl: s.update_batch(vals[sl]), len(vals)),
        "topk": (lambda: TopKSketch(depth=5, width=16384, capacity=2048),
                 lambda s, sl: s.update_hashed(tv[sl], th[sl], tc[sl]), len(tv)),
        "bloom": (lambda: BloomFilter(n_bits=1 << 23, n_hashes=7),
                  lambda s, sl: s.add_hashes(h[sl]), len(h)),
    }
    for name, (make, update, n) in cores.items():
        whole = slice(0, n)
        out[f"sketches.{name}.update_ns"] = _median_time(lambda: update(make(), whole), reps) / n * 1e9
        a, b = make(), make()
        update(a, slice(0, n // 2))
        update(b, slice(n // 2, n))
        blob_a, blob_b = a.serialize(), b.serialize()
        cls = type(a)
        merges = []
        for _ in range(reps):
            x, y = cls.deserialize(blob_a), cls.deserialize(blob_b)
            t0 = time.perf_counter()
            x.merge(y)
            merges.append(time.perf_counter() - t0)
        out[f"sketches.{name}.merge_us"] = statistics.median(merges) * 1e6
        out[f"sketches.{name}.serde_us"] = _median_time(
            lambda: cls.deserialize(a.serialize()), reps) * 1e6
        out[f"sketches.{name}.state_bytes"] = float(len(x.serialize()))
    return out


def spark_counters(events_dir: str, group: str = "traced") -> dict:
    """Sum task metrics over the jobs of one job group in the newest
    event log under events_dir."""
    logs = sorted(glob.glob(os.path.join(events_dir, "*")), key=os.path.getmtime)
    c = dict.fromkeys(SPARK_COUNTERS, 0.0)
    if not logs:
        return c
    stages: set[int] = set()
    newest = logs[-1]
    files = (sorted(glob.glob(os.path.join(newest, "events_*")),
                    key=lambda p: int(os.path.basename(p).split("_")[1]))
             if os.path.isdir(newest) else [newest])
    for path in files:
        with open(path) as f:
            lines = f.readlines()
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                    c["jobs"] += 1
                    stages.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerStageCompleted":
                if ev["Stage Info"]["Stage ID"] in stages:
                    c["stages"] += 1
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
                m = ev.get("Task Metrics") or {}
                sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                im = m.get("Input Metrics", {})
                c["tasks"] += 1
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                c["result_bytes"] += m.get("Result Size", 0)
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["input_rows"] += im.get("Records Read", 0)
                c["input_bytes"] += im.get("Bytes Read", 0)
    return c


def traced_run(spark, wl, ops, frames, work: str, run_pass) -> tuple[dict, dict]:
    sc = spark.sparkContext
    results: list = []
    # a warm pass, then each operation untraced and traced back to back,
    # alternating which goes first
    sc.setJobGroup("warm", "warm pass")
    run_pass(ops, -1, [], [])
    probes = wl.probes(frames)
    tracer = Tracer()
    tracer.install()
    op_time: dict[str, float] = {}
    untraced: dict[str, float] = {}
    values: dict[str, object] = {}

    def run_untraced(op):
        sc.setJobGroup("untraced", "untraced pass")
        run_pass([op], 0, [], results)
        untraced[op.name] = results[-1]["seconds"]

    try:
        for i, op in enumerate(ops + probes):
            if op in ops and i % 2 == 0:
                run_untraced(op)
            sc.setJobGroup("traced", "traced pass")
            if op.before:
                op.before(1)
            tracer.op, tracer.active = op.name, True
            rec = tracer.open(f"op.{op.name}")
            t0 = time.perf_counter()
            try:
                value, err = op.run(1), None
            except Exception as e:  # noqa: BLE001 — counted as a failed operation
                value, err = None, f"{type(e).__name__}: {e}"[:200]
            op_time[op.name] = time.perf_counter() - t0
            tracer.close(rec)
            tracer.active = False
            values[op.name] = value
            if op in ops:
                results.append({"pass": 1, "op": op, "value": value, "error": err,
                                "seconds": op_time[op.name]})
                if i % 2 == 1:
                    run_untraced(op)
    finally:
        tracer.restore()
    probe_checks = [p.verify(values[p.name]) for p in probes if values[p.name] is not None]
    sc.setJobGroup("measure", "per-layer measurements")
    m: dict[str, float] = {}
    spans = tracer.spans
    kinds = {op.name: op.kind for op in ops + probes}

    def named(kind):
        return {n for n, k in kinds.items() if k == kind}

    def span_sum(prefix, names=None, top=True):
        pool = tracer.top_level(prefix) if top else [s for s in spans if s["name"] == prefix]
        return sum(s["end"] - s["start"] for s in pool if names is None or s["op"] in names)

    # agg ladder over every sketch aggregation the traced pass made
    tables = {src[0]: df for df in frames.values() for src in scan_sources(df)}
    ladders: dict[str, list] = {}
    for s in spans:
        if s["name"] == "agg.sketch_aggregate":
            ladders.setdefault(s["op"], []).append(agg_ladder(spark, s, tables))
    steps = [l for ls in ladders.values() for l in ls]
    for k in ("prepare", "arrow", "partial", "merge"):
        m[f"agg.{k}_s"] = sum(l[k] for l in steps)
    m["agg.state_rows"] = float(sum(l["state_rows"] for l in steps))
    m["agg.state_bytes"] = float(sum(l["state_bytes"] for l in steps))
    ladder_report = {
        op: {"traced_wall_s": op_time[op],
             "self_s": {k: sum(l[k] for l in ls) for k in ("scan", "prepare", "arrow", "partial", "merge")},
             "remainder_s": op_time[op] - sum(l["total"] for l in ls)}
        for op, ls in ladders.items()}

    # scans of the columns each operation reads, and plan optimization
    scan_s, opt_s, nodes, seen = sum(l["scan"] for l in steps), 0.0, 0, set()
    for s in tracer.top_level(""):
        out = s.get("out")
        if s["name"].startswith("op.") or not hasattr(out, "_jdf"):
            continue
        t, n = plan_stats(out)
        opt_s, nodes = opt_s + t, nodes + n
        if s["op"] in ladders:
            continue
        for src in scan_sources(out):
            if (s["op"], src) not in seen:
                seen.add((s["op"], src))
                scan_s += _timed(lambda: _scan(spark, tables, src))[0]
    m["session.scan_s"] = scan_s
    m["plan.optimize_s"], m["plan.nodes"] = opt_s, float(nodes)

    # verbs, dsl, dedup
    exact_ops = named("exact")
    call = span_sum("verbs.exact.", exact_ops) + span_sum("dsl.", exact_ops)
    m["verbs.exact.call_s"] = call
    m["verbs.exact.run_s"] = sum(op_time[n] for n in exact_ops) - call
    m["dsl.compile_s"] = span_sum("dsl.")
    m["pipeline.dedup.minhash_s"] = sum(op_time[n] for n in named("dedup"))
    m["pipeline.dedup.pairs"] = float(sum(len(values[n]) for n in named("dedup") if values[n] is not None))

    # similarity: plan build vs run, rows examined per result
    lsh_ops, ivf_ops = named("lsh"), named("ivf")
    build = span_sum("pipeline.similarity.lsh_topk", lsh_ops)
    m["pipeline.similarity.lsh_build_s"] = build
    m["pipeline.similarity.lsh_run_s"] = sum(op_time[n] for n in lsh_ops) - build
    m["pipeline.similarity.ivf_run_s"] = sum(op_time[n] for n in ivf_ops)
    for entry, names in (("ivf", ivf_ops), ("lsh", lsh_ops)):
        cands = [s["args"][0].count() for s in spans
                 if s["name"] == "pipeline.similarity.brute_force_topk" and s["op"] in names]
        m[f"pipeline.similarity.{entry}.rows_examined_per_result"] = statistics.fmean(cands) / ANN_K
    m["pipeline.similarity.brute.rows_examined_per_result"] = wl.embedding_rows / ANN_K

    # checkpoint: bookkeeping calls, the newest unit's partial, merge width
    appends = named("append")
    m["checkpoint.list_units_s"] = span_sum("checkpoint.list_units", appends, top=False)
    m["checkpoint.completed_units_s"] = span_sum("checkpoint.completed_units", appends, top=False)
    m |= wl.appender.layer(spark, [values[n] for n in appends if values[n] is not None])

    m |= sketch_micro(wl.micro_batch())
    traced_wall = sum(op_time[op.name] for op in ops)
    untraced_wall = sum(untraced.values())
    m["trace.overhead_frac"] = traced_wall / untraced_wall - 1
    tracer.dump(os.path.join(work, "spans.jsonl"))
    report = {"results": results, "ladder": ladder_report, "probes": [p.name for p in probes],
              "untraced_pass_s": untraced_wall, "traced_pass_s": traced_wall,
              "probe_ratios": [r for v in probe_checks for r in v.ratios],
              "probe_recall": [r for v in probe_checks for r in v.recall]}
    return m, report


def with_units(m: dict) -> dict:
    def unit(k):
        for suf, u in (("_ns", "ns"), ("_us", "us"), ("_s", "s"), ("_bytes", "bytes"),
                       ("_frac", "ratio"), ("_result", "rows"), ("recall_at_10", "ratio"),
                       ("err_to_bound", "ratio")):
            if k.endswith(suf):
                return u
        return "count"
    return {k: {"value": float(v), "unit": unit(k)} for k, v in sorted(m.items())}
