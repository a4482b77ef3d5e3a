"""mlrsketch benchmark: one seeded workload, timed, answer-checked.

Usage (from the repository root):

    python3 perfbench/run.py --workload sketch_batch --seed 1 --seconds 30 --trace 0

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics, from a separate traced run. The line before it is a
report with provenance and every derived figure. perfbench/README.md
defines the workloads and metrics.

Everything the run writes (generated inputs, Spark scratch, checkpoint
state, the Spark event log and the span file) stays under
.perfbench_work/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import types

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
OP_TIMEOUT_S = 120.0
KEEP_SEEDS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python create inside `work`,
    and let Spark's Python workers import the repository's package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    sys.path.insert(0, ROOT)


def _prune_cache(cache: str, keep: int) -> None:
    """Keep the generated inputs of the `keep` most recent seeds."""
    if not os.path.isdir(cache):
        return
    dirs = sorted((os.path.join(cache, d) for d in os.listdir(cache)), key=os.path.getmtime)
    seeds = []
    for d in reversed(dirs):
        s = os.path.basename(d).split("_")[1]
        if s not in seeds:
            seeds.append(s)
    for d in dirs:
        if os.path.basename(d).split("_")[1] not in seeds[:keep]:
            shutil.rmtree(d, ignore_errors=True)


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def percentile(xs: list[float], p: float) -> float:
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest of p99/p95/p90
    with at least ten samples beyond it, else p90 with the count beyond
    stated (a run holds tens of operations, not hundreds)."""
    for p in (99.0, 95.0, 90.0):
        beyond = sum(1 for x in xs if x > percentile(xs, p))
        if beyond >= 10:
            break
    v = percentile(xs, p)
    return v, p, sum(1 for x in xs if x > v)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(jvm_pid: int) -> dict[int, float]:
    """VmHWM in MB of the JVM and of every process under it (the Python
    worker daemon and its workers), by pid."""
    out = {}
    for p in descendants(jvm_pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[p] = int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return out


class Session:
    """The Spark session under test: created, warmed and stopped here."""

    def __init__(self, cores: int, work: str, traced: bool):
        self.cores = cores
        self.conf = {
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if traced:
            events = os.path.join(work, "events")
            os.makedirs(events, exist_ok=True)
            self.conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                          "spark.eventLog.compress": "false"}
        self.spark = None

    def start(self, tables: dict[str, str], wl) -> dict:
        """One set-up: a SparkSession (the first launches the JVM; later
        ones are new sessions on the running engine), table metadata,
        warm-up jobs and the workload's own set-up work."""
        from mlrsketch.session import get_spark

        if self.spark is None:
            self.spark = get_spark(app="perfbench", cores=self.cores, extra_conf=self.conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        else:
            self.spark = self.spark.newSession()
        frames = {name: self.spark.read.parquet(path) for name, path in tables.items()}
        self._warm_workers()
        wl.setup(self.spark, frames)
        return frames

    def _warm_workers(self) -> None:
        """Start the Python worker pool and compile the Arrow paths."""
        from pyspark.sql import functions as F

        def ident(batches):
            import mlrsketch.verbs.sketch  # noqa: F401 — loads the sketch cores in each worker

            yield from batches

        tiny = self.spark.range(0, 64, 1, self.cores)
        tiny.mapInPandas(ident, schema=tiny.schema).write.format("noop").mode("overwrite").save()
        tiny.withColumn("g", F.col("id") % 4).groupBy("g").applyInPandas(
            lambda pdf: pdf[["g"]].head(1), schema="g long").collect()

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid  # noqa: SLF001

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway  # noqa: SLF001
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — must not leave the JVM running
                proc.kill()
                proc.wait()
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001


def run_pass(ops, p: int, samples: list, results: list) -> None:
    for op in ops:
        if op.before:
            op.before(p)
        t0 = time.perf_counter()
        try:
            value, err = op.run(p), None
        except Exception as e:  # noqa: BLE001 — a failing operation is counted, not fatal
            value, err = None, f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
        dt = time.perf_counter() - t0
        if err is None and dt > OP_TIMEOUT_S:
            err = f"timed out ({dt:.1f} s > {OP_TIMEOUT_S} s)"
        samples.append((op.name, dt))
        results.append({"pass": p, "op": op, "value": value, "error": err, "seconds": dt})


def check_results(results: list) -> tuple[int, list, list, list, dict]:
    """Verify every result (row-preserving ones once per run), then the
    self-test: a perturbed copy of each operation's first answer must fail."""
    import checks as ck

    failed, ratios, recall, problems = 0, [], [], []
    first_frame: dict[str, object] = {}
    for r in results:
        op = r["op"]
        if r["error"] is not None:
            failed += 1
            problems.append(f"{op.name}: {r['error']}")
            continue
        if op.name in first_frame and not op.check_every:
            continue
        try:
            frame = op.answer(r["value"])
            v = op.verify(frame)
        except Exception as e:  # noqa: BLE001 — a crashing check is a failed answer
            v = ck.fail(f"check raised {type(e).__name__}: {e}")
            frame = None
        first_frame.setdefault(op.name, frame)
        ratios += v.ratios
        recall += v.recall
        if not v.ok:
            failed += 1
            problems.append(f"{op.name}: {v.detail}")
    selftest = {}
    for r in results:
        op = r["op"]
        frame = first_frame.get(op.name)
        if op.name in selftest or frame is None:
            continue
        try:
            bad = (op.perturb or (lambda f: ck.perturb_frame(f, [])))(frame)
            selftest[op.name] = not op.verify(bad).ok
        except Exception:  # noqa: BLE001 — a check that crashes on a wrong answer also rejects it
            selftest[op.name] = True
    return failed, problems, ratios, recall, selftest


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    t_import = time.perf_counter()
    import pyspark  # noqa: F401
    import mlrsketch  # noqa: F401
    import gen
    import checks as ck
    from workloads import WORKLOADS

    import_s = time.perf_counter() - t_import
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    ctx = types.SimpleNamespace(seed=args.seed, work=work, cache=os.path.join(WORK, "cache"),
                                spark=None)
    _prune_cache(ctx.cache, KEEP_SEEDS)
    wl = WORKLOADS[args.workload](ctx)
    t_gen = time.perf_counter()
    tables = wl.inputs()
    gen_s = time.perf_counter() - t_gen

    cores = len(os.sched_getaffinity(0))
    session = Session(cores, work, traced=bool(args.trace))
    try:
        setups = []
        for i in range(1 if args.trace else SETUPS):
            t0 = time.perf_counter()
            frames = session.start(tables, wl)
            ctx.spark = session.spark
            setups.append(time.perf_counter() - t0 + (import_s if i == 0 else 0.0))
        phase = {"setup_s": sum(setups)}
        t = time.perf_counter()
        wl.warm()
        phase["warm_s"] = time.perf_counter() - t
        t = time.perf_counter()
        oracle = ck.Oracle(tables, work)
        wl.references(oracle)
        oracle.close()
        phase["references_s"] = time.perf_counter() - t
        ops = wl.ops(frames)
        t = time.perf_counter()

        if args.trace:
            import tracing as tr

            metrics, trace_report = tr.traced_run(session.spark, wl, ops, frames, work, run_pass)
            results = trace_report.pop("results")
        else:
            if wl.warm_pass:
                run_pass(ops, -1, [], [])
            phase["warm_pass_s"] = time.perf_counter() - t
            samples, results = [], []
            t_start, p = time.perf_counter(), 0
            while True:
                run_pass(ops, p, samples, results)
                p += 1
                elapsed = time.perf_counter() - t_start
                if elapsed + elapsed / p > args.seconds:
                    break
            measured_s = time.perf_counter() - t_start
        phase["loop_s"] = time.perf_counter() - t
        t = time.perf_counter()
        failed, problems, ratios, recall, selftest = check_results(results)
        if args.trace:
            ratios += trace_report.pop("probe_ratios")
            recall += trace_report.pop("probe_recall")
        phase["checks_s"] = time.perf_counter() - t
        hwm = peak_rss_mb(session.jvm_pid)
        rss = sum(hwm.values())
        t = time.perf_counter()
    finally:
        session.shutdown()
    phase["shutdown_s"] = time.perf_counter() - t
    if args.trace:
        metrics |= {f"spark.{k}": v for k, v in tr.spark_counters(os.path.join(work, "events")).items()}

    import pandas as pd
    import pyarrow as pa

    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores_used": cores,
        "master": f"local[{cores}]", "spark": pyspark.__version__, "pyarrow": pa.__version__,
        "pandas": pd.__version__, "python": sys.version.split()[0], "git_commit": git_commit(),
        "inputs": wl.sizes_report(), "input_properties": gen.PROPERTIES,
        "generation_s": round(gen_s, 3), "setups_s": [round(s, 3) for s in setups],
        "phases_s": {k: round(v, 3) for k, v in phase.items()},
        "process_s": round(time.perf_counter() - T_PROCESS, 3),
    }
    attempted = len(results)
    report = {
        "provenance": provenance,
        "fail_frac": failed / attempted if attempted else 1.0,
        "problems": problems[:20],
        "err_to_bound": max(ratios) if ratios else None,
        "ann_recall": statistics.fmean(recall) if recall else None,
        "selftest_detected": f"{sum(selftest.values())}/{len(selftest)}",
        "peak_rss_mb": rss,
        "rss_by_process_mb": [round(v, 1) for v in hwm.values()],
    }
    if args.trace:
        metrics["sketches.err_to_bound"] = max(ratios) if ratios else 0.0
        metrics["pipeline.similarity.recall_at_10"] = statistics.fmean(recall) if recall else 0.0
        metrics = tr.with_units(metrics)
        report |= trace_report
    else:
        times = [s for _, s in samples]
        t_val, t_pct, t_beyond = tail(times)
        by_op: dict[str, list[float]] = {}
        for name, s in samples:
            by_op.setdefault(name, []).append(s)
        report |= {
            "passes": p, "measured_s": measured_s, "samples": len(times),
            "pass_s": [sum(r["seconds"] for r in results if r["pass"] == i) for i in range(p)],
            "query_tail": {"percentile": t_pct, "samples": len(times), "beyond": t_beyond},
            "op_p50_s": {k: statistics.median(v) for k, v in by_op.items()},
        }
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "rows_per_s": {"value": sum(r["op"].rows for r in results) / sum(times), "unit": "1/s"},
            "query_p50_s": {"value": statistics.median(times), "unit": "s"},
            "query_tail_s": {"value": t_val, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    print(json.dumps({"report": report}, default=str))
    correct = failed == 0 and all(selftest.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
