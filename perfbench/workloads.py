"""The benchmark's workloads: the operations of one pass, their input
rows, and the answer check of each.

Each workload is a closed loop with one client: a pass runs its
operations in a fixed order, each starting when the previous one has
returned. An operation's latency runs from the library call to the
result being fully materialized (collected to the driver, or written to
Spark's ``noop`` sink when the result preserves every input row).

Only public functions of ``mlrsketch`` are called.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mlrsketch import checkpoint, dsl
from mlrsketch.agg import SketchSpec
from mlrsketch.pipeline import dedup
from mlrsketch.pipeline import similarity as sim
from mlrsketch.sketches import HyperLogLog
from mlrsketch.verbs import exact as ev
from mlrsketch.verbs import sketch as sv

import checks as ck
import gen
from checks import Verdict

# Input sizes. Chosen so that one pass takes about 12-15 s at local[4]
# on a 4-core x86 host; per-call fixed costs (job launch, Python-worker
# round trips) are a large share of every latency at these sizes.
SIZES = {
    "sketch_batch": {"pages": 40_000, "unit_pages": 2_000, "initial_units": 1},
    "exact_batch": {"facts": 60_000, "dedup_pages": 200, "embeddings": 20_000},
}
QS = (0.5, 0.9, 0.99)
TOPK_WIDTH = 16384  # token_top_k and sketch_profile default CMS width
IVF_PARAMS = {"k": 16, "nprobe": 4}
LSH_PARAMS = {"n_tables": 2, "bits": 8}
ANN_K = 10
DSL_PUT = '$kb = $bytes / 1024; $ok = $status == 200 ? "y" : "n"'
DSL_FILTER = '$kb > 8 && $lang == "en"'
UNIT_ID_BASE = 10_000_000
# traced runs only: sizes of the probes of layers a workload does not reach
PROBE_EMBEDDINGS = 2_000
PROBE_DEDUP_PAGES = 200
PROBE_UNIT_PAGES = 500


@dataclass
class Op:
    """One operation of a pass.

    run(p) is the timed call for pass p; answer(value) turns its value
    into a checkable frame outside the timed interval; verify(frame)
    compares it against the exact reference. Row-preserving operations
    set check_every=False: their answer needs a second Spark job, so
    only the first execution in a run is fetched and compared.
    """

    name: str
    kind: str
    rows: int
    run: Callable[[int], object]
    verify: Callable[[object], Verdict]
    answer: Callable[[object], object] = lambda v: v
    perturb: Callable[[object], object] | None = None
    before: Callable[[int], None] | None = None
    check_every: bool = True


def noop(df: DataFrame) -> DataFrame:
    df.write.format("noop").mode("overwrite").save()
    return df


def _hll_spec() -> SketchSpec:
    return SketchSpec(
        make=lambda: HyperLogLog(p=14),
        update=lambda sk, pdf: sk.update_hashes(pdf["__h"].to_numpy(dtype=np.int64)),
        finalize=lambda sk: pd.DataFrame({"estimate": [sk.estimate()]}),
        deserialize=HyperLogLog.deserialize,
    )


# ---------------------------------------------------------------------------
# sketch_batch
# ---------------------------------------------------------------------------


class SketchBatch:
    name = "sketch_batch"
    # the first pass measured 5-15% slower than later ones; a warm pass
    # would cost a whole pass of run time, so none runs
    warm_pass = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.n = SIZES[self.name]["pages"]
        self.appender = Appender(ctx, SIZES[self.name]["unit_pages"])
        self.embedding_rows = PROBE_EMBEDDINGS

    def inputs(self) -> dict[str, str]:
        return {"pages": gen.ensure(self.ctx.cache, "pages", self.ctx.seed, self.n)}

    def sizes_report(self) -> dict:
        return SIZES[self.name] | {"units_landed": self.appender.n_units}

    def setup(self, spark, frames) -> None:
        pass

    def references(self, oracle: ck.Oracle) -> None:
        o = oracle
        self.distinct = dict(o.con.execute(
            "SELECT lang, count(DISTINCT url) FROM pages GROUP BY lang").fetchall())
        self.distinct_all = o.con.execute("SELECT count(DISTINCT url) FROM pages").fetchone()[0]
        lens = o.df("SELECT lang, length(text) AS l FROM pages")
        self.lens = {g: np.sort(d["l"].to_numpy(np.float64)) for g, d in lens.groupby("lang")}
        self.lens_all = np.sort(lens["l"].to_numpy(np.float64))
        self.ts = np.sort(o.df("SELECT epoch(warc_ts) AS t FROM pages")["t"].to_numpy(np.float64))
        toks = o.df("SELECT lang, t, count(*) AS c FROM "
                    "(SELECT lang, unnest(string_split(text, ' ')) AS t FROM pages) GROUP BY 1, 2")
        self.tok_all = toks.groupby("t")["c"].sum().to_dict()
        self.tok_lang = {g: dict(zip(d["t"], d["c"])) for g, d in toks.groupby("lang")}
        self.seen = set(o.df("SELECT url FROM pages WHERE row_id % 2 = 0")["url"])
        self.n_new = o.con.execute(
            "SELECT count(*) FROM pages WHERE url NOT IN (SELECT url FROM pages WHERE row_id % 2 = 0)"
        ).fetchone()[0]

    def micro_batch(self) -> dict:
        return _micro_batch(self.ctx.spark.read.parquet(self.inputs()["pages"]), "url", "text")

    def warm(self) -> None:
        """Land the initial units and checkpoint them (untimed)."""
        for _ in range(SIZES[self.name]["initial_units"]):
            self.appender.land()
        self.appender.run()

    def probes(self, frames) -> list[Op]:
        """Small operations for the layers this workload does not reach:
        exact verbs, the DSL, MinHash dedup and ANN search."""
        pages = frames["pages"]
        path = gen.ensure(self.ctx.cache, "embeddings", self.ctx.seed, PROBE_EMBEDDINGS, files=2)
        emb = self.ctx.spark.read.parquet(path)
        truth = AnnTruth(pq.read_table(path).to_pandas())
        indexed, cent = sim.ivf_index(emb, k=IVF_PARAMS["k"])
        indexed = indexed.localCheckpoint(eager=True)
        q = gen.query_vectors(self.ctx.seed, 1)[0].tolist()
        small = pages.filter(F.col("row_id") < PROBE_DEDUP_PAGES)
        return [
            _probe("probe_stats1", "exact", lambda: ev.stats1(
                pages, ["count", "mean"], ["row_id"], by=["lang"]).toPandas()),
            _probe("probe_dsl", "exact", lambda: noop(dsl.filter_records(
                dsl.put(pages.select("row_id", "lang"), "$r = $row_id % 7"), "$r == 0"))),
            _probe("probe_minhash", "dedup", lambda: dedup.minhash_lsh_pairs(
                small, "row_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.8).toPandas()),
            _probe("probe_ivf", "ivf", lambda: sim.ivf_topk(
                indexed, cent, q, k=ANN_K, nprobe=IVF_PARAMS["nprobe"]).toPandas(),
                lambda pdf: truth.check(pdf, q)),
            _probe("probe_lsh", "lsh", lambda: sim.lsh_topk(emb, q, k=ANN_K, **LSH_PARAMS).toPandas(),
                   lambda pdf: truth.check(pdf, q)),
        ]

    def ops(self, frames) -> list[Op]:
        pages = frames["pages"]
        n = self.n
        with_len = lambda: pages.withColumn("text_len", F.length("text"))  # noqa: E731

        def v_distinct(pdf):
            return ck.combine([
                ck.distinct_ratio(r.distinct_count_est, self.distinct[r.lang], r.error_bound, r.lang)
                for r in pdf.itertuples()] + [_rows(pdf, len(self.distinct))])

        def v_kll(pdf):
            parts = [_rows(pdf, len(self.lens))]
            for r in pdf.itertuples():
                for q in QS:
                    parts.append(ck.rank_ratio(getattr(r, _qcol(q)), q, self.lens[r.lang],
                                               r.rank_error_bound, f"{r.lang} p{q}"))
            return ck.combine(parts)

        def v_tdigest(pdf):
            r = pdf.iloc[0]
            return ck.combine([ck.rank_ratio(r[_qcol(q)], q, self.ts, r["rank_error_bound"], f"p{q}")
                               for q in (0.5, 0.9)])

        def v_topk(pdf):
            return ck.topk_ratio(list(pdf["value"]), list(pdf["count_est"]), self.tok_all,
                                 int(sum(self.tok_all.values())), TOPK_WIDTH, 20, "token_top_k")

        def v_profile_row(r, distinct, lens, toks, what):
            parts = [ck.distinct_ratio(r["url_distinct_est"], distinct, r["url_distinct_bound"], what)]
            for q in QS:
                parts.append(ck.rank_ratio(r[f"len_{_qcol(q)}"], q, lens, r["len_rank_bound"], what))
            parts.append(ck.topk_ratio(list(r["top_tokens"]), list(r["top_counts"]), toks,
                                       int(sum(toks.values())), TOPK_WIDTH, 20, what))
            return ck.combine(parts)

        def v_profile(pdf):
            return v_profile_row(pdf.iloc[0], self.distinct_all, self.lens_all, self.tok_all, "global")

        def v_profile_lang(pdf):
            return ck.combine([_rows(pdf, len(self.lens))] + [
                v_profile_row(r, self.distinct[r["lang"]], self.lens[r["lang"]],
                              self.tok_lang[r["lang"]], r["lang"]) for _, r in pdf.iterrows()])

        def v_bloom(pdf):
            leaked = int(pdf["url"].isin(self.seen).sum())
            fp = self.n_new - len(pdf)
            ok = leaked == 0 and 0 <= fp <= max(1, 10 * self.n_new * self.fpr)
            return Verdict(ok, "" if ok else f"bloom: {leaked} seen urls kept, {fp} new dropped")

        def run_bloom(p):
            bf = sv.build_bloom(pages.filter(F.col("row_id") % 2 == 0), "url")
            self.fpr = bf.expected_fpr()
            return sv.bloom_filter_new(pages, "url", bf).select("url").toPandas()

        return [
            Op("hll_url_by_lang", "sketch", n,
               lambda p: sv.count_distinct_hll(pages, "url", ["lang"], p=14).toPandas(), v_distinct),
            Op("theta_url_by_lang", "sketch", n,
               lambda p: sv.count_distinct_theta(pages, "url", ["lang"]).toPandas(), v_distinct),
            Op("kll_textlen_by_lang", "sketch", n,
               lambda p: sv.quantiles_kll(with_len(), "text_len", QS, by=["lang"]).toPandas(), v_kll),
            Op("tdigest_warcts", "sketch", n,
               lambda p: sv.quantiles_tdigest(pages.withColumn("ts_sec", F.unix_timestamp("warc_ts")),
                                              "ts_sec", (0.5, 0.9)).toPandas(), v_tdigest),
            Op("token_top_k", "sketch", n,
               lambda p: sv.token_top_k(pages, "text", k=20).toPandas(), v_topk),
            Op("profile_global", "sketch", n,
               lambda p: sv.sketch_profile(pages, "url", "text").toPandas(), v_profile),
            Op("profile_by_lang", "sketch", n,
               lambda p: sv.sketch_profile(pages, "url", "text", by=["lang"]).toPandas(), v_profile_lang),
            Op("bloom_new_urls", "sketch", n + n // 2, run_bloom, v_bloom,
               perturb=lambda pdf: pd.concat([pdf, pd.DataFrame({"url": [next(iter(self.seen))]})])),
            Op("append", "append", SIZES[self.name]["unit_pages"], lambda p: self.appender.run(),
               check_append, perturb=perturb_append, before=lambda p: self.appender.land()),
        ]


class Appender:
    """The append operation: a new parquet unit of pages lands in a
    directory, then checkpoint.run_resumable_sketch_spec writes the
    unit's HLL state and lineage and merges every unit's state."""

    def __init__(self, ctx, unit_pages: int, name: str = "append"):
        self.ctx, self.size = ctx, unit_pages
        self.units_dir = os.path.join(ctx.work, f"{name}-units")
        self.ckpt_dir = os.path.join(ctx.work, f"{name}-checkpoint")
        self.unit_urls: set[str] = set()
        self.n_units = 0

    def land(self) -> None:
        t = gen.pages_table(self.size, self.ctx.seed,
                            first_id=UNIT_ID_BASE + self.n_units * self.size)
        os.makedirs(self.units_dir, exist_ok=True)
        pq.write_table(t, os.path.join(self.units_dir, f"unit-{self.n_units:05d}.parquet"))
        self.unit_urls.update(t.column("url").to_pylist())
        self.n_units += 1

    def run(self):
        """(merged sketch, units recomputed, exact distinct urls)."""
        exact = len(self.unit_urls)
        sk, recomputed = checkpoint.run_resumable_sketch_spec(
            self.ctx.spark, self.units_dir, "perfbench", self.ckpt_dir, "url", _hll_spec())
        return sk, recomputed, exact

    def layer(self, spark, values: list) -> dict:
        """partial_states of the newest unit alone, the state rows the
        last append merged, and units recomputed per append (useful work
        per append, which should be 1)."""
        from mlrsketch import agg

        newest = os.path.join(self.units_dir, f"unit-{self.n_units - 1:05d}.parquet")
        t0 = time.perf_counter()
        noop(agg.partial_states(spark.read.parquet(newest), "url", _hll_spec()))
        partial_s = time.perf_counter() - t0
        rows = pq.read_table(self.ckpt_dir, columns=["unit_id"]).num_rows
        done = [v[1] for v in values]
        return {"checkpoint.partial_s": partial_s, "checkpoint.merge_rows": float(rows),
                "checkpoint.units_recomputed_per_append": sum(done) / max(len(done), 1)}


def _probe(name: str, kind: str, call, verify=lambda v: Verdict(True)) -> Op:
    """An operation of the traced run only; its check feeds
    sketches.err_to_bound and recall_at_10, not `failed`."""
    return Op(name, kind, 0, lambda p: call(), verify)


class _Scaled:
    """A sketch whose estimate is off by a factor (checker self-test)."""

    def __init__(self, sk, factor):
        self.sk, self.factor = sk, factor

    def estimate(self):
        return self.sk.estimate() * self.factor

    def error_bound(self):
        return self.sk.error_bound()


def _micro_batch(df: DataFrame, strings: str, text: str, value: str | None = None,
                 n: int = 10_000) -> dict:
    """One fixed batch of the generated data for the sketch micro-timings:
    strings to hash, doubles to rank, and token counts from a text column."""
    from collections import Counter

    cols = [strings, text] + ([value] if value else [])
    pdf = df.orderBy(df.columns[0]).limit(n).select(*cols).toPandas()
    c: Counter = Counter()
    for t in pdf[text]:
        c.update(t.split(" "))
    vals = pdf[value] if value else pdf[text].str.len()
    return {"strings": pdf[strings].to_numpy(dtype=object),
            "values": vals.to_numpy(dtype=np.float64),
            "tokens": (np.array(list(c.keys()), dtype=object),
                       np.fromiter(c.values(), dtype=np.int64, count=len(c)))}


def _qcol(q: float) -> str:
    return f"p{str(q * 100).rstrip('0').rstrip('.').replace('.', '_')}"


def _rows(pdf: pd.DataFrame, want: int) -> Verdict:
    return Verdict(len(pdf) == want, "" if len(pdf) == want else f"{len(pdf)} groups, expected {want}")


# ---------------------------------------------------------------------------
# exact_batch
# ---------------------------------------------------------------------------


class ExactBatch:
    name = "exact_batch"
    # the first pass compiles every plan and measured about 2x slower
    # than later ones: one untimed, unchecked pass precedes the clock
    warm_pass = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.sizes = SIZES[self.name]
        self.queries = gen.query_vectors(ctx.seed, 256)
        self.embedding_rows = self.sizes["embeddings"]
        self.appender = Appender(ctx, PROBE_UNIT_PAGES, "probe")

    def inputs(self) -> dict[str, str]:
        c, s = self.ctx, self.sizes
        return {
            "facts": gen.ensure(c.cache, "facts", c.seed, s["facts"]),
            "dedup_pages": gen.ensure(c.cache, "pages", c.seed, s["dedup_pages"]),
            "embeddings": gen.ensure(c.cache, "embeddings", c.seed, s["embeddings"]),
        }

    def sizes_report(self) -> dict:
        return self.sizes | {"ivf": IVF_PARAMS, "lsh": LSH_PARAMS}

    def setup(self, spark, frames) -> None:
        """The IVF index is built and materialized as part of set-up."""
        indexed, self.centroids = sim.ivf_index(frames["embeddings"], k=IVF_PARAMS["k"])
        self.indexed = indexed.localCheckpoint(eager=True)

    def warm(self) -> None:
        pass

    def probes(self, frames) -> list[Op]:
        """Small operations for the layers this workload does not reach:
        a grouped sketch aggregation and a checkpointed append."""
        facts = frames["facts"]
        for _ in range(2):
            self.appender.land()
        self.appender.run()
        return [
            _probe("probe_hll", "sketch", lambda: sv.count_distinct_hll(
                facts, "host", ["lang"]).toPandas(), lambda pdf: ck.combine([
                    ck.distinct_ratio(r.distinct_count_est, self.host_distinct[r.lang],
                                      r.error_bound, r.lang) for r in pdf.itertuples()])),
            Op("probe_append", "append", 0, lambda p: self.appender.run(), check_append,
               before=lambda p: self.appender.land()),
        ]

    def micro_batch(self) -> dict:
        return _micro_batch(self.ctx.spark.read.parquet(self.inputs()["facts"])
                            .withColumn("tok", F.concat_ws(" ", "host", "lang")), "host", "tok",
                            value="value")

    def references(self, oracle: ck.Oracle) -> None:
        o = oracle
        self.ref = {
            "stats1_moments": o.df(
                "SELECT host, lang, count(value) AS value_count, sum(value) AS value_sum, "
                "avg(value) AS value_mean, min(value) AS value_min, max(value) AS value_max, "
                "var_samp(value) AS value_var, count(bytes) AS bytes_count, sum(bytes) AS bytes_sum, "
                "avg(bytes) AS bytes_mean, min(bytes) AS bytes_min, max(bytes) AS bytes_max, "
                "var_samp(bytes) AS bytes_var FROM facts GROUP BY 1, 2"),
            "stats1_percentiles": o.df(
                "SELECT lang, quantile_cont(value, 0.1) AS value_p10, quantile_cont(value, 0.5) AS value_p50, "
                "quantile_cont(value, 0.9) AS value_p90 FROM facts GROUP BY 1"),
            "percentiles_rank": o.df(
                "SELECT status, quantile_cont(bytes, 0.5) AS bytes_p50, quantile_cont(bytes, 0.9) AS bytes_p90, "
                "quantile_cont(bytes, 0.99) AS bytes_p99 FROM facts GROUP BY 1"),
            "top_by_host": o.df(
                "SELECT host, top_idx, value AS value_top FROM (SELECT host, value, row_number() OVER "
                "(PARTITION BY host ORDER BY value DESC, id ASC) AS top_idx FROM facts) WHERE top_idx <= 3"),
            "count_distinct": o.df("SELECT lang, status, count(*) AS count FROM facts GROUP BY 1, 2"),
            "most_frequent": o.df(
                "SELECT host, count(*) AS count FROM facts GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 10"),
            "step": o.df(
                "SELECT id, lag(value) OVER w AS value_shift, coalesce(value - lag(value) OVER w, 0) "
                "AS value_delta, sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                "AS value_rsum FROM facts WINDOW w AS (ORDER BY ts, id)"),
            "rank": o.df("SELECT id, rank() OVER (ORDER BY value) AS rank FROM facts"),
            "fraction_cumulative": o.df(
                "SELECT id, sum(bytes) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                " / sum(bytes) OVER () AS bytes_cumulative_fraction FROM facts"),
            "dsl_put_filter": o.df(
                "SELECT id, bytes / 1024 AS kb, CASE WHEN status = 200 THEN 'y' ELSE 'n' END AS ok "
                "FROM facts WHERE bytes / 1024 > 8 AND lang = 'en'"),
        }
        texts = o.df("SELECT row_id, text FROM dedup_pages")
        self.shingles = {r: _shingles(t) for r, t in zip(texts["row_id"], texts["text"])}
        by_text: dict[str, list[int]] = {}
        for r, t in zip(texts["row_id"], texts["text"]):
            by_text.setdefault(t, []).append(int(r))
        self.dup_pairs = {(a, b) for ids in by_text.values() for a in ids for b in ids if a < b}
        self.truth = AnnTruth(o.df("SELECT vec_id, embedding FROM embeddings"))
        self.host_distinct = dict(o.con.execute(
            "SELECT lang, count(DISTINCT host) FROM facts GROUP BY lang").fetchall())

    def ops(self, frames) -> list[Op]:
        facts, dpages, emb = frames["facts"], frames["dedup_pages"], frames["embeddings"]
        n = self.sizes["facts"]
        ref = self.ref

        def exact(name, keys, call, rows_preserving=False, select=None):
            if rows_preserving:
                return Op(name, "exact", n, lambda p: noop(call()),
                          lambda pdf: ck.frames_match(pdf, ref[name], keys),
                          answer=lambda df: df.select(*select).toPandas(), check_every=False,
                          perturb=lambda pdf: ck.perturb_frame(pdf, keys))
            return Op(name, "exact", n, lambda p: call().toPandas(),
                      lambda pdf: ck.frames_match(pdf, ref[name], keys),
                      perturb=lambda pdf: ck.perturb_frame(pdf, keys))

        def v_minhash(pdf):
            got = {(int(a), int(b)): j for a, b, j in zip(pdf["id_a"], pdf["id_b"], pdf["jaccard_est"])}
            missed = self.dup_pairs - set(got)
            parts = [Verdict(not missed, f"minhash: {len(missed)} duplicate pairs missed")]
            for (a, b), est in got.items():
                sa, sb = self.shingles[a], self.shingles[b]
                j = len(sa & sb) / len(sa | sb)
                se = max((j * (1 - j) / 32) ** 0.5, 1 / 32)
                r = abs(est - j) / se
                parts.append(Verdict(r <= ck.STDERR_LIMIT, f"pair {a},{b}: est {est} exact {j:.3f}", [r]))
            return ck.combine(parts)


        def ivf_op(name, slot):
            def run(p):
                q = self.queries[(3 * p + slot) % len(self.queries)].tolist()
                return sim.ivf_topk(self.indexed, self.centroids, q, k=ANN_K,
                                    nprobe=IVF_PARAMS["nprobe"]).toPandas(), q
            return Op(name, "ivf", self.sizes["embeddings"], run, lambda v: self.truth.check(*v),
                      perturb=_perturb_ann)

        def run_lsh(p):
            q = self.queries[(3 * p + 2) % len(self.queries)].tolist()
            return sim.lsh_topk(emb, q, k=ANN_K, **LSH_PARAMS).toPandas(), q

        return [
            exact("stats1_moments", ["host", "lang"], lambda: ev.stats1(
                facts, ["count", "sum", "mean", "min", "max", "var"], ["value", "bytes"],
                by=["host", "lang"])),
            exact("stats1_percentiles", ["lang"], lambda: ev.stats1(
                facts, ["p10", "p50", "p90"], ["value"], by=["lang"], interpolated=True)),
            exact("percentiles_rank", ["status"], lambda: ev.percentiles_rank(
                facts, "bytes", [50, 90, 99], by=["status"])),
            exact("top_by_host", ["host", "top_idx"], lambda: ev.top(
                facts, "value", n=3, by=["host"], tiebreak=["id"])),
            exact("count_distinct", ["lang", "status"], lambda: ev.count_distinct(facts, ["lang", "status"])),
            exact("most_frequent", ["host"], lambda: ev.most_frequent(facts, ["host"], n=10)),
            exact("step", ["id"], lambda: ev.step(facts, ["shift", "delta", "rsum"], ["value"],
                                                  order_by=["ts", "id"]),
                  rows_preserving=True, select=["id", "value_shift", "value_delta", "value_rsum"]),
            exact("rank", ["id"], lambda: ev.rank(facts, "value"), rows_preserving=True,
                  select=["id", "rank"]),
            exact("fraction_cumulative", ["id"], lambda: ev.fraction(
                facts, "bytes", cumulative=True, order_by=["id"]), rows_preserving=True,
                  select=["id", "bytes_cumulative_fraction"]),
            exact("dsl_put_filter", ["id"], lambda: dsl.filter_records(dsl.put(facts, DSL_PUT), DSL_FILTER),
                  rows_preserving=True, select=["id", "kb", "ok"]),
            Op("minhash_pairs", "dedup", self.sizes["dedup_pages"],
               lambda p: dedup.minhash_lsh_pairs(dpages, "row_id", "text", n_hashes=32, bands=8,
                                                 jaccard_threshold=0.8).toPandas(),
               v_minhash, perturb=lambda pdf: ck.perturb_frame(pdf, ["id_a", "id_b"])),
            ivf_op("ivf_a", 0),
            ivf_op("ivf_b", 1),
            Op("lsh", "lsh", self.sizes["embeddings"], run_lsh, lambda v: self.truth.check(*v), perturb=_perturb_ann),
        ]


class AnnTruth:
    """Exact cosine top-k over an embedding table, for ANN answer checks."""

    def __init__(self, emb: pd.DataFrame):
        emb = emb.sort_values("vec_id")
        m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        self.unit = m / np.linalg.norm(m, axis=1, keepdims=True)
        self.vec_ids = emb["vec_id"].to_numpy()

    def check(self, pdf: pd.DataFrame, q) -> Verdict:
        """Returned ids must carry their exact cosine; recall@k against
        the exact top-k is reported."""
        q = np.asarray(q, dtype=np.float64)
        cos = self.unit @ (q / np.linalg.norm(q))
        truth = set(self.vec_ids[np.argsort(-cos, kind="stable")[:ANN_K]].tolist())
        got = pdf["vec_id"].astype(int).tolist()
        want_cos = np.round(cos[np.searchsorted(self.vec_ids, got)], 6)
        ok = len(got) == ANN_K and np.allclose(pdf["cosine"].to_numpy(np.float64), want_cos, atol=2e-6)
        return Verdict(bool(ok), "" if ok else "ann: wrong ids or cosines",
                       recall=[len(truth & set(got)) / ANN_K])


def check_append(res) -> Verdict:
    sk, recomputed, exact = res
    return ck.combine([
        Verdict(recomputed == 1, "" if recomputed == 1 else f"{recomputed} units recomputed"),
        ck.distinct_ratio(sk.estimate(), exact, sk.error_bound(), "append")])


def perturb_append(res):
    sk, recomputed, exact = res
    return _Scaled(sk, 1.5), recomputed, exact


def _perturb_ann(v):
    pdf, q = v
    bad = pdf.copy()
    bad["cosine"] = bad["cosine"] + 0.1
    return bad, q


def _shingles(text: str, n: int = 5) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - (n - 1), 1))}


WORKLOADS = {w.name: w for w in (SketchBatch, ExactBatch)}
