#!/usr/bin/env python
"""Sketch error-bound validation at bench scale → VALIDATION.md.

North rule: "matching the reference's sketch estimates within the
algorithm's published error bound". The pytest suite proves this at
unit scale; this script documents it at 1M-row scale against exact
Spark answers on the deterministic pages table:

- HLL++ (p=12,14,16): |est-exact|/exact vs 1.04/sqrt(2^p) (1 sigma;
  we report sigmas consumed — expect ~<2 for a single draw)
- KLL (k=200) & t-digest (delta=200): observed rank error of the
  estimated quantile value vs the sketch's own bound (KLL: Apache
  DataSketches' 99% fit 2.296/k^0.9723 = 0.0133 at k=200; t-digest:
  6*q(1-q)/delta at the median = 0.0075 at delta=200)
- SpaceSaving top-k: estimated counts vs exact counts of the same
  tokens (never an undercount; overcount <= N/size, deterministically,
  for a summary of size = max(capacity, ceil(width/e)) tokens)
- Bloom (m bits, k hashes): observed FPR on definitely-new keys vs
  (1-e^{-kn/m})^k

Run: python scripts/validate_bounds.py   (updates VALIDATION.md)

Each measured section lands between a ``<!-- begin generated: name -->``
and ``<!-- end generated: name -->`` marker pair in VALIDATION.md; text
outside the markers (hand-written notes) is kept byte for byte.
"""

from __future__ import annotations

import math
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from mlrsketch import pages as pg  # noqa: E402
from mlrsketch.session import get_spark  # noqa: E402
from mlrsketch.sketches import TopKSketch  # noqa: E402
from mlrsketch.verbs import exact as ev  # noqa: E402
from mlrsketch.verbs import sketch as sv  # noqa: E402

N = int(os.environ.get("SPARK_GRAFT_VALIDATE_PAGES", "1000000"))
_BLOCK = re.compile(
    r"<!-- begin generated: (\w+) -->\n(.*?)<!-- end generated: \1 -->", re.S
)


def generated_blocks(doc: str) -> dict[str, list[str]]:
    """The lines of each generated block in ``doc``, by name."""
    return {m.group(1): m.group(2).splitlines() for m in _BLOCK.finditer(doc)}


def splice(doc: str, blocks: dict[str, list[str]]) -> str:
    """``doc`` with each named generated block replaced by ``blocks[name]``
    and everything outside the markers unchanged."""
    missing = set(blocks) - set(generated_blocks(doc))
    if missing:
        raise ValueError(f"VALIDATION.md has no generated block for {sorted(missing)}")
    return _BLOCK.sub(
        lambda m: (
            f"<!-- begin generated: {m.group(1)} -->\n"
            + "".join(line + "\n" for line in blocks.get(m.group(1), m.group(2).splitlines()))
            + f"<!-- end generated: {m.group(1)} -->"
        ),
        doc,
    )


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    pages = pg.load_or_create_pages(
        spark, N, os.path.join(REPO, ".bench_cache", f"pages_{N}")
    )
    blocks = {"input": [
        "# VALIDATION — sketch estimates vs exact, at scale",
        "",
        f"Input: deterministic pages table, {N:,} rows. Exact answers via",
        "Spark; estimates via the mlrsketch two-level partial/final plans.",
        "Regenerate: `python scripts/validate_bounds.py`.",
    ]}

    # -- HLL ---------------------------------------------------------------
    exact_urls = pages.select("url").distinct().count()
    lines = blocks["hll"] = [
        "## HyperLogLog++ — distinct urls", "",
        f"exact distinct: {exact_urls:,}", "",
        "| p | estimate | rel.err | bound (1.04/sqrt(m)) | sigmas |",
        "|---|---|---|---|---|"]
    for p in (12, 14, 16):
        r = sv.count_distinct_hll(pages, of="url", p=p).first()
        est, bound = r["distinct_count_est"], r["error_bound"]
        rel = abs(est - exact_urls) / exact_urls
        lines.append(
            f"| {p} | {est:,.0f} | {rel:.5f} | {bound:.5f} | {rel / bound:.2f} |"
        )

    # -- quantiles ---------------------------------------------------------
    withlen = pages.withColumn("tl", F.length("text").cast("double"))
    n_rows = withlen.count()
    sorted_lens = None  # computed lazily via exact rank queries

    def exact_rank(v: float) -> float:
        return withlen.filter(F.col("tl") <= v).count() / n_rows

    lines = blocks["quantiles"] = [
        "## KLL (k=200) & t-digest (delta=200) — text-length quantiles", "",
        "| sketch | q | estimate | exact rank of estimate | rank err | bound |",
        "|---|---|---|---|---|---|"]
    kll = sv.quantiles_kll(withlen, "tl", (0.5, 0.9, 0.99)).first()
    td = sv.quantiles_tdigest(withlen, "tl", (0.5, 0.9, 0.99)).first()
    for label, row, bound in (("KLL", kll, kll["rank_error_bound"]),
                              ("t-digest", td, td["rank_error_bound"])):
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            est = row[col]
            r_ = exact_rank(est)
            err = abs(r_ - q)
            lines.append(
                f"| {label} | {q} | {est:.0f} | {r_:.5f} | {err:.5f} | {bound:.5f} |"
            )

    # -- SpaceSaving top-k ---------------------------------------------------
    width, capacity, k = 16384, 2048, 20
    size = TopKSketch(width=width, capacity=capacity).capacity
    topk = [
        (r["value"], r["count_est"])
        for r in sv.token_top_k(pages, "text", k=k, width=width, capacity=capacity).collect()
    ]
    tok = pages.select(F.explode(F.split("text", " ")).alias("t"))
    total_tokens = tok.count()
    exact_counts = {
        r["t"]: r["cnt"]
        for r in tok.filter(F.col("t").isin([v for v, _ in topk]))
        .groupBy("t")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    bound = total_tokens / size
    lines = blocks["cms"] = [
        f"## SpaceSaving heavy hitters — top-{k} tokens", "",
        f"total tokens N = {total_tokens:,}; summary size = max(capacity, "
        f"ceil(width/e)) = {size:,} tokens; overcount bound N/size = {bound:,.0f}, "
        "deterministic (no failure probability)", "",
        "| token | est | exact | overcount | <= N/size |",
        "|---|---|---|---|---|"]
    overs = [est - exact_counts.get(v, 0) for v, est in topk]
    worst = max(overs, default=0)
    for (v, est), over in list(zip(topk, overs))[:10]:
        lines.append(f"| {v} | {est:,} | {est - over:,} | {over:,} | "
                     f"{'yes' if 0 <= over <= bound else 'NO'} |")
    lines.append("")
    lines.append(f"max overcount across top-{k}: {worst:,} "
                 f"(never undercounts: SpaceSaving estimates are upper bounds)")

    # -- Bloom -------------------------------------------------------------
    n_bits, n_hashes = 1 << 22, 7
    half_a = pages.filter(F.col("row_id") % 2 == 0)
    half_b = pages.filter(F.col("row_id") % 2 == 1)
    bf = sv.build_bloom(half_a, "url", n_bits=n_bits, n_hashes=n_hashes)
    b_urls = half_b.select("url").distinct()
    a_urls = half_a.select("url").distinct()
    new_b = b_urls.join(a_urls, "url", "left_anti")
    n_new = new_b.count()
    kept = sv.bloom_filter_new(new_b, "url", bf).count()
    fpr_obs = (n_new - kept) / n_new
    n_inserted = a_urls.count()
    fpr_theory = (1 - math.exp(-n_hashes * n_inserted / n_bits)) ** n_hashes
    blocks["bloom"] = [
        "## Bloom — seen-URL membership", "",
        f"filter: m = 2^22 bits, k = {n_hashes}; inserted n = {n_inserted:,} urls",
        f"definitely-new urls probed: {n_new:,}; false positives: {n_new - kept:,}",
        f"observed FPR = {fpr_obs:.5f} vs theoretical (1-e^(-kn/m))^k = {fpr_theory:.5f}"]

    path = os.path.join(REPO, "VALIDATION.md")
    with open(path) as f:
        doc = splice(f.read(), blocks)
    with open(path, "w") as f:
        f.write(doc)
    print(doc)
    spark.stop()


if __name__ == "__main__":
    main()
