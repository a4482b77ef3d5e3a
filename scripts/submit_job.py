#!/usr/bin/env python
"""Deployment-shaped entrypoint: the north rule's `spark-submit
--py-files mlrsketch.zip scripts/submit_job.py <pages_path> [out]`.

Runs the flagship fused profile + per-lang HLL over a pages table and
writes results as JSON lines. The script imports mlrsketch ONLY from
the shipped zip (--py-files puts it on every executor's sys.path) —
exactly how a 1000-executor cluster job ships the library.

Package with, from the checkout root:  zip -r mlrsketch.zip mlrsketch
Run with:      spark-submit --master local[8] --py-files mlrsketch.zip \
                   scripts/submit_job.py /path/to/pages_parquet /tmp/out

Note on Iceberg: BASELINE.json targets Iceberg tables; this sandbox has
no iceberg-spark runtime jar, so the job reads parquet. The access path
is identical (`spark.read.format(...)`) — on a cluster, pass
`--packages org.apache.iceberg:iceberg-spark-runtime-...` and swap the
format string; nothing in mlrsketch changes (it only sees DataFrames).
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> None:
    src = sys.argv[1]
    out = sys.argv[2] if len(sys.argv) > 2 else None

    spark = SparkSession.builder.appName("mlrsketch-profile-job").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # import AFTER the session exists: proves the library came from
    # --py-files, not a local install
    from mlrsketch.verbs import sketch as sv

    pages = spark.read.parquet(src)
    profile = sv.sketch_profile(pages, url_col="url", text_col="text", p=14, top_k=10)
    per_lang = sv.count_distinct_hll(pages, of="url", by=["lang"], p=12)

    if out:
        profile.write.mode("overwrite").json(out + "/profile")
        per_lang.write.mode("overwrite").json(out + "/per_lang")
    else:
        profile.show(truncate=False)
        per_lang.show()
    spark.stop()


if __name__ == "__main__":
    main()
