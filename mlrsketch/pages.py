"""Deterministic synthesis of the Common-Crawl-style pages table.

Shape per BASELINE.json input_hint:
  (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Synthesis rules per FIXTURES.md §1, seed=42, fully deterministic:
- hosts Zipf-distributed (heavy head — exercises salted skew handling)
- ~2% exact duplicate urls (re-emitted rows) for uniq/Bloom tests
- text: Zipf tokens from a 50k synthetic vocabulary, lognormal length
- lang: heavily skewed categorical (P(en)=0.55 ...)
- html: wraps text; mlrsketch.textextract.extract_text() inverts it
  byte-identically (Miller printrep-preservation analog,
  reference /root/reference/pkg/mlrval/mlrval_type.go:31-44).

Generation is DISTRIBUTED: spark.range(n) + JVM-side expressions for
url/lang/ts, and a seeded per-row-id numpy text generator through
mapInPandas — so synthesizing 10^9 rows for a bench is an O(cores)
scan, not a driver loop.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mlrsketch.session import python_task

SEED = 42
VOCAB_SIZE = 50_000
LANGS = ["en", "ru", "de", "ja", "fr", "zh"] + [
    "es", "pt", "it", "nl", "pl", "tr", "ar", "ko", "hi", "sv", "fi", "cs", "el", "he",
]
LANG_P = [0.55, 0.12, 0.08, 0.06, 0.05, 0.05] + [0.09 / 14] * 14

_SCHEMA = StructType(
    [
        StructField("row_id", LongType(), False),
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)


def _b36(n: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    if n == 0:
        return "0"
    out = []
    while n:
        n, r = divmod(n, 36)
        out.append(digits[r])
    return "".join(reversed(out))


def render_html(text: str) -> bytes:
    """Deterministic html wrapper; inverse in textextract.extract_text."""
    return (
        "<html><head><title>synthetic</title></head><body><p>"
        + text
        + "</p><footer>boilerplate</footer></body></html>"
    ).encode("utf-8")


def generate_pages(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic pages table: same rows for any
    partitioning (every value derives from row_id alone)."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)
    n_hosts = max(n_rows // 50, 4)
    base = spark.range(0, n_rows, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out_rows = []
            for rid in ids:
                rng = np.random.default_rng(SEED + int(rid))
                # ~2% duplicates: row re-emits the content of row rid-1
                src = int(rid) - 1 if (rid > 0 and rng.random() < 0.02) else int(rid)
                srng = np.random.default_rng(SEED + 10_000_000_000 + src)
                host = int(srng.zipf(1.2)) % n_hosts
                n_tok = int(np.clip(srng.lognormal(4.0, 1.0), 1, 2000))
                toks = np.minimum(srng.zipf(1.3, n_tok), VOCAB_SIZE) - 1
                text = " ".join(f"w{t}" for t in toks)
                lang = LANGS[int(srng.choice(len(LANGS), p=LANG_P))]
                ts = np.datetime64("2025-01-01") + np.timedelta64(
                    int(srng.integers(0, 364 * 24 * 3600)), "s"
                )
                url = f"https://host{host}.example.com/{_b36(src)}"
                out_rows.append(
                    (int(rid), url, pd.Timestamp(ts), render_html(text), text, lang)
                )
            yield pd.DataFrame(
                out_rows, columns=["row_id", "url", "warc_ts", "html", "text", "lang"]
            )

    return base.mapInPandas(python_task(gen), schema=_SCHEMA)


def write_pages(spark: SparkSession, n_rows: int, path: str, partitions: int | None = None) -> None:
    generate_pages(spark, n_rows, partitions).write.mode("overwrite").parquet(path)


def load_or_create_pages(
    spark: SparkSession, n_rows: int, path: str, partitions: int | None = None
) -> DataFrame:
    """Cached deterministic pages parquet. `partitions` pins the FILE
    layout of the cache (default 64): the on-disk split count must not
    depend on the parallelism of whichever session happened to create
    the cache, or a later wider session is capped below its core count
    by a coarse file layout."""
    import os

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_pages(spark, n_rows, path, partitions=partitions or 64)
    return spark.read.parquet(path)
