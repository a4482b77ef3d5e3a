"""One-shot tally of io-* golden corpus: pass/skip/fail per suite with
reasons, to steer interpreter work. Usage: python scripts/tally_io.py
[glob-fragment]"""

from __future__ import annotations

import collections
import glob
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from pyspark.sql import SparkSession

from mlrsketch.mlrcli import Unsupported, run_case  # noqa: E402
from test_golden_reference import assert_matches, to_df  # noqa: E402

frag = sys.argv[1] if len(sys.argv) > 1 else "io-"
REF = "/root/reference/test/cases"

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "8g")
    .appName("tally-io")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

cases = sorted(
    p for p in glob.glob(f"{REF}/{frag}*/*/") if os.path.exists(p + "cmd")
)
stats = collections.Counter()
skip_reasons = collections.Counter()
fails = []

from concurrent.futures import ThreadPoolExecutor


def one(c):
    try:
        got, exp, ordered = run_case(spark, c.rstrip("/"), to_df)
    except Unsupported as e:
        return ("skip", str(e))
    except Exception as e:  # noqa: BLE001
        return ("fail", f"RUNTIME {type(e).__name__}: {str(e)[:160]}")
    try:
        assert_matches(got, exp, ordered=ordered)
        return ("pass", None)
    except AssertionError as e:
        return ("fail", str(e)[:200])


with ThreadPoolExecutor(8) as pool:
    for c, (status, msg) in zip(cases, pool.map(one, cases)):
        stats[status] += 1
        if status == "skip":
            skip_reasons[msg] += 1
        elif status == "fail":
            fails.append((c.replace(REF + "/", ""), msg))

print(dict(stats))
print("\n-- skip reasons --")
for r, n in skip_reasons.most_common(30):
    print(f"{n:4d}  {r}")
print("\n-- failures --")
for c, m in fails[:60]:
    print(f"{c}: {m}")
