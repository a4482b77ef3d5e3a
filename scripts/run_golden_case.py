"""Run one or more golden cases and print pass/fail + diff.

Usage: python scripts/run_golden_case.py dsl-sorts/0001 [more...]
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from pyspark.sql import SparkSession

from mlrsketch.mlrcli import Unsupported, run_case
from test_golden_reference import assert_matches, to_df

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.caseSensitive", "true")
    .config("spark.ui.enabled", "false")
    .appName("case")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

for arg in sys.argv[1:]:
    case = f"/root/reference/test/cases/{arg}"
    print(f"=== {arg}")
    try:
        got, exp, ordered = run_case(spark, case, to_df)
    except Unsupported as e:
        print(f"SKIP: {e}")
        continue
    except Exception as e:  # noqa: BLE001
        import traceback

        traceback.print_exc()
        continue
    try:
        assert_matches(got, exp, ordered=ordered)
        print("PASS")
    except AssertionError as e:
        print("FAIL", str(e)[:400])
        print("got:", got[:6])
        print("exp:", exp[:6])
