"""Iteration harness: replay every dsl-* golden case through the
put/filter compiler; print pass/skip/fail counts per suite and dump
failures for analysis. (The pytest gate lives in tests/test_golden_dsl.py
with an explicit exclusion list; this script is the devloop.)"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from mlrsketch.mlrcli import Unsupported, run_case  # noqa: E402
from test_golden_reference import assert_matches, to_df  # noqa: E402

from mlrsketch.session import get_spark  # noqa: E402

REF = "/root/reference/test/cases"


def main():
    pat = sys.argv[1] if len(sys.argv) > 1 else "dsl-*"
    spark = get_spark(cores=16, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cases = sorted(
        p.rstrip("/") for p in glob.glob(f"{REF}/{pat}/*/") if os.path.exists(p + "cmd")
    )
    counts: Counter = Counter()
    skip_reasons: Counter = Counter()
    failures = []

    def one(c):
        try:
            got, exp, ordered = run_case(spark, c, to_df)
        except Unsupported as e:
            return ("skip", str(e)[:80])
        except Exception as e:  # noqa: BLE001
            return ("fail", f"RUNTIME {type(e).__name__}: {str(e)[:200]}")
        try:
            assert_matches(got, exp, ordered=ordered)
            return ("pass", None)
        except AssertionError as e:
            return ("fail", str(e)[:400])

    with ThreadPoolExecutor(12) as pool:
        for c, (status, msg) in zip(cases, pool.map(one, cases)):
            suite = c.split("/")[-2]
            counts[status] += 1
            if status == "skip":
                skip_reasons[msg] += 1
            if status == "fail":
                failures.append({"case": c.replace(REF + "/", ""), "msg": msg})

    print(json.dumps(dict(counts), indent=1))
    print("\n-- top skip reasons --")
    for r, n in skip_reasons.most_common(25):
        print(f"{n:5d}  {r}")
    print(f"\n-- failures ({len(failures)}) --")
    for f in failures[:60]:
        print(f"{f['case']}: {f['msg'][:200]}")
    with open("/tmp/dsl_failures.json", "w") as fh:
        json.dump(failures, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
