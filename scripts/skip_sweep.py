"""Tally golden-case skip reasons across the whole reference corpus.

Usage: python scripts/skip_sweep.py [prefix-glob]  (default: '*')
Prints Unsupported reasons sorted by frequency, plus pass/fail/skip
totals — the precise worklist for widening golden coverage."""

from __future__ import annotations

import collections
import glob
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from mlrsketch.mlrcli import Unsupported, run_case  # noqa: E402
from test_golden_reference import assert_matches, to_df  # noqa: E402

from mlrsketch.session import get_spark  # noqa: E402


def main():
    pat = sys.argv[1] if len(sys.argv) > 1 else "*"
    spark = get_spark()
    cases = sorted(
        p
        for p in glob.glob(f"/root/reference/test/cases/{pat}/*/")
        if os.path.exists(p + "cmd")
    )
    reasons = collections.Counter()
    reason_cases = collections.defaultdict(list)
    passed, failed = 0, []

    def one(c):
        try:
            got, exp, ordered = run_case(spark, c.rstrip("/"), to_df)
        except Unsupported as e:
            return "skip", str(e)
        except Exception as e:  # noqa: BLE001
            return "fail", f"RUNTIME {type(e).__name__}: {e}"
        try:
            assert_matches(got, exp, ordered=ordered)
            return "pass", None
        except AssertionError as e:
            return "fail", str(e)[:200]

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(8) as pool:
        for c, (status, msg) in zip(cases, pool.map(one, cases)):
            short = c.replace("/root/reference/test/cases/", "").rstrip("/")
            if status == "pass":
                passed += 1
            elif status == "skip":
                reasons[msg] += 1
                reason_cases[msg].append(short)
            else:
                failed.append((short, msg))

    print(f"pass={passed} fail={len(failed)} skip={sum(reasons.values())} total={len(cases)}")
    print("\n== skip reasons ==")
    for r, n in reasons.most_common():
        print(f"{n:5d}  {r}   e.g. {reason_cases[r][0]}")
    if failed:
        print("\n== failures ==")
        for c, m in failed[:40]:
            print(f"{c}: {m}")


if __name__ == "__main__":
    main()
