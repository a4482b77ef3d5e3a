"""Tally pass/skip/fail across the reference dsl-* golden corpus.

Usage: python scripts/dsl_tally.py [family-substring ...]
Prints per-family counts and the top skip/fail reasons — the worklist
generator for widening DSL coverage.
"""

import glob
import os
import sys
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from pyspark.sql import SparkSession

from mlrsketch.mlrcli import Unsupported, run_case  # noqa: E402
from test_golden_reference import assert_matches, to_df  # noqa: E402

REF = "/root/reference/test/cases"

def _known_divergences():
    out = set()
    for mod in ("test_golden_auto", "test_golden_dsl", "test_golden_io"):
        try:
            m = __import__(mod)
            out |= set(getattr(m, "KNOWN_DIVERGENCES", ()))
        except Exception:  # noqa: BLE001
            pass
    return out

KNOWN = _known_divergences()


def main():
    filters = [a for a in sys.argv[1:] if not a.startswith("-")]
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.caseSensitive", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .appName("dsl-tally")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    prefix = os.environ.get("TALLY_PREFIX", "dsl")
    cases = sorted(
        p.rstrip("/")
        for p in glob.glob(f"{REF}/{prefix}-*/*/")
        if os.path.exists(p + "cmd")
    )
    if filters:
        cases = [c for c in cases if any(f in c for f in filters)]

    def one(c):
        if any(k in c for k in KNOWN):
            return ("skip", "known divergence")
        try:
            got, exp, ordered = run_case(spark, c, to_df)
        except Unsupported as e:
            return ("skip", str(e)[:90])
        except Exception as e:  # noqa: BLE001
            return ("err", f"{type(e).__name__}: {e}"[:90])
        try:
            assert_matches(got, exp, ordered=ordered)
            return ("pass", None)
        except AssertionError as e:
            return ("fail", str(e)[:200])

    results = {}
    with ThreadPoolExecutor(8) as pool:
        for c, r in zip(cases, pool.map(one, cases)):
            results[c] = r

    fam_counts: dict = {}
    skip_reasons = Counter()
    err_reasons = Counter()
    fail_cases = []
    for c, (st, msg) in results.items():
        fam = c.split("/cases/")[1].split("/")[0]
        d = fam_counts.setdefault(fam, Counter())
        d[st] += 1
        if st == "skip":
            skip_reasons[msg] += 1
        elif st == "err":
            err_reasons[msg] += 1
            fail_cases.append((c, msg))
        elif st == "fail":
            fail_cases.append((c, msg))

    tot = Counter()
    for fam in sorted(fam_counts):
        d = fam_counts[fam]
        tot.update(d)
        flag = " " if not (d["fail"] or d["err"]) else "!"
        print(f"{flag} {fam:50s} pass={d['pass']:3d} skip={d['skip']:3d} "
              f"fail={d['fail']:3d} err={d['err']:3d}")
    print(f"\nTOTAL pass={tot['pass']} skip={tot['skip']} "
          f"fail={tot['fail']} err={tot['err']}  (n={len(cases)})")
    print("\n-- top skip reasons --")
    for msg, n in skip_reasons.most_common(30):
        print(f"{n:5d}  {msg}")
    print("\n-- top err reasons --")
    for msg, n in err_reasons.most_common(20):
        print(f"{n:5d}  {msg}")
    print("\n-- first 30 fail/err cases --")
    for c, msg in fail_cases[:30]:
        print(f"{c}\n       {msg}")
    want = os.environ.get("PRINT_SKIPS")
    if want:
        print(f"\n-- cases skipped for reasons containing {want!r} --")
        for c, (st, msg) in results.items():
            if st == "skip" and msg and want in msg:
                print(c)


if __name__ == "__main__":
    main()
