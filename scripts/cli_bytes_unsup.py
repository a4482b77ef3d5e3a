"""List the byte channel's 'unsupported' skip reasons per case.

Usage: python scripts/cli_bytes_unsup.py [family-glob ...]
"""

from __future__ import annotations

import glob
import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from cli_bytes_sweep import try_case  # noqa: E402
from mlrsketch.session import get_spark  # noqa: E402

REF = "/root/reference/test/cases"


def main():
    pats = sys.argv[1:] or ["verb-*", "io-*"]
    spark = get_spark(app="bytes-unsup", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cases = sorted(
        d.rstrip("/")
        for pat in pats
        for d in glob.glob(f"{REF}/{pat}/*/")
        if os.path.exists(d + "cmd")
    )
    reasons = Counter()
    names = []
    for c in cases:
        try:
            status, det = try_case(spark, c)
        except Exception as e:  # noqa: BLE001
            status, det = "fail", f"RUNTIME {e}"
        if status != "skip" or det in (
            "should-fail", "stderr case", "unordered chain"
        ):
            continue
        rel = c.replace(REF + "/", "")
        reasons[det] += 1
        names.append((rel, det))
    for r, n in reasons.most_common(40):
        print(f"  {n:4d}  {r}")
    print()
    for rel, det in names[:120]:
        print(f"  {rel}: {det}")


if __name__ == "__main__":
    main()
