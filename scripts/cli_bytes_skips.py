"""Aggregate the byte-channel's skipped cases by family + first verb,
to target the next byte-exactness push.

Usage: python scripts/cli_bytes_skips.py [family-glob ...]
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
    pats = sys.argv[1:] or ["verb-*"]
    spark = get_spark(app="bytes-skips", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cases = sorted(
        d.rstrip("/")
        for pat in pats
        for d in glob.glob(f"{REF}/{pat}/*/")
        if os.path.exists(d + "cmd")
    )
    fam = Counter()
    detail = Counter()
    names = []
    for c in cases:
        try:
            status, det = try_case(spark, c)
        except Exception as e:  # noqa: BLE001
            status, det = "fail", f"RUNTIME {e}"
        if status != "skip" or det != "unordered chain":
            continue
        rel = c.replace(REF + "/", "")
        names.append(rel)
        fam[rel.split("/")[0]] += 1
        with open(os.path.join(c, "cmd")) as f:
            cmd = f.read().split()
        verbs = [
            w for i, w in enumerate(cmd)
            if i and (cmd[i - 1] == "then" or (i == 1 or cmd[i - 1].startswith("-") is False))
        ]
        detail[" ".join(w for w in cmd if not w.startswith("test/"))[:60]] += 1
    print(f"unordered skips: {sum(fam.values())}")
    for f, n in fam.most_common(30):
        print(f"  {n:4d}  {f}")
    print("\n-- sample cases --")
    for n in names[:40]:
        print("  " + n)


if __name__ == "__main__":
    main()
