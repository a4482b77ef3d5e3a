"""Render one golden case through the CLI byte path and unified-diff it
against expout.

Usage: python scripts/cli_bytes_case.py verb-repeat/0001 [more...]
"""

from __future__ import annotations

import difflib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from mlrsketch.mlrcli import Unsupported, execute  # noqa: E402
from mlrsketch.writers import render  # noqa: E402
from mlrsketch.session import get_spark  # noqa: E402

REF = "/root/reference/test/cases"


def main() -> None:
    spark = get_spark(app="bytes-case", cores=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    for arg in sys.argv[1:]:
        case_dir = os.path.join(REF, arg)
        print(f"=== {arg}")
        with open(os.path.join(case_dir, "cmd")) as f:
            cmd = f.read().strip()
        cmd = cmd.replace("${CASEDIR}", case_dir).replace("./" + case_dir, case_dir)
        env = {"MLR_OFMT": "%.8f"}
        envf = os.path.join(case_dir, "env")
        if os.path.exists(envf):
            for line in open(envf):
                k, _, v = line.strip().partition("=")
                if k:
                    env[k] = v
        print("cmd:", cmd)
        try:
            res = execute(spark, cmd, env=env)
        except Unsupported as e:
            print("UNSUPPORTED:", e)
            continue
        with open(os.path.join(case_dir, "expout"), "rb") as f:
            exp = f.read().decode("utf-8", "replace")
        if res.text is not None:
            got = res.text
        else:
            if not res.ordered:
                print("SKIP: unordered chain")
                continue
            try:
                got = render(
                    (res.render_records if res.render_records is not None
                     else res.records) or [],
                    res.ofmt, ofs=res.ofs, flatsep=res.flatsep,
                    headerless=res.headerless_out, quoted_dkvp=res.quoted_dkvp,
                    lite=res.olite, auto_unflatten=not res.no_auto_unflatten,
                    float_ofmt=res.float_ofmt,
                    **res.render_opts,
                )
            except ValueError as e:
                print("SKIP writer:", e)
                continue
        if got == exp:
            print("PASS")
            continue
        print(f"FAIL ({len(got)}b vs {len(exp)}b)")
        diff = difflib.unified_diff(
            exp.splitlines(keepends=True), got.splitlines(keepends=True),
            "expout", "got",
        )
        sys.stdout.writelines(list(diff)[:80])


if __name__ == "__main__":
    main()
