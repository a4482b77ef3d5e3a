"""Negative-parity replay: the reference marks ~300 dsl-* golden cases
`should-fail` (mlr exits nonzero: syntax errors, type errors,
context-violating statements). This test runs each through our engine
and tallies whether we REJECT it too.

Classification per case:
 - reject  — our parser/interpreter raised (DslSyntaxError,
             MlrRuntimeError, or any execution error): matching the
             reference's nonzero exit. This is the parity signal.
 - lenient — we ran it and produced output: our engine is more
             permissive than the reference here (e.g. we model type
             errors as (error) values instead of aborting).
 - other   — outside the harness surface (unsupported flags etc.).

A floor guards the reject rate; `lenient` is reported, not failed —
Miller itself converted many aborts to (error) values across 6.x, and
error-value semantics are already pinned by the positive corpus.
"""

from __future__ import annotations

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))

from mlrsketch.mlrcli import Unsupported, run_case  # noqa: E402
from test_golden_reference import to_df  # noqa: E402

REF = "/root/reference/test/cases"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference checkout not present"
)

MIN_REJECT = 310


def test_should_fail_cases_are_rejected(spark):
    cases = sorted(
        os.path.dirname(p)
        for p in glob.glob(f"{REF}/dsl-*/*/should-fail")
    )
    assert cases, "no should-fail cases found"
    reject, lenient, other = 0, [], []

    def one(c):
        try:
            run_case(spark, c, to_df, allow_should_fail=True)
        except Unsupported as e:
            msg = str(e)
            if msg.startswith(("dsl:", "dsl runtime:", "put -v ast:",
                               "no input file")):
                # missing input files: the reference exits nonzero on
                # them too — equivalent rejection
                return "reject"
            return "other"
        except Exception:  # noqa: BLE001 — any hard error = rejection
            return "reject"
        return "lenient"

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(8) as pool:
        for c, status in zip(cases, pool.map(one, cases)):
            if status == "reject":
                reject += 1
            elif status == "lenient":
                lenient.append(c)
            else:
                other.append(c)

    sys.stderr.write(
        f"\nshould-fail parity: reject={reject} lenient={len(lenient)} "
        f"other={len(other)} of {len(cases)}\n"
    )
    assert reject >= MIN_REJECT, (
        f"only {reject} of {len(cases)} should-fail cases rejected "
        f"(floor {MIN_REJECT}); lenient examples: {lenient[:5]}"
    )
