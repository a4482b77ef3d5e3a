"""CLI byte-exactness: the full `python -m mlrsketch` pipeline
(mlrcli.execute + writers.render) must reproduce the reference's expout
BYTES verbatim — a strictly stronger check than the record-level golden
compare (it also pins header emission, schema-change blocks, column
alignment, quoting, float formatting, and key order).

Only order-preserving chains are byte-comparable (emission order is in
the bytes); unsupported/unordered/stderr cases count as skips. A pass
floor guards regressions. Known non-byte-exact classes (all still green
under the record-level compare):
  - per-record key order through non-pristine verbs (the union-schema
    carrier keeps one key order per column set; e.g. tac over het csv)
  - JSON null values (null == absent in the flat carrier)
  - hex/binary int literals in data ("0x1000" scans int in the
    reference's arithmetic, string here)
"""

from __future__ import annotations

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from cli_bytes_sweep import try_case  # noqa: E402

REF = "/root/reference/test/cases"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference checkout not present"
)

# measured by scripts/cli_bytes_sweep.py; raise as coverage widens
MIN_PASS_IO = 503  # round 5: measured 503/518 (incl. --jvquoteall, ${MLR} token)


def _sweep(spark, pats):
    cases = sorted(
        d.rstrip("/")
        for pat in pats
        for d in glob.glob(f"{REF}/{pat}/*/")
        if os.path.exists(d + "cmd")
    )
    n_pass, fails = 0, []
    for c in cases:
        try:
            status, detail = try_case(spark, c)
        except Exception as e:  # noqa: BLE001
            status, detail = "fail", f"RUNTIME {type(e).__name__}: {e}"
        if status == "pass":
            n_pass += 1
        elif status == "fail":
            fails.append((c.replace(REF + "/", ""), detail))
    return n_pass, fails


def test_cli_bytes_io(spark):
    n_pass, fails = _sweep(spark, ["io-*"])
    assert n_pass >= MIN_PASS_IO, (
        f"only {n_pass} io cases byte-exact (floor {MIN_PASS_IO}); "
        f"first fails: {fails[:5]}"
    )


# round 3: the verb-* byte channel closed its fail list (45 -> 0) and
# then its unordered-skip list (337 -> ~2): void restoration through
# the flat carrier, reference uniq -x/-a key semantics, top void
# padding, per-value Miller typing for step/describe/summary, stats2
# -s iterative emission + field order + absent-vs-void accumulators,
# reorder -r anchors, error-as-value marks, the full join emission
# order (unsorted right-driven AND the sort-merge bucket-keeper
# replay), reshape w2l/l2w emission, unlashed count-distinct order.
# Zero byte MISMATCHES is the invariant; skips are should-fail/stderr
# cases and a handful of unsupported io flag combos.
# round 5: measured 912 HONESTLY — split/tee postcmp cases write real
# files into a scratch mirror (never the reference tree), reshape -r
# comma-regex and commented-TSV join drained. The verb+io channel's
# ONLY remaining non-(should-fail|stderr) skip is verb-sparkline/0003
# (`mlr sparkline --help`): help text is verbatim reference
# documentation, a PERMANENT justified skip.
MIN_PASS_VERB = 912


def test_cli_bytes_verb(spark):
    n_pass, fails = _sweep(spark, ["verb-*"])
    assert not fails, (
        f"{len(fails)} verb byte mismatches (passed {n_pass}): {fails[:8]}"
    )
    assert n_pass >= MIN_PASS_VERB, (
        f"only {n_pass} verb cases byte-exact (floor {MIN_PASS_VERB})"
    )
