"""scripts/validate_bounds.py rewrites only the generated blocks of
VALIDATION.md; the hand-written notes between them survive a rerun.
Runs without Spark: the splice is plain text."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import validate_bounds as vb  # noqa: E402


def _doc() -> str:
    with open(os.path.join(REPO, "VALIDATION.md")) as f:
        return f.read()


def test_splicing_current_tables_reproduces_validation_md():
    doc = _doc()
    blocks = vb.generated_blocks(doc)
    assert set(blocks) == {"input", "hll", "quantiles", "cms", "bloom"}
    assert vb.splice(doc, blocks) == doc


def test_new_tables_keep_hand_written_sections():
    doc = _doc()
    fresh = vb.splice(doc, {name: [f"new {name}"] for name in vb.generated_blocks(doc)})
    assert vb.generated_blocks(fresh) == {
        name: [f"new {name}"] for name in ("input", "hll", "quantiles", "cms", "bloom")
    }
    assert vb._BLOCK.sub("", fresh) == vb._BLOCK.sub("", doc)
    assert "### Sparse/list mode" in fresh and "### Mid-range bias correction" in fresh
