"""Replicates the driver's correctness gate: every queries() entry with
an oracle_sql() must match DuckDB at sf0.001 (sf0.01 takes minutes; the
standalone `python tests/oracle_compare.py` runs the full sf0.01 gate)."""

from __future__ import annotations

from tests.oracle_compare import compare  # noqa: E402


def test_entry_smoke(spark):
    import __spark_entry__ as entry

    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns  # stable schema

    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 60


def test_oracle_parity_small(spark):
    results = compare(spark, "/root/testdata/sf0.001", verbose=False)
    failed = {n: d for n, (_, ok, d) in results.items() if not ok}
    assert not failed, failed
