"""Local replica of the driver's Spark-vs-DuckDB correctness compare.

For each queries() entry with an oracle_sql(): run both at the given sf
dir, compare row count, column names, and an order-insensitive value
hash (columns sorted by name, rows sorted, values normalized).
Usable standalone (python tests/oracle_compare.py [names...]) and from
pytest.
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime

import duckdb


def _norm(v):
    # STRICT normalization (round 4): floats and ints must not collapse
    # ("655.0" != "655") — the driver's canonicalizer distinguishes
    # dtypes, and the round-3 hash-reds were exactly this class of
    # mismatch slipping through a laxer local compare.
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (datetime, date)):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canonical(rows: list[dict]) -> tuple[int, list[str], int]:
    if not rows:
        return 0, [], 0
    cols = sorted(rows[0].keys())
    lines = sorted("\x01".join(_norm(r[c]) for c in cols) for r in rows)
    return len(rows), cols, hash("\n".join(lines))


def compare(spark, sf_dir: str, names: list[str] | None = None, verbose: bool = True):
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    from mlrsketch.session import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    results = {}
    for name, fn in qs.items():
        if names and name not in names:
            continue
        if name not in oracles:
            try:
                n = fn(spark, sf_dir).count()
                results[name] = ("rows-only", n >= 0, f"{n} rows")
            except Exception as e:  # noqa: BLE001
                results[name] = ("rows-only", False, f"ERROR {e}")
            if verbose:
                print(f"{name:32s} {results[name]}")
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            orows = con.execute(oracles[name]).fetch_arrow_table().to_pylist()
            sn, scols, shash = canonical(srows)
            on, ocols, ohash = canonical(orows)
            ok = (sn, scols, shash) == (on, ocols, ohash)
            detail = f"rows {sn}/{on} cols {scols == ocols} hash {shash == ohash}"
            if not ok and scols == ocols and sn == on:
                # find first differing row for debugging
                sset = sorted("\x01".join(_norm(r[c]) for c in scols) for r in srows)
                oset = sorted("\x01".join(_norm(r[c]) for c in ocols) for r in orows)
                diffs = [(a, b) for a, b in zip(sset, oset) if a != b][:2]
                detail += f" first_diff={diffs}"
            elif not ok:
                detail += f" spark_cols={scols} oracle_cols={ocols}"
            results[name] = ("oracle", ok, detail)
        except Exception as e:  # noqa: BLE001
            results[name] = ("oracle", False, f"ERROR {type(e).__name__}: {e}")
        if verbose:
            kind, ok, detail = results[name]
            print(f"{name:32s} {'PASS' if ok else 'FAIL':4s} {detail}"[:240])
    return results


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from mlrsketch.session import get_spark

    spark = get_spark(cores=16, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    names = sys.argv[1:] or None
    res = compare(spark, "/root/testdata/sf0.01", names)
    failed = [n for n, (_, ok, _) in res.items() if not ok]
    print(f"\n{len(res) - len(failed)}/{len(res)} passed; failed: {failed}")
    spark.stop()
    sys.exit(1 if failed else 0)
