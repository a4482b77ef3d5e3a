"""Answer checks: exact references from DuckDB over the same parquet, and
the comparisons that turn an answer into pass/fail plus an error ratio.

Every check returns a ``Verdict``. ``ratios`` holds |estimate - exact| /
the sketch's own published bound, one per estimate; a ratio above the
bound's limit fails the answer. Standard-error bounds (HLL, theta) fail
above ``STDERR_LIMIT`` standard errors; envelope bounds (KLL and
t-digest rank error, Count-Min eps*N) fail above 1.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

STDERR_LIMIT = 4.0
REL_TOL = 1e-9


@dataclass
class Verdict:
    ok: bool
    detail: str = ""
    ratios: list[float] = field(default_factory=list)
    recall: list[float] = field(default_factory=list)


def fail(detail: str) -> Verdict:
    return Verdict(False, detail)


def combine(parts: list[Verdict]) -> Verdict:
    bad = [p.detail for p in parts if not p.ok]
    return Verdict(not bad, "; ".join(bad)[:400],
                   [r for p in parts for r in p.ratios], [r for p in parts for r in p.recall])


class Oracle:
    """DuckDB over the generated parquet directories (one view per table)."""

    def __init__(self, tables: dict[str, str], work: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
        for name, path in tables.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")

    def df(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# exact results
# ---------------------------------------------------------------------------


def frames_match(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
                 rtol: float = REL_TOL) -> Verdict:
    """Value comparison of two result sets, order-insensitive on `keys`;
    numbers compare within `rtol`, everything else exactly."""
    cols = list(want.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return fail(f"missing columns {missing}")
    if len(got) != len(want):
        return fail(f"{len(got)} rows, expected {len(want)}")
    g = got[cols].sort_values(keys, kind="stable").reset_index(drop=True)
    w = want[cols].sort_values(keys, kind="stable").reset_index(drop=True)
    for c in cols:
        gm, wm = g[c].isna().to_numpy(), w[c].isna().to_numpy()
        if pd.api.types.is_numeric_dtype(w[c]) or pd.api.types.is_bool_dtype(w[c]):
            gv = pd.to_numeric(g[c], errors="coerce").to_numpy(dtype=np.float64)
            wv = pd.to_numeric(w[c], errors="coerce").to_numpy(dtype=np.float64)
            bad = (gm != wm) | (~wm & ~np.isclose(gv, wv, rtol=rtol, atol=rtol, equal_nan=True))
        else:
            bad = (gm != wm) | (~wm & (g[c].astype(str).to_numpy() != w[c].astype(str).to_numpy()))
        if bad.any():
            i = int(np.argmax(bad))
            return fail(f"{c} row {i}: {g[c].iloc[i]!r} vs {w[c].iloc[i]!r} ({int(bad.sum())} differ)")
    return Verdict(True)


# ---------------------------------------------------------------------------
# sketch estimates
# ---------------------------------------------------------------------------


def distinct_ratio(est: float, exact: int, rel_stderr: float, what: str) -> Verdict:
    """HLL / theta: |est - exact| over the sketch's relative standard
    error times exact. A zero bound means exact mode: must be equal."""
    if rel_stderr == 0:
        ok = round(est) == exact
        return Verdict(ok, "" if ok else f"{what}: exact-mode {est} != {exact}", [0.0 if ok else math.inf])
    r = abs(est - exact) / (rel_stderr * max(exact, 1))
    return Verdict(r <= STDERR_LIMIT, "" if r <= STDERR_LIMIT else f"{what}: {est:.1f} vs {exact} ({r:.2f} se)", [r])


def rank_ratio(est: float, q: float, sorted_vals: np.ndarray, bound: float, what: str) -> Verdict:
    """KLL / t-digest: distance from q to the exact normalized rank
    interval of the estimate, over the sketch's rank-error bound."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
    r = err / bound
    return Verdict(r <= 1.0, "" if r <= 1.0 else f"{what}: rank err {err:.4f} > {bound:.4f}", [r])


def topk_ratio(values, ests, true_counts: dict, total: int, width: int, k: int, what: str) -> Verdict:
    """Count-Min top-k: every estimate in [true, true + e/width * N], and
    every returned item's true count within e/width * N of the true k-th."""
    eps_n = math.e / width * total
    kth = sorted(true_counts.values(), reverse=True)[min(k, len(true_counts)) - 1]
    ratios, bad = [], []
    if len(values) != min(k, len(true_counts)):
        bad.append(f"{len(values)} items, expected {k}")
    for v, e in zip(values, ests):
        t = true_counts.get(v, 0)
        if e < t:
            bad.append(f"{v} undercount {e} < {t}")
        r = max((e - t) / eps_n, (kth - t) / eps_n, 0.0)
        ratios.append(r)
        if r > 1.0:
            bad.append(f"{v}: est {e} true {t} kth {kth}")
    return Verdict(not bad, f"{what}: " + "; ".join(bad[:3]) if bad else "", ratios)


def perturb_frame(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """A deliberately wrong copy: the first numeric non-key column of the
    first row moved far off (used by the checker self-test)."""
    out = df.copy()
    for c in out.columns:
        if c not in keys and pd.api.types.is_numeric_dtype(out[c]) and len(out):
            v = out.at[0, c]
            out[c] = out[c].astype("float64")
            out.at[0, c] = (0.0 if pd.isna(v) else float(v)) * 3.0 + 1e6
            return out
    raise ValueError("no numeric column to perturb")
