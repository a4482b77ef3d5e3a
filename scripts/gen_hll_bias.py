"""Generate the HLL++ empirical bias-correction table.

HyperLogLog's raw estimator is biased in the range n <~ 5m (Heule,
Nunkesser & Hall, "HyperLogLog in Practice", EDBT 2013, §5.2). The
published fix is an empirically derived table mapping raw estimate ->
mean bias, interpolated at query time. This script reproduces that
derivation from first principles (the paper's own procedure, not its
constants): for each precision p, simulate NUM_RUNS ideal-hash streams,
snapshot the raw estimator at NUM_KNOTS true cardinalities spanning
[m/4, 6m], and record the mean (raw - true) at each knot.

Writes mlrsketch/sketches/hll_bias.py (generated constants module).

Run: python scripts/gen_hll_bias.py  (~1 min)
"""

from __future__ import annotations

import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PRECISIONS = [8, 9, 10, 11, 12, 13, 14, 15, 16]
NUM_RUNS = 80
NUM_KNOTS = 28
SEED = 20260821


def raw_estimate(registers: np.ndarray, m: int) -> float:
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m / float(np.sum(np.exp2(-registers.astype(np.float64))))


def simulate(p: int) -> tuple[list[float], list[float]]:
    m = 1 << p
    rng = np.random.default_rng(SEED + p)
    # knots: true cardinalities across the biased range (raw <~ 5m),
    # extended to 6m so interpolation covers the boundary
    knots = np.unique(np.linspace(m // 4, 6 * m, NUM_KNOTS).astype(np.int64))
    sums = np.zeros((len(knots),), dtype=np.float64)
    for _ in range(NUM_RUNS):
        regs = np.zeros(m, dtype=np.uint8)
        prev = 0
        for i, n in enumerate(knots):
            h = rng.integers(0, 2**64, size=n - prev, dtype=np.uint64)
            idx = (h >> np.uint64(64 - p)).astype(np.int64)
            w = (h << np.uint64(p)) & np.uint64(0xFFFFFFFFFFFFFFFF)
            wf = np.maximum(w, 1).astype(np.float64)
            # rho = 64 - floor(log2(w)), i.e. leading-zero count of the
            # suffix + 1 — mirrors HyperLogLog._dense_update exactly
            rho = np.where(
                w == 0, 64 - p + 1, (64 - np.floor(np.log2(wf))).astype(np.int64)
            ).astype(np.uint8)
            np.maximum.at(regs, idx, rho)
            prev = n
            sums[i] += raw_estimate(regs, m) - n
    bias = sums / NUM_RUNS
    # table keyed by the MEAN RAW ESTIMATE at each knot (what the
    # estimator observes), not the unobservable true n
    raw_means = knots.astype(np.float64) + bias
    return [round(float(x), 3) for x in raw_means], [round(float(b), 3) for b in bias]


def main():
    lines = [
        '"""HLL++ empirical bias-correction constants (GENERATED).',
        "",
        "Derived by scripts/gen_hll_bias.py following Heule et al. 2013",
        "§5.2's procedure (simulated ideal-hash streams, mean raw-estimate",
        "bias at cardinality knots). Keys: precision p. Values: (raw_knots,",
        "bias) parallel lists; estimate-time linear interpolation of bias",
        "at the observed raw estimate.",
        '"""',
        "",
        "RAW_KNOTS = {}",
        "BIAS = {}",
        "",
    ]
    for p in PRECISIONS:
        raws, bias = simulate(p)
        lines.append(f"RAW_KNOTS[{p}] = {raws}")
        lines.append(f"BIAS[{p}] = {bias}")
        mid = len(bias) // 3
        print(f"p={p}: {len(raws)} knots, "
              f"mid-range bias {100 * abs(bias[mid]) / raws[mid]:.2f}% of raw")
    with open(os.path.join(REPO, "mlrsketch", "sketches", "hll_bias.py"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote mlrsketch/sketches/hll_bias.py")


if __name__ == "__main__":
    main()
