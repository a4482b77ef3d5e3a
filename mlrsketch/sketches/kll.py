"""KLL quantile sketch (Karnin, Lang, Liberty, FOCS 2016).

Second quantile engine beside the t-digest (the north rule names both):
uniform additive rank-error guarantee eps ~ O(1/k), vs t-digest's
relative accuracy concentrated at the tails. Replaces the same exact
PercentileKeeper in Miller (reference: /root/reference/pkg/
transformers/utils/percentile_keeper.go:13-83).

Structure: a hierarchy of compactors; level h holds items of weight 2^h.
When level h overflows its capacity k*c^(depth-1-h) (c = 2/3), the level
is sorted and alternate elements (random even/odd offset) are promoted
to level h+1. Published guarantee: additive rank error eps with constant
probability for k = O((1/eps) * sqrt(log(1/delta))), bounded under
arbitrary merges (mergeability proven in the paper). `error_bound()`
reports Apache DataSketches' empirical single-sided 99% bound,
2.296/k^0.9723 (1.33% at k=200).

The compaction coin is a counter-seeded splitmix64, so runs are
deterministic while each offset choice stays equiprobable. The counter
starts from a hash of the state's first input value: partial states
built over different partitions flip independent coins. Were every
state to start at 0, all partitions would flip the same coin sequence
and their compaction errors would add up instead of cancelling.
"""

from __future__ import annotations

import struct

import numpy as np

from mlrsketch.sketches.hashing import splitmix64

_MAGIC = b"KLL1"
_C = 2.0 / 3.0


class KLL:
    __slots__ = ("k", "levels", "n", "_coin_ctr")

    def __init__(self, k: int = 200):
        self.k = k
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0
        self._coin_ctr = 0

    def _capacity(self, h: int) -> int:
        depth = len(self.levels)
        return max(2, int(np.ceil(self.k * _C ** (depth - 1 - h))))

    def _coin(self) -> int:
        self._coin_ctr += 1
        return (
            int(splitmix64(np.array([self._coin_ctr + 0x5EED], dtype=np.uint64))[0]) & 1
        )

    def _compact(self) -> None:
        while True:
            for h in range(len(self.levels)):
                if self.levels[h].size > self._capacity(h):
                    buf = np.sort(self.levels[h], kind="stable")
                    off = self._coin()
                    promoted = buf[off::2]
                    self.levels[h] = np.empty(0, dtype=np.float64)
                    if h + 1 == len(self.levels):
                        self.levels.append(np.empty(0, dtype=np.float64))
                    self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])
                    break
            else:
                return

    # -- update ------------------------------------------------------------
    def update_batch(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return
        if self.n == 0:
            # 31 bits: the counter is serialized as a uint32
            self._coin_ctr = int(splitmix64(v[:1].view(np.uint64))[0] >> np.uint64(33))
        # feed in capacity-sized chunks so level 0 never grows unboundedly
        cap = max(self._capacity(0), 8)
        for i in range(0, v.size, cap):
            self.levels[0] = np.concatenate([self.levels[0], v[i : i + cap]])
            self.n += int(min(cap, v.size - i))
            self._compact()

    # -- merge -------------------------------------------------------------
    def merge(self, other: "KLL") -> "KLL":
        if other.k != self.k:
            raise ValueError("KLL k mismatch")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for h, buf in enumerate(other.levels):
            if buf.size:
                self.levels[h] = np.concatenate([self.levels[h], buf])
        self.n += other.n
        self._compact()
        return self

    # -- query -------------------------------------------------------------
    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for h, buf in enumerate(self.levels):
            if buf.size:
                items.append(buf)
                weights.append(np.full(buf.size, 2**h, dtype=np.float64))
        if not items:
            return np.empty(0), np.empty(0)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    def quantile(self, q: float) -> float:
        it, wt = self._weighted_items()
        if it.size == 0:
            return float("nan")
        cum = np.cumsum(wt)
        target = q * cum[-1]
        j = int(np.searchsorted(cum, target, side="left"))
        return float(it[min(j, it.size - 1)])

    def rank(self, x: float) -> float:
        """Estimated normalized rank of x."""
        it, wt = self._weighted_items()
        if it.size == 0:
            return float("nan")
        j = int(np.searchsorted(it, x, side="right"))
        return float(wt[:j].sum() / wt.sum())

    def error_bound(self) -> float:
        """Normalized rank-error bound at 99% confidence, single-sided:
        Apache DataSketches' empirical fit 2.296/k^0.9723 for the same
        compaction scheme (0.0133 at k=200; the paper gives eps = O(1/k)
        up to sqrt(log 1/delta) factors)."""
        return 2.296 / self.k**0.9723

    # -- serde -------------------------------------------------------------
    def serialize(self) -> bytes:
        head = _MAGIC + struct.pack("<IqII", self.k, self.n, len(self.levels), self._coin_ctr)
        parts = [head]
        for buf in self.levels:
            parts.append(struct.pack("<I", buf.size))
            parts.append(buf.tobytes())
        return b"".join(parts)

    @classmethod
    def deserialize(cls, data: bytes) -> "KLL":
        if data[:4] != _MAGIC:
            raise ValueError("not a KLL state")
        k, n, n_levels, ctr = struct.unpack_from("<IqII", data, 4)
        sk = cls(k=k)
        sk.n = n
        sk._coin_ctr = ctr
        sk.levels = []
        off = 4 + struct.calcsize("<IqII")
        for _ in range(n_levels):
            (sz,) = struct.unpack_from("<I", data, off)
            off += 4
            sk.levels.append(np.frombuffer(data[off : off + 8 * sz], dtype=np.float64).copy())
            off += 8 * sz
        return sk
