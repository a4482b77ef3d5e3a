"""Heavy hitters: one mergeable SpaceSaving summary keyed by the value.

Replaces Miller's exact `most-frequent`/`least-frequent` (reference:
pkg/transformers/most_or_least_frequent.go:28,216-295 — an in-memory map
of EVERY distinct value combination) and the `mode` accumulator
(stats1_accumulators.go:367-445) with bounded state.

Algorithm: SpaceSaving (Metwally et al. 2005) with the merge of Agarwal
et al., "Mergeable Summaries" (PODS 2012), in its SpaceSaving form. The
state is (capacity, N, trimmed, {value: count}). A summary's `floor` is
its smallest kept count once trimmed, 0 before: an upper bound on the
true count of every value it does not keep. Merging gives each value of
the union `a.get(v, a.floor) + b.get(v, b.floor)` and keeps the
`capacity` largest counts, ties to the smaller value. An update folds
the batch's exact counts through the same merge.

Guarantee (deterministic, no hashing): true <= est <= true + N/capacity
for every value, and every value with a true count above N/capacity is
kept. While the union of everything seen holds at most `capacity`
values nothing is ever dropped: the counts are exact and `trimmed`
stays false — the same "the sketch IS the exact answer below its
capacity" contract as the theta sketch.
"""

from __future__ import annotations

import heapq
import math
import struct
from collections import Counter
from itertools import accumulate

import numpy as np

_MAGIC = b"TKSS"
_RETIRED = {b"TOPK", b"TPK2", b"TPK3"}  # Count-Min + candidates formats
# capacity, N, trimmed, entries, byte width of the lengths, of the counts
_HEAD = "<IqBIBB"


def _narrow(xs: np.ndarray) -> np.ndarray:
    """`xs` (non-negative) as the narrowest little-endian unsigned type."""
    return xs.astype(f"<u{np.min_scalar_type(int(xs.max(initial=0))).itemsize}")


def _largest(counts: dict[str, int], k: int) -> dict[str, int]:
    """The `k` largest counts of `counts`, ties to the smaller value."""
    cnt = np.fromiter(counts.values(), np.int64, len(counts))
    cut = int(np.partition(cnt, len(cnt) - k)[len(cnt) - k])  # k-th largest
    keep = {v: c for v, c in counts.items() if c > cut}
    ties = heapq.nsmallest(k - len(keep), (v for v, c in counts.items() if c == cut))
    keep.update(dict.fromkeys(ties, cut))
    return keep


class TopKSketch:
    """Mergeable SpaceSaving summary for heavy hitters (`most-frequent`).

    `capacity` values are kept. `width` sizes the summary for an
    overcount of at most e/width * N (the Count-Min bound it replaced),
    so the kept size is max(capacity, ceil(width/e)); `depth` is
    accepted for the same callers and unused."""

    __slots__ = ("capacity", "total", "trimmed", "counts")

    def __init__(self, depth: int = 5, width: int | None = None, capacity: int = 1024):
        self.capacity = max(capacity, math.ceil(width / math.e)) if width else capacity
        self.total = 0
        self.trimmed = False
        self.counts: dict[str, int] = {}

    def floor(self) -> int:
        """Upper bound on the true count of any value not kept."""
        return min(self.counts.values()) if self.trimmed else 0

    def update_values(self, values, counts=None) -> None:
        """Fold a batch of values (repeats allowed), each weighted by
        `counts` (default 1), as one exact summary."""
        values = values.tolist() if isinstance(values, np.ndarray) else list(values)
        if counts is None:
            batch = Counter(values)
        else:
            counts = counts.tolist() if isinstance(counts, np.ndarray) else list(counts)
            batch = dict(zip(values, counts))
            if len(batch) < len(values):
                batch = Counter()
                for v, c in zip(values, counts):
                    batch[v] += c
        self._fold(batch, sum(batch.values()), False, 0)

    def update_hashed(self, values, hashes, counts=None) -> None:
        """`update_values`; `hashes` is ignored (the summary is keyed by value)."""
        self.update_values(values, counts)

    def merge(self, other: "TopKSketch") -> "TopKSketch":
        # the smaller capacity keeps N/capacity sound for both inputs
        self.capacity = min(self.capacity, other.capacity)
        self._fold(other.counts, other.total, other.trimmed, other.floor())
        return self

    def _fold(self, counts: dict[str, int], total: int, trimmed: bool, floor: int) -> None:
        mine, own_floor = self.counts, self.floor()
        merged = {v: c + floor for v, c in mine.items()} if floor else dict(mine)
        for v, c in counts.items():
            merged[v] = mine.get(v, own_floor) + c
        self.total += total
        self.trimmed = self.trimmed or trimmed or len(merged) > self.capacity
        self.counts = _largest(merged, self.capacity) if len(merged) > self.capacity else merged

    def top(self, k: int) -> list[tuple[str, int]]:
        """The k largest (value, count), count desc then value asc: exact
        counts while untrimmed, upper bounds within N/capacity after."""
        return heapq.nsmallest(k, self.counts.items(), key=lambda t: (-t[1], t[0]))

    def serialize(self) -> bytes:
        """Header, then for the entries sorted by value: their lengths in
        characters and their counts (each column in its narrowest
        unsigned width), then the values as one UTF-8 string."""
        vals = sorted(self.counts)
        n = len(vals)
        lens = _narrow(np.fromiter(map(len, vals), np.int64, n))
        cnts = _narrow(np.fromiter(map(self.counts.__getitem__, vals), np.int64, n))
        head = struct.pack(_HEAD, self.capacity, self.total, self.trimmed, n,
                           lens.itemsize, cnts.itemsize)
        return b"".join([_MAGIC, head, lens.tobytes(), cnts.tobytes(),
                         "".join(vals).encode("utf-8")])

    @classmethod
    def deserialize(cls, data: bytes) -> "TopKSketch":
        magic = bytes(data[:4])
        if magic in _RETIRED:
            raise ValueError(
                f"TopK state in the retired Count-Min format {magic!r}; recompute it"
            )
        if magic != _MAGIC:
            raise ValueError(f"not a TopK state (magic {magic!r})")
        capacity, total, trimmed, n, lw, cw = struct.unpack_from(_HEAD, data, 4)
        off = 4 + struct.calcsize(_HEAD)
        lens = np.frombuffer(data, f"<u{lw}", n, off).tolist()
        cnts = np.frombuffer(data, f"<u{cw}", n, off + lw * n).tolist()
        text = data[off + (lw + cw) * n :].decode("utf-8")
        bounds = list(accumulate(lens, initial=0))
        sk = cls(capacity=capacity)
        sk.total, sk.trimmed = total, bool(trimmed)
        sk.counts = dict(zip((text[i:j] for i, j in zip(bounds, bounds[1:])), cnts))
        return sk
