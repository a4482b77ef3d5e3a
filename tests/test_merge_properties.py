"""Property tests: merge associativity + partition invariance (north rule).

For HLL/theta/Bloom the merged STATE must be bit-identical regardless of
how the input is split or the merges are parenthesized (register-max,
KMV union and bit-or are associative+commutative). For t-digest/KLL,
internal layout depends on merge order, so the property is estimate
stability: every split's quantile estimates stay within the error bound
of the exact answer. The SpaceSaving top-k summary is bit-identical
while untrimmed and keeps its deterministic N/capacity bound after.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mlrsketch.sketches import KLL, BloomFilter, HyperLogLog, TDigest, TopKSketch
from mlrsketch.sketches.hashing import splitmix64


def _hashes(n: int) -> np.ndarray:
    return splitmix64(np.arange(n, dtype=np.uint64)).view(np.int64)


def _random_split(arr: np.ndarray, seed: int, k: int) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    assignment = rng.integers(0, k, arr.shape[0])
    return [arr[assignment == i] for i in range(k)]


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 10_000), k=st.integers(2, 8))
def test_hll_partition_invariance(seed, k):
    data = _hashes(5_000)
    whole = HyperLogLog(p=8)
    whole.update_hashes(data)
    parts = []
    for chunk in _random_split(data, seed, k):
        h = HyperLogLog(p=8)
        h.update_hashes(chunk)
        parts.append(h)
    # left fold
    left = parts[0]
    for p in parts[1:]:
        left = left.merge(p)
    assert left.serialize() == whole.serialize()


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_hll_associativity(seed):
    data = _hashes(3_000)
    a_d, b_d, c_d = _random_split(data, seed, 3)

    def mk(chunk):
        h = HyperLogLog(p=8)
        h.update_hashes(chunk)
        return h

    ab_c = mk(a_d).merge(mk(b_d)).merge(mk(c_d))
    bc = mk(b_d).merge(mk(c_d))
    a_bc = mk(a_d).merge(bc)
    assert ab_c.serialize() == a_bc.serialize()


def _tokens(n: int, seed: int) -> np.ndarray:
    """n Zipf-distributed tokens (a few heavy, a long tail of onesies)."""
    return np.array([f"t{v}" for v in np.random.default_rng(seed).zipf(1.3, n)], dtype=object)


def _topk_merge_tree(chunks: list[np.ndarray], capacity: int, seed: int) -> TopKSketch:
    """One summary per chunk (each fed in two batches, through serde),
    folded in a random merge tree."""
    rng = np.random.default_rng(seed)
    parts = []
    for chunk in chunks:
        sk = TopKSketch(capacity=capacity)
        half = len(chunk) // 2
        sk.update_values(chunk[:half])
        sk.update_values(chunk[half:])
        parts.append(TopKSketch.deserialize(sk.serialize()))
    while len(parts) > 1:
        i, j = sorted(rng.choice(len(parts), 2, replace=False))
        b, a = parts.pop(j), parts.pop(i)
        parts.append(a.merge(b))
    return parts[0]


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 10_000), k=st.integers(2, 8))
def test_topk_untrimmed_merge_is_bit_identical(seed, k):
    data = _tokens(3_000, seed)
    whole = TopKSketch(capacity=4_096)
    whole.update_values(data)
    assert not whole.trimmed
    merged = _topk_merge_tree(_random_split(data, seed, k), 4_096, seed)
    assert merged.serialize() == whole.serialize()


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10_000), k=st.integers(1, 8), capacity=st.integers(4, 64))
def test_topk_trimmed_bound_under_splits_and_merge_orders(seed, k, capacity):
    data = _tokens(3_000, seed)
    vals, cnts = np.unique(data, return_counts=True)
    truth = dict(zip(vals.tolist(), cnts.tolist()))
    merged = _topk_merge_tree(_random_split(data, seed, k), capacity, seed)
    n = len(data)
    assert merged.trimmed and merged.total == n
    for v, est in merged.counts.items():
        assert truth[v] <= est <= truth[v] + n / capacity, (v, est, truth[v])
    for v, c in truth.items():
        if c > n / capacity:
            assert v in merged.counts, (v, c)


@settings(max_examples=15, deadline=None)
@given(seed=st.integers(0, 10_000), k=st.integers(2, 6))
def test_bloom_partition_invariance(seed, k):
    data = _hashes(2_000)
    whole = BloomFilter(n_bits=1 << 12, n_hashes=5)
    whole.add_hashes(data)
    merged = None
    for chunk in _random_split(data, seed, k):
        b = BloomFilter(n_bits=1 << 12, n_hashes=5)
        b.add_hashes(chunk)
        merged = b if merged is None else merged.merge(b)
    assert merged.serialize() == whole.serialize()


@settings(max_examples=10, deadline=None)
@given(seed=st.integers(0, 10_000), k=st.integers(2, 8))
def test_tdigest_estimate_stability_under_splits(seed, k):
    rng = np.random.default_rng(123)
    data = rng.lognormal(3, 1, 30_000)
    s = np.sort(data)
    merged = None
    for chunk in _random_split(data, seed, k):
        td = TDigest(delta=200)
        td.update_batch(chunk)
        merged = td if merged is None else merged.merge(td)
    for q in (0.1, 0.5, 0.9):
        rank_err = abs(np.searchsorted(s, merged.quantile(q)) / data.size - q)
        assert rank_err <= merged.rank_error_bound(q) + 0.01, (seed, k, q, rank_err)


@settings(max_examples=10, deadline=None)
@given(seed=st.integers(0, 10_000), k=st.integers(2, 8))
def test_kll_estimate_stability_under_splits(seed, k):
    rng = np.random.default_rng(123)
    data = rng.normal(0, 1, 30_000)
    s = np.sort(data)
    merged = None
    for chunk in _random_split(data, seed, k):
        kl = KLL(k=256)
        kl.update_batch(chunk)
        merged = kl if merged is None else merged.merge(kl)
    for q in (0.25, 0.5, 0.75):
        rank_err = abs(np.searchsorted(s, merged.quantile(q)) / data.size - q)
        assert rank_err <= merged.error_bound() + 0.01, (seed, k, q, rank_err)


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 10_000), k=st.integers(2, 8))
def test_theta_partition_invariance(seed, k):
    from mlrsketch.sketches import ThetaSketch

    # 5k distinct into a k=256 sketch: deep in estimation mode, so the
    # trim threshold is exercised on every merge. The state invariant
    # (retained = ALL inputs < theta; final theta order-independent)
    # makes the merged state bit-identical for ANY split.
    data = _hashes(5_000)
    whole = ThetaSketch(k=256)
    whole.update_hashes(data)
    parts = []
    for chunk in _random_split(data, seed, k):
        t = ThetaSketch(k=256)
        t.update_hashes(chunk)
        parts.append(t)
    left = parts[0]
    for p in parts[1:]:
        left = left.merge(p)
    assert left.serialize() == whole.serialize()


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_theta_associativity_and_idempotence(seed):
    from mlrsketch.sketches import ThetaSketch, theta_union

    data = _hashes(3_000)
    a_d, b_d, c_d = _random_split(data, seed, 3)

    def mk(chunk):
        t = ThetaSketch(k=128)
        t.update_hashes(chunk)
        return t

    ab_c = theta_union(theta_union(mk(a_d), mk(b_d)), mk(c_d))
    a_bc = theta_union(mk(a_d), theta_union(mk(b_d), mk(c_d)))
    assert ab_c.serialize() == a_bc.serialize()
    assert theta_union(ab_c, ab_c).serialize() == ab_c.serialize()  # idempotent


# -- HLL sparse/list mode (round 4): exact below threshold, associative
# across the sparse->dense promotion boundary -------------------------------


def test_hll_sparse_exact_below_threshold():
    h = HyperLogLog(p=12)  # sparse_max = 1024
    data = _hashes(1000)
    h.update_hashes(data)
    assert h.is_sparse
    assert h.estimate() == 1000.0  # exact, not approximate
    assert h.error_bound() == 0.0


def test_hll_sparse_promotes_and_matches_dense():
    data = _hashes(3000)
    promoted = HyperLogLog(p=12)  # promotes at 1024 entries
    promoted.update_hashes(data)
    assert not promoted.is_sparse
    dense = HyperLogLog(p=12, registers=np.zeros(1 << 12, dtype=np.uint8))
    dense._dense_update(np.frombuffer(data.tobytes(), dtype=np.uint64))
    assert promoted.serialize() == dense.serialize()


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 10_000), k=st.integers(2, 6))
def test_hll_mixed_sparse_dense_merge_invariance(seed, k):
    # chunks small enough that some partials stay sparse while others
    # promote: the merged state must equal the one-shot state bit-for-bit
    data = _hashes(4_000)
    whole = HyperLogLog(p=10)
    whole.update_hashes(data)
    parts = []
    for chunk in _random_split(data, seed, k):
        h = HyperLogLog(p=10)
        h.update_hashes(chunk)
        parts.append(h)
    left = parts[0]
    for p in parts[1:]:
        left = left.merge(p)
    assert left.serialize() == whole.serialize()


def test_hll_serde_roundtrip_both_modes():
    sp = HyperLogLog(p=12)
    sp.update_hashes(_hashes(100))
    back = HyperLogLog.deserialize(sp.serialize())
    assert back.is_sparse and back.estimate() == 100.0
    assert back.serialize() == sp.serialize()
    dn = HyperLogLog(p=8)
    dn.update_hashes(_hashes(5000))
    back2 = HyperLogLog.deserialize(dn.serialize())
    assert not back2.is_sparse
    assert back2.serialize() == dn.serialize()


def test_topk_untrimmed_counts_exact_and_flag_survives_serde():
    sk = TopKSketch(capacity=64)
    vals = np.array([f"t{i % 10}" for i in range(100)], dtype=object)
    for v in vals:
        sk.update_values(np.array([v], dtype=object))
    assert not sk.trimmed
    top = sk.top(10)
    assert all(c == 10 for _, c in top)  # exact, no overcount
    assert [v for v, _ in top] == sorted(f"t{i}" for i in range(10))
    back = TopKSketch.deserialize(sk.serialize())
    assert back.trimmed is False and back.top(10) == top
    # trimming flips the flag and it sticks through serde + merge
    small = TopKSketch(capacity=4)
    small.update_values(np.array([f"u{i}" for i in range(20)], dtype=object))
    assert small.trimmed
    assert TopKSketch.deserialize(small.serialize()).trimmed is True
    merged = TopKSketch.deserialize(sk.serialize()).merge(small)
    assert merged.trimmed


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 10_000), k=st.integers(2, 8))
def test_bootci_partition_invariance(seed, k):
    """Poisson-bootstrap CI state: resample COUNTS are exactly
    partition-invariant (hash-derived per key); value sums agree to
    float summation order; serde round-trips the result."""
    from mlrsketch.sketches.bootci import BootstrapCI

    rng = np.random.default_rng(seed)
    keys = np.arange(4_000, dtype=np.uint64)
    vals = rng.normal(50.0, 10.0, size=keys.size)
    whole = BootstrapCI(n_boot=40)
    whole.update(keys, vals)
    order = rng.permutation(keys.size)
    assignment = rng.integers(0, k, keys.size)
    parts = []
    for i in range(k):
        idx = order[assignment[order] == i]
        p = BootstrapCI(n_boot=40)
        p.update(keys[idx], vals[idx])
        parts.append(p)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    assert np.array_equal(merged.sum_c, whole.sum_c)  # counts: exact
    assert np.allclose(merged.sum_cv, whole.sum_cv, rtol=1e-12)
    assert merged.tot_n == whole.tot_n
    m1, m2 = merged.result(), whole.result()
    assert np.allclose(m1, m2, rtol=1e-12)
    rt = BootstrapCI.deserialize(merged.serialize())
    assert np.array_equal(rt.sum_c, merged.sum_c)
    assert np.allclose(rt.result(), m1, rtol=0)
