"""Unit tests for the sketch cores: error bounds vs exact, serde
round-trips, and bit-identical merges where the algorithm guarantees it."""

from __future__ import annotations

import numpy as np
import pytest

from mlrsketch.sketches import KLL, BloomFilter, HyperLogLog, TDigest, TopKSketch
from mlrsketch.sketches.hashing import hash_strings, splitmix64


def _hashes(n: int, offset: int = 0) -> np.ndarray:
    return splitmix64(np.arange(offset, offset + n, dtype=np.uint64)).view(np.int64)


class TestHLL:
    @pytest.mark.parametrize("n", [100, 5_000, 100_000])
    def test_error_within_3_sigma(self, n):
        h = HyperLogLog(p=12)
        h.update_hashes(_hashes(n))
        rel = abs(h.estimate() - n) / n
        assert rel <= 3 * h.error_bound() + 0.01, f"n={n} rel={rel}"

    def test_merge_bit_identical(self):
        full = HyperLogLog(p=10)
        full.update_hashes(_hashes(10_000))
        a, b, c = (HyperLogLog(p=10) for _ in range(3))
        a.update_hashes(_hashes(3_000))
        b.update_hashes(_hashes(4_000, offset=3_000))
        c.update_hashes(_hashes(3_000, offset=7_000))
        merged = a.merge(b).merge(c)
        assert merged.serialize() == full.serialize()

    def test_serde_roundtrip(self):
        h = HyperLogLog(p=8)
        h.update_hashes(_hashes(500))
        assert HyperLogLog.deserialize(h.serialize()).estimate() == h.estimate()

    def test_serde_preserves_sparse_max(self):
        # a non-default promotion threshold must survive serde, or the
        # two sides of a merge promote at different points and the
        # bit-identical-state property breaks
        h = HyperLogLog(p=10, sparse_max=7)
        h.update_hashes(_hashes(5))
        r = HyperLogLog.deserialize(h.serialize())
        assert r.sparse_max == 7 and r.is_sparse
        # one more batch crosses the custom threshold on BOTH sides
        h.update_hashes(_hashes(5, offset=5))
        r.update_hashes(_hashes(5, offset=5))
        assert not r.is_sparse and not h.is_sparse
        assert r.serialize() == h.serialize()

    def test_duplicates_dont_inflate(self):
        h = HyperLogLog(p=12)
        for _ in range(5):
            h.update_hashes(_hashes(1_000))
        assert abs(h.estimate() - 1_000) / 1_000 <= 3 * h.error_bound() + 0.01


class TestTopK:
    def test_exact_on_skewed(self, rng):
        vals = np.array([f"tok{v}" for v in rng.zipf(1.5, 20_000)])
        u, cnt = np.unique(vals, return_counts=True)
        tk = TopKSketch(width=4096, capacity=512)
        half = len(u) // 2
        tk.update_values(u[:half], cnt[:half])
        tk2 = TopKSketch(width=4096, capacity=512)
        tk2.update_values(u[half:], cnt[half:])
        tk.merge(tk2)
        true_top = sorted(zip(u.tolist(), cnt.tolist()), key=lambda t: (-t[1], t[0]))[:10]
        assert tk.top(10) == [(k, int(v)) for k, v in true_top]

    def test_serde(self):
        tk = TopKSketch(width=256, capacity=16)
        tk.update_values(np.array(["a", "b", "a"]))
        assert TopKSketch.deserialize(tk.serialize()).top(2) == tk.top(2)

    def test_values_with_separator_bytes_round_trip(self):
        tk = TopKSketch(capacity=16)
        vals = np.array(["a\x00b", "c\x01d", "\x00", "é\x01", "", "a\x00b"], dtype=object)
        tk.update_values(vals)
        back = TopKSketch.deserialize(tk.serialize())
        assert back.counts == {"a\x00b": 2, "c\x01d": 1, "\x00": 1, "é\x01": 1, "": 1}
        assert back.serialize() == tk.serialize()

    @pytest.mark.parametrize("magic", [b"TOPK", b"TPK2", b"TPK3"])
    def test_retired_state_formats_are_refused_by_name(self, magic):
        with pytest.raises(ValueError, match=magic.decode()):
            TopKSketch.deserialize(magic + bytes(16))

    def test_spacesaving_late_heavy_hitter_survives(self, rng):
        """Property from the SpaceSaving bound: any item with true count
        > N/capacity is kept at stream end — even when it arrives
        entirely AFTER capacity churn — and its estimate lies in
        [true, true + N/capacity]."""
        capacity = 64
        tk = TopKSketch(capacity=capacity)
        # phase 1: heavy churn — 20k distinct onesie tokens in batches
        for b in range(20):
            vals = np.array([f"noise{b}_{i}" for i in range(1000)], dtype=object)
            tk.update_values(vals)
        # phase 2: the late heavy hitter + more churn interleaved
        hot_total = 0
        for b in range(10):
            vals = np.array(
                [f"late{b}_{i}" for i in range(500)] + ["HOT"], dtype=object
            )
            cnts = np.concatenate([np.ones(500, dtype=np.int64), [400]])
            hot_total += 400
            tk.update_values(vals, cnts)
        n_total = 20_000 + 10 * 500 + hot_total
        assert tk.trimmed and tk.total == n_total
        assert hot_total > n_total / capacity  # premise
        assert "HOT" in tk.counts, "late heavy hitter was evicted"
        est = tk.counts["HOT"]
        assert est >= hot_total, "SpaceSaving must never undercount"
        assert est <= hot_total + n_total / capacity, "overcount beyond N/capacity"

    def test_spacesaving_bound_holds_under_merge(self, rng):
        """true <= est <= true + N/capacity for every reported item after
        merging shards that each churned through capacity independently."""
        capacity = 32
        truth: dict[str, int] = {}
        shards = []
        for s in range(4):
            tk = TopKSketch(capacity=capacity)
            vals = [f"s{s}n{i}" for i in range(2000)] + ["alpha", "beta"] * 50
            rng.shuffle(vals)
            u, cnt = np.unique(np.array(vals, dtype=object), return_counts=True)
            tk.update_values(u, cnt)
            for v, c in zip(u.tolist(), cnt.tolist()):
                truth[v] = truth.get(v, 0) + int(c)
            shards.append(tk)
        merged = shards[0]
        for s in shards[1:]:
            merged.merge(s)
        n_total = sum(truth.values())
        assert merged.trimmed and merged.total == n_total
        top = merged.top(10)
        assert {"alpha", "beta"} <= {v for v, _ in top}
        for v, est in top:
            assert truth[v] <= est <= truth[v] + n_total / capacity, (v, est, truth[v])


class TestBloom:
    def test_no_false_negatives(self):
        b = BloomFilter.for_capacity(5_000, fpr=0.01)
        ins = _hashes(5_000)
        b.add_hashes(ins)
        assert b.contains_hashes(ins).all()

    def test_fpr_within_2x_published(self):
        b = BloomFilter.for_capacity(10_000, fpr=0.01)
        b.add_hashes(_hashes(10_000))
        probe = _hashes(50_000, offset=1_000_000)
        fpr = b.contains_hashes(probe).mean()
        assert fpr <= 2 * b.expected_fpr() + 0.005

    def test_merge_bit_identical(self):
        full = BloomFilter(n_bits=1 << 12)
        a, b = BloomFilter(n_bits=1 << 12), BloomFilter(n_bits=1 << 12)
        full.add_hashes(_hashes(200))
        full.add_hashes(_hashes(200, offset=200))
        a.add_hashes(_hashes(200))
        b.add_hashes(_hashes(200, offset=200))
        assert a.merge(b).serialize() == full.serialize()


class TestTDigest:
    @pytest.mark.parametrize("dist", ["lognormal", "uniform", "bimodal"])
    def test_rank_error(self, rng, dist):
        if dist == "lognormal":
            data = rng.lognormal(5, 1, 100_000)
        elif dist == "uniform":
            data = rng.uniform(0, 1, 100_000)
        else:
            data = np.concatenate([rng.normal(0, 1, 50_000), rng.normal(100, 1, 50_000)])
        td = TDigest(delta=200)
        for i in range(0, data.size, 10_000):
            td.update_batch(data[i : i + 10_000])
        s = np.sort(data)
        for q in (0.01, 0.25, 0.5, 0.75, 0.9, 0.99):
            est = td.quantile(q)
            rank_err = abs(np.searchsorted(s, est) / data.size - q)
            assert rank_err <= td.rank_error_bound(q) + 0.002, f"{dist} q={q}: {rank_err}"

    def test_merge_rank_error(self, rng):
        data = rng.lognormal(5, 1, 100_000)
        parts = [TDigest(200) for _ in range(8)]
        for i, p in enumerate(parts):
            p.update_batch(data[i * 12_500 : (i + 1) * 12_500])
        merged = parts[0]
        for p in parts[1:]:
            merged.merge(p)
        s = np.sort(data)
        for q in (0.1, 0.5, 0.9):
            rank_err = abs(np.searchsorted(s, merged.quantile(q)) / data.size - q)
            assert rank_err <= merged.rank_error_bound(q) + 0.005

    def test_serde(self, rng):
        td = TDigest(100)
        td.update_batch(rng.uniform(0, 1, 1_000))
        td2 = TDigest.deserialize(td.serialize())
        assert td2.quantile(0.5) == td.quantile(0.5)

    def test_exact_min_max_tails(self, rng):
        td = TDigest(100)
        data = rng.uniform(0, 1, 10_000)
        td.update_batch(data)
        assert td.quantile(0.0) == data.min()
        assert td.quantile(1.0) == data.max()


class TestKLL:
    def test_rank_error(self, rng):
        data = rng.lognormal(5, 1, 100_000)
        kl = KLL(k=200)
        for i in range(0, data.size, 10_000):
            kl.update_batch(data[i : i + 10_000])
        s = np.sort(data)
        for q in (0.01, 0.5, 0.99):
            rank_err = abs(np.searchsorted(s, kl.quantile(q)) / data.size - q)
            assert rank_err <= kl.error_bound() + 0.002

    def test_merge(self, rng):
        data = rng.normal(0, 1, 80_000)
        parts = [KLL(200) for _ in range(4)]
        for i, p in enumerate(parts):
            p.update_batch(data[i * 20_000 : (i + 1) * 20_000])
        m = parts[0]
        for p in parts[1:]:
            m.merge(p)
        s = np.sort(data)
        assert abs(np.searchsorted(s, m.quantile(0.5)) / data.size - 0.5) <= m.error_bound() + 0.005
        assert m.n == data.size

    def test_serde(self, rng):
        kl = KLL(100)
        kl.update_batch(rng.uniform(0, 1, 5_000))
        assert KLL.deserialize(kl.serialize()).quantile(0.5) == kl.quantile(0.5)

    def test_error_bound_is_datasketches_99pct(self):
        assert abs(KLL(200).error_bound() - 0.013295) < 1e-6
        assert KLL(100).error_bound() > KLL(200).error_bound()

    def test_partial_states_flip_independent_coins(self, rng):
        a, b, a2 = KLL(200), KLL(200), KLL(200)
        xs, ys = rng.uniform(0, 1, 5_000), rng.uniform(0, 1, 5_000)
        a.update_batch(xs)
        b.update_batch(ys)
        a2.update_batch(xs)
        assert a._coin_ctr != b._coin_ctr
        assert a.serialize() == a2.serialize()  # reruns stay deterministic

    def test_merged_partials_within_bound_on_benchmark_pages(self):
        """The benchmark's seed-301 pages: en text lengths over four
        10k-row partitions, merged in the order (1, 3, 2, 0), put p90
        0.0101 from its true rank when every partition flipped the same
        coins and the bound was 2/k."""
        import importlib.util
        import pathlib

        import pyarrow.compute as pc

        path = pathlib.Path(__file__).resolve().parent.parent / "perfbench" / "gen.py"
        spec = importlib.util.spec_from_file_location("perfbench_gen", path)
        gen = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gen)
        t = gen.pages_table(40_000, 301)
        lens = pc.utf8_length(t["text"]).to_numpy(zero_copy_only=False).astype(np.float64)
        en = t["lang"].to_numpy(zero_copy_only=False) == "en"
        blobs = []
        for i in range(4):
            sl = slice(10_000 * i, 10_000 * (i + 1))
            part = KLL(200)
            part.update_batch(lens[sl][en[sl]])
            blobs.append(part.serialize())
        m = KLL.deserialize(blobs[1])
        for i in (3, 2, 0):
            m.merge(KLL.deserialize(blobs[i]))
        s = np.sort(lens[en])
        for q in (0.5, 0.9, 0.99):
            est = m.quantile(q)
            lo, hi = np.searchsorted(s, est, "left") / s.size, np.searchsorted(s, est, "right") / s.size
            err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
            assert err <= m.error_bound(), f"p{q}: rank err {err:.4f} > {m.error_bound():.4f}"


class TestHashing:
    def test_hash_strings_distinct_and_deterministic(self):
        a = hash_strings(["foo", "bar", "foo"])
        assert a[0] == a[2] and a[0] != a[1]
        assert (hash_strings(["foo", "bar"]) == np.array([a[0], a[1]])).all()


class TestTheta:
    def test_exact_mode_below_k(self):
        from mlrsketch.sketches import ThetaSketch

        sk = ThetaSketch(k=1024)
        sk.update_hashes(_hashes(800))
        assert not sk.is_estimation_mode
        assert sk.estimate() == 800.0
        assert sk.error_bound() == 0.0

    @pytest.mark.parametrize("n", [50_000, 500_000])
    def test_error_within_3_sigma_saturated(self, n):
        from mlrsketch.sketches import ThetaSketch

        sk = ThetaSketch(k=2048)
        sk.update_hashes(_hashes(n))
        assert sk.is_estimation_mode
        rel = abs(sk.estimate() - n) / n
        assert rel <= 3 * sk.error_bound(), f"n={n} rel={rel}"

    def test_duplicates_dont_inflate(self):
        from mlrsketch.sketches import ThetaSketch

        sk = ThetaSketch(k=256)
        for _ in range(5):
            sk.update_hashes(_hashes(200))
        assert sk.estimate() == 200.0

    def test_merge_bit_identical(self):
        from mlrsketch.sketches import ThetaSketch

        full = ThetaSketch(k=128)
        full.update_hashes(_hashes(10_000))
        a, b, c = (ThetaSketch(k=128) for _ in range(3))
        a.update_hashes(_hashes(3_000))
        b.update_hashes(_hashes(4_000, offset=3_000))
        c.update_hashes(_hashes(3_000, offset=7_000))
        assert a.merge(b).merge(c).serialize() == full.serialize()

    def test_serde_roundtrip(self):
        from mlrsketch.sketches import ThetaSketch

        sk = ThetaSketch(k=64)
        sk.update_hashes(_hashes(5_000))
        back = ThetaSketch.deserialize(sk.serialize())
        assert back.k == sk.k and back.theta == sk.theta
        assert (back.hashes == sk.hashes).all()

    def test_set_ops_exact_mode(self):
        from mlrsketch.sketches import (
            ThetaSketch,
            theta_a_not_b,
            theta_intersect,
            theta_union,
        )

        # A = [0, 600), B = [400, 1000) -> |A u B|=1000, |A n B|=200
        a = ThetaSketch(k=4096)
        a.update_hashes(_hashes(600))
        b = ThetaSketch(k=4096)
        b.update_hashes(_hashes(600, offset=400))
        assert theta_union(a, b).estimate() == 1000.0
        assert theta_intersect(a, b).estimate() == 200.0
        assert theta_a_not_b(a, b).estimate() == 400.0
        assert theta_a_not_b(b, a).estimate() == 400.0

    def test_set_ops_saturated_within_bound(self):
        from mlrsketch.sketches import (
            ThetaSketch,
            theta_a_not_b,
            theta_intersect,
            theta_union,
        )

        # A = [0, 60k), B = [40k, 100k): overlap 20k, union 100k
        a = ThetaSketch(k=4096)
        a.update_hashes(_hashes(60_000))
        b = ThetaSketch(k=4096)
        b.update_hashes(_hashes(60_000, offset=40_000))
        un, inter = theta_union(a, b), theta_intersect(a, b)
        diff = theta_a_not_b(a, b)
        assert abs(un.estimate() - 100_000) / 100_000 <= 3 * un.error_bound()
        assert abs(inter.estimate() - 20_000) / 20_000 <= 3 * inter.error_bound()
        assert abs(diff.estimate() - 40_000) / 40_000 <= 3 * diff.error_bound()
        # each result is itself a valid mergeable theta state
        assert ThetaSketch.deserialize(inter.serialize()).estimate() == inter.estimate()
