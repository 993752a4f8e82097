"""Unit tests for the pure-numpy sketch kernels, mirroring the reference's
exact-regime test corpus (SURVEY.md §5, FIXTURES.md §1)."""

import math

import numpy as np
import pytest

from datasketches_postgresql_spark.sketches import aod, fi, kll, theta
from datasketches_postgresql_spark.sketches.stats import welch_t_test


def h64(vals):
    """Deterministic stand-in for xxhash64: splitmix64 over ints."""
    x = np.asarray(vals, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return x


class TestTheta:
    """Mirrors /root/reference/test/theta_sketch_test.sql:9-33."""

    def test_exact_regime_set_algebra(self):
        g1 = theta.build(h64([1, 2, 3, 4, 5]))
        g2 = theta.build(h64([4, 5, 6, 7, 8]))
        assert theta.get_estimate(g1) == 5
        assert theta.get_estimate(theta.union([g1, g2])) == 8
        assert theta.get_estimate(theta.intersection([g1, g2])) == 2
        assert theta.get_estimate(theta.a_not_b(g1, g2)) == 3

    def test_exact_bounds_collapse(self):
        s = theta.build(h64(range(100)))
        est, lb, ub = theta.get_estimate_and_bounds(s, 2)
        assert est == lb == ub == 100

    def test_estimation_regime_accuracy(self):
        n = 200_000
        s = theta.build(h64(np.arange(n)), lg_k=12)
        est, lb, ub = theta.get_estimate_and_bounds(s, 3)
        assert lb <= n <= ub
        assert abs(est - n) / n < 0.1

    def test_union_merge_equals_build(self):
        """build(A ∪ B) ~= union(build(A), build(B)) — exact regime: equal."""
        a, b = h64(range(1000)), h64(range(500, 1500))
        whole = theta.build(np.concatenate([a, b]))
        merged = theta.union([theta.build(a), theta.build(b)])
        assert theta.get_estimate(whole) == theta.get_estimate(merged) == 1500

    def test_union_commutative(self):
        a, b = theta.build(h64(range(100))), theta.build(h64(range(50, 200)))
        assert theta.union([a, b]) == theta.union([b, a])

    def test_sampling_p(self):
        s = theta.build(h64(np.arange(100_000)), lg_k=16, p=0.1)
        est = theta.get_estimate(s)
        assert abs(est - 100_000) / 100_000 < 0.05

    def test_roundtrip(self):
        s = theta.build(h64(range(10)), lg_k=9)
        th, hashes = theta.deserialize(s)
        assert th == theta.MAX_THETA and hashes.size == 10
        assert theta.serialize(th, hashes) == s


class TestKll:
    """Mirrors /root/reference/test/kll_float_sketch_test.sql + FIXTURES 1.2."""

    def test_exact_regime(self):
        s = kll.KllState.deserialize(kll.build(np.arange(1, 11, dtype=float)))
        assert s.n == 10
        assert s.min == 1 and s.max == 10
        assert s.get_quantile(0.0) == 1 and s.get_quantile(1.0) == 10
        assert s.get_quantile(0.5) in (5.0, 6.0)
        assert s.get_rank(5.0) == 0.4  # exclusive: 4 items < 5
        assert s.get_rank(5.0, inclusive=True) == 0.5
        pmf = s.get_pmf([2.0, 5.0, 7.0])
        assert pmf == pytest.approx([0.1, 0.3, 0.2, 0.4])
        cdf = s.get_cdf([2.0, 5.0, 7.0])
        assert cdf == pytest.approx([0.1, 0.4, 0.6, 1.0])
        hist = s.get_histogram(5)
        assert sum(hist) == pytest.approx(10)

    def test_merge_exact(self):
        m = kll.merge([kll.build(np.arange(1, 6, dtype=float)),
                       kll.build(np.arange(6, 11, dtype=float))])
        s = kll.KllState.deserialize(m)
        assert s.n == 10 and s.min == 1 and s.max == 10
        assert s.get_quantile(0.5) in (5.0, 6.0)

    def test_estimation_regime_normal(self):
        rng = np.random.default_rng(42)
        x = rng.normal(size=100_000)
        s = kll.KllState.deserialize(kll.build(x, k=200))
        assert abs(s.get_quantile(0.5)) < 0.05
        assert abs(s.get_rank(0.0) - 0.5) < 0.02
        assert s.n == 100_000
        # retained items bounded (compaction happened)
        assert s._total_items() < 3000

    def test_merge_estimation(self):
        rng = np.random.default_rng(7)
        parts = [kll.build(rng.normal(size=50_000)) for _ in range(3)]
        s = kll.KllState.deserialize(kll.merge(parts))
        assert s.n == 150_000
        assert abs(s.get_quantile(0.5)) < 0.05


class TestFi:
    """Mirrors /root/reference/test/fi_sketch_test.sql:7-19 + FIXTURES 1.3."""

    def test_exact_merge(self):
        s1 = fi.build(8, ["a", "b", "a", "a", "c"])
        s2 = fi.build(8, ["a", "c", "c", "b", "a"])
        rows = fi.FiState.deserialize(fi.merge(8, [s1, s2])).result(
            fi.NO_FALSE_NEGATIVES, 0
        )
        assert rows == [("a", 5, 5, 5), ("c", 3, 3, 3), ("b", 2, 2, 2)]

    def test_weighted(self):
        s = fi.build(8, ["x", "y", "x"], [10, 5, 1])
        rows = fi.FiState.deserialize(s).result(fi.NO_FALSE_POSITIVES, 0)
        assert rows[0] == ("x", 11, 11, 11)

    def test_purge_bounds_hold(self):
        rng = np.random.default_rng(1)
        vals = (rng.zipf(1.3, size=50_000) % 5000).astype(str)
        s = fi.FiState.deserialize(fi.build(5, vals))
        import collections

        exact = collections.Counter(vals.tolist())
        assert s.offset > 0  # purge actually happened
        for item, est, lb, ub in s.result(fi.NO_FALSE_NEGATIVES, 100):
            assert lb <= exact[item] <= ub
        # no-false-negatives: any item with true count > offset is tracked
        # and must appear at threshold = offset
        nfn = {r[0] for r in s.result(fi.NO_FALSE_NEGATIVES, s.offset)}
        for item, c in exact.items():
            if c > s.offset:
                assert item in nfn


class TestAod:
    """Mirrors /root/reference/test/aod_sketch_test.sql + FIXTURES 1.4."""

    def test_exact_set_algebra_and_sums(self):
        a = aod.build(h64([1, 2, 3, 4, 5]), np.ones((5, 1)))
        b = aod.build(h64([4, 5, 6, 7, 8]), np.ones((5, 1)))
        assert aod.get_estimate(a) == 5
        assert aod.get_estimate(aod.union([a, b])) == 8
        inter = aod.intersection(a, b)
        assert aod.get_estimate(inter) == 2
        assert aod.to_means(inter) == [2.0]  # values summed on intersect
        assert aod.get_estimate(aod.a_not_b(a, b)) == 3

    def test_duplicate_keys_sum(self):
        s = aod.build(h64([1, 1, 2]), np.array([[1.0], [2.0], [5.0]]))
        assert aod.get_estimate(s) == 2
        assert sorted(aod.deserialize(s)[3][:, 0].tolist()) == [3.0, 5.0]

    def test_means_variances(self):
        s = aod.build(h64([1, 2, 3, 4]), np.array([[1.0, 10], [2, 20], [3, 30], [4, 40]]))
        assert aod.to_means(s) == [2.5, 25.0]
        v = aod.to_variances(s)
        assert v[0] == pytest.approx(np.var([1, 2, 3, 4], ddof=1))

    def test_to_kll(self):
        s = aod.build(h64(range(100)), np.arange(100, dtype=float).reshape(-1, 1))
        k = kll.KllState.deserialize(aod.to_kll_float_sketch(s, 1))
        assert k.n == 100 and k.min == 0 and k.max == 99

    def test_welch_t_test(self):
        # against scipy-confirmed value: ttest_ind([1,.9,1.1,1],[1.1,1,1.2,1.1], equal_var=False)
        a = aod.build(h64([1, 2, 3, 4]), np.array([[1.0], [0.9], [1.1], [1.0]]))
        b = aod.build(h64([5, 6, 7, 8]), np.array([[1.1], [1.0], [1.2], [1.1]]))
        p = aod.students_t_test(a, b)[0]
        t, df, p2 = welch_t_test(1.0, np.var([1, 0.9, 1.1, 1], ddof=1), 4,
                                 1.1, np.var([1.1, 1, 1.2, 1.1], ddof=1), 4)
        assert p == pytest.approx(p2)
        assert t == pytest.approx(-1.7320508, rel=1e-6)
        assert 0.1 < p < 0.2  # known ~0.134


class TestStats:
    def test_t_sf_known_values(self):
        from datasketches_postgresql_spark.sketches.stats import student_t_sf

        # t=2.0, df=10 -> sf ~= 0.036694
        assert student_t_sf(2.0, 10) == pytest.approx(0.0366941, rel=1e-4)
        assert student_t_sf(0.0, 5) == pytest.approx(0.5)
        assert student_t_sf(-2.0, 10) == pytest.approx(1 - 0.0366941, rel=1e-4)


class TestFiPerItemError:
    def test_early_items_keep_tight_bounds_after_purge(self):
        """Per-item error tracking: an item inserted before any purge keeps
        err = 0, so its bounds stay EXACT even after later purges — a single
        global offset cannot express this."""
        st = fi.FiState(4)  # cap = 12
        st.update(["heavy"] * 1000)
        rng = np.random.default_rng(3)
        for chunk in range(20):
            st.update([f"n{chunk}_{i}" for i in rng.integers(0, 40, size=200)])
        assert st.offset > 0  # purges happened
        rows = {r[0]: r for r in st.result(fi.NO_FALSE_NEGATIVES, 0)}
        s, est, lb, ub = rows["heavy"]
        assert lb == est == ub == 1000  # tight: err stayed 0

    def test_purge_progress_when_all_counters_high(self):
        st = fi.FiState(1)  # cap = 1
        st.update(["a"] * 50 + ["b"] * 60 + ["c"] * 70)
        assert len(st.items) <= st.cap  # terminated, evicted down to cap
        for s, (ub, err) in st.items.items():
            assert ub - err <= {"a": 50, "b": 60, "c": 70}[s] <= ub

    def test_bounds_still_valid_zipf(self):
        import collections

        rng = np.random.default_rng(9)
        vals = (rng.zipf(1.3, size=30_000) % 3000).astype(str)
        st = fi.FiState.deserialize(fi.build(5, vals))
        exact = collections.Counter(vals.tolist())
        for item, est, lb, ub in st.result(fi.NO_FALSE_NEGATIVES, 50):
            assert lb <= exact[item] <= ub, (item, lb, exact[item], ub)


class TestThetaSelectionFastPath:
    """theta.build/union use threshold-filter selection (not a full sort)
    above 4k input values — these cases pin exact equivalence with the
    np.unique slow path, including inputs that defeat the uniform-hash
    assumption the filter is tuned for."""

    def _reference_build(self, vals, lg_k):
        """Full-sort KMV: the k smallest distinct nonzero entries
        ``h >> 1``, theta the (k+1)-th."""
        from datasketches_postgresql_spark.sketches.theta import MAX_THETA, serialize

        hashes = np.unique(np.asarray(vals, dtype=np.uint64) >> np.uint64(1))
        hashes = hashes[hashes > 0]
        k = 1 << lg_k
        if hashes.size > k:
            return serialize(int(hashes[k]), hashes[:k])
        return serialize(MAX_THETA, hashes)

    def test_uniform_large_batch_matches_slow_path(self):
        rng = np.random.default_rng(1)
        vals = rng.integers(0, 2**64, size=500_000, dtype=np.uint64)
        for lg_k in (8, 12):
            assert theta.build(vals, lg_k) == self._reference_build(vals, lg_k)

    def test_adversarial_low_range_matches(self):
        # all values in a tiny low range: the first threshold keeps
        # everything -> must degrade to exact unique, not truncate
        rng = np.random.default_rng(2)
        vals = rng.integers(0, 10_000, size=200_000, dtype=np.uint64)
        assert theta.build(vals, 12) == self._reference_build(vals, 12)

    def test_adversarial_high_range_matches(self):
        # all values near 2^64: threshold filter finds nothing until it
        # escalates past the range
        rng = np.random.default_rng(3)
        vals = (np.uint64(2**64 - 1) - rng.integers(0, 10_000, size=100_000).astype(np.uint64))
        assert theta.build(vals, 12) == self._reference_build(vals, 12)

    def test_heavy_duplication_matches(self):
        rng = np.random.default_rng(4)
        base = rng.integers(0, 2**64, size=100, dtype=np.uint64)
        vals = rng.choice(base, size=300_000)
        assert theta.build(vals, 12) == self._reference_build(vals, 12)
        assert abs(theta.get_estimate(theta.build(vals, 12)) - 100) < 1e-9

    def test_all_identical_matches(self):
        vals = np.full(50_000, 12345, dtype=np.uint64)
        assert theta.build(vals, 12) == self._reference_build(vals, 12)

    def test_union_large_concat_matches(self):
        rng = np.random.default_rng(5)
        parts = [
            theta.build(rng.integers(0, 2**64, size=40_000, dtype=np.uint64), 8)
            for _ in range(8)
        ]
        u = theta.union(parts, 8)
        # union through the fast path must equal a single build of the
        # combined retained-hash multiset
        from datasketches_postgresql_spark.sketches.theta import deserialize

        combined = np.concatenate([deserialize(p)[1] for p in parts])
        assert u == self._reference_build(combined << np.uint64(1), 8)


class TestMurmurBatch:
    """Vectorized variable-length murmur3 (round-3: replaces the last
    per-row Python hash loop, VERDICT r2 'What's wrong' #4)."""

    def test_bytes_batch_matches_scalar(self):
        import numpy as np

        from datasketches_postgresql_spark.sketches.murmur3 import (
            hash128_bytes,
            hash128_bytes_batch,
        )

        rng = np.random.default_rng(5)
        items = [b"", b"\x00", b"\x00" * 16, b"\x00" * 17]
        for L in (1, 7, 8, 9, 15, 16, 17, 24, 31, 32, 33, 100, 1000, 4097):
            items.append(bytes(rng.integers(0, 256, size=L, dtype=np.uint8)))
        for _ in range(300):
            items.append(
                bytes(rng.integers(0, 256, size=int(rng.integers(0, 200)), dtype=np.uint8))
            )
        for seed in (0, 9001):
            got = hash128_bytes_batch(items, seed)
            exp = np.array(
                [hash128_bytes(b, seed)[0] for b in items], dtype=np.uint64
            )
            assert np.array_equal(got, exp)

    def test_utf8_batch_matches_scalar_and_drops_nulls(self):
        import numpy as np
        import pandas as pd

        from datasketches_postgresql_spark.sketches.murmur3 import (
            hash128_bytes,
            hash128_utf8_batch,
        )

        vals = ["user_" + str(i) for i in range(5000)] + [None, "", "ünïcode ✓" * 9]
        got = hash128_utf8_batch(pd.Series(vals), 9001)
        # None AND "" drop: the ecosystem's update(String)/update(std::string)
        # is a no-op on both (ground-truthed in tests/test_jvm_groundtruth.py)
        exp = np.array(
            [hash128_bytes(s.encode(), 9001)[0] for s in vals if s],
            dtype=np.uint64,
        )
        assert np.array_equal(got, exp)

    def test_block_boundaries_same_length(self):
        # one length group spanning several cache blocks must equal scalar
        import numpy as np

        from datasketches_postgresql_spark.sketches.murmur3 import (
            hash128_bytes,
            hash128_bytes_batch,
        )

        rng = np.random.default_rng(6)
        many = [bytes(rng.integers(0, 256, size=45, dtype=np.uint8)) for _ in range(30000)]
        got = hash128_bytes_batch(many, 9001)
        idx = rng.integers(0, len(many), size=200)
        for i in idx:
            assert got[i] == hash128_bytes(many[int(i)], 9001)[0]


class TestQuantilesClassic:
    """Real classic DoublesSketch (round 3 — was a KLL alias): base buffer +
    weighted level ladder, canonical wire format (serVer 3, family 8),
    n-derived layout invariants."""

    def test_structure_invariants_and_roundtrip(self):
        import numpy as np

        from datasketches_postgresql_spark.sketches.quantiles import (
            QuantilesState,
            build,
        )

        rng = np.random.default_rng(2)
        for n in (0, 5, 255, 256, 257, 10_000, 123_457):
            v = rng.normal(size=n)
            img = build(v, 128)
            st = QuantilesState.deserialize(img)
            assert st.n == n
            assert st.serialize() == img
            if n:
                assert st.bb.size == n % 256
                bp = n // 256
                assert all(((bp >> i) & 1) == (i in st.levels) for i in range(25))
                assert img[1] == 3 and img[2] == 8  # canonical serVer + family

    def test_exact_until_base_buffer_overflow(self):
        import numpy as np

        from datasketches_postgresql_spark.sketches.quantiles import QuantilesState

        st = QuantilesState(128)
        st.update(np.arange(256, dtype=float))
        # n == 2k would have promoted; use 255 to stay exact
        st2 = QuantilesState(128)
        st2.update(np.arange(255, dtype=float))
        assert st2.get_rank(100.0) == 100 / 255

    def test_merge_matches_epsilon(self):
        import numpy as np

        from datasketches_postgresql_spark.sketches.quantiles import (
            QuantilesState,
            build,
            merge,
        )

        rng = np.random.default_rng(4)
        v = rng.normal(size=200_000)
        parts = [build(c, 128) for c in np.array_split(v, 16)]
        m = QuantilesState.deserialize(merge(parts))
        assert m.n == 200_000
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            est = m.get_quantile(q)
            assert abs((v < est).mean() - q) < 2 * 1.7 / 128, q

    def test_mixed_k_merge_downsamples(self):
        import numpy as np

        from datasketches_postgresql_spark.sketches.quantiles import (
            QuantilesState,
            build,
            merge,
        )

        rng = np.random.default_rng(8)
        img = merge(
            [build(rng.normal(size=5000), 128), build(rng.normal(size=5000), 32)]
        )
        st = QuantilesState.deserialize(img)
        assert st.k == 32 and st.n == 10_000
        bp = 10_000 // 64
        assert st.bb.size == 10_000 % 64
        assert all(((bp >> i) & 1) == (i in st.levels) for i in range(20))

    def test_unordered_legacy_image_imports_sorted(self):
        """A legacy image without the ORDERED flag carries unsorted level
        arrays; import must sort them so queries and re-serialization (which
        claims ORDERED) stay correct."""
        import numpy as np

        from datasketches_postgresql_spark.sketches.quantiles import (
            QuantilesState,
            build,
        )

        rng = np.random.default_rng(11)
        v = rng.normal(size=4096)
        img = bytearray(build(v, 128))
        ref = QuantilesState.deserialize(bytes(img))
        img[3] &= ~16  # clear ORDERED
        # shuffle every level's items in place (32-byte header, then bb)
        off = 32 + 8 * (4096 % 256)
        bp = 4096 // 256
        while bp:
            if bp & 1:
                arr = np.frombuffer(bytes(img[off : off + 8 * 128]), dtype="<f8")
                img[off : off + 8 * 128] = rng.permutation(arr).astype("<f8").tobytes()
                off += 8 * 128
            bp >>= 1
        st = QuantilesState.deserialize(bytes(img))
        for lvl, arr in st.levels.items():
            assert (np.diff(arr) >= 0).all(), f"level {lvl} not sorted on import"
        assert st.serialize() == ref.serialize()
        assert st.get_quantile(0.5) == ref.get_quantile(0.5)

    def test_k_must_be_power_of_two(self):
        import pytest

        from datasketches_postgresql_spark.sketches.quantiles import QuantilesState

        with pytest.raises(ValueError, match="power of two"):
            QuantilesState(100)
