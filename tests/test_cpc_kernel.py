"""CPC coupon-matrix kernel tests: accuracy class, merge identity,
sparse/dense working images, mixed-lg_k union, the coupon mapping."""

import numpy as np

from datasketches_postgresql_spark.sketches import cpc as C


def _rand(n, seed):
    return np.random.default_rng(seed).integers(0, 2**64, size=n, dtype=np.uint64)


class TestCpcKernel:
    def test_small_n_near_exact(self):
        # n << k: coupon count == n whp, ICON inversion is near-exact; by
        # n=100 cell collisions add ~1.3% RSE, so that case gets 4 sigma
        for n, tol in ((1, 0.001), (2, 0.01), (10, 0.01), (100, 0.06)):
            vals = _rand(n, n)
            est = C.get_estimate(C.build(vals, 11))
            true = len(np.unique(vals))
            assert abs(est - true) / true < tol, (n, est)

    def test_rse_at_lg_k_11(self):
        """Measured MLE RSE must stay in the CPC class (<= ~0.8/sqrt(k) x2
        margin), not the theta class at the same memory."""
        errs = []
        for t in range(10):
            vals = _rand(200_000, 100 + t)
            est = C.get_estimate(C.build(vals, 11))
            true = len(np.unique(vals))
            errs.append((est - true) / true)
        rse = float(np.std(errs))
        assert rse < 2 * 0.8 / np.sqrt(2048), rse

    def test_union_equals_single_build(self):
        vals = _rand(500_000, 7)
        parts = [C.build(c, 11) for c in np.array_split(vals, 16)]
        assert C.get_estimate(C.union(parts)) == C.get_estimate(C.build(vals, 11))

    def test_union_idempotent_and_order_free(self):
        a, b = C.build(_rand(1000, 1), 11), C.build(_rand(1000, 2), 11)
        assert C.union([a, b]) == C.union([b, a]) == C.union([a, b, a])

    def test_sparse_dense_roundtrip(self):
        small = C.build(_rand(50, 3), 11)
        assert small[2] == 4  # sparse mode, DataSketches coupon space
        big = C.build(_rand(500_000, 3), 11)
        assert big[2] == 5  # dense mode, DataSketches coupon space
        for sk in (small, big):
            lg_k, mat = C.deserialize(sk)
            assert lg_k == 11 and mat.size == 2048

    def test_mixed_lg_k_union_folds_to_smallest(self):
        """Rows are the low lg_k bits of h1 and columns come from h2, so a
        larger matrix folds onto a smaller one (row i -> i mod k) exactly:
        the union lands on the smaller lg_k's own build. An empty input
        does not lower lg_k, and the lg_k argument caps it."""
        vals = _rand(50_000, 9)
        hi, lo = C.build(vals, 12), C.build(vals, 10)
        assert C.union([hi, lo]) == C.union([lo, hi]) == lo
        assert C.union([hi], 10) == lo
        assert C.union([hi, C.build(vals[:0], 10)]) == hi
        assert C.union([lo], 12) == lo
        # no non-empty input (an all-NULL group's partial): the lg_k argument
        empty_12 = C.build(vals[:0], 12)
        assert C.union([], 12) == C.union([None], 12) == empty_12
        assert C.union([C.build(vals[:0], 10)], 12) == empty_12
        assert C.union([C.build(vals[:0], 10)]) == C.build(vals[:0], 10)
        assert C.union([]) == C.build(vals[:0], C.DEFAULT_LG_K)

    def test_sparse_union_at_large_lg_k_has_bounded_temporaries(self):
        """A union whose result stays sparse converts the dense OR back to
        coupons; at lg_k 20 that must cost O(coupons), not a 64-word
        expansion of every non-empty row (about 1 GiB here)."""
        import tracemalloc

        a, b = C.build(_rand(150_000, 40), 20), C.build(_rand(150_000, 41), 20)
        assert a[2] == b[2] == 4
        tracemalloc.start()
        try:
            out = C.union([a, b])
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert out[2] == 4
        assert out == C.build(np.concatenate([_rand(150_000, 40), _rand(150_000, 41)]), 20)
        # three dense 8 MiB matrices (two inputs and the accumulator), the
        # fold's temporary and the coupon list, plus slack
        assert peak < 48 << 20, peak

    def test_empty(self):
        assert C.get_estimate(C.build(np.empty(0, dtype=np.uint64), 11)) == 0.0

    def test_coupon_extraction_matches_scalar_reference(self):
        """The vectorized coupon map (float64-exponent clz + dedup) must
        agree bit-for-bit with a direct scalar transcription of
        ``CpcSketch.update``'s mapping (row = low lg_k bits of h1, col =
        min(clz(h2), 63)), including the edge h2 values 0, 1, 2^63 and
        2^64-1. lg_k 15/16 pins both sides of the lg_k limit of the
        scatter dedup."""
        for lg_k in (4, 11, 15, 16, 21):
            h1 = _rand(100_004, 20)
            h2 = np.concatenate(
                [_rand(100_000, 21), np.array([0, 1, 2**63, 2**64 - 1], dtype=np.uint64)]
            )
            got = C._coupons(h1, h2, lg_k)
            want = set()
            for a, b in zip(h1.tolist(), h2.tolist()):
                want.add(((a & ((1 << lg_k) - 1)) << 6) | min(64 - b.bit_length(), 63))
            assert got.dtype == np.uint32
            assert np.array_equal(got, np.array(sorted(want), dtype=np.uint32))

    def test_scatter_dedup_gated_on_batch_size(self):
        """The scatter dedup allocates and scans 2^(lg_k+6) flags, so it runs
        only when a batch fills half of them (and lg_k <= 15); a 3-coupon
        batch sorts instead. Both sides give the same coupons."""
        assert not C._use_scatter(3, 11)
        assert not C._use_scatter((1 << 16) - 1, 11)
        assert C._use_scatter(1 << 16, 11)
        assert not C._use_scatter(1 << 30, 16)
        for n in (3, 1 << 16):
            h1, h2 = _rand(n, 30), _rand(n, 31)
            rows = (h1 & np.uint64(2047)).astype(np.uint32)
            cols = np.array([min(64 - int(b).bit_length(), 63) for b in h2.tolist()], np.uint32)
            assert np.array_equal(C._coupons(h1, h2, 11), np.unique((rows << 6) | cols))
