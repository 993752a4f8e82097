"""REQ kernel tests: the properties a KLL alias CANNOT have — rank error
relative to the distance from the accurate end, shrinking toward rank 1.0
for HRA (toward 0.0 for LRA) — plus exactness below capacity, weight
conservation, merge, and serialization round-trip."""

import numpy as np

from datasketches_postgresql_spark.sketches import kll as K
from datasketches_postgresql_spark.sketches import req as R


def _uniform(n=1_000_000, seed=5):
    rng = np.random.default_rng(seed)
    return rng.permutation(np.arange(n, dtype=np.float64))


class TestReqKernel:
    def test_weight_conservation(self):
        st = R.ReqState(12, hra=True)
        st.update(_uniform(300_000))
        _, weights = st._sorted_view()
        assert int(weights.sum()) == st.n == 300_000

    def test_hra_tail_error_shrinks_toward_high_ranks(self):
        vals = _uniform()
        st = R.ReqState(12, hra=True)
        for chunk in np.array_split(vals, 20):
            st.update(chunk)
        n = len(vals)
        # relative-to-tail error bounded at every high rank...
        for q in (0.9, 0.99, 0.999, 0.9999):
            err = abs(st.get_rank(q * n) - q)
            assert err <= 0.15 * (1 - q), (q, err)
        # ...and the ABSOLUTE error at rank 0.9999 beats the absolute error
        # at the median by an order of magnitude (uniform-error sketches
        # can't do this)
        tail_err = abs(st.get_rank(0.9999 * n) - 0.9999)
        mid_err = abs(st.get_rank(0.5 * n) - 0.5)
        assert tail_err < mid_err / 10

    def test_hra_beats_same_size_kll_at_the_tail(self):
        vals = _uniform()
        st = R.ReqState(12, hra=True)
        st.update(vals)
        retained = sum(l.buf.size for l in st.levels)
        kll = K.KllState.deserialize(K.build(vals, k=max(retained, 8)))
        n = len(vals)
        req_err = abs(st.get_rank(0.9999 * n) - 0.9999)
        kll_err = abs(kll.get_rank(0.9999 * n) - 0.9999)
        # comparable memory, REQ's tail rank error is far smaller
        assert req_err < max(kll_err, 1e-4)

    def test_lra_mirrors(self):
        vals = _uniform()
        st = R.ReqState(12, hra=False)
        st.update(vals)
        n = len(vals)
        for q in (0.0001, 0.001, 0.01):
            err = abs(st.get_rank(q * n) - q)
            assert err <= 0.15 * q + 1e-9, (q, err)

    def test_exact_below_capacity(self):
        st = R.ReqState(1024, hra=True)
        st.update(np.arange(5000, dtype=np.float64))
        assert st.get_rank(2500.0) == 0.5
        assert st.get_quantile(0.5) == 2500.0
        assert sum(l.buf.size for l in st.levels) == 5000  # nothing compacted

    def test_merge_matches_single_build_accuracy(self):
        vals = _uniform(400_000)
        parts = [R.build(c, 12, True) for c in np.array_split(vals, 8)]
        merged = R.ReqState.deserialize(R.merge(parts))
        assert merged.n == 400_000
        err = abs(merged.get_rank(0.9999 * 400_000) - 0.9999)
        assert err <= 0.15 * (1 - 0.9999)

    def test_roundtrip_and_inclusive(self):
        st = R.ReqState(16, hra=True)
        st.update(np.array([1.0, 2.0, 2.0, 3.0], dtype=np.float64))
        back = R.ReqState.deserialize(st.serialize())
        assert back.get_rank(2.0, inclusive=False) == 0.25
        assert back.get_rank(2.0, inclusive=True) == 0.75
        assert back.min == 1.0 and back.max == 3.0

    def test_hra_lra_merge_rejected(self):
        a = R.ReqState(12, True)
        b = R.ReqState(12, False)
        a.update(np.ones(10))
        b.update(np.ones(10))
        try:
            a.merge(b)
            raise AssertionError("expected ValueError")
        except ValueError:
            pass
