"""Property-based (hypothesis) invariants for the sketch kernels and their
canonical DataSketches wire formats. Pure numpy — no Spark session — so the
whole module runs in seconds and fuzzes the seams the example-based tests pin
at single points:

- round-trip identity: internal -> canonical image -> internal preserves
  every query the family answers (and, where the format is canonical-unique,
  the exact bytes);
- estimator sanity under arbitrary inputs (bounds bracket truth in the exact
  regime, n bookkeeping is additive under merge);
- merge algebra: commutativity of union/merge at the image level.

Reference parity anchors (semantics, not code): theta/KLL/FI/AOD/REQ wire
layouts per /root/reference/src/*_c_adapter.cpp storage of the standard
Apache DataSketches images.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

u64s = st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), max_size=400)
floats = st.lists(
    st.floats(allow_nan=False, allow_infinity=False, width=32), max_size=400
)


def _arr_u64(xs):
    return np.asarray(xs, dtype=np.uint64)


class TestThetaProperties:
    @given(u64s, u64s)
    @settings(max_examples=60, deadline=None)
    def test_union_commutative_bytes(self, a, b):
        from datasketches_postgresql_spark.sketches import theta

        sa, sb = theta.build(_arr_u64(a)), theta.build(_arr_u64(b))
        assert theta.union([sa, sb]) == theta.union([sb, sa])

    @given(u64s)
    @settings(max_examples=60, deadline=None)
    def test_exact_regime_is_exact_and_bounds_bracket(self, xs):
        from datasketches_postgresql_spark.sketches import theta

        s = theta.build(_arr_u64(xs))
        # the kernel keeps h >> 1 in (0, Long.MAX_VALUE), as datasketches-java does
        true = len({x >> 1 for x in xs} - {0, theta.MAX_THETA})
        est, lb, ub = theta.get_estimate_and_bounds(s, 2)
        if true <= (1 << theta.DEFAULT_LG_K):  # exact regime at default lg_k
            assert est == true == lb == ub
        else:
            assert lb <= true <= ub

    @given(u64s)
    @settings(max_examples=40, deadline=None)
    def test_compact_image_roundtrip(self, xs):
        from datasketches_postgresql_spark.sketches import interop, theta

        s = interop.build_murmur(_arr_u64(xs))
        back = interop.deserialize_compact(interop.serialize_compact(s))
        assert back == s
        assert interop.serialize_compact(back) == interop.serialize_compact(s)
        assert theta.get_estimate(back) == theta.get_estimate(s)


def encode_theta_v4(theta_long: int, hashes) -> bytes:
    """Serial-version-4 (compressed) compact theta image, written from the
    public format as datasketches-java's ``toByteArrayCompressed`` lays it
    out: entry deltas packed MSB first in ``entry_bits`` bits each."""
    from datasketches_postgresql_spark.sketches import murmur3, theta

    hashes = [int(h) for h in hashes]
    estimation = theta_long < theta.MAX_THETA
    deltas = [b - a for a, b in zip([0] + hashes, hashes)]
    bits = max(1, max(deltas, default=1).bit_length())
    n = len(hashes)
    count_bytes = max(1, (n.bit_length() + 7) // 8)
    pre = 2 if estimation else 1
    out = bytearray([pre, 4, 3, bits, count_bytes, 2 | 8 | 16])
    out += murmur3.compute_seed_hash().to_bytes(2, "little")
    if estimation:
        out += theta_long.to_bytes(8, "little")
    out += n.to_bytes(count_bytes, "little")
    stream = 0
    for d in deltas:
        stream = (stream << bits) | d
    nbytes = (n * bits + 7) // 8
    out += (stream << (8 * nbytes - n * bits)).to_bytes(nbytes, "big")
    return bytes(out)


@st.composite
def theta_images(draw):
    """(theta, entries, v3 image, v4 image) over arbitrary valid sketches."""
    from datasketches_postgresql_spark.sketches import theta

    estimation = draw(st.booleans())
    th = draw(st.integers(2, theta.MAX_THETA - 1)) if estimation else theta.MAX_THETA
    entries = draw(st.lists(st.integers(1, th - 1), min_size=0 if estimation else 2,
                            max_size=300, unique=True))
    hs = np.array(sorted(entries), dtype=np.uint64)
    return th, hs, theta.serialize(th, hs), encode_theta_v4(th, hs)


def _decodes_or_raises_value_error(image):
    """A hostile image either raises ValueError or decodes to a sketch that
    satisfies every invariant, and never holds more entries than its bytes."""
    from datasketches_postgresql_spark.sketches import theta

    try:
        th, hs = theta.deserialize(image)
    except ValueError:
        return
    assert 0 < th <= theta.MAX_THETA
    assert hs.size <= 8 * len(image)
    if hs.size:
        assert hs[0] > 0 and hs[-1] < th and np.all(np.diff(hs.astype(object)) > 0)


class TestThetaDecoderHostileInput:
    """The compact-image decoder over v3 and v4: valid images round-trip;
    truncated, flipped, oversized-count and bad-width images raise
    ValueError (sizes are checked against len(image) before allocating)."""

    @given(theta_images())
    @settings(max_examples=80, deadline=None)
    def test_v3_and_v4_decode_to_the_same_sketch(self, img):
        from datasketches_postgresql_spark.sketches import interop, theta

        th, hs, v3, v4 = img
        for image in (v3, v4):
            got_th, got = theta.deserialize(image)
            assert got_th == th and np.array_equal(got, hs)
        assert interop.serialize_compact(v4) == v3
        assert theta.get_estimate(v4) == theta.get_estimate(v3)

    @given(theta_images(), st.data())
    @settings(max_examples=80, deadline=None)
    def test_truncated_image_raises(self, img, data):
        from datasketches_postgresql_spark.sketches import theta

        for image in img[2:]:
            cut = data.draw(st.integers(0, len(image) - 1))
            with pytest.raises(ValueError):
                theta.deserialize(image[:cut])

    @given(theta_images(), st.data())
    @settings(max_examples=150, deadline=None)
    def test_flipped_header_byte_raises_or_decodes_consistently(self, img, data):
        for image in img[2:]:
            pos = data.draw(st.integers(0, min(len(image), 24) - 1))
            mask = data.draw(st.integers(1, 255))
            flipped = bytearray(image)
            flipped[pos] ^= mask
            _decodes_or_raises_value_error(bytes(flipped))

    @given(theta_images(), st.integers(1, 2**32 - 1))
    @settings(max_examples=80, deadline=None)
    def test_oversized_entry_count_raises(self, img, extra):
        from datasketches_postgresql_spark.sketches import theta

        th, hs, v3, v4 = img
        if v3[0] != 1:  # the empty and single-item images hold no count
            n = min(hs.size + extra, 2**32 - 1)
            with pytest.raises(ValueError):
                theta.deserialize(v3[:8] + n.to_bytes(4, "little") + v3[12:])
        pre, count_bytes = v4[0], v4[4]
        n = min(hs.size + extra, 2 ** (8 * count_bytes) - 1)
        if n > hs.size:
            at = 8 * pre
            bad = v4[:at] + n.to_bytes(count_bytes, "little") + v4[at + count_bytes :]
            with pytest.raises(ValueError):
                theta.deserialize(bad)

    @given(theta_images(), st.sampled_from([0, 64, 65, 127, 200, 255]))
    @settings(max_examples=40, deadline=None)
    def test_bad_entry_bit_width_raises(self, img, bits):
        from datasketches_postgresql_spark.sketches import theta

        v4 = bytearray(img[3])
        v4[3] = bits
        with pytest.raises(ValueError, match="bit entries"):
            theta.deserialize(bytes(v4))

    def test_single_item_image_cut_short_raises_value_error(self):
        from datasketches_postgresql_spark.sketches import interop, theta

        img = interop.build_murmur(np.array([7], dtype=np.uint64))
        assert len(img) == 16
        for cut in (9, 12, 15):
            with pytest.raises(ValueError, match="truncated"):
                theta.deserialize(img[:cut])


class TestKllProperties:
    @given(floats)
    @settings(max_examples=40, deadline=None)
    def test_canonical_image_preserves_queries(self, xs):
        from datasketches_postgresql_spark.sketches import kll, kll_interop

        s = kll.build(np.asarray(xs, dtype=np.float64))
        back = kll_interop.deserialize(kll_interop.serialize(s))
        a, b = kll.KllState.deserialize(s), kll.KllState.deserialize(back)
        assert a.n == b.n == len(xs)
        if xs:
            assert a.min == b.min and a.max == b.max
            for q in (0.0, 0.25, 0.5, 0.75, 1.0):
                assert a.get_quantile(q) == b.get_quantile(q)
            assert a.get_rank(float(np.median(xs))) == b.get_rank(float(np.median(xs)))

    @given(st.lists(floats, min_size=1, max_size=5))
    @settings(max_examples=30, deadline=None)
    def test_merge_n_additive_and_minmax(self, parts):
        from datasketches_postgresql_spark.sketches import kll

        imgs = [kll.build(np.asarray(p, dtype=np.float64)) for p in parts]
        m = kll.KllState.deserialize(kll.merge(imgs))
        total = sum(len(p) for p in parts)
        assert m.n == total
        flat = [v for p in parts for v in p]
        if flat:
            assert m.min == min(flat) and m.max == max(flat)


class TestQuantilesClassicProperties:
    @given(floats)
    @settings(max_examples=40, deadline=None)
    def test_layout_invariants_any_n(self, xs):
        from datasketches_postgresql_spark.sketches.quantiles import (
            QuantilesState,
            build,
        )

        img = build(np.asarray(xs, dtype=np.float64), 16)
        st_ = QuantilesState.deserialize(img)
        n = len(xs)
        assert st_.n == n
        if n:
            assert st_.bb.size == n % 32
            bp = n // 32
            assert all(((bp >> i) & 1) == (i in st_.levels) for i in range(30))
        assert st_.serialize() == img  # canonical-unique round trip

    @given(st.lists(floats, min_size=1, max_size=4))
    @settings(max_examples=30, deadline=None)
    def test_merge_preserves_n_and_rank_monotone(self, parts):
        from datasketches_postgresql_spark.sketches.quantiles import (
            QuantilesState,
            build,
            merge,
        )

        imgs = [build(np.asarray(p, dtype=np.float64), 16) for p in parts]
        m = QuantilesState.deserialize(merge(imgs))
        assert m.n == sum(len(p) for p in parts)
        if m.n:
            qs = [m.get_quantile(q) for q in (0.1, 0.3, 0.5, 0.7, 0.9)]
            assert qs == sorted(qs)


class TestFiProperties:
    @given(
        st.lists(
            st.tuples(st.text(min_size=1, max_size=6), st.integers(1, 1000)),
            max_size=300,
        )
    )
    @settings(max_examples=40, deadline=None)
    def test_no_false_negatives_any_stream(self, pairs):
        """The Misra-Gries guarantee fuzzed: every item's upper bound must be
        >= its true weight, and (ub - lb) <= the sketch's max error."""
        from datasketches_postgresql_spark.sketches.fi import FiState

        st_ = FiState(4)
        if pairs:
            st_.update([p[0] for p in pairs], [p[1] for p in pairs])
        truth: dict[str, int] = {}
        for k, w in pairs:
            truth[k] = truth.get(k, 0) + w
        for item, (ub, err) in st_.items.items():
            assert ub >= truth[item]
            assert ub - err <= truth[item]
        # items NOT retained must have true weight <= the global error bound
        retained = set(st_.items)
        for k, w in truth.items():
            if k not in retained:
                assert w <= st_.offset

    @given(
        st.lists(
            st.tuples(st.text(min_size=1, max_size=6), st.integers(1, 1000)),
            max_size=300,
        )
    )
    @settings(max_examples=30, deadline=None)
    def test_canonical_image_roundtrip(self, pairs):
        from datasketches_postgresql_spark.sketches import fi, fi_interop
        from datasketches_postgresql_spark.sketches.fi import FiState

        img = fi.build(4, [p[0] for p in pairs], [p[1] for p in pairs])
        back = fi_interop.deserialize(fi_interop.serialize(img))
        a, b = FiState.deserialize(img), FiState.deserialize(back)
        assert a.total == b.total
        # The canonical format carries ONE global error offset, not per-item
        # errors (fi_interop docstring): estimates (upper-bound counters) are
        # preserved exactly; each item's error widens to the folded offset,
        # which must dominate every per-item error AND the prior global
        # offset, so lower bounds stay valid — merely looser.
        assert set(a.items) == set(b.items)
        folded = max(
            [a.offset, *(err for _ub, err in a.items.values())], default=0
        )
        assert b.offset == folded
        for item, (ub, err) in a.items.items():
            ub_b, err_b = b.items[item]
            assert ub_b == ub
            assert err_b == folded >= err
        # a second round trip is byte-stable (the fold is idempotent)
        again = fi_interop.serialize(back)
        assert fi_interop.deserialize(again) == back


class TestHllProperties:
    @given(
        st.lists(st.integers(0, 62), min_size=1 << 6, max_size=1 << 6),
        st.sampled_from([4, 6, 8]),
    )
    @settings(max_examples=60, deadline=None)
    def test_image_roundtrip_any_registers(self, regs, width):
        from datasketches_postgresql_spark.sketches import hll_interop as hi

        regs = np.asarray(regs, dtype=np.uint8)
        lg_k, w, back = hi.deserialize_hll(hi.serialize_hll(6, regs, width))
        assert lg_k == 6 and w == width
        assert np.array_equal(back, regs)

    @given(
        st.lists(st.integers(0, 40), min_size=1 << 6, max_size=1 << 6),
        st.lists(st.integers(0, 40), min_size=1 << 6, max_size=1 << 6),
    )
    @settings(max_examples=40, deadline=None)
    def test_union_is_registerwise_max(self, ra, rb):
        from datasketches_postgresql_spark.sketches import hll_interop as hi

        a = hi.serialize_hll(6, np.asarray(ra, np.uint8), 8)
        b = hi.serialize_hll(6, np.asarray(rb, np.uint8), 8)
        assert hi.union_images([a, b], 8) == hi.union_images([b, a], 8)
        _, _, u = hi.deserialize_hll(hi.union_images([a, b], 4))
        assert np.array_equal(u, np.maximum(ra, rb))


class TestAodProperties:
    @given(
        st.lists(
            st.tuples(
                st.integers(0, (1 << 64) - 1),
                st.floats(-1e9, 1e9, allow_nan=False),
            ),
            max_size=300,
        )
    )
    @settings(max_examples=40, deadline=None)
    def test_compact_image_roundtrip(self, rows):
        from datasketches_postgresql_spark.sketches import aod, aod_interop

        keys = _arr_u64([r[0] for r in rows])
        vals = np.asarray([r[1] for r in rows], dtype=np.float64)
        s = aod_interop.build_murmur(keys, vals)
        back = aod_interop.deserialize_compact(aod_interop.serialize_compact(s))
        assert back == s
        assert aod.get_estimate(back) == aod.get_estimate(s)
        assert aod.to_means(back) == aod.to_means(s)


class TestReqProperties:
    @given(floats)
    @settings(max_examples=30, deadline=None)
    def test_canonical_image_preserves_rank(self, xs):
        from datasketches_postgresql_spark.sketches import req, req_interop
        from datasketches_postgresql_spark.sketches.req import ReqState

        s = req.build(np.asarray(xs, dtype=np.float64))
        back = req_interop.deserialize_canonical(req_interop.serialize_canonical(s))
        a, b = ReqState.deserialize(s), ReqState.deserialize(back)
        assert a.n == b.n == len(xs)
        if xs:
            for probe in (min(xs), max(xs), float(np.median(xs))):
                assert a.get_rank(probe) == b.get_rank(probe)
