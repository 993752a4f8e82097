"""DataSketches KLL wire-format interop tests.

Structural ground truth (see tests/test_jvm_groundtruth.py for live
verification against the datasketches-java 6.2.0 bundled in Spark's jars): the serializer must emit exactly the publicly documented layout
(preamble/flags/k/m/n/min_k/levels/min/max/items with the canonical
capacity-derived level offsets), round-trip losslessly through the internal
state, and reproduce exact-regime answers precisely. Capacity math is
cross-checked against the known DataSketches values (level 0 cap == k,
two-level cap == k + round(2k/3))."""

import struct

import numpy as np

from datasketches_postgresql_spark.sketches import kll as K
from datasketches_postgresql_spark.sketches import kll_interop as I


def _build(values, k=200):
    return K.build(np.asarray(values, dtype=np.float64), k)


class TestCapacity:
    def test_level_zero_cap_is_k(self):
        assert K.level_capacity(200, 1, 0) == 200
        assert K.level_capacity(128, 3, 2) == 128  # top level always k

    def test_two_level_capacity(self):
        # k + round-half-up(2k/3): 200 + 133 = 333 (known DataSketches value)
        assert K.compute_total_capacity(200, 8, 2) == 333

    def test_min_width_floor(self):
        # deep levels bottom out at m=8
        assert K.level_capacity(200, 40, 0) == 8

    def test_monotone_in_height(self):
        caps = [K.level_capacity(200, 10, h) for h in range(10)]
        assert caps == sorted(caps)


class TestLayout:
    def test_empty_image(self):
        img = I.serialize(_build([]))
        assert len(img) == 8
        pre, ser, fam, flags, k, m, _ = struct.unpack("<BBBBHBB", img)
        assert (pre, ser, fam) == (2, 1, 15)
        assert flags & 1  # EMPTY
        assert (k, m) == (200, 8)

    def test_single_item_image(self):
        img = I.serialize(_build([3.5]), "<f4")
        assert len(img) == 12
        pre, ser, fam, flags = struct.unpack_from("<BBBB", img, 0)
        assert (pre, ser, fam) == (2, 2, 15)
        assert flags & 4  # SINGLE_ITEM
        assert struct.unpack_from("<f", img, 8)[0] == 3.5

    def test_full_image_header_and_levels(self):
        sk = _build(np.arange(100, dtype=float))
        img = I.serialize(sk, "<f4")
        pre, ser, fam, flags, k, m, _ = struct.unpack_from("<BBBBHBB", img, 0)
        assert (pre, ser, fam, k, m) == (5, 1, 15, 200, 8)
        assert flags & 2  # LEVEL_ZERO_SORTED (we sort on export)
        n, min_k, num_levels, _ = struct.unpack_from("<QHBB", img, 8)
        assert (n, min_k, num_levels) == (100, 200, 1)
        (lvl0,) = struct.unpack_from("<I", img, 20)
        cap = K.compute_total_capacity(200, 8, 1)
        assert lvl0 == cap - 100  # right-justified, 100 retained
        # min/max then exactly cap-lvl0 items
        mn, mx = struct.unpack_from("<ff", img, 24)
        assert (mn, mx) == (0.0, 99.0)
        items = np.frombuffer(img, dtype="<f4", offset=32)
        assert items.size == cap - lvl0
        assert list(items) == sorted(items)  # level 0 sorted

    def test_image_size_matches_layout(self):
        sk = _build(np.arange(5000, dtype=float))
        img = I.serialize(sk, "<f4")
        n, min_k, num_levels, _ = struct.unpack_from("<QHBB", img, 8)
        levels = np.frombuffer(img, dtype="<u4", count=num_levels, offset=20)
        cap = K.compute_total_capacity(200, 8, num_levels)
        expect = 20 + 4 * num_levels + 2 * 4 + 4 * (cap - int(levels[0]))
        assert len(img) == expect
        # offsets strictly within the capacity buffer and ascending
        assert 0 <= levels[0] and all(np.diff(levels) >= 0) and levels[-1] <= cap


class TestRoundTrip:
    def test_exact_regime_lossless(self):
        vals = np.arange(150, dtype=float)
        back = K.KllState.deserialize(I.deserialize(I.serialize(_build(vals), "<f4"), "<f4"))
        assert back.n == 150
        assert back.get_quantile(0.5) == 75.0  # exclusive-rank median of 0..149
        assert (back.min, back.max) == (0.0, 149.0)

    def test_estimation_regime_structure_preserved(self):
        rng = np.random.default_rng(7)
        vals = rng.normal(size=200_000)
        sk = _build(vals)
        orig = K.KllState.deserialize(sk)
        back = K.KllState.deserialize(I.deserialize(I.serialize(sk, "<f8"), "<f8"))
        assert back.n == orig.n
        # per-level multiset equal up to the export fit-compaction; ranks agree
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            assert abs(back.get_rank(orig.get_quantile(q)) - q) < 0.02

    def test_float32_quantization(self):
        sk = _build([1.000000059604645e0])  # not representable in f4
        back = K.KllState.deserialize(I.deserialize(I.serialize(sk, "<f4"), "<f4"))
        assert back.min == np.float32(1.000000059604645)

    def test_empty_and_single_roundtrip(self):
        for vals in ([], [42.0]):
            back = K.KllState.deserialize(I.deserialize(I.serialize(_build(vals))))
            assert back.n == len(vals)

    def test_merge_after_import(self):
        a = I.deserialize(I.serialize(_build(np.arange(1000, dtype=float)), "<f8"), "<f8")
        b = _build(np.arange(1000, 2000, dtype=float))
        merged = K.KllState.deserialize(K.merge([a, b]))
        assert merged.n == 2000
        assert abs(merged.get_rank(1000.0) - 0.5) < 0.02

    def test_rejects_non_kll(self):
        import pytest

        with pytest.raises(ValueError):
            I.deserialize(b"\x01\x03\x03\x00\x00\x00\x00\x00")  # theta family byte

    def test_capacity_fit_on_export(self):
        # states straddling the internal-vs-canonical capacity rounding gap
        # must still emit a self-consistent image
        for n in (333, 334, 5000, 33333):
            sk = _build(np.arange(n, dtype=float))
            img = I.serialize(sk, "<f8")
            back = K.KllState.deserialize(I.deserialize(img, "<f8"))
            assert back.n == n
            assert abs(back.get_rank(n / 2) - 0.5) < 0.02
