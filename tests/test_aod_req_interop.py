"""AOD + REQ DataSketches wire-format interop tests.

Structural layer (documented layouts + lossless round-trip, exact and
estimation regimes); the LIVE verification against the datasketches-java
bundled in Spark's jars lives in tests/test_jvm_groundtruth.py — which is
what caught the AOD offset-24 padding and the REQ compactor-record field
order these tests now pin."""

import struct

import numpy as np
import pytest

from datasketches_postgresql_spark.sketches import aod as A
from datasketches_postgresql_spark.sketches import req as R
from datasketches_postgresql_spark.sketches import req_interop as RI


class TestAodWire:
    def test_header_layout_exact(self):
        sk = A.build(
            np.arange(1, 101, dtype=np.uint64), np.ones((100, 3))
        )
        img = A.validate(sk)
        pre, ser, fam, stype, flags, nv, seed_hash, theta = struct.unpack_from(
            "<BBBBBBHQ", img, 0
        )
        assert (pre, ser, fam, stype) == (1, 1, 9, 3)
        assert nv == 3
        assert flags & 8  # HAS_ENTRIES
        assert not flags & 4  # not EMPTY
        assert theta == A.MAX_THETA  # exact: Long.MAX_VALUE
        assert seed_hash != 0
        (n,) = struct.unpack_from("<I", img, 16)
        assert n == 100
        # count pads to an 8-byte boundary: keys start at 24 (matches
        # datasketches-java 6.2.0 byte-for-byte, test_jvm_groundtruth.py)
        assert img[20:24] == b"\x00\x00\x00\x00"
        assert len(img) == 24 + 8 * n + 8 * n * 3

    def test_round_trip_exact(self):
        keys = np.arange(1, 501, dtype=np.uint64)
        vals = np.stack([keys.astype(float), keys.astype(float) * 2], axis=1)
        sk = A.build(keys, vals)
        back = A.validate(A.validate(sk))
        assert A.get_estimate(back) == 500.0
        assert A.to_means(back) == pytest.approx(A.to_means(sk))
        assert A.to_variances(back) == pytest.approx(A.to_variances(sk))

    def test_round_trip_estimation(self):
        sk = A.build(
            np.arange(1, 50_001, dtype=np.uint64), np.ones((50_000, 1)), lg_k=10
        )
        img = A.validate(sk)
        flags = img[4]
        assert flags & 2  # sampling-mode bit set when theta < 1
        back = A.validate(img)
        est = A.get_estimate(back)
        assert est == pytest.approx(A.get_estimate(sk))
        assert est == pytest.approx(50_000, rel=0.15)

    def test_duplicate_keys_sum(self):
        sk = A.build(
            np.array([9, 9, 11], dtype=np.uint64),
            np.array([[1.0], [2.5], [7.0]]),
        )
        back = A.validate(A.validate(sk))
        assert A.get_estimate(back) == 2.0
        _, _, _, vals = A.deserialize(back)
        assert sorted(vals.ravel().tolist()) == [3.5, 7.0]

    def test_empty_image(self):
        img = A.validate(
            A.build(np.empty(0, dtype=np.uint64), np.empty((0, 2)))
        )
        assert len(img) == 16
        assert img[4] & 4  # EMPTY flag
        assert A.get_estimate(A.validate(img)) == 0.0

    def test_private_layout_rejected(self):
        """An image in the private [u8 lg_k][u8 num_values][u64 theta]...
        layout of earlier versions fails with a clear error rather than
        decoding as something else."""
        old = struct.pack("<BBQI", 12, 1, 2**64 - 1, 1) + struct.pack("<Q", 6) + struct.pack("<d", 1.0)
        with pytest.raises(ValueError, match="family"):
            A.deserialize(old)

    def test_bad_family_rejected(self):
        img = bytearray(
            A.validate(
                A.build(np.array([1], dtype=np.uint64), np.array([[1.0]]))
            )
        )
        img[2] = 3  # theta family instead of tuple
        with pytest.raises(ValueError, match="family"):
            A.validate(bytes(img))

    def test_seed_mismatch_rejected(self):
        sk = A.build(np.array([1, 2], dtype=np.uint64), np.ones((2, 1)))
        img = A.validate(sk)
        with pytest.raises(ValueError, match="seed"):
            A.deserialize(img, seed=1234)


class TestReqWire:
    def test_header_layout(self):
        img = RI.serialize_canonical(R.build(np.arange(10, dtype=np.float32), k=64))
        pre, ser, fam, flags, k, num_levels, _ = struct.unpack_from("<BBBBHBB", img, 0)
        assert (pre, ser, fam) == (2, 1, 17)  # exact form, serial 1, REQ family
        assert flags & 8  # HRA (default)
        assert flags & 32  # level zero sorted
        assert k == 64 and num_levels == 1

    def test_round_trip_exact(self):
        vals = np.random.default_rng(5).normal(size=800).astype(np.float32)
        sk = R.build(vals, k=1024)
        back = RI.deserialize_canonical(RI.serialize_canonical(sk))
        a, b = R.ReqState.deserialize(sk), R.ReqState.deserialize(back)
        assert (a.n, a.min, a.max) == (b.n, b.min, b.max)
        for q in (0.0, 0.25, 0.5, 0.9, 1.0):
            assert a.get_quantile(q) == b.get_quantile(q)

    def test_round_trip_estimation(self):
        vals = np.random.default_rng(6).normal(size=40_000).astype(np.float32)
        sk = R.build(vals, k=4)
        img = RI.serialize_canonical(sk)
        assert img[0] == 4  # estimation form: 4 preamble ints
        back = RI.deserialize_canonical(img)
        a, b = R.ReqState.deserialize(sk), R.ReqState.deserialize(back)
        assert a.n == b.n == 40_000
        assert len(a.levels) == len(b.levels) > 1
        for h, (la, lb) in enumerate(zip(a.levels, b.levels)):
            assert (la.counter, la.num_sections) == (lb.counter, lb.num_sections)
        for q in (0.5, 0.99, 0.999):
            assert a.get_quantile(q) == b.get_quantile(q)

    def test_lra_flag(self):
        sk = R.build(np.arange(100, dtype=np.float32), k=8, hra=False)
        img = RI.serialize_canonical(sk)
        assert not img[3] & 8
        back = R.ReqState.deserialize(RI.deserialize_canonical(img))
        assert back.hra is False

    def test_empty(self):
        img = RI.serialize_canonical(R.ReqState(12).serialize())
        assert len(img) == 8 and img[3] & 4
        assert R.ReqState.deserialize(RI.deserialize_canonical(img)).n == 0

    def test_raw_items_read(self):
        # a reader must accept the RAW_ITEMS form even though we never emit it
        items = np.array([3.0, 1.0, 2.0], dtype="<f4")
        hdr = struct.pack("<BBBBHBB", 2, 1, 17, 8 | 16, 12, 0, 3)
        st = R.ReqState.deserialize(RI.deserialize_canonical(hdr + items.tobytes()))
        assert st.n == 3 and st.min == 1.0 and st.max == 3.0

    def test_bad_family_rejected(self):
        img = bytearray(RI.serialize_canonical(R.build(np.arange(5, dtype=np.float32))))
        img[2] = 15
        with pytest.raises(ValueError, match="family"):
            RI.deserialize_canonical(bytes(img))
