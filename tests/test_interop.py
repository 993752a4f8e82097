"""DataSketches compact-theta wire-format interop tests.

Structural ground truth (see tests/test_jvm_groundtruth.py for live
verification against the datasketches-java 6.2.0 bundled in Spark's jars): the serializer must emit exactly the publicly documented v3
layout (preamble/flags/seed-hash/count/theta/sorted hashes), round-trip
losslessly, and reproduce the reference's own test expectations
(/root/reference/test/theta_sketch_test.sql:24-33) through export+import.
The vectorized murmur3 is cross-checked against an independent scalar
implementation of the published algorithm."""

import struct

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from datasketches_postgresql_spark.functions.keys import hash_keys
from datasketches_postgresql_spark.sketches import interop as I
from datasketches_postgresql_spark.sketches import theta as T
from datasketches_postgresql_spark.sketches.murmur3 import (
    DEFAULT_SEED,
    compute_seed_hash,
    hash128_bytes,
    hash128_u64,
)



def _strings(words):
    """Theta image over string keys, hashed by the DataSketches key rule."""
    return T.build(hash_keys(pd.Series(words))[1])

class TestMurmur3:
    def test_vector_matches_scalar(self):
        rng = np.random.default_rng(3)
        keys = rng.integers(0, 2**63, size=257, dtype=np.uint64)
        h1v, h2v = hash128_u64(keys, seed=9001)
        for i in (0, 1, 100, 256):
            h1s, h2s = hash128_bytes(struct.pack("<Q", int(keys[i])), 9001)
            assert h1v[i] == h1s and h2v[i] == h2s

    def test_empty_input_seed_zero(self):
        # published property: x64_128("", 0) == (0, 0)
        assert hash128_bytes(b"", 0) == (0, 0)

    def test_block_and_tail_paths(self):
        # >16 bytes exercises the body loop; result must be deterministic
        a = hash128_bytes(b"the quick brown fox jumps", 42)
        b = hash128_bytes(b"the quick brown fox jumps", 42)
        c = hash128_bytes(b"the quick brown fox jumpt", 42)
        assert a == b and a != c

    def test_seed_hash(self):
        sh = compute_seed_hash(DEFAULT_SEED)
        assert 0 < sh < 65536
        assert sh != compute_seed_hash(12345)


class TestCompactFormat:
    def test_empty_image_layout(self):
        img = I.serialize_compact(I.build_murmur(np.empty(0, dtype=np.uint64)))
        assert len(img) == 8
        pre, ser, fam, _, _, flags, _ = struct.unpack("<BBBBBBH", img)
        assert (pre, ser, fam) == (1, 3, 3)
        assert flags & 4  # EMPTY
        assert flags & 8 and flags & 16  # COMPACT | ORDERED
        back = I.deserialize_compact(img)
        assert T.get_estimate(back) == 0.0

    def test_single_item_layout(self):
        img = I.serialize_compact(I.build_murmur(np.array([7], dtype=np.uint64)))
        assert len(img) == 16
        pre = img[0]
        assert pre == 1 and not (img[5] & 4)
        back = I.deserialize_compact(img)
        assert T.get_estimate(back) == 1.0

    def test_exact_mode_layout_and_roundtrip(self):
        sk = I.build_murmur(np.arange(1, 6, dtype=np.uint64))
        img = I.serialize_compact(sk)
        pre, ser, fam = img[0], img[1], img[2]
        assert (pre, ser, fam) == (2, 3, 3)
        (n,) = struct.unpack("<I", img[8:12])
        assert n == 5 and len(img) == 16 + 8 * 5
        hashes = np.frombuffer(img, dtype="<u8", offset=16)
        assert np.all(np.diff(hashes.astype(np.int64)) > 0)  # ordered
        assert np.all(hashes < np.uint64(1 << 63))  # 63-bit space
        back = I.deserialize_compact(img)
        assert T.get_estimate(back) == 5.0
        assert back == sk  # byte-identical internal representation

    def test_estimation_mode_roundtrip(self):
        rng = np.random.default_rng(11)
        vals = rng.integers(0, 2**62, size=100_000, dtype=np.uint64)
        sk = I.build_murmur(vals, lg_k=11)
        img = I.serialize_compact(sk)
        assert img[0] == 3  # estimation preamble
        back = I.deserialize_compact(img)
        assert back == sk
        est = T.get_estimate(sk)
        true = len(np.unique(vals))
        assert abs(est - true) / true < 0.1  # lg_k=11 ~ 2.3% RSE, 4 sigma

    def test_seed_hash_mismatch_rejected(self):
        sk = I.build_murmur(np.arange(10, dtype=np.uint64))
        img = I.serialize_compact(sk)
        with pytest.raises(ValueError, match="seed hash"):
            I.deserialize_compact(img, seed=12345)

    def test_every_kernel_image_exports_unchanged(self):
        """One hash space and one image format: a sketch built from any
        uniform hashes is already the v3 wire image, so export is the
        identity and import returns the same bytes."""
        rng = np.random.default_rng(12)
        sk = T.build(rng.integers(0, 2**64, size=5000, dtype=np.uint64), lg_k=10)
        assert I.serialize_compact(sk) == sk
        assert I.deserialize_compact(sk) == sk
        assert sk[0] == 3 and sk[1] == 3  # estimation preamble, serial v3

    def test_reference_test_expectations_through_wire(self):
        """theta_sketch_test.sql:24-33: union({1..5},{4..8})=8,
        intersection=2; a_not_b({1,2,3},{2,3,4})=1 — computed on sketches
        that each took a trip through the canonical wire format."""
        a = I.deserialize_compact(
            I.serialize_compact(_strings([str(v) for v in [1, 2, 3, 4, 5]]))
        )
        b = I.deserialize_compact(
            I.serialize_compact(_strings([str(v) for v in [4, 5, 6, 7, 8]]))
        )
        assert T.get_estimate(T.union([a, b])) == 8.0
        assert T.get_estimate(T.intersection([a, b])) == 2.0
        x = _strings(["1", "2", "3"])
        y = _strings(["2", "3", "4"])
        assert T.get_estimate(T.a_not_b(x, y)) == 1.0


class TestSparkSurface:
    def test_compat_build_export_import(self, spark):
        from datasketches_postgresql_spark.functions import theta as TH

        df = spark.createDataFrame(
            [("g1", v) for v in [1, 2, 3, 4, 5]] + [("g2", v) for v in [4, 5, 6, 7, 8]],
            "grp string, value long",
        )
        sk = TH.theta_sketch_build_compat(df, ["grp"], "value")
        wire = sk.select(
            "grp", TH.theta_sketch_to_datasketches(F.col("sketch")).alias("img")
        )
        back = wire.select(
            "grp", TH.theta_sketch_from_datasketches(F.col("img")).alias("sketch")
        )
        got = {
            r["grp"]: r["e"]
            for r in back.select(
                "grp", TH.theta_sketch_get_estimate("sketch").alias("e")
            ).collect()
        }
        assert got == {"g1": 5.0, "g2": 5.0}
        merged = TH.theta_sketch_union_agg(back, [], "sketch")
        est = merged.select(TH.theta_sketch_get_estimate("sketch").alias("e")).collect()
        assert est[0]["e"] == 8.0

    def test_image_preamble_from_spark(self, spark):
        from datasketches_postgresql_spark.functions import theta as TH

        df = spark.range(100).select(F.col("id").alias("v"))
        sk = TH.theta_sketch_build_compat(df, [], "v")
        img = bytes(
            sk.select(TH.theta_sketch_to_datasketches(F.col("sketch")).alias("i"))
            .collect()[0]["i"]
        )
        assert img[1] == 3 and img[2] == 3  # serial v3, family COMPACT
