"""Canonical CPC wire codec, JVM-free: round-trips through the compressed
image across all flavors, Spark column functions, SQL surface, and the
ecosystem coupon mapping (live library verification lives in
tests/test_jvm_groundtruth.py)."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_postgresql_spark.functions import cpc as CPC
from datasketches_postgresql_spark.sketches import cpc as C
from datasketches_postgresql_spark.sketches import cpc_interop as CI


def _matrix(sketch):
    return C.deserialize(sketch)[1]


class TestCpcCanonicalCodec:
    @pytest.mark.parametrize("n", [0, 1, 7, 40, 150, 500, 1500, 3000, 9000, 50000, 300000])
    def test_roundtrip_every_flavor(self, n):
        sk = CI.build_murmur(np.arange(n, dtype=np.uint64), 11)
        img = CI.serialize_canonical(sk)
        back = CI.deserialize_canonical(img)
        assert np.array_equal(_matrix(sk), _matrix(back)), (
            CI.determine_flavor(11, C.popcount64(_matrix(sk)))
        )

    def test_preamble_and_size(self):
        sk = CI.build_murmur(np.arange(50000, dtype=np.uint64), 11)
        img = CI.serialize_canonical(sk)
        pre, ser, fam, lgk = struct.unpack_from("<BBBB", img, 0)
        assert (ser, fam, lgk) == (1, 16, 11)
        # the whole point: compressed image ~k bytes, not the 16 KiB dense
        # matrix (lgK 11 -> 2048 rows x 8 B)
        assert len(img) < 2048
        internal = len(C.serialize(11, None, _matrix(sk)))
        assert len(img) < internal / 8

    def test_flavor_and_offset_rules(self):
        k = 1 << 11
        assert CI.determine_flavor(11, 0) == "empty"
        assert CI.determine_flavor(11, 3 * k // 32 - 1) == "sparse"
        assert CI.determine_flavor(11, k // 2 - 1) == "hybrid"
        assert CI.determine_flavor(11, 27 * k // 8 - 1) == "pinned"
        assert CI.determine_flavor(11, 27 * k // 8 + 1) == "sliding"
        assert CI.determine_correct_offset(11, 2 * k) == 0  # 16k-19k < 0
        assert CI.determine_correct_offset(11, 8 * k) == (64 * k - 19 * k) >> 14

    def test_seed_hash_validated(self):
        img = CI.serialize_canonical(CI.build_murmur(np.arange(100, dtype=np.uint64), 11))
        bad = img[:6] + b"\x99\x99" + img[8:]
        with pytest.raises(ValueError, match="seed hash"):
            CI.deserialize_canonical(bad)

    def test_family_validated(self):
        with pytest.raises(ValueError, match="family"):
            CI.deserialize_canonical(bytes([2, 1, 8, 11, 0, 2, 0xCC, 0x93]))

    @pytest.mark.parametrize("n", [1500, 9000, 50000])
    def test_truncated_stream_raises_controlled_error(self, n):
        """Round-5 hardening (r4 advice): a truncated compressed section
        must fail with the documented 'corrupt CPC stream' ValueError, not
        a bare IndexError out of the table-driven decoder."""
        sk = CI.build_murmur(np.arange(n, dtype=np.uint64), 11)
        img = CI.serialize_canonical(sk)
        # chop most of the compressed payload, keep the preamble intact
        cut = max(24, len(img) // 4)
        bad = img[:cut]
        with pytest.raises(ValueError, match="corrupt CPC stream"):
            CI.deserialize_canonical(bad)

    def test_compat_build_unions_with_internal(self, spark):
        """Builds over overlapping keys union by the kernel's OR-merge to
        the distinct count of both (there is one coupon space, so the
        compat name builds the same sketches)."""
        a = CI.build_murmur(np.arange(0, 600, dtype=np.uint64), 11)
        b = CI.build_murmur(np.arange(300, 900, dtype=np.uint64), 11)
        est = C.get_estimate(C.union([a, b]))
        assert abs(est - 900) / 900 < 0.05


class TestCpcWireSpark:
    def test_column_roundtrip_and_sql(self, spark):
        df = spark.range(0, 4000).select(
            (F.col("id") % 5).alias("g"), F.col("id").alias("u")
        )
        sk = CPC.cpc_sketch_build_compat(df, ["g"], "u", lg_k=10)
        out = sk.select(
            "g",
            CPC.cpc_sketch_get_estimate(F.col("sketch")).alias("est"),
            CPC.cpc_sketch_get_estimate(
                CPC.cpc_sketch_from_datasketches(
                    CPC.cpc_sketch_to_datasketches(F.col("sketch"))
                )
            ).alias("est_rt"),
        ).collect()
        assert len(out) == 5
        for r in out:
            assert r["est"] == r["est_rt"]
            assert abs(r["est"] - 800) / 800 < 0.1
        from datasketches_postgresql_spark.functions.registry import register_all

        register_all(spark)
        df.createOrReplaceTempView("cpc_wire_t")
        row = spark.sql(
            """
            SELECT cpc_sketch_get_estimate(
                     cpc_sketch_from_datasketches(
                       cpc_sketch_to_datasketches(cpc_sketch_build_compat(u)))) AS est
            FROM cpc_wire_t
            """
        ).collect()[0]
        assert abs(row["est"] - 4000) / 4000 < 0.05
        # every build exports, and the compat name is the same build; a
        # hashed key such as xxhash64(u) is just another bigint key
        imgs = spark.sql(
            """
            SELECT cpc_sketch_build(u) AS a, cpc_sketch_build_compat(u) AS b,
                   cpc_sketch_get_estimate(cpc_sketch_from_datasketches(
                     cpc_sketch_to_datasketches(cpc_sketch_build(xxhash64(u))))) AS e
            FROM cpc_wire_t
            """
        ).collect()[0]
        assert imgs["a"] == imgs["b"]
        assert abs(imgs["e"] - 4000) / 4000 < 0.05


class TestCrossLgK:
    def test_reduce_and_union_estimates(self):
        a = CI.build_murmur(np.arange(0, 30000, dtype=np.uint64), 12)
        b = CI.build_murmur(np.arange(20000, 50000, dtype=np.uint64), 10)
        u = C.union([a, b])
        lgk, _ = C.deserialize(u)
        assert lgk == 10  # reduced to the minimum
        assert abs(C.get_estimate(u) - 50000) / 50000 < 0.05
        # reduction alone preserves the estimate class
        r = C.union([a], 10)
        assert abs(C.get_estimate(r) - 30000) / 30000 < 0.05
        # and a larger lg_k never grows a sketch
        assert C.union([b], 12) == b


class TestCompatLossyFloats:
    def test_rejects_longs_above_2_53_rendered_as_float64(self, spark):
        """A nullable BIGINT column reaches the compat UDF as float64; keys
        above 2^53 are lossy there, so the build must refuse rather than
        emit coupons that silently diverge from the true-key sketch."""
        from datasketches_postgresql_spark.functions.registry import register_all

        register_all(spark)
        big = (1 << 60) + 12345  # not float64-representable exactly
        df = spark.createDataFrame([(big,), (None,)], "u long")
        df.createOrReplaceTempView("cpc_lossy_t")
        with pytest.raises(Exception, match="2\\^53"):
            spark.sql(
                "SELECT cpc_sketch_build_compat(u) FROM cpc_lossy_t"
            ).collect()
        # in-range longs through the same nullable (float64) path still build
        ok = spark.createDataFrame([(123,), (456,), (None,)], "u long")
        ok.createOrReplaceTempView("cpc_ok_t")
        row = spark.sql(
            "SELECT cpc_sketch_get_estimate(cpc_sketch_build_compat(u)) AS e "
            "FROM cpc_ok_t"
        ).collect()[0]
        assert abs(row["e"] - 2) < 0.01
