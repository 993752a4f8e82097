"""End-to-end Spark tests for the HLL / KLL / FI / AOD / CPC / REQ /
quantiles families, mirroring the reference's test scripts (SURVEY.md §5)."""

import pyspark.sql.functions as F
import pytest

from datasketches_postgresql_spark.functions import aod as A
from datasketches_postgresql_spark.functions import cpc as C
from datasketches_postgresql_spark.functions import fi as FI
from datasketches_postgresql_spark.functions import hll as H
from datasketches_postgresql_spark.functions import kll as K
from datasketches_postgresql_spark.functions import quantiles as Q
from datasketches_postgresql_spark.functions import req as R
from datasketches_postgresql_spark.sketches import fi as FIK


@pytest.fixture(scope="module")
def floats_df(spark):
    # test/kll_float_sketch_test.sql: values 1..10 across two groups
    return spark.createDataFrame(
        [("g1", float(v)) for v in range(1, 6)] + [("g2", float(v)) for v in range(6, 11)],
        "grp string, value double",
    )


class TestHll:
    def test_exact_regime(self, spark):
        """Mirrors test/hll_sketch_test.sql:9-23."""
        df = spark.createDataFrame(
            [("g1", v) for v in [1, 2, 3, 4, 5]] + [("g2", v) for v in [4, 5, 6, 7, 8]],
            "grp string, value long",
        )
        got = {r["grp"]: r["distinct_est"] for r in H.hll_sketch_distinct(df, ["grp"], "value").collect()}
        assert got == {"g1": 5.0, "g2": 5.0}
        sk = H.hll_sketch_build(df, ["grp"], "value", lg_k=8)
        merged = H.hll_sketch_union_agg(sk, [], "sketch")
        est = merged.select(H.hll_sketch_get_estimate("sketch").alias("e")).collect()[0]["e"]
        assert est == 8.0
        row = merged.select(
            H.hll_sketch_get_estimate_and_bounds(F.col("sketch"), 2).alias("b"),
            H.hll_sketch_to_string(F.col("sketch")).alias("s"),
        ).collect()[0]
        assert row["b"][1] <= row["b"][0] <= row["b"][2]
        assert "HLL sketch" in row["s"]

    def test_pairwise_union(self, spark):
        df = spark.createDataFrame([(v,) for v in range(10)], "value long")
        a = H.hll_sketch_build(df.where("value < 6"), [], "value").select(F.col("sketch").alias("a"))
        b = H.hll_sketch_build(df.where("value >= 4"), [], "value").select(F.col("sketch").alias("b"))
        est = (
            a.crossJoin(b)
            .select(H.hll_sketch_get_estimate(H.hll_sketch_union(F.col("a"), F.col("b"))).alias("e"))
            .collect()[0]["e"]
        )
        assert est == 10.0

    def test_tgt_type_validation(self, spark):
        df = spark.createDataFrame([(1,)], "value long")
        with pytest.raises(ValueError):
            H.hll_sketch_build(df, [], "value", tgt_type="HLL_5")


class TestKll:
    def test_exact_quantile_surface(self, spark, floats_df):
        sk = K.kll_float_sketch_build(floats_df, ["grp"], "value")
        merged = K.kll_sketch_merge(sk, [], "sketch")
        row = merged.select(
            K.kll_sketch_get_n("sketch").alias("n"),
            K.kll_sketch_get_min_item("sketch").alias("mn"),
            K.kll_sketch_get_max_item("sketch").alias("mx"),
            K.kll_sketch_get_quantile("sketch", 0.5).alias("med"),
            K.kll_sketch_get_rank("sketch", 5.0).alias("rk"),
            K.kll_sketch_get_quantiles("sketch", [0.0, 1.0]).alias("qs"),
            K.kll_sketch_get_pmf("sketch", [2.0, 5.0, 7.0]).alias("pmf"),
            K.kll_sketch_get_cdf("sketch", [2.0, 5.0, 7.0]).alias("cdf"),
            K.kll_sketch_get_histogram("sketch", 5).alias("hist"),
            K.kll_sketch_to_string("sketch").alias("s"),
        ).collect()[0]
        assert row["n"] == 10
        assert (row["mn"], row["mx"]) == (1.0, 10.0)
        assert row["med"] in (5.0, 6.0)
        assert row["rk"] == pytest.approx(0.4)
        assert row["qs"] == [1.0, 10.0]
        assert row["pmf"] == pytest.approx([0.1, 0.3, 0.2, 0.4])
        assert row["cdf"] == pytest.approx([0.1, 0.4, 0.6, 1.0])
        assert sum(row["hist"]) == pytest.approx(10.0)
        assert "KLL" in row["s"]

    def test_double_variant_estimation(self, spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        sk = K.kll_double_sketch_build(ev, [], "value", k=200)
        med = sk.select(K.kll_sketch_get_quantile("sketch", 0.5).alias("m")).collect()[0]["m"]
        exact = ev.selectExpr("percentile(value, 0.5) as m").collect()[0]["m"]
        lo, hi = ev.selectExpr("percentile(value, 0.4) lo", "percentile(value, 0.6) hi").collect()[0]
        assert lo <= med <= hi, f"median {med} outside [{lo},{hi}] (exact {exact})"

    def test_merge_without_k_takes_the_smallest_k(self, spark):
        """The DataFrame and SQL merges agree: a k=100 and a k=400 sketch
        merge at k=100 whichever Spark sees first; a single k is kept."""
        from datasketches_postgresql_spark.functions.registry import register_all
        from datasketches_postgresql_spark.sketches import kll as KK

        df = spark.range(0, 3000).select(F.col("id").cast("double").alias("x"))
        small = K.kll_double_sketch_build(df, [], "x", k=100)
        big = K.kll_double_sketch_build(df, [], "x", k=400)
        for sk in (small.union(big), big.union(small)):
            (row,) = K.kll_sketch_merge(sk, [], "sketch").collect()
            st = KK.decode(bytes(row["sketch"]))
            assert (st.k, st.min_k, st.n) == (100, 100, 6000)
        register_all(spark)
        big.union(small).createOrReplaceTempView("kll_mixed_k")
        (row,) = spark.sql("select kll_double_sketch_merge(sketch) as sketch from kll_mixed_k").collect()
        assert KK.decode(bytes(row["sketch"])).k == 100
        (row,) = K.kll_sketch_merge(big.union(big), [], "sketch").collect()
        assert KK.decode(bytes(row["sketch"])).k == 400


class TestFi:
    def test_exact_merge(self, spark):
        """Mirrors test/fi_sketch_test.sql:7-19."""
        df = spark.createDataFrame(
            [(1, s) for s in ["a", "b", "a", "a", "c"]] + [(2, s) for s in ["a", "c", "c", "b", "a"]],
            "batch int, str string",
        )
        per_batch = FI.frequent_strings_sketch_build(df, ["batch"], 8, "str")
        merged = FI.frequent_strings_sketch_merge(per_batch, [], 8, "sketch")
        rows = FI.explode_result(
            merged,
            FI.frequent_strings_sketch_result_no_false_negatives(F.col("sketch"), 0),
        ).collect()
        assert [(r["str"], r["estimate"], r["lower_bound"], r["upper_bound"]) for r in rows] == [
            ("a", 5, 5, 5),
            ("c", 3, 3, 3),
            ("b", 2, 2, 2),
        ]

    @pytest.mark.parametrize("lg_k,weighted", [(2, False), (2, True), (21, False), (21, True)])
    def test_lg_k_outside_the_native_range_builds_in_numpy(self, spark, lg_k, weighted):
        """lg_k below 3 (Java's smallest map) or above 20 (Spark tracks at
        most 1,000,000 items) builds as before, in the numpy kernel."""
        rows = [("x", 3), ("y", 1), ("x", 2), (None, 4)]
        df = spark.createDataFrame(rows, "str string, w long")
        w = "w" if weighted else None
        (row,) = FI.frequent_strings_sketch_build(df, [], lg_k, "str", weight_col=w).collect()
        got = FIK.FiState.deserialize(bytes(row["sketch"]))
        vals = [r[0] for r in rows if r[0] is not None]
        want = FIK.FiState.deserialize(
            FIK.build(lg_k, vals, [r[1] for r in rows if r[0] is not None] if weighted else None)
        )
        assert (got.lg_k, got.offset, got.total, got.items) == (want.lg_k, want.offset, want.total, want.items)
        merged = FI.frequent_strings_sketch_merge(spark.createDataFrame([row]), [], lg_k, "sketch")
        assert FIK.FiState.deserialize(bytes(merged.collect()[0]["sketch"])).items == want.items

    def test_native_build_matches_numpy_in_the_exact_regime(self, spark):
        vals = [f"s{i % 37}" for i in range(500)] + [None] * 5
        df = spark.createDataFrame([(v,) for v in vals], "str string")
        (row,) = FI.frequent_strings_sketch_build(df, [], 7, "str").collect()
        native = FIK.FiState.deserialize(bytes(row["sketch"]))
        mine = FIK.FiState.deserialize(FIK.build(7, [v for v in vals if v is not None]))
        assert (native.lg_k, native.offset, native.total) == (mine.lg_k, mine.offset, mine.total)
        assert native.items == mine.items

    def test_weighted(self, spark):
        df = spark.createDataFrame(
            [("x", 10), ("y", 5), ("x", 1)], "str string, w long"
        )
        sk = FI.frequent_strings_sketch_build(df, [], 8, "str", weight_col="w")
        rows = FI.explode_result(
            sk, FI.frequent_strings_sketch_result_no_false_positives(F.col("sketch"), 0)
        ).collect()
        assert (rows[0]["str"], rows[0]["estimate"]) == ("x", 11)


class TestAod:
    def test_exact_surface(self, spark):
        """Mirrors test/aod_sketch_test.sql:7-43."""
        df = spark.createDataFrame(
            [("g1", k, [1.0]) for k in [1, 2, 3, 4, 5]]
            + [("g2", k, [1.0]) for k in [4, 5, 6, 7, 8]],
            "grp string, key long, vals array<double>",
        )
        sk = A.aod_sketch_build(df, ["grp"], "key", "vals")
        est = {
            r["grp"]: r["e"]
            for r in sk.select("grp", A.aod_sketch_get_estimate("sketch").alias("e")).collect()
        }
        assert est == {"g1": 5.0, "g2": 5.0}
        u = A.aod_sketch_union_agg(sk, [], "sketch")
        assert u.select(A.aod_sketch_get_estimate("sketch").alias("e")).collect()[0]["e"] == 8.0
        i = A.aod_sketch_intersection_agg(sk, [], "sketch")
        row = i.select(
            A.aod_sketch_get_estimate("sketch").alias("e"),
            A.aod_sketch_to_means("sketch").alias("m"),
        ).collect()[0]
        assert row["e"] == 2.0 and row["m"] == [2.0]

    def test_ttest_and_kll(self, spark):
        a = spark.createDataFrame(
            [(1, [1.0]), (2, [0.9]), (3, [1.1]), (4, [1.0])], "key long, vals array<double>"
        )
        b = spark.createDataFrame(
            [(5, [1.1]), (6, [1.0]), (7, [1.2]), (8, [1.1])], "key long, vals array<double>"
        )
        ska = A.aod_sketch_build(a, [], "key", "vals").select(F.col("sketch").alias("a"))
        skb = A.aod_sketch_build(b, [], "key", "vals").select(F.col("sketch").alias("b"))
        row = ska.crossJoin(skb).select(
            A.aod_sketch_students_t_test(F.col("a"), F.col("b")).alias("p"),
            A.aod_sketch_to_variances(F.col("a")).alias("v"),
            A.aod_sketch_a_not_b(F.col("a"), F.col("b")).alias("anb"),
        ).collect()[0]
        assert 0.1 < row["p"][0] < 0.2  # Welch p ~ 0.134
        assert row["v"][0] == pytest.approx(0.00666667, rel=1e-4)
        med = (
            ska.select(
                K.kll_sketch_get_quantile(
                    A.aod_sketch_to_kll_float_sketch(F.col("a"), 1), 0.5
                ).alias("m")
            ).collect()[0]["m"]
        )
        assert med == pytest.approx(1.0)


class TestAliases:
    def test_cpc(self, spark):
        # real coupon-matrix CPC: MLE estimate, near-exact (not exact) small-n
        df = spark.createDataFrame([(v,) for v in range(1, 9)], "value long")
        est = C.cpc_sketch_distinct(df, [], "value").collect()[0]["distinct_est"]
        assert est == pytest.approx(8.0, rel=0.02)

    def test_req_inclusive_flag(self, spark, floats_df):
        sk = R.req_float_sketch_build(floats_df, [], "value", k=50)
        row = sk.select(
            R.req_float_sketch_get_rank("sketch", 5.0, inclusive=False).alias("ex"),
            R.req_float_sketch_get_rank("sketch", 5.0, inclusive=True).alias("inc"),
        ).collect()[0]
        assert (row["ex"], row["inc"]) == (0.4, 0.5)

    def test_quantiles_double(self, spark, floats_df):
        sk = Q.quantiles_double_sketch_build(floats_df, [], "value")
        n = sk.select(Q.quantiles_double_sketch_get_n("sketch").alias("n")).collect()[0]["n"]
        assert n == 10


class TestSerde:
    def test_sketch_parquet_roundtrip_and_base64(self, spark, tmp_path):
        """Sketches survive parquet storage and base64 text round-trips
        (the reference's wire-format contract, src/common.c:44-66)."""
        import pyspark.sql.functions as F

        from datasketches_postgresql_spark.functions import (
            sketch_from_base64,
            sketch_to_base64,
        )
        from datasketches_postgresql_spark.functions import theta as T

        df = spark.createDataFrame(
            [("g1", v) for v in [1, 2, 3]] + [("g2", v) for v in [3, 4, 5]],
            "grp string, value long",
        )
        sk = T.theta_sketch_build(df, ["grp"], "value")
        path = str(tmp_path / "sketches")
        sk.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        est = T.theta_sketch_union_agg(back, [], "sketch").select(
            T.theta_sketch_get_estimate("sketch").alias("e")
        ).collect()[0]["e"]
        assert est == 5.0
        rt = back.select(
            T.theta_sketch_get_estimate(
                sketch_from_base64(sketch_to_base64(F.col("sketch")))
            ).alias("e")
        ).collect()
        assert sorted(r["e"] for r in rt) == [3.0, 3.0]
