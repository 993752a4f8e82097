"""End-to-end theta family over Spark — the S1 MVP slice (SURVEY.md §7.2):
reproduces `SELECT theta_sketch_get_estimate(theta_sketch_union(sketch)) FROM t`
and `theta_sketch_distinct(id)` (reference README.md:237,253)."""

import numpy as np
import pyspark.sql.functions as F

from datasketches_postgresql_spark.functions import theta as T
from datasketches_postgresql_spark.sketches import interop as TI
from datasketches_postgresql_spark.sketches import theta as T_sketch


def test_theta_distinct_exact_regime(spark):
    df = spark.createDataFrame(
        [("g1", v) for v in [1, 2, 3, 4, 5]] + [("g2", v) for v in [4, 5, 6, 7, 8]],
        "grp string, value long",
    )
    got = {
        r["grp"]: r["distinct_est"]
        for r in T.theta_sketch_distinct(df, ["grp"], "value").collect()
    }
    assert got == {"g1": 5.0, "g2": 5.0}


def test_theta_build_union_estimate(spark):
    df = spark.createDataFrame(
        [("g1", v) for v in [1, 2, 3, 4, 5]] + [("g2", v) for v in [4, 5, 6, 7, 8]],
        "grp string, value long",
    )
    sketches = T.theta_sketch_build(df, ["grp"], "value")
    # re-aggregate: union across groups (the data-cube pattern)
    merged = T.theta_sketch_union_agg(sketches, [], "sketch")
    est = merged.select(T.theta_sketch_get_estimate("sketch").alias("e")).collect()[0]["e"]
    assert est == 8.0
    inter = T.theta_sketch_intersection_agg(sketches, [], "sketch")
    est_i = inter.select(T.theta_sketch_get_estimate("sketch").alias("e")).collect()[0]["e"]
    assert est_i == 2.0


def test_theta_pairwise_and_bounds(spark):
    df = spark.createDataFrame(
        [("g1", v) for v in [1, 2, 3, 4, 5]] + [("g2", v) for v in [4, 5, 6, 7, 8]],
        "grp string, value long",
    )
    sk = T.theta_sketch_build(df, ["grp"], "value")
    pair = (
        sk.where("grp = 'g1'")
        .select(F.col("sketch").alias("a"))
        .crossJoin(sk.where("grp = 'g2'").select(F.col("sketch").alias("b")))
    )
    row = pair.select(
        T.theta_sketch_get_estimate(T.theta_sketch_union(F.col("a"), F.col("b"))).alias("u"),
        T.theta_sketch_get_estimate(T.theta_sketch_intersection(F.col("a"), F.col("b"))).alias("i"),
        T.theta_sketch_get_estimate(T.theta_sketch_a_not_b(F.col("a"), F.col("b"))).alias("d"),
        T.theta_sketch_get_estimate_and_bounds(F.col("a"), 2).alias("bounds"),
        T.theta_sketch_to_string(F.col("a")).alias("s"),
    ).collect()[0]
    assert (row["u"], row["i"], row["d"]) == (8.0, 2.0, 3.0)
    assert row["bounds"] == [5.0, 5.0, 5.0]
    assert "Theta sketch" in row["s"]


def test_theta_distinct_nulls_skipped(spark):
    df = spark.createDataFrame(
        [(None,), (1,), (2,), (None,), (2,)], "value long"
    )
    got = T.theta_sketch_distinct(df, [], "value").collect()[0]["distinct_est"]
    assert got == 2.0


def test_theta_estimation_regime_vs_exact(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    col = "l_orderkey"
    exact = df.select(F.countDistinct(col)).collect()[0][0]
    est = T.theta_sketch_distinct(df, [], col, lg_k=12).collect()[0]["distinct_est"]
    assert abs(est - exact) / exact < 0.05


def test_intersection_agg_skips_null_sketches(spark):
    """A partition that holds only NULL sketches of a group adds nothing to
    its intersection (it used to contribute the empty sketch, giving 0)."""
    sk = T.theta_sketch_build(
        spark.createDataFrame(
            [("a", v) for v in [1, 2, 3, 4]] + [("b", v) for v in [3, 4, 5]], "k string, value long"
        ),
        ["k"],
        "value",
    )
    nulls = spark.createDataFrame([("n", None)], "k string, sketch binary")
    rows = sk.unionByName(nulls).withColumn("grp", F.lit("g"))
    # one row per partition, so the NULL sketch is a batch of its own
    rows = rows.repartitionByRange(3, "k")
    assert rows.rdd.glom().map(len).collect() == [1, 1, 1]
    for group_cols in (["grp"], []):
        est = T.theta_sketch_intersection_agg(rows, group_cols, "sketch").select(
            T.theta_sketch_get_estimate("sketch").alias("e")
        ).collect()
        assert [r["e"] for r in est] == [2.0]
    only_nulls = nulls.withColumn("grp", F.lit("g"))
    got = T.theta_sketch_intersection_agg(only_nulls, ["grp"], "sketch").collect()
    assert [T_sketch.get_estimate(r["sketch"]) for r in got] == [0.0]



def test_native_spark_images_read_everywhere(spark):
    """Spark's own theta_sketch_agg images (compressed serial version 4) are
    read by the theta UDFs here, and the package's images by Spark's native
    theta functions."""
    two = spark.range(2).agg(F.theta_sketch_agg("id").alias("sketch"))
    assert (lambda img: (len(img), img[1]))(two.first()["sketch"]) == (25, 4)
    row = two.select(
        T.theta_sketch_get_estimate("sketch").alias("e"),
        T.theta_sketch_to_string("sketch").alias("s"),
        T.theta_sketch_to_datasketches("sketch").alias("v3"),
    ).first()
    assert row["e"] == 2.0 and "retained entries: 2" in row["s"] and row["v3"][1] == 3
    ours = TI.build_murmur(np.arange(1, 5, dtype=np.uint64))
    pair = spark.createDataFrame([(row["v3"], ours)], "a binary, b binary")
    got = pair.select(
        F.theta_sketch_estimate("a").alias("a"),
        F.theta_sketch_estimate(F.theta_union("a", "b")).alias("u"),
    ).first()
    assert (got["a"], got["u"]) == (2, 5)
