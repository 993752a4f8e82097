"""All-NULL groups must still emit a row (empty sketch / 0 estimate) — the
reference's PostgreSQL aggregates skip NULLs in the sfunc but ALWAYS run the
ffunc per group (src/theta_sketch_pg_functions.c:78-82 + FINALFUNC), so a
group never disappears just because every value was NULL."""

import pyspark.sql.functions as F

from datasketches_postgresql_spark.functions import aod as A
from datasketches_postgresql_spark.functions import fi as FI
from datasketches_postgresql_spark.functions import kll as K
from datasketches_postgresql_spark.functions import theta as T


def _df(spark):
    rows = [("g1", 1), ("g1", 2), ("g2", None), ("g2", None)]
    return spark.createDataFrame(rows, "grp string, value long")


def test_theta_distinct_keeps_all_null_group(spark):
    got = {
        r["grp"]: r["distinct_est"]
        for r in T.theta_sketch_distinct(_df(spark), ["grp"], "value").collect()
    }
    assert got == {"g1": 2.0, "g2": 0.0}


def test_theta_build_keeps_all_null_group(spark):
    sk = T.theta_sketch_build(_df(spark), ["grp"], "value")
    got = {
        r["grp"]: r["e"]
        for r in sk.select(
            "grp", T.theta_sketch_get_estimate("sketch").alias("e")
        ).collect()
    }
    assert got == {"g1": 2.0, "g2": 0.0}


def test_kll_build_keeps_all_null_group(spark):
    sk = K.kll_double_sketch_build(_df(spark), ["grp"], "value")
    got = {
        r["grp"]: r["n"]
        for r in sk.select("grp", K.kll_sketch_get_n(F.col("sketch")).alias("n")).collect()
    }
    assert got == {"g1": 2, "g2": 0}


def test_aod_build_keeps_all_null_group(spark):
    df = _df(spark).select(
        "grp", "value", F.array(F.col("value").cast("double")).alias("vals")
    )
    sk = A.aod_sketch_build(df, ["grp"], "value", "vals")
    got = {
        r["grp"]: r["e"]
        for r in sk.select("grp", A.aod_sketch_get_estimate("sketch").alias("e")).collect()
    }
    assert got == {"g1": 2.0, "g2": 0.0}


def test_global_aggregate_unchanged(spark):
    # global (no group_cols) path must not regress: NULLs skipped, one row out
    est = T.theta_sketch_distinct(_df(spark), [], "value").collect()
    assert len(est) == 1 and est[0]["distinct_est"] == 2.0


def test_native_builds_keep_all_null_group_and_empty_global_input(spark):
    """The native KLL and frequent-items aggregates skip NULLs, emit an empty
    sketch for an all-NULL group, and one empty-sketch row for a global
    build over empty input."""
    df = _df(spark).select("grp", "value", F.col("value").cast("string").alias("s"))
    fi = FI.frequent_strings_sketch_build(df, ["grp"], 4, "s")
    got = {
        r["grp"]: r["n"]
        for r in fi.select("grp", F.size(FI.frequent_strings_sketch_result_no_false_negatives(
            F.col("sketch"))).alias("n")).collect()
    }
    assert got == {"g1": 2, "g2": 0}
    empty = df.where("grp = 'none'")
    (kll_row,) = K.kll_double_sketch_build(empty, [], "value").select(
        K.kll_sketch_get_n(F.col("sketch")).alias("n")).collect()
    assert kll_row["n"] == 0
    (fi_row,) = FI.frequent_strings_sketch_build(empty, [], 4, "s").select(
        FI.frequent_strings_sketch_to_string(F.col("sketch")).alias("s")).collect()
    assert "items  : 0" in fi_row["s"]


def test_aod_intersection_agg_skips_null_sketches(spark):
    """A batch that holds only a group's NULL sketches adds nothing to its
    intersection (it used to fail the query with "empty intersection"); a
    group of only NULL sketches gets the empty sketch."""
    df = spark.createDataFrame(
        [("a", k, [1.0]) for k in [1, 2, 3, 4]] + [("b", k, [1.0]) for k in [3, 4, 5]],
        "k string, key long, vals array<double>",
    )
    sk = A.aod_sketch_build(df, ["k"], "key", "vals")
    nulls = spark.createDataFrame([("n", None)], "k string, sketch binary")
    rows = sk.unionByName(nulls).withColumn("grp", F.lit("g"))
    # one row per partition, so the NULL sketch is a batch of its own
    rows = rows.repartitionByRange(3, "k")
    assert rows.rdd.glom().map(len).collect() == [1, 1, 1]
    for group_cols in (["grp"], []):
        est = A.aod_sketch_intersection_agg(rows, group_cols, "sketch").select(
            A.aod_sketch_get_estimate("sketch").alias("e")
        ).collect()
        assert [r["e"] for r in est] == [2.0]
    only_nulls = nulls.withColumn("grp", F.lit("g"))
    got = A.aod_sketch_intersection_agg(only_nulls, ["grp"], "sketch").select(
        A.aod_sketch_get_estimate("sketch").alias("e")
    ).collect()
    assert [r["e"] for r in got] == [0.0]
