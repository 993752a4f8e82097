"""All-NULL groups must still emit a row (empty sketch / 0 estimate) — the
reference's PostgreSQL aggregates skip NULLs in the sfunc but ALWAYS run the
ffunc per group (src/theta_sketch_pg_functions.c:78-82 + FINALFUNC), so a
group never disappears just because every value was NULL."""

import numpy as np
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


def test_cpc_and_hll4_builds_keep_all_null_group(spark):
    from datasketches_postgresql_spark.functions import cpc as C
    from datasketches_postgresql_spark.functions import hll as H

    cpc = C.cpc_sketch_build(_df(spark), ["grp"], "value")
    hll = H.hll_sketch_build(_df(spark), ["grp"], "value", tgt_type="HLL_4")
    for sk, est in ((cpc, C.cpc_sketch_get_estimate), (hll, H.hll_sketch_get_estimate)):
        got = {r["grp"]: round(r["e"], 3) for r in sk.select("grp", est("sketch").alias("e")).collect()}
        assert got == {"g1": 2.0, "g2": 0.0}


def test_null_keys_keep_large_longs_exact(spark):
    """A NULL key beside longs above 2^53 in one Arrow batch reaches the
    partial without a float64 round trip: the sketch is the kernel's
    build over the true longs."""
    from datasketches_postgresql_spark.functions import cpc as C
    from datasketches_postgresql_spark.sketches import cpc as CK

    big = [2**62 + 1, 2**62 + 3]
    df = spark.createDataFrame([("g", big[0]), ("g", None), ("g", big[1])], "grp string, value long")
    for group_cols in (["grp"], []):
        (row,) = C.cpc_sketch_build(df.coalesce(1), group_cols, "value").collect()
        assert bytes(row["sketch"]) == CK.build(np.array(big, dtype=np.uint64))


def test_aod_string_keys_and_all_null_group(spark):
    """AOD builds take string keys as update(String) keys (the compat name
    is the same build), and a group of NULL keys gets the empty sketch."""
    df = spark.createDataFrame(
        [("a", "u1", 1.0), ("a", "u2", 2.0), ("a", "u1", 3.0), ("b", None, 5.0)],
        "grp string, key string, v double",
    ).select("grp", "key", F.array("v").alias("vals"))
    for build in (A.aod_sketch_build, A.aod_sketch_build_compat):
        got = {
            r["grp"]: (r["e"], r["m"])
            for r in build(df, ["grp"], "key", "vals").select(
                "grp", A.aod_sketch_get_estimate("sketch").alias("e"),
                A.aod_sketch_to_means("sketch").alias("m")).collect()
        }
        assert got == {"a": (2.0, [3.0]), "b": (0.0, [])}


def test_cpc_union_agg_of_all_null_group_keeps_the_lg_k_argument(spark):
    """A group whose stored sketches are all NULL unions to the empty sketch
    at the requested lg_k, as CpcUnion(lg_k) gives, not at the default."""
    from datasketches_postgresql_spark.functions import cpc as C
    from datasketches_postgresql_spark.sketches import cpc as CK

    df = spark.createDataFrame([("g", None), ("g", None)], "grp string, sketch binary")
    (row,) = C.cpc_sketch_union_agg(df, ["grp"], "sketch", lg_k=12).collect()
    assert bytes(row["sketch"]) == CK.build(np.empty(0, dtype=np.uint64), 12)


def test_partial_fold_copies_group_keys_into_one_batch():
    """Stage 1 copies each new group's key row out of its source batch (a
    zero-copy slice would keep every source batch's key buffers alive) and
    hands all groups to Spark as one record batch, NULL keys and longs
    above 2^53 exact."""
    import pyarrow as pa

    from datasketches_postgresql_spark.operators.agg import fold_partials

    n, per = 4_000, 40
    batches = [
        pa.record_batch({
            "g": pa.array([b * per + i % per if i else None for i in range(n)], pa.int64()),
            "big": pa.array([2**62 + b] * n, pa.int64()),
            "x": pa.array(np.arange(n, dtype=np.int64)),
        })
        for b in range(30)
    ]
    out = list(fold_partials(iter(batches), ["g", "big"], ["x"],
                             lambda pdf: len(pdf).to_bytes(4, "little"),
                             lambda parts: sum(int.from_bytes(p, "little") for p in parts).to_bytes(4, "little")))
    assert len(out) == 1
    (res,) = out
    assert res.num_rows == 30 * per + 30  # the NULL key pairs with each "big"
    assert res.column("big").to_pylist()[:2] == [2**62, 2**62]
    counts = [int.from_bytes(v, "little") for v in res.column(2).to_pylist()]
    assert sum(counts) == 30 * n
    # the copied keys hold their own rows, not 30 batches of key buffers
    source = sum(b.select(["g", "big"]).get_total_buffer_size() for b in batches)
    assert res.select(["g", "big"]).get_total_buffer_size() < source / 50
