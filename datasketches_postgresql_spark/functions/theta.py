"""Theta sketch family (/root/reference/sql/datasketches_theta_sketch.sql).

Every theta sketch here is the standard DataSketches compact theta image
(sketches.theta), in the DataSketches hash space (murmur3_x64_128, seed
9001, 63-bit). Builds and unions run on Spark's native DataSketches
aggregates (``theta_sketch_agg``, ``theta_union_agg``), JVM-side with
partial aggregation and no Python in the hot path, as the HLL family does.
Keys follow the DataSketches key rule (functions.keys): integral types as
``long``, binary as raw bytes, everything else as its string's UTF-8 bytes.

The numpy kernel answers what Spark has no usable native function for: the
intersection aggregate (see ``theta_sketch_intersection_agg``), sampling
with p < 1, the unrounded estimate (Spark's ``theta_sketch_estimate``
returns a bigint), bounds, the summary string and the pairwise set
operations (which keep the reference's NULL handling: a NULL side of a
union is absent, and Spark's own pairwise functions return NULL).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, StringType, StructField

from ..operators.agg import sketch_merge_agg
from ..sketches import interop as _i
from ..sketches import theta as _t
from .keys import key_column


def _map_opt(series: pd.Series, fn) -> pd.Series:
    return pd.Series([None if b is None else fn(b) for b in series], dtype=object)


@F.pandas_udf(BinaryType())
def _sample_udf(s: pd.Series, p: pd.Series) -> pd.Series:
    return _map_opt(s, lambda b: _t.sample(b, float(p.iloc[0])))


def theta_sketch_build(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    lg_k: int = _t.DEFAULT_LG_K,
    p: float = 1.0,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: theta_sketch_build(anyelement[,lg_k[,p]]) (sql:105-133).

    NULL inputs are skipped (src/theta_sketch_pg_functions.c:78-82), and a
    group whose values are all NULL still emits a row (the empty sketch),
    as the reference's ffunc does."""
    out = df.groupBy(*group_cols).agg(F.theta_sketch_agg(key_column(df, col), lg_k).alias(out_col))
    if p < 1.0:
        out = out.withColumn(out_col, _sample_udf(F.col(out_col), F.lit(p)))
    return out


# every build is in the DataSketches hash space, so the compat name is an alias
theta_sketch_build_compat = theta_sketch_build


def theta_sketch_distinct(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    lg_k: int = _t.DEFAULT_LG_K,
    out_col: str = "distinct_est",
) -> DataFrame:
    """Aggregate: theta_sketch_distinct(anyelement[,lg_k]) -> double (sql:85-103).
    All-NULL groups emit 0.0."""
    sk = theta_sketch_build(df, group_cols, col, lg_k, out_col=out_col)
    return sk.withColumn(out_col, theta_sketch_get_estimate(F.col(out_col)))


def theta_sketch_union_agg(
    df: DataFrame,
    group_cols: list[str],
    sketch_col: str,
    lg_k: int | None = None,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: theta_sketch_union(theta_sketch[,lg_k]) (sql:135-153).
    A compact image carries no lg_k; left out, it is the reference's 12."""
    return df.groupBy(*group_cols).agg(
        F.theta_union_agg(sketch_col, lg_k or _t.DEFAULT_LG_K).alias(out_col)
    )


def theta_sketch_intersection_agg(
    df: DataFrame,
    group_cols: list[str],
    sketch_col: str,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: theta_sketch_intersection(theta_sketch) (sql:155-163).

    Numpy, not Spark's ``theta_intersection_agg``: in Spark 4.1.2 that
    aggregate throws SketchesStateException ("no intervening
    intersections") for any aggregation buffer that saw no sketch, i.e. on
    an empty partition of a global aggregate, an all-NULL group or empty
    input. NULL sketches are skipped; a group of only NULLs gets the empty
    sketch."""
    return sketch_merge_agg(
        df,
        group_cols,
        sketch_col,
        merge_fn=_intersect_present,
        finalize_fn=lambda b: {out_col: _t.empty() if b is None else b},
        out_fields=[StructField(out_col, BinaryType())],
    )


def _intersect_present(images: list[bytes | None]) -> bytes | None:
    """Intersection of the non-NULL images, None if there are none: a batch
    holding only a group's NULL sketches must not empty its intersection."""
    present = [b for b in images if b is not None]
    return _t.intersection(present) if present else None


# ---- scalar functions (pandas UDFs over BinaryType) -----------------------


@F.pandas_udf(DoubleType())
def theta_sketch_get_estimate(s: pd.Series) -> pd.Series:
    """theta_sketch_get_estimate(sketch) (sql:165-167)."""
    return pd.Series([np.nan if b is None else _t.get_estimate(b) for b in s])


@F.pandas_udf(ArrayType(DoubleType()))
def _bounds_udf(s: pd.Series, nsd: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if b is None else list(_t.get_estimate_and_bounds(b, int(n)))
            for b, n in zip(s, nsd)
        ]
    )


def theta_sketch_get_estimate_and_bounds(sketch: Column, num_std_devs: int = 1) -> Column:
    """-> array<double>[estimate, lower, upper] (sql:169-175)."""
    return _bounds_udf(sketch, F.lit(num_std_devs))


@F.pandas_udf(BinaryType())
def _union_pair_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [_t.union([x for x in (xa, xb) if x is not None]) for xa, xb in zip(a, b)],
        dtype=object,
    )


def theta_sketch_union(a: Column, b: Column) -> Column:
    """Pairwise union (sql:181-187)."""
    return _union_pair_udf(a, b)


@F.pandas_udf(BinaryType())
def _intersect_pair_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if xa is None or xb is None else _t.intersection([xa, xb])
            for xa, xb in zip(a, b)
        ],
        dtype=object,
    )


def theta_sketch_intersection(a: Column, b: Column) -> Column:
    """Pairwise intersection (sql:189-191)."""
    return _intersect_pair_udf(a, b)


@F.pandas_udf(BinaryType())
def _a_not_b_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if xa is None or xb is None else _t.a_not_b(xa, xb)
            for xa, xb in zip(a, b)
        ],
        dtype=object,
    )


def theta_sketch_a_not_b(a: Column, b: Column) -> Column:
    """Set difference A \\ B (sql:193-195)."""
    return _a_not_b_udf(a, b)


@F.pandas_udf(StringType())
def theta_sketch_to_string(s: pd.Series) -> pd.Series:
    """Debug summary (sql:177-179)."""
    return _map_opt(s, _t.to_string)


# ---- DataSketches wire format ----------------------------------------------


@F.pandas_udf(BinaryType())
def theta_sketch_to_datasketches(s: pd.Series) -> pd.Series:
    """Sketch -> the same sketch as a serial-version-3 compact theta image,
    the version every DataSketches reader (Druid, Hive,
    datasketches-{java,cpp,py}) accepts."""
    return _map_opt(s, _i.serialize_compact)


@F.pandas_udf(BinaryType())
def theta_sketch_from_datasketches(s: pd.Series) -> pd.Series:
    """Compact theta image (e.g. produced by Druid / Hive / datasketches-java)
    -> the same image, validated; usable with every theta function here."""
    return _map_opt(s, _i.deserialize_compact)
