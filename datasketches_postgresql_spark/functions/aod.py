"""AOD (array-of-doubles tuple) sketch family
(/root/reference/sql/datasketches_aod_sketch.sql). Keys hash JVM-side via
xxhash64, value vectors cross as Arrow list columns."""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    StringType,
    StructField,
)

from ..operators.agg import sketch_groupby_agg, sketch_merge_agg
from ..sketches import aod as _a
from ..sketches import aod_interop as _ai
from . import image_udf

_H, _V, _VAL = "__h", "__v", "__vals"


def aod_sketch_build(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    values_col: str,
    lg_k: int = _a.DEFAULT_LG_K,
    p: float = 1.0,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: aod_sketch_build(anyelement, double[][,lg_k[,p]])
    (sql:89-117); num_values inferred from the array column length."""
    # NULL key/values rows are dropped in the KERNEL, not by a JVM filter
    # (which would erase all-NULL groups; the reference's ffunc still emits
    # a row per group). xxhash64(NULL) == seed 42, the sentinel.
    proj = df.select(
        *group_cols,
        F.xxhash64(key_col).alias(_H),
        F.col(values_col).cast("array<double>").alias(_VAL),
    )

    def partial(pdf: pd.DataFrame) -> bytes:
        keys = pdf[_H].to_numpy(dtype=np.int64).astype(np.uint64)
        vals_list = pdf[_VAL].to_numpy(dtype=object)
        keep = (keys != np.uint64(42)) & np.array(
            [v is not None for v in vals_list], dtype=bool
        )
        keys, vals_list = keys[keep], vals_list[keep]
        vals = (
            np.stack([np.asarray(v, dtype=np.float64) for v in vals_list])
            if len(vals_list)
            else np.empty((0, 1))
        )
        return _a.build(keys, vals, lg_k, p)

    return sketch_groupby_agg(
        proj,
        group_cols,
        [_H, _VAL],
        partial_fn=partial,
        merge_fn=lambda states: _a.union(states, lg_k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


def aod_sketch_union_agg(
    df: DataFrame,
    group_cols: list[str],
    sketch_col: str,
    lg_k: int | None = None,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: aod_sketch_union(aod[,lg_k[,num_values]]) (sql:119-147)."""
    return sketch_merge_agg(
        df,
        group_cols,
        sketch_col,
        merge_fn=lambda states: _a.union(states, lg_k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


def aod_sketch_intersection_agg(
    df: DataFrame,
    group_cols: list[str],
    sketch_col: str,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate intersection; values combined with the union policy (sum),
    "as in Druid" (sql:149-167, src/aod_sketch_c_adapter.cpp:37-38). NULL
    sketches are skipped; a group of only NULLs gets the empty sketch."""
    return sketch_merge_agg(
        df,
        group_cols,
        sketch_col,
        merge_fn=_intersect_present,
        finalize_fn=lambda b: {out_col: _a.union([]) if b is None else b},
        out_fields=[StructField(out_col, BinaryType())],
    )


def _intersect_present(images: list[bytes | None]) -> bytes | None:
    """Intersection of the non-NULL images, None if there are none: a batch
    holding only a group's NULL sketches must not fail or empty the group."""
    present = [b for b in images if b is not None]
    return functools.reduce(_a.intersection, present) if present else None


# ---- pairwise / scalar -----------------------------------------------------


@F.pandas_udf(BinaryType())
def _union_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [_a.union([x for x in (xa, xb) if x is not None]) for xa, xb in zip(a, b)],
        dtype=object,
    )


def aod_sketch_union(a: Column, b: Column) -> Column:
    """(sql:189-195)."""
    return _union_pair(a, b)


@F.pandas_udf(BinaryType())
def _inter_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if xa is None or xb is None else _a.intersection(bytes(xa), bytes(xb))
            for xa, xb in zip(a, b)
        ],
        dtype=object,
    )


def aod_sketch_intersection(a: Column, b: Column) -> Column:
    """(sql:197-203)."""
    return _inter_pair(a, b)


@F.pandas_udf(BinaryType())
def _anb_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if xa is None or xb is None else _a.a_not_b(bytes(xa), bytes(xb))
            for xa, xb in zip(a, b)
        ],
        dtype=object,
    )


def aod_sketch_a_not_b(a: Column, b: Column) -> Column:
    """(sql:205-211)."""
    return _anb_pair(a, b)


@F.pandas_udf(DoubleType())
def aod_sketch_get_estimate(s: pd.Series) -> pd.Series:
    """(sql:169-171)."""
    return pd.Series([np.nan if b is None else _a.get_estimate(bytes(b)) for b in s])


@F.pandas_udf(ArrayType(DoubleType()))
def _bounds_udf(s: pd.Series, nsd: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if b is None else list(_a.get_estimate_and_bounds(bytes(b), int(n)))
            for b, n in zip(s, nsd)
        ]
    )


def aod_sketch_get_estimate_and_bounds(sketch: Column, num_std_devs: int = 1) -> Column:
    """(sql:173-179)."""
    return _bounds_udf(sketch, F.lit(num_std_devs))


@F.pandas_udf(BinaryType())
def _to_kll_udf(s: pd.Series, col_idx: pd.Series, k: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if b is None else _a.to_kll_float_sketch(bytes(b), int(c), int(kk))
            for b, c, kk in zip(s, col_idx, k)
        ],
        dtype=object,
    )


def aod_sketch_to_kll_float_sketch(sketch: Column, column_index: int, k: int = 200) -> Column:
    """Sketch-to-sketch conversion (sql:213-219)."""
    return _to_kll_udf(sketch, F.lit(column_index), F.lit(k))


@F.pandas_udf(ArrayType(DoubleType()))
def _ttest_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if xa is None or xb is None else _a.students_t_test(bytes(xa), bytes(xb))
            for xa, xb in zip(a, b)
        ]
    )


def aod_sketch_students_t_test(a: Column, b: Column) -> Column:
    """Welch two-sided p-values per value column (sql:221-223,
    src/aod_sketch_c_adapter.cpp:305-355)."""
    return _ttest_udf(a, b)


@F.pandas_udf(ArrayType(DoubleType()))
def aod_sketch_to_means(s: pd.Series) -> pd.Series:
    """(sql:225-227)."""
    return pd.Series([None if b is None else _a.to_means(bytes(b)) for b in s])


@F.pandas_udf(ArrayType(DoubleType()))
def aod_sketch_to_variances(s: pd.Series) -> pd.Series:
    """(sql:229-231)."""
    return pd.Series([None if b is None else _a.to_variances(bytes(b)) for b in s])


@F.pandas_udf(StringType())
def _to_string_udf(s: pd.Series, pe: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if b is None else _a.to_string(bytes(b), bool(p))
            for b, p in zip(s, pe)
        ]
    )


def aod_sketch_to_string(sketch: Column, print_entries: bool = False) -> Column:
    """(sql:181-187)."""
    return _to_string_udf(sketch, F.lit(print_entries))


# ---- DataSketches wire-format interop --------------------------------------


def aod_sketch_build_compat(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    values_col: str,
    lg_k: int = _a.DEFAULT_LG_K,
    p: float = 1.0,
    out_col: str = "sketch",
) -> DataFrame:
    """aod_sketch_build in the DataSketches hash space (murmur3_x64_128,
    seed 9001, 63-bit — the hashing the reference's storage format implies,
    src/aod_sketch_c_adapter.cpp): sketches built here export via
    ``aod_sketch_to_datasketches`` as canonical AOD compact tuple images
    readable by Druid / datasketches-{java,cpp,py}. Integral keys
    canonicalize to 8-byte LE (vectorized murmur)."""

    proj = df.where(
        F.col(key_col).isNotNull() & F.col(values_col).isNotNull()
    ).select(
        *group_cols,
        F.col(key_col).cast("long").alias(_H),
        F.col(values_col).cast("array<double>").alias(_VAL),
    )

    def partial(pdf: pd.DataFrame) -> bytes:
        keys = pdf[_H].to_numpy(dtype=np.int64).astype(np.uint64)
        vals_list = pdf[_VAL].to_numpy(dtype=object)
        vals = (
            np.stack([np.asarray(v, dtype=np.float64) for v in vals_list])
            if len(vals_list)
            else np.empty((0, 1))
        )
        return _ai.build_murmur(keys, vals, lg_k, p)

    return sketch_groupby_agg(
        proj,
        group_cols,
        [_H, _VAL],
        partial_fn=partial,
        merge_fn=lambda states: _a.union(states, lg_k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


aod_sketch_to_datasketches = image_udf(
    "aod_sketch_to_datasketches", _ai.serialize_compact,
    """Internal AOD sketch -> canonical DataSketches AOD compact image
    (family 9, sketch type 3; see sketches.aod_interop). Only
    murmur-built/imported sketches export — xxhash64-built ones raise.""")


aod_sketch_from_datasketches = image_udf(
    "aod_sketch_from_datasketches", _ai.deserialize_compact,
    """Canonical DataSketches AOD compact image (e.g. produced by Druid /
    datasketches-java) -> internal sketch usable with every aod_* function.""")
