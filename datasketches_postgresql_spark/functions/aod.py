"""AOD (array-of-doubles tuple) sketch family
(the reference's sql/datasketches_aod_sketch.sql). Every sketch is the
standard DataSketches ArrayOfDoubles compact image (sketches.aod); keys
follow the DataSketches key rule (functions.keys), value vectors cross as
Arrow list columns."""

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
from . import image_udf
from .keys import hash_keys, key_column

_H, _VAL = "__h", "__vals"


def _rows_image(keys: pd.Series, vals: pd.Series, lg_k: int = _a.DEFAULT_LG_K,
                p: float = 1.0, name: str = "aod_sketch_build") -> bytes:
    """Image over rows of (key, value vector); a row with a NULL key or NULL
    values updates nothing."""
    kept, h1, _ = hash_keys(keys, name)
    vl = vals.to_numpy(dtype=object)[kept]
    has = np.array([v is not None for v in vl], dtype=bool)
    stacked = (
        np.stack([np.asarray(v, dtype=np.float64) for v in vl[has]])
        if has.any()
        else np.empty((0, 1))
    )
    return _a.from_hashes(h1[has], stacked, lg_k, p)


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
    # rows with a NULL key or NULL values reach the partial and are skipped
    # there, so an all-NULL group still gets its row (the empty sketch), as
    # the reference's ffunc emits one per group
    proj = df.select(
        *group_cols,
        key_column(df, key_col).alias(_H),
        F.col(values_col).cast("array<double>").alias(_VAL),
    )
    return sketch_groupby_agg(
        proj,
        group_cols,
        [_H, _VAL],
        partial_fn=lambda pdf: _rows_image(pdf[_H], pdf[_VAL], lg_k, p),
        merge_fn=lambda states: _a.union(states, lg_k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


# every build is in the DataSketches hash space, so the compat name is an alias
aod_sketch_build_compat = aod_sketch_build


def aod_sketch_union_agg(
    df: DataFrame,
    group_cols: list[str],
    sketch_col: str,
    lg_k: int | None = None,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: aod_sketch_union(aod[,lg_k[,num_values]]) (sql:119-147).
    An image carries no lg_k; left out, it is the reference's 12."""
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


# ---- DataSketches wire format ----------------------------------------------


aod_sketch_to_datasketches = image_udf(
    "aod_sketch_to_datasketches", _a.validate,
    """Sketch -> the same standard AOD compact image (family 9, sketch type
    3), validated: every sketch here already is one.""")


aod_sketch_from_datasketches = image_udf(
    "aod_sketch_from_datasketches", _a.validate,
    """Standard AOD compact image (e.g. produced by Druid /
    datasketches-java) -> the same image, validated; usable with every
    aod_* function here.""")
