"""CPC sketch family (/root/reference/sql/datasketches_cpc_sketch.sql),
backed by the coupon-matrix kernel (sketches.cpc): working images (sparse
coupon list / dense bit matrix), coupon-collection update, OR-merge, and an
ICON-style estimator (inverting the expected coupon count) with measured
RSE ~= 1.5-2%/sqrt(k/2048). Default lg_k=11 (src/cpc_sketch_pg_functions.c:30).

Keys follow the DataSketches key rule (functions.keys: integers as
update(long), binary as raw bytes, anything else as its UTF-8 string,
murmur3 seed 9001) and map to coupons as ``CpcSketch.update`` does, so a
matrix built here equals the library's over the same keys.
``cpc_sketch_to_datasketches`` / ``cpc_sketch_from_datasketches`` convert
to/from the canonical COMPRESSED DataSketches image — byte-identical to
what the core library emits for the same coupon matrix, proven against the
datasketches-java bundled in Spark (tests/test_jvm_groundtruth.py). The
reference initializes CPC's entropy-compression tables once per backend
(src/global_hooks.c:28-35); here sketches/cpc_tables.npz is lazy-loaded per
worker by that codec."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, StringType, StructField

from ..operators.agg import sketch_groupby_agg, sketch_merge_agg
from ..sketches import cpc as _c
from ..sketches import cpc_interop as _ci
from . import image_udf
from .keys import hash_keys, key_column

DEFAULT_LG_K = _c.DEFAULT_LG_K
_H = "__h"


def _build(df: DataFrame, group_cols: list[str], col: str, lg_k: int, finalize_fn,
           out_field: StructField) -> DataFrame:
    # NULL keys reach the partial and are skipped there, so an all-NULL
    # group still gets its row (the empty sketch)
    return sketch_groupby_agg(
        df.select(*group_cols, key_column(df, col).alias(_H)),
        group_cols,
        [_H],
        partial_fn=lambda pdf: _c.from_hashes(*hash_keys(pdf[_H])[1:], lg_k),
        merge_fn=lambda states: _c.union(states, lg_k),
        finalize_fn=finalize_fn,
        out_fields=[out_field],
    )


def cpc_sketch_build(
    df: DataFrame, group_cols: list[str], col: str, lg_k: int = DEFAULT_LG_K,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: cpc_sketch_build(anyelement[,lg_k]) (sql:95-111)."""
    return _build(df, group_cols, col, lg_k, lambda b: {out_col: b},
                  StructField(out_col, BinaryType()))


# every build is in the DataSketches coupon space, so the compat name is an alias
cpc_sketch_build_compat = cpc_sketch_build


def cpc_sketch_distinct(
    df: DataFrame, group_cols: list[str], col: str, lg_k: int = DEFAULT_LG_K,
    out_col: str = "distinct_est",
) -> DataFrame:
    """Aggregate: cpc_sketch_distinct(anyelement[,lg_k]) -> double (sql:73-93)."""
    return _build(df, group_cols, col, lg_k, lambda b: {out_col: _c.get_estimate(b)},
                  StructField(out_col, DoubleType()))


def cpc_sketch_union_agg(
    df: DataFrame, group_cols: list[str], sketch_col: str,
    lg_k: int | None = None, out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: cpc_sketch_union(cpc_sketch[,lg_k]) (sql:113-131). The
    result has the smallest lg_k among ``lg_k`` and the non-empty inputs,
    as a DataSketches ``CpcUnion`` gives."""
    return sketch_merge_agg(
        df,
        group_cols,
        sketch_col,
        merge_fn=lambda states: _c.union(states, lg_k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


@F.pandas_udf(BinaryType())
def _union_pair_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [_c.union([x for x in (xa, xb) if x is not None]) for xa, xb in zip(a, b)],
        dtype=object,
    )


def cpc_sketch_union(a: Column, b: Column) -> Column:
    """Pairwise union (sql:149-155)."""
    return _union_pair_udf(a, b)


@F.pandas_udf(DoubleType())
def cpc_sketch_get_estimate(s: pd.Series) -> pd.Series:
    """(sql:133-135)."""
    return pd.Series([np.nan if b is None else _c.get_estimate(bytes(b)) for b in s])


@F.pandas_udf(ArrayType(DoubleType()))
def _bounds_udf(s: pd.Series, nsd: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if b is None else list(_c.get_estimate_and_bounds(bytes(b), int(n)))
            for b, n in zip(s, nsd)
        ]
    )


def cpc_sketch_get_estimate_and_bounds(sketch: Column, num_std_devs: int = 1) -> Column:
    """(sql:137-143)."""
    return _bounds_udf(sketch, F.lit(num_std_devs))


@F.pandas_udf(StringType())
def cpc_sketch_to_string(s: pd.Series) -> pd.Series:
    """(sql:145-147)."""
    return pd.Series([None if b is None else _c.to_string(bytes(b)) for b in s])


cpc_sketch_to_datasketches = image_udf(
    "cpc_sketch_to_datasketches", _ci.serialize_canonical,
    """Working CPC image -> canonical compressed DataSketches CPC image
    (merged format — what a CpcUnion result serializes to; see
    sketches.cpc_interop for the full layout).""")


cpc_sketch_from_datasketches = image_udf(
    "cpc_sketch_from_datasketches", _ci.deserialize_canonical,
    """Canonical DataSketches CPC image (any of the 8 formats, HIP or
    merged, e.g. from Druid or datasketches-*) -> working image usable
    with every cpc_* function here.""")
