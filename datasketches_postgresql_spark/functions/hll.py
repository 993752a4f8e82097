"""HLL sketch family (/root/reference/sql/datasketches_hll_sketch.sql),
bridged to Spark's NATIVE DataSketches-compatible HLL functions
(hll_sketch_agg / hll_union_agg / hll_sketch_estimate / hll_union, JVM-side,
whole-stage-codegen friendly — zero Python in the hot path).

tgt_type handling (src/hll_sketch_pg_functions.c:94-99): HLL_8 (and the
default) goes through the Spark-native path. HLL_4 / HLL_6 build murmur3
coupon registers in numpy (identical to datasketches-java's for the same
keys) and serialize the CANONICAL DataSketches narrow image
(sketches.hll_interop) — 4/6-bit packed, curMin + aux-exception scheme, so
narrow packing adds no estimation bias AND the bytes are readable by
Druid / Hive / datasketches-* and by Spark's own native hll_* functions.
Scalar getters therefore always use the native JVM decoder.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, StringType, StructField

from ..operators.agg import sketch_groupby_agg, sketch_merge_agg
from ..sketches import hll_interop as _hi
from .keys import hash_keys, key_column

DEFAULT_LG_K = 12  # src/hll_sketch_pg_functions.c:38
_VALID_TGT = {"HLL_4", "HLL_6", "HLL_8", 4, 6, 8}
_H = "__h"


def _check_tgt(tgt_type) -> int | None:
    """-> register width (4/6/8) or None for the default (native HLL_8)."""
    if tgt_type is None:
        return None
    if tgt_type not in _VALID_TGT:
        raise ValueError(f"invalid tgt_type {tgt_type}; must be HLL_4/HLL_6/HLL_8")
    return int(str(tgt_type).removeprefix("HLL_"))


def _is_custom(tgt_type) -> bool:
    return _check_tgt(tgt_type) in (4, 6)


def _custom_build(df, group_cols, col, lg_k, width, out_col):
    """HLL_4/HLL_6 build: murmur3-coupon registers over the DataSketches key
    rule (functions.keys; identical to what datasketches-java computes for
    the same keys) serialized as the canonical narrow image —
    binary-compatible with the reference's storage and with Spark's native
    hll_* readers. NULL keys reach the partial and are skipped there, so an
    all-NULL group gets the canonical empty image."""

    def partial(pdf: pd.DataFrame) -> bytes:
        _, h1, h2 = hash_keys(pdf[_H])
        return _hi.serialize_hll(lg_k, _hi.registers_murmur(h1, h2, lg_k), width)

    return sketch_groupby_agg(
        df.select(*group_cols, key_column(df, col).alias(_H)),
        group_cols,
        [_H],
        partial_fn=partial,
        merge_fn=lambda states: _hi.union_images(states, width, lg_k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


def hll_sketch_build(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    lg_k: int = DEFAULT_LG_K,
    tgt_type=None,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: hll_sketch_build(anyelement[,lg_k[,tgt_type]]) (sql:101-129).
    Default/HLL_8: Spark-native (Catalyst plans partial+final aggregation —
    the reference's COMBINEFUNC, for free). HLL_4/HLL_6: murmur-coupon numpy
    kernel emitting canonical narrow DataSketches images."""
    width = _check_tgt(tgt_type)
    if width in (4, 6):
        return _custom_build(df, group_cols, col, lg_k, width, out_col)
    grouped = df.groupBy(*group_cols) if group_cols else df.groupBy()
    return grouped.agg(F.hll_sketch_agg(col, F.lit(lg_k)).alias(out_col))


def hll_sketch_distinct(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    lg_k: int = DEFAULT_LG_K,
    out_col: str = "distinct_est",
) -> DataFrame:
    """Aggregate: hll_sketch_distinct(anyelement[,lg_k]) -> double (sql:81-99)."""
    grouped = df.groupBy(*group_cols) if group_cols else df.groupBy()
    return grouped.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(col, F.lit(lg_k)))
        .cast("double")
        .alias(out_col)
    )


def hll_sketch_union_agg(
    df: DataFrame,
    group_cols: list[str],
    sketch_col: str,
    lg_k: int | None = None,
    tgt_type=None,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: hll_sketch_union(hll_sketch[,lg_k[,tgt_type]]) (sql:131-159)."""
    width = _check_tgt(tgt_type)
    if width in (4, 6):
        return sketch_merge_agg(
            df,
            group_cols,
            sketch_col,
            merge_fn=lambda states: _hi.union_images(states, width),
            finalize_fn=lambda b: {out_col: b},
            out_fields=[StructField(out_col, BinaryType())],
        )
    grouped = df.groupBy(*group_cols) if group_cols else df.groupBy()
    return grouped.agg(
        F.hll_union_agg(sketch_col, F.lit(True)).alias(out_col)
    )


@F.pandas_udf(BinaryType())
def _custom_union_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for xa, xb in zip(a, b):
        states = [bytes(x) for x in (xa, xb) if x is not None]
        if not states:
            out.append(None)
            continue
        width = _hi.deserialize_hll(states[0])[1]
        out.append(_hi.union_images(states, width))
    return pd.Series(out, dtype=object)


def hll_sketch_union(a: Column, b: Column, tgt_type=None) -> Column:
    """Pairwise union (sql:177-187)."""
    if _is_custom(tgt_type):
        return _custom_union_pair(a, b)
    return F.hll_union(a, b, True)


def hll_sketch_get_estimate(sketch, tgt_type=None) -> Column:
    """hll_sketch_get_estimate(sketch) -> double (sql:161-163). Every
    tgt_type now emits the canonical DataSketches image, so the native JVM
    estimator reads all of them — tgt_type is accepted for signature parity
    but no longer selects a decoder."""
    return F.hll_sketch_estimate(sketch).cast("double")


@F.pandas_udf(ArrayType(DoubleType()))
def _hll_bounds_udf(s: pd.Series, est: pd.Series, nsd: pd.Series) -> pd.Series:
    """Bounds from the HLL relative standard error 1.04/sqrt(2^lgK).
    Image layout: byte 3 = lgK, byte 7 bits 0-1 = curMode (0=LIST, 1=SET,
    2=HLL); LIST/SET modes are exact -> bounds collapse to the estimate
    (matches the reference's exact small-n regime,
    src/hll_sketch_c_adapter.cpp:76-87 delegates to the core's bounds)."""
    out = []
    for img, e, n in zip(s, est, nsd):
        if img is None:
            out.append(None)
            continue
        lg_k = img[3]
        mode = img[7] & 3 if len(img) > 7 else 0
        e = float(e)
        if mode < 2:
            out.append([e, e, e])
        else:
            rse = 1.04 / math.sqrt(float(1 << lg_k))
            out.append([e, e / (1.0 + float(n) * rse), e * (1.0 + float(n) * rse)])
    return pd.Series(out)


def hll_sketch_get_estimate_and_bounds(sketch: Column, num_std_devs: int = 1) -> Column:
    """-> array<double>[estimate, lower, upper] (sql:165-171)."""
    est = F.hll_sketch_estimate(sketch).cast("double")
    return _hll_bounds_udf(sketch, est, F.lit(num_std_devs))


@F.pandas_udf(StringType())
def hll_sketch_to_string(s: pd.Series) -> pd.Series:
    """Debug summary (sql:173-175)."""
    out = []
    for img in s:
        if img is None:
            out.append(None)
        else:
            mode = ["LIST", "SET", "HLL", "?"][img[7] & 3 if len(img) > 7 else 0]
            out.append(
                "### HLL sketch summary:\n"
                f"   lg_k : {img[3]}\n"
                f"   mode : {mode}\n"
                f"   bytes: {len(img)}\n"
            )
    return pd.Series(out)
