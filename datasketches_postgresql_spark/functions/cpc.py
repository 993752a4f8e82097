"""CPC sketch family (/root/reference/sql/datasketches_cpc_sketch.sql),
backed by the REAL coupon-matrix kernel (sketches.cpc): native CPC-style
images (sparse coupon list / dense bit matrix), coupon-collection update,
OR-merge, and an ICON-style estimator (inverting the expected coupon count)
with measured RSE ~= 1.5-2%/sqrt(k/2048) — the CPC accuracy class at the
same lg_k, unlike the round-1 theta alias. Default lg_k=11 (src/cpc_sketch_pg_functions.c:30).

The reference initializes CPC's entropy-compression tables once per backend
via a global init hook (src/global_hooks.c:28-35); the analogue here is
sketches/cpc_tables.npz (the spec's constant code tables), lazy-loaded per
worker by the canonical codec. The default build path stores the matrix
uncompressed (a documented working-format choice: wire size 8k bytes dense
/ 4 bytes-per-coupon sparse vs compressed CPC's ~k bytes), and
``cpc_sketch_to_datasketches`` / ``cpc_sketch_from_datasketches`` convert
to/from the canonical COMPRESSED DataSketches image — byte-identical to
what the core library emits for the same coupon matrix, proven against the
datasketches-java bundled in Spark (tests/test_jvm_groundtruth.py).

Keys hash JVM-side via F.xxhash64 (same canonicalization role as
src/cpc_sketch_pg_functions.c's anyelement handling); use
``cpc_sketch_build_compat`` for the ecosystem's murmur coupon mapping when
sketches must union with Druid/Hive/datasketches-built ones."""

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

DEFAULT_LG_K = _c.DEFAULT_LG_K
_H = "__h"


def _hash_proj(df: DataFrame, group_cols: list[str], col: str) -> DataFrame:
    # NULLs survive to the kernel as the xxhash64 seed sentinel (42) and are
    # dropped there, so all-NULL groups still emit an empty-sketch row
    # without a row filter or a group-key join (the sentinel costs a 2^-64
    # per-value blind spot, the order of a hash collision)
    return df.select(*group_cols, F.xxhash64(col).alias(_H))


def _hashed(pdf: pd.DataFrame) -> np.ndarray:
    h = pdf[_H].to_numpy(dtype=np.int64).astype(np.uint64)
    return h[h != np.uint64(42)]


def cpc_sketch_build(
    df: DataFrame, group_cols: list[str], col: str, lg_k: int = DEFAULT_LG_K,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: cpc_sketch_build(anyelement[,lg_k]) (sql:95-111)."""
    return sketch_groupby_agg(
        _hash_proj(df, group_cols, col),
        group_cols,
        [_H],
        partial_fn=lambda pdf: _c.build(_hashed(pdf), lg_k),
        merge_fn=lambda states: _c.union(states, lg_k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


def cpc_sketch_distinct(
    df: DataFrame, group_cols: list[str], col: str, lg_k: int = DEFAULT_LG_K,
    out_col: str = "distinct_est",
) -> DataFrame:
    """Aggregate: cpc_sketch_distinct(anyelement[,lg_k]) -> double (sql:73-93)."""
    return sketch_groupby_agg(
        _hash_proj(df, group_cols, col),
        group_cols,
        [_H],
        partial_fn=lambda pdf: _c.build(_hashed(pdf), lg_k),
        merge_fn=lambda states: _c.union(states, lg_k),
        finalize_fn=lambda b: {out_col: _c.get_estimate(b)},
        out_fields=[StructField(out_col, DoubleType())],
    )


def cpc_sketch_union_agg(
    df: DataFrame, group_cols: list[str], sketch_col: str,
    lg_k: int | None = None, out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: cpc_sketch_union(cpc_sketch[,lg_k]) (sql:113-131)."""
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


def cpc_sketch_build_compat(
    df: DataFrame, group_cols: list[str], col: str, lg_k: int = DEFAULT_LG_K,
    out_col: str = "sketch",
) -> DataFrame:
    """cpc_sketch_build in the DataSketches coupon space (murmur3 seed 9001,
    row = h1 low lgK bits, col = clz(h2) — CpcSketch.update's mapping):
    sketches built here have matrices IDENTICAL to library-built ones over
    the same keys, so exports union exactly with Druid / Hive /
    datasketches-* sketches. Integral keys canonicalize to 8-byte LE
    (vectorized murmur); everything else to UTF-8 strings — the key
    projection of the theta build, so a string column hits update(String)'s
    hash path rather than a silent cast-to-long."""
    from pyspark.sql.types import IntegerType as _Int
    from pyspark.sql.types import LongType as _Long
    from pyspark.sql.types import ShortType as _Short

    from ..operators.agg import keep_group_keys

    dtype = df.schema[col].dataType
    numeric = isinstance(dtype, (_Long, _Int, _Short))
    val = F.col(col).cast("long") if numeric else F.col(col).cast("string")
    proj = df.where(F.col(col).isNotNull()).select(*group_cols, val.alias(_H))

    if numeric:
        def partial(pdf: pd.DataFrame) -> bytes:
            return _ci.build_murmur(
                pdf[_H].to_numpy(dtype=np.int64).astype(np.uint64), lg_k
            )
    else:
        def partial(pdf: pd.DataFrame) -> bytes:
            return _ci.build_murmur_strings(pdf[_H], lg_k)

    agg = sketch_groupby_agg(
        proj,
        group_cols,
        [_H],
        partial_fn=partial,
        merge_fn=lambda states: _c.union(states, lg_k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )
    empty = _ci.build_murmur(np.empty(0, dtype=np.uint64), lg_k)
    return keep_group_keys(df, group_cols, agg, {out_col: empty})


cpc_sketch_to_datasketches = image_udf(
    "cpc_sketch_to_datasketches", _ci.serialize_canonical,
    """Internal CPC sketch -> canonical compressed DataSketches CPC image
    (merged format — what a CpcUnion result serializes to; see
    sketches.cpc_interop for the full layout).""")


cpc_sketch_from_datasketches = image_udf(
    "cpc_sketch_from_datasketches", _ci.deserialize_canonical,
    """Canonical DataSketches CPC image (any of the 8 formats, HIP or
    merged, e.g. from Druid or datasketches-*) -> internal sketch usable
    with every cpc_* function here.""")
