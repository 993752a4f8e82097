"""KLL quantile family — float and double variants
(/root/reference/sql/datasketches_kll_float_sketch.sql,
 /root/reference/sql/datasketches_kll_double_sketch.sql).

One kernel serves both: the float variant casts inputs to float32 precision
JVM-side before sketching and returns FloatType results, mirroring the
reference's separate kll_float/kll_double types.

The scalar queries are the quantile families' shared UDF set
(functions.quantile_queries) over KllState with double items; this module
binds the reference's names to it. The SQL surface registers it under the
kll_float_sketch_* names, so kll_float_sketch_get_quantile returns double
in SQL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, FloatType, StructField

from ..operators.agg import sketch_groupby_agg, sketch_merge_agg
from ..sketches import kll as _k
from .quantile_queries import float_array, query_udfs

_X = "__x"


def _build_agg(df, group_cols, col, k, out_col, as_float):
    val = F.col(col).cast("float").cast("double") if as_float else F.col(col).cast("double")
    # NULL rows pass through the single-column Arrow projection as NaN and
    # are dropped in the kernel (sfunc-skips-NULL semantics) — a JVM-side
    # row filter would erase all-NULL groups, but the reference's ffunc
    # still emits a row per group (empty sketch)
    proj = df.select(*group_cols, val.alias(_X))
    return sketch_groupby_agg(
        proj,
        group_cols,
        [_X],
        partial_fn=lambda pdf: _k.build(pdf[_X].to_numpy(dtype=np.float64), k),
        merge_fn=lambda states: _k.merge(states, k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


def kll_float_sketch_build(
    df: DataFrame, group_cols: list[str], col: str, k: int = _k.DEFAULT_K,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: kll_float_sketch_build(real[,k]) (sql:69-87; default k=200
    at src/kll_float_sketch_c_adapter.h:29)."""
    return _build_agg(df, group_cols, col, k, out_col, as_float=True)


def kll_double_sketch_build(
    df: DataFrame, group_cols: list[str], col: str, k: int = _k.DEFAULT_K,
    out_col: str = "sketch",
) -> DataFrame:
    return _build_agg(df, group_cols, col, k, out_col, as_float=False)


def kll_sketch_merge(
    df: DataFrame, group_cols: list[str], sketch_col: str, k: int | None = None,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: kll_*_sketch_merge(sketch[,k]) (sql:89-107)."""
    return sketch_merge_agg(
        df,
        group_cols,
        sketch_col,
        merge_fn=lambda states: _k.merge(states, k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


kll_float_sketch_merge = kll_sketch_merge
kll_double_sketch_merge = kll_sketch_merge


# ---- scalar query functions (the shared quantile-family UDFs) -------------

QUERY_UDFS = query_udfs("kll_sketch", _k.KllState, DoubleType(), inclusive=True)

kll_sketch_to_string = QUERY_UDFS["to_string"]
kll_sketch_to_string.__doc__ = """Debug summary (sql:129-131)."""


def kll_sketch_get_quantile(sketch: Column, rank: float, inclusive: bool = False) -> Column:
    """kll_*_sketch_get_quantile(sketch, rank) (sql:113-115); exclusive rank
    semantics by default, ``inclusive`` honored (REQ surface, sql/..req..:145-153)."""
    return QUERY_UDFS["get_quantile"](sketch, F.lit(float(rank)), F.lit(inclusive))


def kll_sketch_get_quantiles(sketch: Column, ranks, inclusive: bool = False) -> Column:
    """-> array<double> (sql:141-143)."""
    return QUERY_UDFS["get_quantiles"](sketch, float_array(ranks), F.lit(inclusive))


def kll_sketch_get_rank(sketch: Column, value: float, inclusive: bool = False) -> Column:
    """kll_*_sketch_get_rank(sketch, value) (sql:109-111)."""
    return QUERY_UDFS["get_rank"](sketch, F.lit(float(value)), F.lit(inclusive))


def kll_sketch_get_pmf(sketch: Column, splits, inclusive: bool = False) -> Column:
    """N+1 bins (sql:133-135; src/kll_float_sketch_pg_functions.c:318)."""
    return QUERY_UDFS["get_pmf"](sketch, float_array(splits), F.lit(inclusive))


def kll_sketch_get_cdf(sketch: Column, splits, inclusive: bool = False) -> Column:
    """N+1 values, last = 1.0 (sql:137-139)."""
    return QUERY_UDFS["get_cdf"](sketch, float_array(splits), F.lit(inclusive))


def kll_sketch_get_histogram(sketch: Column, num_bins: int = 10) -> Column:
    """Equal-width count-scaled histogram (sql:145-151)."""
    return QUERY_UDFS["get_histogram"](sketch, F.lit(num_bins))


def kll_sketch_get_n(sketch: Column) -> Column:
    """-> bigint (sql:117-119)."""
    return QUERY_UDFS["get_n"](sketch)


def kll_sketch_get_min_item(sketch: Column) -> Column:
    return QUERY_UDFS["get_min_item"](sketch)


def kll_sketch_get_max_item(sketch: Column) -> Column:
    return QUERY_UDFS["get_max_item"](sketch)


# ---- float-typed variants (the reference's kll_FLOAT family returns real,
# sql/datasketches_kll_float_sketch.sql:113; the shared kernel computes in
# float32-quantized space already — these wrappers type the results) -------


def kll_float_sketch_get_quantile(sketch: Column, rank: float, inclusive: bool = False) -> Column:
    q = QUERY_UDFS["get_quantile"](sketch, F.lit(float(rank)), F.lit(inclusive))
    return q.cast(FloatType())


def kll_float_sketch_get_quantiles(sketch: Column, ranks, inclusive: bool = False) -> Column:
    qs = QUERY_UDFS["get_quantiles"](sketch, float_array(ranks), F.lit(inclusive))
    return qs.cast(ArrayType(FloatType()))


def kll_float_sketch_get_min_item(sketch: Column) -> Column:
    return QUERY_UDFS["get_min_item"](sketch).cast(FloatType())


def kll_float_sketch_get_max_item(sketch: Column) -> Column:
    return QUERY_UDFS["get_max_item"](sketch).cast(FloatType())


# ---- canonical DataSketches wire format (sketches.kll_interop) -----------
# The reference's kll types ARE standard DataSketches images
# (src/kll_float_sketch_c_adapter.cpp:37-57, bytea casts at
# sql/datasketches_kll_float_sketch.sql:31-42); these adapters give the
# internal working state the same ecosystem interop.


@F.pandas_udf(BinaryType())
def kll_float_sketch_to_datasketches(s: pd.Series) -> pd.Series:
    """Internal KLL state -> canonical DataSketches kll_floats image
    (readable by datasketches-{java,cpp,py}, Druid, Hive, the reference)."""
    from ..sketches.kll_interop import serialize

    return pd.Series(
        [None if b is None else serialize(bytes(b), "<f4") for b in s], dtype=object
    )


@F.pandas_udf(BinaryType())
def kll_float_sketch_from_datasketches(s: pd.Series) -> pd.Series:
    """Canonical kll_floats image -> internal state usable with every
    kll_* function here."""
    from ..sketches.kll_interop import deserialize

    return pd.Series(
        [None if b is None else deserialize(bytes(b), "<f4") for b in s], dtype=object
    )


@F.pandas_udf(BinaryType())
def kll_double_sketch_to_datasketches(s: pd.Series) -> pd.Series:
    """Internal KLL state -> canonical DataSketches kll_doubles image."""
    from ..sketches.kll_interop import serialize

    return pd.Series(
        [None if b is None else serialize(bytes(b), "<f8") for b in s], dtype=object
    )


@F.pandas_udf(BinaryType())
def kll_double_sketch_from_datasketches(s: pd.Series) -> pd.Series:
    """Canonical kll_doubles image -> internal state."""
    from ..sketches.kll_interop import deserialize

    return pd.Series(
        [None if b is None else deserialize(bytes(b), "<f8") for b in s], dtype=object
    )
