"""REQ (relative-error quantiles) float family
(/root/reference/sql/datasketches_req_float_sketch.sql), backed by the REAL
relative-compactor kernel (sketches.req — accuracy RELATIVE to the distance
from the accurate end, HRA/LRA honored; src/req_float_sketch_pg_functions.c:83
passes hra, :119-121 k), not a KLL alias. Default k=12
(src/req_float_sketch_c_adapter.h:29); every query function takes the
``inclusive`` boolean defaulting to false (sql:137-193). Quantiles and
min/max are FloatType (the reference family is float-typed, sql:73); ranks,
pmf, cdf and histograms are double. The scalar queries are the quantile
families' shared UDF set (functions.quantile_queries) over ReqState with
float items; this module binds the reference's names to it."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, FloatType, StructField

from ..operators.agg import sketch_groupby_agg, sketch_merge_agg
from ..sketches import req as _r
from .quantile_queries import float_array, query_udfs

DEFAULT_K = _r.DEFAULT_K
_X = "__x"


def req_float_sketch_build(
    df: DataFrame, group_cols: list[str], col: str, k: int = DEFAULT_K,
    hra: bool = True, out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: req_float_sketch_build(real[,k[,hra]]) (sql:73-105)."""
    # NULLs arrive as NaN through Arrow and are dropped by the kernel
    # (ReqState.update filters NaN), keeping all-NULL groups alive
    proj = df.select(*group_cols, F.col(col).cast("float").alias(_X))
    return sketch_groupby_agg(
        proj,
        group_cols,
        [_X],
        partial_fn=lambda pdf: _r.build(pdf[_X].to_numpy(dtype=np.float32), k, hra),
        merge_fn=lambda states: _r.merge(states, k, hra),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


def req_float_sketch_merge(
    df: DataFrame, group_cols: list[str], sketch_col: str, k: int | None = None,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: req_float_sketch_merge(sketch[,k]) (sql:107-125)."""
    return sketch_merge_agg(
        df,
        group_cols,
        sketch_col,
        merge_fn=lambda states: _r.merge(states, k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


# ---- scalar query functions (the shared quantile-family UDFs) -------------

QUERY_UDFS = query_udfs("req_float_sketch", _r.ReqState, FloatType(), inclusive=True)

req_float_sketch_to_string = QUERY_UDFS["to_string"]
req_float_sketch_to_string.__doc__ = """(sql:195-201)."""


def req_float_sketch_get_quantile(sketch: Column, rank: float, inclusive: bool = False) -> Column:
    """(sql:145-153)."""
    return QUERY_UDFS["get_quantile"](sketch, F.lit(float(rank)), F.lit(inclusive))


def req_float_sketch_get_quantiles(sketch: Column, ranks, inclusive: bool = False) -> Column:
    return QUERY_UDFS["get_quantiles"](sketch, float_array(ranks), F.lit(inclusive))


def req_float_sketch_get_rank(sketch: Column, value: float, inclusive: bool = False) -> Column:
    """(sql:137-143)."""
    return QUERY_UDFS["get_rank"](sketch, F.lit(float(value)), F.lit(inclusive))


def req_float_sketch_get_pmf(sketch: Column, splits, inclusive: bool = False) -> Column:
    return QUERY_UDFS["get_pmf"](sketch, float_array(splits), F.lit(inclusive))


def req_float_sketch_get_cdf(sketch: Column, splits, inclusive: bool = False) -> Column:
    return QUERY_UDFS["get_cdf"](sketch, float_array(splits), F.lit(inclusive))


def req_float_sketch_get_histogram(sketch: Column, num_bins: int = 10) -> Column:
    return QUERY_UDFS["get_histogram"](sketch, F.lit(num_bins))


def req_float_sketch_get_n(sketch: Column) -> Column:
    return QUERY_UDFS["get_n"](sketch)


def req_float_sketch_get_min_item(sketch: Column) -> Column:
    return QUERY_UDFS["get_min_item"](sketch)


def req_float_sketch_get_max_item(sketch: Column) -> Column:
    return QUERY_UDFS["get_max_item"](sketch)


# ---- DataSketches wire-format interop --------------------------------------


@F.pandas_udf(BinaryType())
def req_float_sketch_to_datasketches(s: pd.Series) -> pd.Series:
    """Internal REQ state -> canonical DataSketches REQ image (serial v1,
    family 17; see sketches.req_interop — incl. its validation-honesty
    note). Unlike theta/AOD, REQ holds raw float values, not hashes, so
    every sketch exports."""
    from ..sketches.req_interop import serialize_canonical

    return pd.Series(
        [None if b is None else serialize_canonical(bytes(b)) for b in s], dtype=object
    )


@F.pandas_udf(BinaryType())
def req_float_sketch_from_datasketches(s: pd.Series) -> pd.Series:
    """Canonical DataSketches REQ image -> internal state usable with every
    req_* function here."""
    from ..sketches.req_interop import deserialize_canonical

    return pd.Series(
        [None if b is None else deserialize_canonical(bytes(b)) for b in s], dtype=object
    )
