"""Classic quantiles double sketch
(/root/reference/sql/datasketches_quantiles_double_sketch.sql) — the REAL
DoublesSketch (base buffer + weighted level ladder, sketches.quantiles),
serialized in the canonical DataSketches wire format (serial v3, family 8),
so legacy sketch data — the reason the reference keeps this family,
META.json:50-53 — imports directly: a bytea produced by
datasketches-{java,cpp,py} IS this engine's sketch column value.

Surface (sql:37-141): build(+k), merge(+k), get_rank, get_quantile,
get_quantiles, get_pmf, get_cdf, get_histogram(+bins), get_n, to_string.
Default k=128 (src/quantiles_double_sketch_c_adapter.h:29). The scalar
queries are the quantile families' shared UDF set
(functions.quantile_queries) over QuantilesState with double items, minus
min/max; they take no ``inclusive`` flag (a trailing one is rejected), so
ranks are exclusive.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, StructField

from ..operators.agg import sketch_groupby_agg, sketch_merge_agg
from ..sketches import quantiles as _q
from .quantile_queries import float_array, query_udfs

DEFAULT_K = _q.DEFAULT_K
_X = "__x"


def quantiles_double_sketch_build(
    df: DataFrame, group_cols: list[str], col: str, k: int = DEFAULT_K,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: quantiles_double_sketch_build(double[,k]) (sql:69-87).
    NULLs pass the single-column Arrow projection as NaN and drop in the
    kernel, so all-NULL groups still emit a row (empty sketch) — the
    reference's ffunc behavior (same pattern as the KLL family)."""
    proj = df.select(*group_cols, F.col(col).cast("double").alias(_X))
    return sketch_groupby_agg(
        proj,
        group_cols,
        [_X],
        partial_fn=lambda pdf: _q.build(pdf[_X].to_numpy(dtype=np.float64), k),
        merge_fn=lambda states: _q.merge(states, k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


def quantiles_double_sketch_merge(
    df: DataFrame, group_cols: list[str], sketch_col: str, k: int | None = None,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: quantiles_double_sketch_merge(sketch[,k]) (sql:89-107)."""
    return sketch_merge_agg(
        df,
        group_cols,
        sketch_col,
        merge_fn=lambda states: _q.merge(states, k),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


# ---- scalar query functions (the shared quantile-family UDFs) -------------

# the reference's classic family has no min/max item queries (sql:37-141)
QUERY_UDFS = {
    name: udf
    for name, udf in query_udfs(
        "quantiles_double_sketch", _q.QuantilesState, DoubleType(), inclusive=False
    ).items()
    if name not in ("get_min_item", "get_max_item")
}

quantiles_double_sketch_get_n = QUERY_UDFS["get_n"]
quantiles_double_sketch_get_n.__doc__ = """-> bigint (sql:117-119)."""
quantiles_double_sketch_to_string = QUERY_UDFS["to_string"]
quantiles_double_sketch_to_string.__doc__ = """Debug summary (sql:121-123)."""


@F.pandas_udf(BinaryType())
def quantiles_double_sketch_roundtrip(s: pd.Series) -> pd.Series:
    """Decode + re-encode the canonical serVer-3/family-8 image — the wire
    pin: the result must be byte-identical to the input (the stored column
    IS the legacy DoublesSketch image the reference persists,
    /root/reference/META.json:50-53), proving the codec reads what it
    writes with no private leniencies."""
    return pd.Series(
        [
            None if b is None else _q.QuantilesState.deserialize(bytes(b)).serialize()
            for b in s
        ]
    )


def quantiles_double_sketch_get_quantile(sketch: Column, rank: float) -> Column:
    """(sql:113-115)."""
    return QUERY_UDFS["get_quantile"](sketch, F.lit(float(rank)))


def quantiles_double_sketch_get_quantiles(sketch: Column, ranks) -> Column:
    """-> array<double> (sql:133-135)."""
    return QUERY_UDFS["get_quantiles"](sketch, float_array(ranks))


def quantiles_double_sketch_get_rank(sketch: Column, value: float) -> Column:
    """(sql:109-111)."""
    return QUERY_UDFS["get_rank"](sketch, F.lit(float(value)))


def quantiles_double_sketch_get_pmf(sketch: Column, splits) -> Column:
    """N+1 bins (sql:125-127)."""
    return QUERY_UDFS["get_pmf"](sketch, float_array(splits))


def quantiles_double_sketch_get_cdf(sketch: Column, splits) -> Column:
    """(sql:129-131)."""
    return QUERY_UDFS["get_cdf"](sketch, float_array(splits))


def quantiles_double_sketch_get_histogram(sketch: Column, num_bins: int = 10) -> Column:
    """(sql:137-141)."""
    return QUERY_UDFS["get_histogram"](sketch, F.lit(int(num_bins)))
