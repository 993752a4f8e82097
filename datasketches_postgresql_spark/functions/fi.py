"""Frequent-strings family (the reference's
sql/datasketches_frequent_strings_sketch.sql).

The unweighted build runs on Spark's native ``approx_top_k_accumulate``
(SQL-only in PySpark 4.1), tracking ``3 << (lg_k - 2)`` items, i.e. a map of
2^lg_k slots, for lg_k 3..20 (Java's smallest map, and Spark's cap of
1,000,000 tracked items); any other lg_k runs the numpy build, as weighted
builds do. A scalar UDF decodes the
accumulator's ``sketch`` field into the internal state (sketches.fi_interop),
where every item's error is the offset, datasketches-java's model: in the
estimation regime its lower bounds are looser than the numpy per-item build
gives, and both bracket the true count. Spark's aggregate has no weight
argument, so weighted builds stay numpy, as do merges, results and codecs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.agg import sketch_groupby_agg, sketch_merge_agg
from ..sketches import fi as _fi
from ..sketches import fi_interop as _fii
from . import image_udf

_S, _W = "__s", "__w"
# Java's smallest map (lg 3) up to Spark's maxItemsTracked limit of 1,000,000
NATIVE_LG_K = range(3, 21)

# composite row type (sql/datasketches_frequent_strings_sketch.sql:103)
ROW_TYPE = StructType(
    [
        StructField("str", StringType()),
        StructField("estimate", LongType()),
        StructField("lower_bound", LongType()),
        StructField("upper_bound", LongType()),
    ]
)


_from_top_k_udf = image_udf("_from_top_k_udf", _fii.from_top_k_accumulate)


def frequent_strings_sketch_build(
    df: DataFrame,
    group_cols: list[str],
    lg_k: int,
    col: str,
    weight_col: str | None = None,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: frequent_strings_sketch_build(lg_k, varchar[, weight])
    (sql:65-83; lg_k mandatory, weight default 1). NULL strings are
    skipped, and a NULL weight adds nothing, as a zero weight does."""
    if weight_col is None and lg_k in NATIVE_LG_K:
        acc = F.call_function(
            "approx_top_k_accumulate", F.col(col).cast("string"), F.lit(3 << (lg_k - 2))
        )
        out = df.groupBy(*group_cols).agg(acc.alias(out_col))
        return out.withColumn(out_col, _from_top_k_udf(F.col(out_col).getField("sketch")))
    # a NULL weight adds nothing, as a zero weight does
    weight = F.lit(1) if weight_col is None else F.coalesce(F.col(weight_col).cast("long"), F.lit(0))
    proj = df.select(*group_cols, F.col(col).cast("string").alias(_S), weight.alias(_W))

    def partial(pdf: pd.DataFrame) -> bytes:
        sub = pdf.dropna(subset=[_S])
        return _fi.build(lg_k, sub[_S].to_numpy(dtype=object), sub[_W].to_numpy(dtype=np.int64))

    return sketch_groupby_agg(
        proj,
        group_cols,
        [_S, _W],
        partial_fn=partial,
        merge_fn=lambda states: _fi.merge(lg_k, states),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


def frequent_strings_sketch_merge(
    df: DataFrame,
    group_cols: list[str],
    lg_k: int,
    sketch_col: str,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: frequent_strings_sketch_merge(lg_k, sketch) (sql:85-93)."""
    return sketch_merge_agg(
        df,
        group_cols,
        sketch_col,
        merge_fn=lambda states: _fi.merge(lg_k, states),
        finalize_fn=lambda b: {out_col: b},
        out_fields=[StructField(out_col, BinaryType())],
    )


def _result_udf(policy: str):
    @F.pandas_udf(ArrayType(ROW_TYPE))
    def udf(s: pd.Series, threshold: pd.Series) -> pd.Series:
        out = []
        for b, t in zip(s, threshold):
            if b is None:
                out.append(None)
            else:
                rows = _fi.FiState.deserialize(bytes(b)).result(policy, int(t))
                out.append(
                    [
                        {"str": r[0], "estimate": r[1], "lower_bound": r[2], "upper_bound": r[3]}
                        for r in rows
                    ]
                )
        return pd.Series(out)

    return udf


_nfp_udf = _result_udf(_fi.NO_FALSE_POSITIVES)
_nfn_udf = _result_udf(_fi.NO_FALSE_NEGATIVES)


def frequent_strings_sketch_result_no_false_positives(
    sketch: Column, threshold: int = 0
) -> Column:
    """-> array<struct>; explode() for the reference's SRF row stream
    (sql:105-113, SRF protocol src/frequent_strings_sketch_pg_functions.c:212-281)."""
    return _nfp_udf(sketch, F.lit(threshold))


def frequent_strings_sketch_result_no_false_negatives(
    sketch: Column, threshold: int = 0
) -> Column:
    """(sql:115-123)."""
    return _nfn_udf(sketch, F.lit(threshold))


def explode_result(df: DataFrame, result_col: Column, keep_cols: list[str] = ()) -> DataFrame:
    """SRF analogue: array-of-structs -> rows (str, estimate, lower_bound,
    upper_bound), preserving ``keep_cols``."""
    return (
        df.select(*keep_cols, F.explode(result_col).alias("__r"))
        .select(*keep_cols, "__r.str", "__r.estimate", "__r.lower_bound", "__r.upper_bound")
    )


@F.pandas_udf(StringType())
def _to_string_udf(s: pd.Series, print_items: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if b is None else _fi.FiState.deserialize(bytes(b)).to_string(bool(p))
            for b, p in zip(s, print_items)
        ]
    )


def frequent_strings_sketch_to_string(sketch: Column, print_items: bool = False) -> Column:
    """(sql:95-101)."""
    return _to_string_udf(sketch, F.lit(print_items))


# ---- canonical DataSketches wire format (sketches.fi_interop) ------------
# The reference's frequent_strings_sketch bytea IS this image
# (sql/datasketches_frequent_strings_sketch.sql:31-42); these adapters give
# the internal per-item-error state the same ecosystem interop.


frequent_strings_sketch_to_datasketches = image_udf(
    "frequent_strings_sketch_to_datasketches", _fii.serialize,
    """Internal FI state -> canonical DataSketches frequent-strings image
    (readable by datasketches-{java,cpp,py}, Druid, Hive, the reference).""")
frequent_strings_sketch_from_datasketches = image_udf(
    "frequent_strings_sketch_from_datasketches", _fii.deserialize,
    """Canonical frequent-strings image -> internal state usable with every
    frequent_strings_* function here.""")
