"""Scalar query UDFs shared by the three quantile families: KLL float/double
(functions.kll), REQ float (functions.req) and classic quantiles double
(functions.quantiles).

The reference gives the families one query surface: classic quantiles is
KLL-double's surface minus min/max, and REQ is KLL-float's plus the
``inclusive`` flag (sql/datasketches_{kll_float,req_float,
quantiles_double}_sketch.sql). Their kernels share
``sketches.kll.QuantileQueriesMixin``, so one set of pandas UDF bodies serves
them all. ``query_udfs`` instantiates it for a family's state class and
result item type; each family module binds its public names to the result,
and ``registry.register_all`` registers it under the family's SQL prefix.

KLL and REQ take ``inclusive`` as an optional trailing argument (default
false), as the reference's own two-argument ``get_rank(sketch, value)``
forms leave it out. The classic family has no such flag, so its UDFs reject
a trailing argument.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType, LongType, StringType


def float_array(values) -> Column:
    """A literal array<double> of ``values`` (ranks or split points)."""
    return F.array(*[F.lit(float(v)) for v in values])


def query_udfs(prefix: str, state_cls, item_type, inclusive: bool) -> dict:
    """SQL name suffix -> pandas UDF named ``{prefix}_{suffix}``, for
    sketches ``state_cls.deserialize`` reads. ``item_type`` (DoubleType or
    FloatType) types quantiles and min/max items; ranks, pmf, cdf and
    histogram masses are always double. ``inclusive`` says whether the
    family's rank queries accept the trailing ``inclusive`` flag."""
    as_float = isinstance(item_type, FloatType)
    item = np.float32 if as_float else float
    dtype = "float32" if as_float else None

    def states(s: pd.Series):
        return (None if b is None else state_cls.deserialize(bytes(b)) for b in s)

    max_flags = 1 if inclusive else 0

    def flags(incl: tuple):
        if len(incl) > max_flags:
            raise TypeError(
                f"{prefix} rank queries take at most {max_flags} trailing "
                f"inclusive argument(s), got {len(incl)}"
            )
        return incl[0] if incl else itertools.repeat(False)

    def get_quantile(s: pd.Series, rank: pd.Series, *incl: pd.Series) -> pd.Series:
        return pd.Series(
            [
                np.nan if st is None else st.get_quantile(float(r), bool(i))
                for st, r, i in zip(states(s), rank, flags(incl))
            ],
            dtype=dtype,
        )

    def get_quantiles(s: pd.Series, ranks: pd.Series, *incl: pd.Series) -> pd.Series:
        # an empty sketch's NaN quantiles become NULL elements in every
        # family (a float32 NaN would otherwise cross Arrow as NaN)
        return pd.Series(
            [
                None
                if st is None
                else [
                    None if np.isnan(q) else item(q)
                    for q in st.get_quantiles([float(x) for x in r], bool(i))
                ]
                for st, r, i in zip(states(s), ranks, flags(incl))
            ]
        )

    def get_rank(s: pd.Series, value: pd.Series, *incl: pd.Series) -> pd.Series:
        return pd.Series(
            [
                np.nan if st is None else st.get_rank(float(v), bool(i))
                for st, v, i in zip(states(s), value, flags(incl))
            ]
        )

    def get_pmf(s: pd.Series, splits: pd.Series, *incl: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if st is None else st.get_pmf([float(x) for x in sp], bool(i))
                for st, sp, i in zip(states(s), splits, flags(incl))
            ]
        )

    def get_cdf(s: pd.Series, splits: pd.Series, *incl: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if st is None else st.get_cdf([float(x) for x in sp], bool(i))
                for st, sp, i in zip(states(s), splits, flags(incl))
            ]
        )

    def get_histogram(s: pd.Series, bins: pd.Series) -> pd.Series:
        return pd.Series(
            [None if st is None else st.get_histogram(int(b)) for st, b in zip(states(s), bins)]
        )

    def get_n(s: pd.Series) -> pd.Series:
        return pd.Series([None if st is None else st.n for st in states(s)], dtype="Int64")

    def get_min_item(s: pd.Series) -> pd.Series:
        return pd.Series(
            [np.nan if st is None or st.n == 0 else st.min for st in states(s)], dtype=dtype
        )

    def get_max_item(s: pd.Series) -> pd.Series:
        return pd.Series(
            [np.nan if st is None or st.n == 0 else st.max for st in states(s)], dtype=dtype
        )

    def to_string(s: pd.Series) -> pd.Series:
        return pd.Series([None if st is None else st.to_string() for st in states(s)])

    types = {
        get_quantile: item_type,
        get_quantiles: ArrayType(item_type),
        get_rank: DoubleType(),
        get_pmf: ArrayType(DoubleType()),
        get_cdf: ArrayType(DoubleType()),
        get_histogram: ArrayType(DoubleType()),
        get_n: LongType(),
        get_min_item: item_type,
        get_max_item: item_type,
        to_string: StringType(),
    }
    udfs = {}
    for fn, return_type in types.items():
        suffix = fn.__name__
        fn.__name__ = f"{prefix}_{suffix}"  # the name Spark shows in plans and columns
        udfs[suffix] = F.pandas_udf(return_type)(fn)
    return udfs
