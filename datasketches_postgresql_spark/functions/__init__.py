"""The reference's SQL function surface as PySpark functions.

Scalar functions -> vectorized pandas (Arrow) UDFs over BinaryType columns;
aggregates -> two-phase DataFrame operators (``..operators.agg``).
Family modules mirror the reference's sql/ DDL files one-to-one:

    theta     <- sql/datasketches_theta_sketch.sql (built and unioned by
                 Spark-native theta_sketch_agg/theta_union_agg)
    hll       <- sql/datasketches_hll_sketch.sql   (bridged to Spark-native
                 hll_sketch_agg/hll_union_agg where possible)
    cpc       <- sql/datasketches_cpc_sketch.sql   (coupon-matrix kernel)
    kll       <- sql/datasketches_kll_{float,double}_sketch.sql (built and
                 merged by Spark-native kll_sketch_agg_double/
                 kll_merge_agg_double)
    quantiles <- sql/datasketches_quantiles_double_sketch.sql (legacy
                 DoublesSketch, k=128 — reference META.json:50-53)
    req       <- sql/datasketches_req_float_sketch.sql (relative-error
                 compactor, k=12, inclusive flag)
    fi        <- sql/datasketches_frequent_strings_sketch.sql (unweighted
                 builds by Spark-native approx_top_k_accumulate)
    aod       <- sql/datasketches_aod_sketch.sql

kll, quantiles and req bind their scalar queries to one shared UDF set
(quantile_queries.py); theta, hll, cpc and aod key their sketches by one
DataSketches key rule (keys.py).
"""

import pandas as _pd
from pyspark.sql import Column
from pyspark.sql import functions as _F
from pyspark.sql.types import BinaryType as _BinaryType


def image_udf(name: str, convert, doc: str | None = None):
    """A pandas UDF passing each non-NULL binary sketch through ``convert``
    (bytes -> bytes); ``name`` is the SQL name the registry gives it."""

    def udf(s: _pd.Series) -> _pd.Series:
        return _pd.Series([None if b is None else convert(bytes(b)) for b in s], dtype=object)

    udf.__name__, udf.__doc__ = name, doc
    return _F.pandas_udf(_BinaryType())(udf)


def sketch_to_base64(sketch: Column) -> Column:
    """Textual wire format parity: the reference round-trips every sketch
    through base64 text I/O (src/common.c:44-66, src/base64.c). Spark's
    built-in base64/unbase64 fills that role over BinaryType columns."""
    return _F.base64(sketch)


def sketch_from_base64(text: Column) -> Column:
    return _F.unbase64(text)
