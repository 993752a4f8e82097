"""SQL-surface parity: register the reference's function names for use in
``spark.sql`` queries (the reference's DDL registers them in PostgreSQL;
/root/reference/sql/datasketches_*.sql).

Aggregates register as grouped-agg pandas UDFs. Two deliberate deltas from
the reference's SQL, both documented:

1. The theta, CPC and AOD builds take the value itself and hash it as a
   DataSketches key (functions.keys), as the DataFrame builds do (the
   reference's C code canonicalizes anyelement to bytes before hashing,
   src/theta_sketch_pg_functions.c:103-115): integers as update(long),
   binary as update(byte[]), anything else as update(String). A nullable
   BIGINT reaches a SQL pandas UDF as float64, so keys at or above 2^53 in
   such a column are refused (cast to STRING, or filter the NULLs). A
   hashed key such as the built-in ``xxhash64(col)`` still works: it is a
   bigint key like any other.
2. Grouped-agg pandas UDFs have no partial-aggregation step (Spark ships
   group values to one task), so this layer is the CONVENIENCE surface; the
   scale path is the two-phase DataFrame API in ``..operators.agg``.

HLL needs no registration: Spark's native hll_sketch_agg / hll_union_agg /
hll_sketch_estimate / hll_union are already SQL functions. KLL and theta
sketches are the images Spark's native kll_* / theta_* SQL functions read
and write, so the names registered here and Spark's own mix freely.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType

from ..sketches import aod as _aod
from ..sketches import fi as _fi
from ..sketches import kll as _kll
from ..sketches import quantiles as _qd
from ..sketches import req as _req
from ..sketches import theta as _theta
from . import fi as fi_fns
from . import kll as kll_fns
from . import quantiles as qd_fns
from . import req as req_fns
from . import theta as theta_fns
from .keys import hash_keys


def _quantile_build(kernel, dtype):
    """Grouped-agg build(value, k) over a quantile kernel module
    (sketches.kll / .req / .quantiles), the values taken as ``dtype`` (a
    float sketch rounds them to float32 first, as its DataFrame build
    does); NULL values are skipped."""

    @F.pandas_udf(BinaryType())
    def build(v: pd.Series, k: pd.Series) -> bytes:  # type: ignore[misc]
        return kernel.build(v.dropna().to_numpy(dtype=dtype), int(k.iloc[0]))

    return build


def _quantile_merge(kernel):
    @F.pandas_udf(BinaryType())
    def merge(s: pd.Series) -> bytes:  # type: ignore[misc]
        return kernel.merge([bytes(b) for b in s if b is not None])

    return merge


def register_all(spark: SparkSession) -> None:
    """Register every SQL-callable function. Idempotent."""

    # -- theta aggregates ---------------------------------------------------
    @F.pandas_udf(BinaryType())
    def theta_sketch_build(v: pd.Series) -> bytes:  # type: ignore[misc]
        return _theta.build(hash_keys(v, "theta_sketch_build")[1])

    @F.pandas_udf(DoubleType())
    def theta_sketch_distinct(v: pd.Series) -> float:  # type: ignore[misc]
        return _theta.get_estimate(_theta.build(hash_keys(v, "theta_sketch_distinct")[1]))

    @F.pandas_udf(BinaryType())
    def theta_sketch_union_agg(s: pd.Series) -> bytes:  # type: ignore[misc]
        return _theta.union([bytes(b) for b in s if b is not None])

    @F.pandas_udf(BinaryType())
    def theta_sketch_intersection_agg(s: pd.Series) -> bytes:  # type: ignore[misc]
        return _theta.intersection([bytes(b) for b in s if b is not None])

    spark.udf.register("theta_sketch_build", theta_sketch_build)
    spark.udf.register("theta_sketch_distinct", theta_sketch_distinct)
    spark.udf.register("theta_sketch_union_agg", theta_sketch_union_agg)
    spark.udf.register("theta_sketch_intersection_agg", theta_sketch_intersection_agg)

    # -- theta scalars (reuse the module-level pandas UDFs) -------------------
    spark.udf.register("theta_sketch_get_estimate", theta_fns.theta_sketch_get_estimate)
    spark.udf.register("theta_sketch_get_estimate_and_bounds", theta_fns._bounds_udf)
    spark.udf.register("theta_sketch_union", theta_fns._union_pair_udf)
    spark.udf.register("theta_sketch_intersection", theta_fns._intersect_pair_udf)
    spark.udf.register("theta_sketch_a_not_b", theta_fns._a_not_b_udf)
    spark.udf.register("theta_sketch_to_string", theta_fns.theta_sketch_to_string)

    # -- quantile families: KLL, REQ and classic quantiles ------------------
    # one build per SQL name, one merge per family and the family's share of
    # the query UDFs (functions.quantile_queries); KLL's double names share
    # its float queries and merge, and kll_float_sketch_get_quantile
    # returns double
    for prefix, kernel, fns, builds in (
        ("kll_float_sketch", _kll, kll_fns,
         {"kll_float_sketch": np.float32, "kll_double_sketch": np.float64}),
        ("req_float_sketch", _req, req_fns, {"req_float_sketch": np.float32}),
        ("quantiles_double_sketch", _qd, qd_fns, {"quantiles_double_sketch": np.float64}),
    ):
        merge = _quantile_merge(kernel)
        for name, dtype in builds.items():
            spark.udf.register(f"{name}_build", _quantile_build(kernel, dtype))
            spark.udf.register(f"{name}_merge", merge)
        for suffix, udf in fns.QUERY_UDFS.items():
            spark.udf.register(f"{prefix}_{suffix}", udf)
    # canonical DataSketches wire format (ecosystem interop, like the
    # reference's bytea casts at sql/datasketches_kll_float_sketch.sql:31-42)
    for codec in (
        kll_fns.kll_float_sketch_to_datasketches,
        kll_fns.kll_float_sketch_from_datasketches,
        kll_fns.kll_double_sketch_to_datasketches,
        kll_fns.kll_double_sketch_from_datasketches,
        req_fns.req_float_sketch_to_datasketches,
        req_fns.req_float_sketch_from_datasketches,
    ):
        spark.udf.register(codec.__name__, codec)

    # -- theta <-> DataSketches wire format ----------------------------------
    spark.udf.register("theta_sketch_to_datasketches", theta_fns.theta_sketch_to_datasketches)
    spark.udf.register("theta_sketch_from_datasketches", theta_fns.theta_sketch_from_datasketches)

    # -- frequent strings ------------------------------------------------------
    @F.pandas_udf(BinaryType())
    def frequent_strings_sketch_build(lg_k: pd.Series, s: pd.Series) -> bytes:  # type: ignore[misc]
        sub = s.dropna()
        return _fi.build(int(lg_k.iloc[0]), sub.to_numpy(dtype=object))

    @F.pandas_udf(BinaryType())
    def frequent_strings_sketch_merge(lg_k: pd.Series, s: pd.Series) -> bytes:  # type: ignore[misc]
        return _fi.merge(int(lg_k.iloc[0]), [bytes(b) for b in s if b is not None])

    spark.udf.register("frequent_strings_sketch_build", frequent_strings_sketch_build)
    spark.udf.register("frequent_strings_sketch_merge", frequent_strings_sketch_merge)
    spark.udf.register(
        "frequent_strings_sketch_result_no_false_positives", fi_fns._nfp_udf
    )
    spark.udf.register(
        "frequent_strings_sketch_result_no_false_negatives", fi_fns._nfn_udf
    )
    spark.udf.register("frequent_strings_sketch_to_string", fi_fns._to_string_udf)
    spark.udf.register(
        "frequent_strings_sketch_to_datasketches",
        fi_fns.frequent_strings_sketch_to_datasketches,
    )
    spark.udf.register(
        "frequent_strings_sketch_from_datasketches",
        fi_fns.frequent_strings_sketch_from_datasketches,
    )

    # -- aod --------------------------------------------------------------------
    from . import aod as aod_fns

    @F.pandas_udf(BinaryType())
    def aod_sketch_build(v: pd.Series, vals: pd.Series) -> bytes:  # type: ignore[misc]
        return aod_fns._rows_image(v, vals)

    @F.pandas_udf(BinaryType())
    def aod_sketch_union_agg(s: pd.Series) -> bytes:  # type: ignore[misc]
        return _aod.union([bytes(b) for b in s if b is not None])

    spark.udf.register("aod_sketch_build", aod_sketch_build)
    spark.udf.register("aod_sketch_union_agg", aod_sketch_union_agg)

    spark.udf.register("aod_sketch_get_estimate", aod_fns.aod_sketch_get_estimate)
    spark.udf.register("aod_sketch_to_means", aod_fns.aod_sketch_to_means)
    spark.udf.register("aod_sketch_to_variances", aod_fns.aod_sketch_to_variances)
    spark.udf.register("aod_sketch_union", aod_fns._union_pair)
    spark.udf.register("aod_sketch_intersection", aod_fns._inter_pair)
    spark.udf.register("aod_sketch_a_not_b", aod_fns._anb_pair)
    spark.udf.register("aod_sketch_students_t_test", aod_fns._ttest_udf)
    spark.udf.register("aod_sketch_to_string", aod_fns._to_string_udf)
    spark.udf.register("aod_sketch_to_datasketches", aod_fns.aod_sketch_to_datasketches)
    spark.udf.register("aod_sketch_from_datasketches", aod_fns.aod_sketch_from_datasketches)

    # -- cpc (real coupon-matrix kernel, sketches.cpc) -----------------------
    from ..sketches import cpc as _cpc
    from . import cpc as cpc_fns

    @F.pandas_udf(BinaryType())
    def cpc_sketch_build(v: pd.Series) -> bytes:  # type: ignore[misc]
        return _cpc.from_hashes(*hash_keys(v, "cpc_sketch_build")[1:])

    @F.pandas_udf(DoubleType())
    def cpc_sketch_distinct(v: pd.Series) -> float:  # type: ignore[misc]
        return _cpc.get_estimate(_cpc.from_hashes(*hash_keys(v, "cpc_sketch_distinct")[1:]))

    @F.pandas_udf(BinaryType())
    def cpc_sketch_union_agg(s: pd.Series) -> bytes:  # type: ignore[misc]
        return _cpc.union([bytes(b) for b in s if b is not None])

    spark.udf.register("cpc_sketch_build", cpc_sketch_build)
    spark.udf.register("cpc_sketch_build_compat", cpc_sketch_build)
    spark.udf.register("cpc_sketch_distinct", cpc_sketch_distinct)
    spark.udf.register("cpc_sketch_union_agg", cpc_sketch_union_agg)
    spark.udf.register("cpc_sketch_get_estimate", cpc_fns.cpc_sketch_get_estimate)
    spark.udf.register("cpc_sketch_to_string", cpc_fns.cpc_sketch_to_string)
    spark.udf.register("cpc_sketch_to_datasketches", cpc_fns.cpc_sketch_to_datasketches)
    spark.udf.register("cpc_sketch_from_datasketches", cpc_fns.cpc_sketch_from_datasketches)
