"""KLL quantile family — float and double variants
(/root/reference/sql/datasketches_kll_float_sketch.sql,
 /root/reference/sql/datasketches_kll_double_sketch.sql).

Every KLL sketch here is the standard kll_doubles image (sketches.kll),
built and merged JVM-side by Spark's native ``kll_sketch_agg_double`` /
``kll_merge_agg_double``, with no Python (only a merge of sketches of
mixed k, left without a ``k``, runs numpy). The float variant rounds its
inputs to float32 first and returns FloatType results, mirroring the
reference's separate kll_float/kll_double types; both store doubles
images, so one merge serves both.

The scalar queries stay numpy (the quantile families' shared UDF set,
functions.quantile_queries): Spark's ``kll_sketch_get_quantile_double``
has no ``inclusive`` flag and answers inclusively, while the reference's
default is exclusive. The SQL surface registers them under the
kll_float_sketch_* names, so kll_float_sketch_get_quantile returns double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, FloatType, StructField

from ..operators.agg import sketch_merge_agg
from ..sketches import kll as _k
from ..sketches import kll_interop as _ki
from . import image_udf
from .quantile_queries import float_array, query_udfs


def _build_agg(df, group_cols, col, k, out_col, as_float):
    # NULL and NaN are skipped; an all-NULL group still gets the empty image
    val = F.col(col).cast("float").cast("double") if as_float else F.col(col).cast("double")
    return df.groupBy(*group_cols).agg(F.kll_sketch_agg_double(val, k).alias(out_col))


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


def _image_k(sketch: Column) -> Column:
    """k: the little-endian u16 at bytes 5-6 of every KLL image (sketches.kll)."""
    h = F.hex(F.substring(sketch, 5, 2))
    return F.conv(F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2)), 16, 10).cast("int")


def kll_sketch_merge(
    df: DataFrame, group_cols: list[str], sketch_col: str, k: int | None = None,
    out_col: str = "sketch",
) -> DataFrame:
    """Aggregate: kll_*_sketch_merge(sketch[,k]) (sql:89-107). NULL sketches
    are skipped. Left out, ``k`` is the smallest k among a group's inputs,
    as in the SQL surface's merge (sketches.kll.merge). One pass over the
    input finds its k values: a single k is passed to the native merge,
    which would otherwise adopt the k of whichever sketch it sees first;
    mixed k merge in numpy."""
    if k is None:
        ks = _image_k(F.col(sketch_col))
        lo, hi = df.select(F.min(ks), F.max(ks)).first()
        if lo != hi:
            return sketch_merge_agg(
                df, group_cols, sketch_col,
                merge_fn=_k.merge,
                finalize_fn=lambda b: {out_col: b},
                out_fields=[StructField(out_col, BinaryType())],
            )
        k = _k.DEFAULT_K if lo is None else lo
    return df.groupBy(*group_cols).agg(F.kll_merge_agg_double(sketch_col, k).alias(out_col))


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
# sql/datasketches_kll_float_sketch.sql:31-42). A sketch here already is the
# kll_doubles image, so the doubles codecs validate and pass it through; the
# float codecs convert to and from kll_floats images.


kll_float_sketch_to_datasketches = image_udf(
    "kll_float_sketch_to_datasketches", lambda b: _ki.serialize(b, "<f4"),
    "KLL sketch -> DataSketches kll_floats image (readable by "
    "datasketches-{java,cpp,py}, Druid, Hive, the reference).")
kll_float_sketch_from_datasketches = image_udf(
    "kll_float_sketch_from_datasketches", lambda b: _ki.deserialize(b, "<f4"),
    "DataSketches kll_floats image -> KLL sketch usable with every kll_* function here.")
kll_double_sketch_to_datasketches = image_udf(
    "kll_double_sketch_to_datasketches", lambda b: _ki.serialize(b, "<f8"),
    "KLL sketch -> DataSketches kll_doubles image: validated, unchanged.")
kll_double_sketch_from_datasketches = image_udf(
    "kll_double_sketch_from_datasketches", lambda b: _ki.deserialize(b, "<f8"),
    "DataSketches kll_doubles image -> KLL sketch: validated, unchanged.")
