"""DataSketches KLL wire format: the kll_doubles and kll_floats images.

The reference stores KLL sketches as standard DataSketches images — the
`kll_float_sketch` type is a bytea holding exactly what datasketches-cpp
`kll_sketch<float>::serialize()` emits (built at
/root/reference/src/kll_float_sketch_c_adapter.cpp:37-57, cast in/out at
/root/reference/sql/datasketches_kll_float_sketch.sql:31-42) — so a user can
move images between PostgreSQL, Druid, Hive and datasketches-{java,cpp,py}.

Every KLL sketch here already is the standard kll_doubles image
(sketches.kll, which holds the codec), so the doubles direction validates
the image and passes it through unchanged. The floats direction converts:
the same layout with f4 items, min and max (the family byte is the same;
readers pick the class, exactly as in the reference where kll_float_sketch
and kll_double_sketch are distinct SQL types over the same family id).
"""

from __future__ import annotations

from . import kll as _k


def serialize(sketch: bytes, dtype: str = "<f4") -> bytes:
    """KLL sketch -> DataSketches image: '<f4' emits a kll_floats image (the
    reference's primary family), '<f8' the kll_doubles image unchanged."""
    st = _k.decode(sketch)
    return bytes(sketch) if dtype == "<f8" else st.encode(dtype)


def deserialize(image: bytes, dtype: str = "<f4") -> bytes:
    """DataSketches KLL image with ``dtype`` items -> the kll_doubles image
    every kll_* function here reads. ValueError on a malformed image."""
    st = _k.decode(image, dtype)
    return bytes(image) if dtype == "<f8" else st.serialize()
