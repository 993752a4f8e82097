"""DataSketches keys -> theta images, and the compact-image wire entry points.

The reference's entire storage format is the canonical compact theta image
(produced at /root/reference/src/theta_sketch_c_adapter.cpp:195-205, stored
as bytea with base64 text I/O per src/common.c:44-66). Every theta sketch in
this package IS such an image (layout and decoder in ``sketches.theta``), so
there is no separate internal form to convert to or from:

- ``build_murmur`` / ``build_murmur_strings`` hash keys the way
  datasketches-java's ``update(long)`` / ``update(String)`` do
  (murmur3_x64_128 with seed 9001, h1 >> 1) and build the image;
- ``serialize_compact`` rewrites any readable image (e.g. Spark's native
  serial-version-4 output) as serial version 3, the version every
  DataSketches reader accepts;
- ``deserialize_compact`` validates a foreign image and returns it as is.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa_lib

from . import theta as _t
from .murmur3 import DEFAULT_SEED, hash128_bytes_batch, hash128_u64, hash128_utf8_batch


def serialize_compact(image: bytes) -> bytes:
    """Any compact theta image -> the same sketch as a serial-version-3 image."""
    return _t.serialize(*_t.deserialize(image))


def deserialize_compact(image: bytes, seed: int = DEFAULT_SEED) -> bytes:
    """Validate a compact theta image (serial version, family, seed hash,
    sizes, entry order) and return it unchanged."""
    _t.deserialize(image, seed)
    return image


def build_murmur(values: np.ndarray, lg_k: int = _t.DEFAULT_LG_K, p: float = 1.0) -> bytes:
    """Image over integer keys, hashed as ``update(long)`` does (8-byte LE)."""
    h1, _ = hash128_u64(np.asarray(values, dtype=np.uint64), DEFAULT_SEED)
    return _t.build(h1, lg_k, p)


def build_murmur_strings(values, lg_k: int = _t.DEFAULT_LG_K, p: float = 1.0) -> bytes:
    """String-key variant (UTF-8 canonicalization, matching the ecosystem's
    update(std::string) / update(String)). Vectorized: the Arrow string
    layout hands the whole batch to numpy as (offsets, flat UTF-8 buffer) —
    no per-row Python at all on the fast path (hash128_utf8_batch); arbitrary
    objects fall back to an encode + flat-buffer pass."""
    try:
        h1 = hash128_utf8_batch(values, DEFAULT_SEED)
    except (pa_lib.ArrowInvalid, pa_lib.ArrowTypeError):
        # empty strings skipped like the batch path (ecosystem no-op
        # updates); NaN/NA skipped like the batch path's from_pandas null
        # handling (str(nan) would otherwise hash a phantom 'nan' key)
        import pandas as _pd

        items = [
            str(v).encode("utf-8")
            for v in values
            if v is not None and not _pd.isna(v) and str(v) != ""
        ]
        h1 = hash128_bytes_batch(items, DEFAULT_SEED)
    return _t.build(h1, lg_k, p)
