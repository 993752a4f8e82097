"""DataSketches keys -> theta images, and the compact-image wire entry points.

The reference's entire storage format is the canonical compact theta image
(produced at /root/reference/src/theta_sketch_c_adapter.cpp:195-205, stored
as bytea with base64 text I/O per src/common.c:44-66). Every theta sketch in
this package IS such an image (layout and decoder in ``sketches.theta``), so
there is no separate internal form to convert to or from:

- ``build_murmur`` hashes integer keys the way datasketches-java's
  ``update(long)`` does (murmur3_x64_128 with seed 9001, h1 >> 1) and
  builds the image (``functions.keys`` holds the rule for every key type);
- ``serialize_compact`` rewrites any readable image (e.g. Spark's native
  serial-version-4 output) as serial version 3, the version every
  DataSketches reader accepts;
- ``deserialize_compact`` validates a foreign image and returns it as is.
"""

from __future__ import annotations

import numpy as np

from . import theta as _t
from .murmur3 import DEFAULT_SEED, hash128_u64


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
