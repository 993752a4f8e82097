"""Apache DataSketches ArrayOfDoubles (AOD) compact wire-format interop.

The reference's `aod_sketch` bytea IS the standard DataSketches
array-of-doubles compact tuple image (serialized at
/root/reference/src/aod_sketch_c_adapter.cpp via
compact_array_tuple_sketch::serialize, stored per
/root/reference/sql/datasketches_aod_sketch.sql:31-35) — binary-compatible
with Druid's ArrayOfDoublesSketch aggregators and
datasketches-{java,cpp,py}. This module reads and writes that publicly
documented layout (datasketches-java ArrayOfDoublesCompactSketch /
SerializerDeserializer, Apache-2.0), little-endian:

    byte 0:   preamble longs (1)
    byte 1:   serial version (1)
    byte 2:   family (9 = TUPLE)
    byte 3:   sketch type (3 = ArrayOfDoublesCompactSketch)
    byte 4:   flags (bit0 big-endian, bit1 in-sampling-mode, bit2 empty,
              bit3 has-entries)
    byte 5:   num values (doubles per retained key)
    bytes 6-7: seed hash (lower 16 bits of murmur3_x64_128 of the seed,
              never 0 — shared with the theta family, sketches.murmur3)
    bytes 8-15: theta (u64; Long.MAX_VALUE = 2^63-1 when exact)
    if has-entries:
      bytes 16-19: retained count (u32)
      bytes 20-23: unused (the count pads to an 8-byte boundary so the
                   key longs start aligned at offset 24 — confirmed
                   byte-for-byte against datasketches-java 6.2.0)
      retained x u64   keys at offset 24 (63-bit murmur3 hashes; this
                       writer emits them sorted — readers accept any order)
      retained x num_values x f64 values, row-major

Hash space: identical to compact theta — murmur3_x64_128(key, seed).h1 >> 1,
default update seed 9001. The internal AOD kernel (sketches.aod) lives in
the full u64 space; a x2 embedding bridges them (internal = ds << 1), so
unions/intersections over imported sketches behave identically. Export requires a murmur-built or imported sketch (every
internal key even); exporting an xxhash64-built sketch raises.

Ground truth: datasketches-java 6.2.0 rides in Spark's own jars — images
this module emits heapify in that library and library images parse here
(tests/test_jvm_groundtruth.py), on top of the structural/round-trip
checks shared with the theta/KLL/FI interop modules.
"""

from __future__ import annotations

import struct

import numpy as np

from . import aod as _a
from .aod import _MAX_THETA
from .murmur3 import DEFAULT_SEED, compute_seed_hash

FAMILY_TUPLE = 9
_SERIAL_VERSION = 1
_TYPE_AOD_COMPACT = 3  # SerializerDeserializer.SketchType ordinal
_F_SAMPLING, _F_EMPTY, _F_HAS_ENTRIES = 2, 4, 8
MAX_THETA_DS = (1 << 63) - 1  # Long.MAX_VALUE: theta == 1.0 in the ds space
_U64 = np.dtype("<u8")
_F64 = np.dtype("<f8")


def serialize_compact(sketch: bytes, seed: int = DEFAULT_SEED) -> bytes:
    """Internal AOD sketch -> canonical DataSketches AOD compact image."""
    lg_k, num_values, theta, keys, vals = _a.deserialize(sketch)
    if np.any(keys & np.uint64(1)):
        raise ValueError(
            "AOD sketch was built with the internal xxhash64 hasher and cannot "
            "be exported as a DataSketches image; build with "
            "aod_sketch_build_compat"
        )
    order = np.argsort(keys)
    ds_keys = (keys[order] >> np.uint64(1)).astype(_U64)
    vals = np.ascontiguousarray(vals[order], dtype=_F64)
    exact = theta == _MAX_THETA
    ds_theta = MAX_THETA_DS if exact else int(theta) >> 1
    n = int(ds_keys.size)
    flags = 0
    if n > 0:
        flags |= _F_HAS_ENTRIES
    elif exact:
        flags |= _F_EMPTY
    if not exact:
        flags |= _F_SAMPLING
    head = struct.pack(
        "<BBBBBBHQ",
        1,
        _SERIAL_VERSION,
        FAMILY_TUPLE,
        _TYPE_AOD_COMPACT,
        flags,
        num_values,
        compute_seed_hash(seed),
        ds_theta,
    )
    if n == 0:
        return head
    return head + struct.pack("<Ixxxx", n) + ds_keys.tobytes() + vals.tobytes()


def deserialize_compact(image: bytes, seed: int = DEFAULT_SEED,
                        lg_k: int = _a.DEFAULT_LG_K) -> bytes:
    """Canonical DataSketches AOD compact image -> internal sketch, usable
    with every aod_* function. Validates serial version, family, sketch
    type, and (non-empty) seed hash."""
    if len(image) < 16:
        raise ValueError("truncated AOD image")
    (pre, ser, fam, stype, flags, num_values, seed_hash, ds_theta) = struct.unpack_from(
        "<BBBBBBHQ", image, 0
    )
    if ser != _SERIAL_VERSION:
        raise ValueError(f"unsupported AOD serial version {ser} (expected 1)")
    if fam != FAMILY_TUPLE:
        raise ValueError(f"not a tuple-family image (family {fam}, expected 9)")
    if stype != _TYPE_AOD_COMPACT:
        raise ValueError(
            f"not an ArrayOfDoublesCompactSketch image (sketch type {stype})"
        )
    num_values = max(num_values, 1)
    theta = (
        _MAX_THETA if ds_theta >= MAX_THETA_DS else np.uint64(int(ds_theta) << 1)
    )
    if not flags & _F_HAS_ENTRIES:
        return _a.serialize(
            lg_k, num_values, theta, np.empty(0, _U64), np.empty((0, num_values))
        )
    if seed_hash != compute_seed_hash(seed):
        raise ValueError(
            "seed hash mismatch: image was built with a different update seed"
        )
    (n,) = struct.unpack_from("<I", image, 16)
    keys = np.frombuffer(image, dtype=_U64, count=n, offset=24)
    vals = np.frombuffer(
        image, dtype=_F64, count=n * num_values, offset=24 + 8 * n
    ).reshape(n, num_values)
    order = np.argsort(keys)
    internal_keys = (keys[order].astype(np.uint64) << np.uint64(1))
    return _a.serialize(lg_k, num_values, theta, internal_keys, vals[order])


def build_murmur(keys: np.ndarray, vals: np.ndarray,
                 lg_k: int = _a.DEFAULT_LG_K, p: float = 1.0,
                 seed: int = DEFAULT_SEED) -> bytes:
    """Build an internal AOD sketch in the DataSketches hash space (murmur3
    63-bit, embedded x2): exportable via serialize_compact. Duplicate keys
    sum their value vectors BEFORE hashing-space embedding, matching the
    ecosystem's update() semantics."""
    keys = np.asarray(keys, dtype=np.uint64)
    vals = np.asarray(vals, dtype=np.float64)
    if vals.ndim == 1:
        vals = vals.reshape(-1, 1)
    # hash per input key (not per unique) so duplicates land on the same slot
    from .murmur3 import hash128_u64

    h1, _ = hash128_u64(keys, seed)
    ds = h1 >> np.uint64(1)
    keep = ds != 0
    internal = (ds[keep] << np.uint64(1))
    return _a.build(internal, vals[keep], lg_k, p)
