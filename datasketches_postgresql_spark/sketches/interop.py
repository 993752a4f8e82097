"""Apache DataSketches COMPACT THETA wire-format interop.

The reference's entire storage format is the canonical compact theta image
(produced at /root/reference/src/theta_sketch_c_adapter.cpp:195-205, stored
as bytea with base64 text I/O per src/common.c:44-66) — binary-compatible
with Druid / Hive / datasketches-java/cpp/python. This module reads and
writes that format (serialization version 3, publicly documented at
datasketches.apache.org and in the Apache-2.0 core libraries):

    long 0:  byte 0   preamble longs (1 empty/single, 2 exact, 3 estimation)
             byte 1   serial version (3)
             byte 2   family (3 = COMPACT)
             bytes 3-4 unused
             byte 5   flags (1=big-endian, 2=read-only, 4=empty, 8=compact,
                      16=ordered)
             bytes 6-7 seed hash (lower 16 bits of murmur3_x64_128(seed),
                      never 0)
    long 1:  u32 retained-entry count + u32 unused   (preamble >= 2)
    long 2:  u64 theta                                (preamble == 3)
    then:    retained 63-bit hashes, u64 LE, ascending (ordered flag)
    single-item special case: preamble 1, flags NOT empty, one hash in long 1.

Hash space: DataSketches keys entries with murmur3_x64_128(key, seed).h1 >> 1
(63-bit, 0 excluded), default update seed 9001; theta <= 2^63. This engine's
internal kernel (sketches.theta) lives in the full u64 space (xxhash64,
JVM-side). The two meet via a x2 embedding:

    internal_hash  = ds_hash << 1      internal_theta = ds_theta << 1

which is monotonic and injective, so estimates, unions, intersections and
a-not-b over IMPORTED/murmur-built sketches behave identically in either
space. Export requires the sketch to be murmur-built or imported (every
internal hash even); exporting an xxhash64-built sketch raises — its hash
values would be meaningless to an ecosystem reader, and silently emitting
them would be a lie of compatibility.
"""

from __future__ import annotations

import struct

import numpy as np

from . import theta as _t
import pyarrow as pa_lib

from .murmur3 import hash128_bytes, hash128_bytes_batch, hash128_u64, hash128_utf8_batch

DEFAULT_SEED = 9001  # DataSketches default update seed
_SERIAL_VERSION = 3
_FAMILY_COMPACT = 3
_F_READ_ONLY, _F_EMPTY, _F_COMPACT, _F_ORDERED = 2, 4, 8, 16
_MAX_THETA_DS = 1 << 63  # theta == 1.0 in the 63-bit DataSketches space
_U64 = np.dtype("<u8")


def compute_seed_hash(seed: int = DEFAULT_SEED) -> int:
    """Lower 16 bits of murmur3_x64_128 of the 8-byte LE seed; the format's
    cross-sketch seed check (must never be 0)."""
    h1, _ = hash128_bytes(struct.pack("<Q", seed), 0)
    sh = h1 & 0xFFFF
    if sh == 0:
        raise ValueError(f"seed {seed} hashes to the reserved value 0")
    return sh


def theta_hash_u64(keys: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """DataSketches theta hash of 8-byte LE keys: murmur3.h1 >> 1 (63-bit),
    zero excluded. Vectorized."""
    h1, _ = hash128_u64(np.asarray(keys, dtype=np.uint64), seed)
    h = h1 >> np.uint64(1)
    return h[h != 0]


def ds_to_internal(ds_theta: int, ds_hashes: np.ndarray, lg_k: int = _t.DEFAULT_LG_K) -> bytes:
    """Embed a DataSketches-space sketch into the internal format (x2)."""
    theta = _t._MAX_THETA if ds_theta >= _MAX_THETA_DS else np.uint64(ds_theta << 1)
    hashes = (np.asarray(ds_hashes, dtype=np.uint64) << np.uint64(1))
    return _t.serialize(lg_k, theta, np.sort(hashes))


def internal_to_ds(sketch: bytes) -> tuple[int, np.ndarray]:
    """Project an internal sketch back to the DataSketches 63-bit space.
    Raises if any retained hash is odd (xxhash64-built: not interoperable)."""
    _, theta, hashes = _t.deserialize(sketch)
    if np.any(hashes & np.uint64(1)):
        raise ValueError(
            "sketch was built with the internal xxhash64 hasher and cannot be "
            "exported as a DataSketches image; build with hash_fn='murmur3'"
        )
    ds_theta = _MAX_THETA_DS if theta == _t._MAX_THETA else int(theta) >> 1
    return ds_theta, (hashes >> np.uint64(1)).astype(np.uint64)


def serialize_compact(sketch: bytes, seed: int = DEFAULT_SEED) -> bytes:
    """Internal sketch -> canonical DataSketches compact theta image."""
    ds_theta, ds_hashes = internal_to_ds(sketch)
    ds_hashes = np.sort(ds_hashes)
    seed_hash = compute_seed_hash(seed)
    estimation = ds_theta < _MAX_THETA_DS
    n = int(ds_hashes.size)
    if n == 0 and not estimation:
        flags = _F_READ_ONLY | _F_EMPTY | _F_COMPACT | _F_ORDERED
        return struct.pack("<BBBBBBH", 1, _SERIAL_VERSION, _FAMILY_COMPACT, 0, 0, flags, seed_hash)
    flags = _F_READ_ONLY | _F_COMPACT | _F_ORDERED
    if n == 1 and not estimation:
        head = struct.pack("<BBBBBBH", 1, _SERIAL_VERSION, _FAMILY_COMPACT, 0, 0, flags, seed_hash)
        return head + ds_hashes.astype(_U64).tobytes()
    pre_longs = 3 if estimation else 2
    head = struct.pack(
        "<BBBBBBH", pre_longs, _SERIAL_VERSION, _FAMILY_COMPACT, 0, 0, flags, seed_hash
    )
    head += struct.pack("<II", n, 0)
    if estimation:
        head += struct.pack("<Q", ds_theta)
    return head + ds_hashes.astype(_U64).tobytes()


def deserialize_compact(image: bytes, seed: int = DEFAULT_SEED, lg_k: int = _t.DEFAULT_LG_K) -> bytes:
    """Canonical DataSketches compact theta image -> internal sketch.
    Validates serial version, family, and (for non-empty images) seed hash."""
    if len(image) < 8:
        raise ValueError("truncated theta image")
    pre_longs, ser_ver, family, _, _, flags, seed_hash = struct.unpack("<BBBBBBH", image[:8])
    if ser_ver != _SERIAL_VERSION:
        raise ValueError(f"unsupported theta serial version {ser_ver} (expected 3)")
    if family != _FAMILY_COMPACT:
        raise ValueError(f"not a compact theta image (family {family})")
    empty = bool(flags & _F_EMPTY)
    if empty:
        return ds_to_internal(_MAX_THETA_DS, np.empty(0, dtype=_U64), lg_k)
    if seed_hash != compute_seed_hash(seed):
        raise ValueError("seed hash mismatch: image was built with a different update seed")
    if pre_longs == 1:  # single-item special case
        (h,) = struct.unpack("<Q", image[8:16])
        return ds_to_internal(_MAX_THETA_DS, np.array([h], dtype=np.uint64), lg_k)
    (n,) = struct.unpack("<I", image[8:12])
    if pre_longs == 2:
        ds_theta, off = _MAX_THETA_DS, 16
    elif pre_longs == 3:
        (ds_theta,) = struct.unpack("<Q", image[16:24])
        off = 24
    else:
        raise ValueError(f"unsupported preamble length {pre_longs}")
    hashes = np.frombuffer(image, dtype=_U64, count=n, offset=off)
    return ds_to_internal(ds_theta, hashes, lg_k)


def build_murmur(values: np.ndarray, lg_k: int = _t.DEFAULT_LG_K, p: float = 1.0,
                 seed: int = DEFAULT_SEED) -> bytes:
    """Build an internal sketch whose hash space IS the DataSketches one
    (murmur3 63-bit, embedded x2): exportable via serialize_compact and
    combinable with imported ecosystem sketches."""
    ds = theta_hash_u64(np.asarray(values, dtype=np.uint64), seed)
    return build_murmur_from_ds_hashes(ds, lg_k, p)


def build_murmur_strings(values, lg_k: int = _t.DEFAULT_LG_K, p: float = 1.0,
                         seed: int = DEFAULT_SEED) -> bytes:
    """String-key variant (UTF-8 canonicalization, matching the ecosystem's
    update(std::string) / update(String)). Vectorized: the Arrow string
    layout hands the whole batch to numpy as (offsets, flat UTF-8 buffer) —
    no per-row Python at all on the fast path (hash128_utf8_batch); arbitrary
    objects fall back to an encode + flat-buffer pass."""
    try:
        h1 = hash128_utf8_batch(values, seed)
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
        h1 = hash128_bytes_batch(items, seed)
    hs = h1 >> np.uint64(1)
    return build_murmur_from_ds_hashes(hs, lg_k, p)


def build_murmur_from_ds_hashes(ds_hashes: np.ndarray, lg_k: int = _t.DEFAULT_LG_K,
                                p: float = 1.0) -> bytes:
    ds_theta = _MAX_THETA_DS if p >= 1.0 else int(p * _MAX_THETA_DS)
    ds = np.asarray(ds_hashes, dtype=np.uint64)
    ds = np.unique(ds[(ds != 0) & (ds < ds_theta)])
    k = 1 << lg_k
    if ds.size > k:
        ds_theta = int(ds[k])
        ds = ds[:k]
    return ds_to_internal(ds_theta, ds, lg_k)
