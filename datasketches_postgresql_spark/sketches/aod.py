"""AOD (array-of-doubles tuple) sketch — theta-style KMV key sample where
each retained key carries a vector of doubles, summed on duplicate-key update
("as in Druid", /root/reference/src/aod_sketch_c_adapter.cpp:37-38).

Surface (/root/reference/sql/datasketches_aod_sketch.sql,
/root/reference/src/aod_sketch_pg_functions.c — the reference's largest
family at 677 LoC):

- build(keys, values_matrix[, lg_k[, p]])  (sql:89-117; num_values inferred
  from the array length, src/aod_sketch_pg_functions.c:116-131)
- union (sums value vectors on key collision) / intersection (union value
  policy) / a_not_b                          (sql:119-167,189-211)
- get_estimate / get_estimate_and_bounds    (sql:169-179)
- to_kll_float_sketch(column_index[, k])    (sql:213-219)
- students_t_test(a, b) -> p-value per value column (Welch, 2-sided;
  src/aod_sketch_c_adapter.cpp:305-355)
- to_means / to_variances                   (sql:225-231; sample variance
  over retained entries, src/aod_sketch_c_adapter.cpp:357-407)

Hash space: theta's. A key enters as ``murmur3_x64_128(key, 9001).h1 >> 1``
(63-bit, 0 excluded; ``functions.keys`` holds the key rule) and theta is a
63-bit threshold, so ``Long.MAX_VALUE`` means 1.0. Exact below k = 2^lg_k
retained keys; p-sampling starts theta at p·2^63, as datasketches-java does.

Every sketch IS the standard DataSketches ArrayOfDoubles compact image (the
reference's storage format, serialized in its src/aod_sketch_c_adapter.cpp
via compact_array_tuple_sketch::serialize; datasketches-java
ArrayOfDoublesCompactSketch), readable by Druid and datasketches-*,
little-endian:

    byte 0:   preamble longs (1)
    byte 1:   serial version (1)
    byte 2:   family (9 = TUPLE)
    byte 3:   sketch type (3 = ArrayOfDoublesCompactSketch)
    byte 4:   flags (bit0 big-endian, bit1 in-sampling-mode, bit2 empty,
              bit3 has-entries)
    byte 5:   num values (doubles per retained key)
    bytes 6-7: seed hash (lower 16 bits of murmur3_x64_128 of the seed)
    bytes 8-15: theta (u64; Long.MAX_VALUE when exact)
    if has-entries:
      bytes 16-19: retained count (u32), 20-23 unused (keys start at 24)
      retained x u64 keys (this writer emits them ascending; Java's may be
                          in any order)
      retained x num_values x f64 values, row-major

The decoder checks the exact image length, theta in (0, 2^63) and keys
distinct and in (0, theta), and raises ``ValueError`` on a truncated,
foreign or inconsistent image. An image in the private
``[u8 lg_k][u8 num_values][u64 theta]…`` layout of earlier versions fails
the family check.
"""

from __future__ import annotations

import struct

import numpy as np

from . import kll
from .murmur3 import DEFAULT_SEED, compute_seed_hash, hash128_u64
from .stats import welch_t_test
from .theta import MAX_THETA, _theta_for_p, estimate_and_bounds

DEFAULT_LG_K = 12
_FAMILY_TUPLE, _SERIAL_VERSION, _TYPE_AOD_COMPACT = 9, 1, 3
_F_BIG_ENDIAN, _F_SAMPLING, _F_EMPTY, _F_HAS_ENTRIES = 1, 2, 4, 8
_HEAD = struct.Struct("<BBBBBBHQ")
_SEED_HASH = compute_seed_hash(DEFAULT_SEED)
_U64, _F64 = np.dtype("<u8"), np.dtype("<f8")


def serialize(num_values: int, theta: int, keys: np.ndarray, vals: np.ndarray) -> bytes:
    """(num_values, theta, ascending keys below it, their values) -> image."""
    n = int(keys.size)
    exact = theta >= MAX_THETA
    flags = (_F_HAS_ENTRIES if n else _F_EMPTY if exact else 0) | (0 if exact else _F_SAMPLING)
    head = _HEAD.pack(1, _SERIAL_VERSION, _FAMILY_TUPLE, _TYPE_AOD_COMPACT, flags,
                      num_values, _SEED_HASH, int(theta))
    if n == 0:
        return head
    return (
        head + struct.pack("<Ixxxx", n) + np.ascontiguousarray(keys, dtype=_U64).tobytes()
        + np.ascontiguousarray(vals, dtype=_F64).tobytes()
    )


def deserialize(image: bytes, seed: int = DEFAULT_SEED):
    """Image -> (num_values, theta, ascending keys, values (n x num_values))."""
    image = bytes(image)
    if len(image) < _HEAD.size:
        raise ValueError(f"truncated AOD image: {len(image)} bytes")
    _, ser, fam, stype, flags, nv, seed_hash, theta = _HEAD.unpack_from(image)
    if fam != _FAMILY_TUPLE:
        raise ValueError(f"not a tuple-family image (family {fam}, expected 9)")
    if ser != _SERIAL_VERSION:
        raise ValueError(f"unsupported AOD serial version {ser} (expected 1)")
    if stype != _TYPE_AOD_COMPACT:
        raise ValueError(f"not an ArrayOfDoublesCompactSketch image (sketch type {stype})")
    if flags & _F_BIG_ENDIAN:
        raise ValueError("big-endian AOD image")
    if nv == 0:
        raise ValueError("AOD image with 0 values per key")
    if not 0 < theta <= MAX_THETA:
        raise ValueError(f"AOD image with theta {theta} outside (0, 2^63)")
    if not flags & _F_HAS_ENTRIES:
        if len(image) != _HEAD.size:
            raise ValueError(f"AOD image without entries has {len(image)} bytes, expected 16")
        return nv, theta, np.empty(0, _U64), np.empty((0, nv), _F64)
    if seed_hash != (_SEED_HASH if seed == DEFAULT_SEED else compute_seed_hash(seed)):
        raise ValueError("seed hash mismatch: image was built with a different update seed")
    if len(image) < 24:
        raise ValueError(f"truncated AOD image: {len(image)} bytes")
    (n,) = struct.unpack_from("<I", image, 16)
    if len(image) != 24 + 8 * n * (1 + nv):
        raise ValueError(f"AOD image of {len(image)} bytes for {n} keys of {nv} values")
    keys = np.frombuffer(image, dtype=_U64, count=n, offset=24)
    vals = np.frombuffer(image, dtype=_F64, count=n * nv, offset=24 + 8 * n).reshape(n, nv)
    if n > 1 and not np.all(keys[1:] > keys[:-1]):
        order = np.argsort(keys)
        keys, vals = keys[order], vals[order]
    if n and not (keys[0] > 0 and keys[-1] < theta and np.all(keys[1:] > keys[:-1])):
        raise ValueError("AOD image keys are not distinct and in (0, theta)")
    return nv, theta, keys, vals


def validate(image: bytes) -> bytes:
    """A standard AOD compact image, checked (see ``deserialize``) and
    returned unchanged: the wire format IS the sketch."""
    deserialize(image)
    return image


def _sum_by_key(keys: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Group rows by key, summing value vectors (vectorized)."""
    order = np.argsort(keys, kind="stable")
    k_sorted, v_sorted = keys[order], vals[order]
    uniq, starts = np.unique(k_sorted, return_index=True)
    summed = np.add.reduceat(v_sorted, starts, axis=0) if k_sorted.size else v_sorted[:0]
    return uniq, summed


def _retain(lg_k: int, nv: int, theta: int, keys: np.ndarray, vals: np.ndarray) -> bytes:
    """Image of the distinct keys in (0, theta), value vectors summed,
    trimmed to the k smallest with theta lowered to the (k+1)-th."""
    keys, vals = _sum_by_key(keys, vals)
    mask = (keys > 0) & (keys < np.uint64(theta))
    keys, vals = keys[mask], vals[mask]
    k = 1 << lg_k
    if keys.size > k:
        theta, keys, vals = int(keys[k]), keys[:k], vals[:k]
    return serialize(nv, theta, keys, vals)


def from_hashes(h1: np.ndarray, vals: np.ndarray, lg_k: int = DEFAULT_LG_K, p: float = 1.0) -> bytes:
    """Build from the murmur3 h1 of each row's key (``functions.keys``) and
    its value vector; duplicate keys sum their vectors."""
    vals = np.asarray(vals, dtype=np.float64)
    if vals.ndim == 1:
        vals = vals.reshape(-1, 1)
    keys = np.asarray(h1, dtype=np.uint64) >> np.uint64(1)
    return _retain(lg_k, vals.shape[1], _theta_for_p(p), keys, vals)


def build(keys: np.ndarray, vals: np.ndarray, lg_k: int = DEFAULT_LG_K, p: float = 1.0) -> bytes:
    """Build over integer keys, hashed as ``update(long, double[])`` does."""
    h1, _ = hash128_u64(np.asarray(keys, dtype=np.uint64), DEFAULT_SEED)
    return from_hashes(h1, vals, lg_k, p)


def union(sketches: list[bytes], lg_k: int | None = None) -> bytes:
    """Union, value vectors summed on shared keys, trimmed to k = 2^lg_k
    (the image carries no lg_k; left out, it is the reference's 12)."""
    parts = [deserialize(s) for s in sketches if s is not None]
    if not parts:
        return serialize(1, MAX_THETA, np.empty(0, _U64), np.empty((0, 1)))
    filled = [p for p in parts if p[2].size] or parts[:1]
    if len({p[0] for p in filled}) > 1:
        raise ValueError("aod union: sketches differ in num_values")
    keys = np.concatenate([p[2] for p in filled])
    vals = np.concatenate([p[3] for p in filled])
    theta = min(p[1] for p in parts)
    return _retain(lg_k or DEFAULT_LG_K, filled[0][0], theta, keys, vals)


def intersection(a: bytes, b: bytes) -> bytes:
    """Keys in both; value vectors combined with the union policy (sum)."""
    nv, th_a, ka, va = deserialize(a)
    _, th_b, kb, vb = deserialize(b)
    theta = min(th_a, th_b)
    common, ia, ib = np.intersect1d(ka, kb, assume_unique=True, return_indices=True)
    vals = va[ia] + vb[ib]
    mask = common < np.uint64(theta)
    return serialize(nv, theta, common[mask], vals[mask])


def a_not_b(a: bytes, b: bytes) -> bytes:
    nv, th_a, ka, va = deserialize(a)
    _, th_b, kb, _ = deserialize(b)
    theta = min(th_a, th_b)
    keep = ~np.isin(ka, kb, assume_unique=True) & (ka < np.uint64(theta))
    return serialize(nv, theta, ka[keep], va[keep])


def get_estimate(sketch: bytes) -> float:
    _, theta, keys, _ = deserialize(sketch)
    return estimate_and_bounds(theta, keys.size)[0]


def get_estimate_and_bounds(sketch: bytes, num_std_devs: int = 1):
    _, theta, keys, _ = deserialize(sketch)
    return estimate_and_bounds(theta, keys.size, num_std_devs)


def to_means(sketch: bytes) -> list[float]:
    _, _, _, vals = deserialize(sketch)
    if vals.shape[0] == 0:
        return []
    return vals.mean(axis=0).tolist()


def to_variances(sketch: bytes) -> list[float]:
    """Sample variance (ddof=1) per value column over retained entries."""
    _, _, _, vals = deserialize(sketch)
    if vals.shape[0] < 2:
        return [float("nan")] * vals.shape[1] if vals.shape[0] else []
    return vals.var(axis=0, ddof=1).tolist()


def to_kll_float_sketch(sketch: bytes, column_index: int, k: int = kll.DEFAULT_K) -> bytes:
    """KLL sketch over one value column of the retained sample
    (src/aod_sketch_pg_functions.c:568-586). column_index is 1-based, as in
    the reference SQL."""
    nv, _, _, vals = deserialize(sketch)
    if not 1 <= column_index <= nv:
        raise ValueError(f"column_index {column_index} out of range 1..{nv}")
    return kll.build(vals[:, column_index - 1], k)


def students_t_test(a: bytes, b: bytes) -> list[float]:
    """Two-sided Welch p-value per value column."""
    nva, _, _, va = deserialize(a)
    nvb, _, _, vb = deserialize(b)
    if nva != nvb:
        raise ValueError("num_values mismatch")
    out = []
    n1, n2 = va.shape[0], vb.shape[0]
    for c in range(nva):
        m1, m2 = va[:, c].mean(), vb[:, c].mean()
        v1 = va[:, c].var(ddof=1)
        v2 = vb[:, c].var(ddof=1)
        _, _, p = welch_t_test(m1, v1, n1, m2, v2, n2)
        out.append(p)
    return out


def to_string(sketch: bytes, print_entries: bool = False) -> str:
    nv, theta, keys, vals = deserialize(sketch)
    out = (
        "### AOD sketch summary:\n"
        f"   num_values: {nv}\n"
        f"   retained  : {keys.size}\n"
        f"   theta     : {theta / float(2**63):.6f}\n"
        f"   estimate  : {get_estimate(sketch):.1f}\n"
    )
    if print_entries:
        for key, row in zip(keys.tolist(), vals.tolist()):
            out += f"   {key}: {row}\n"
    return out
