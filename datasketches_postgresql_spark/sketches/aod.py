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

Keys are pre-hashed uint64 (hashing is JVM-side via F.xxhash64, as for the
theta family). Exact below k retained keys.

Serialized layout (little-endian):
    [u8 lg_k][u8 num_values][u64 theta][u32 retained]
    [u64 x retained keys, sorted][f64 x retained*num_values values, row-major]
"""

from __future__ import annotations

import struct

import numpy as np

from . import kll
from .stats import welch_t_test

DEFAULT_LG_K = 12
_MAX_THETA = np.uint64(0xFFFFFFFFFFFFFFFF)  # theta == 1.0 (exact mode)
_HDR = struct.Struct("<BBQI")


def serialize(lg_k: int, num_values: int, theta: np.uint64, keys: np.ndarray, vals: np.ndarray) -> bytes:
    return (
        _HDR.pack(lg_k, num_values, int(theta), keys.size)
        + np.ascontiguousarray(keys, dtype="<u8").tobytes()
        + np.ascontiguousarray(vals, dtype="<f8").tobytes()
    )


def deserialize(buf: bytes):
    lg_k, num_values, theta, retained = _HDR.unpack_from(buf, 0)
    off = _HDR.size
    keys = np.frombuffer(buf, dtype="<u8", count=retained, offset=off)
    vals = np.frombuffer(
        buf, dtype="<f8", count=retained * num_values, offset=off + 8 * retained
    ).reshape(retained, num_values)
    return lg_k, num_values, np.uint64(theta), keys, vals


def _sum_by_key(keys: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Group rows by key, summing value vectors (vectorized)."""
    order = np.argsort(keys, kind="stable")
    k_sorted, v_sorted = keys[order], vals[order]
    uniq, starts = np.unique(k_sorted, return_index=True)
    summed = np.add.reduceat(v_sorted, starts, axis=0) if k_sorted.size else v_sorted[:0]
    return uniq, summed


def _trim(lg_k: int, theta: np.uint64, keys: np.ndarray, vals: np.ndarray):
    k = 1 << lg_k
    mask = keys < theta
    keys, vals = keys[mask], vals[mask]
    if keys.size > k:
        order = np.argsort(keys)
        keys, vals = keys[order], vals[order]
        theta = keys[k]
        keys, vals = keys[:k], vals[:k]
    return theta, keys, vals


def build(keys: np.ndarray, vals: np.ndarray, lg_k: int = DEFAULT_LG_K, p: float = 1.0) -> bytes:
    keys = np.asarray(keys, dtype="<u8")
    vals = np.asarray(vals, dtype="<f8")
    if vals.ndim == 1:
        vals = vals.reshape(-1, 1)
    num_values = vals.shape[1] if vals.size else 1
    theta = _MAX_THETA if p >= 1.0 else np.uint64(int(p * float(2**64 - 1)))
    keys, vals = _sum_by_key(keys, vals)
    theta, keys, vals = _trim(lg_k, theta, keys, vals)
    return serialize(lg_k, num_values, theta, keys, vals)


def union(sketches: list[bytes], lg_k: int | None = None) -> bytes:
    parts = [deserialize(s) for s in sketches if s is not None]
    if not parts:
        return serialize(lg_k or DEFAULT_LG_K, 1, _MAX_THETA, np.empty(0, "<u8"), np.empty((0, 1)))
    num_values = parts[0][1]
    out_lg_k = lg_k if lg_k is not None else min(p[0] for p in parts)
    theta = min(p[2] for p in parts)
    keys = np.concatenate([p[3] for p in parts])
    vals = np.concatenate([p[4] for p in parts])
    keys, vals = _sum_by_key(keys, vals)
    theta, keys, vals = _trim(out_lg_k, theta, keys, vals)
    return serialize(out_lg_k, num_values, theta, keys, vals)


def intersection(a: bytes, b: bytes) -> bytes:
    """Keys in both; value vectors combined with the union policy (sum)."""
    lg_a, nv, th_a, ka, va = deserialize(a)
    _, _, th_b, kb, vb = deserialize(b)
    theta = min(th_a, th_b)
    common, ia, ib = np.intersect1d(ka, kb, assume_unique=True, return_indices=True)
    vals = va[ia] + vb[ib]
    mask = common < theta
    return serialize(lg_a, nv, theta, common[mask], vals[mask])


def a_not_b(a: bytes, b: bytes) -> bytes:
    lg_a, nv, th_a, ka, va = deserialize(a)
    _, _, th_b, kb, _ = deserialize(b)
    theta = min(th_a, th_b)
    keep = ~np.isin(ka, kb, assume_unique=True)
    keys, vals = ka[keep], va[keep]
    mask = keys < theta
    return serialize(lg_a, nv, theta, keys[mask], vals[mask])


def get_estimate(sketch: bytes) -> float:
    _, _, theta, keys, _ = deserialize(sketch)
    if theta == _MAX_THETA:
        return float(keys.size)
    return float(keys.size) / (float(theta) / float(2**64))


def get_estimate_and_bounds(sketch: bytes, num_std_devs: int = 1):
    _, _, theta, keys, _ = deserialize(sketch)
    r = float(keys.size)
    if theta == _MAX_THETA:
        return r, r, r
    th = float(theta) / float(2**64)
    est = r / th
    sd = np.sqrt(r * (1.0 - th)) / th
    return est, max(r, est - num_std_devs * sd), est + num_std_devs * sd


def to_means(sketch: bytes) -> list[float]:
    _, _, _, _, vals = deserialize(sketch)
    if vals.shape[0] == 0:
        return []
    return vals.mean(axis=0).tolist()


def to_variances(sketch: bytes) -> list[float]:
    """Sample variance (ddof=1) per value column over retained entries."""
    _, _, _, _, vals = deserialize(sketch)
    if vals.shape[0] < 2:
        return [float("nan")] * vals.shape[1] if vals.shape[0] else []
    return vals.var(axis=0, ddof=1).tolist()


def to_kll_float_sketch(sketch: bytes, column_index: int, k: int = kll.DEFAULT_K) -> bytes:
    """KLL sketch over one value column of the retained sample
    (src/aod_sketch_pg_functions.c:568-586). column_index is 1-based, as in
    the reference SQL."""
    _, nv, _, _, vals = deserialize(sketch)
    if not 1 <= column_index <= nv:
        raise ValueError(f"column_index {column_index} out of range 1..{nv}")
    return kll.build(vals[:, column_index - 1], k)


def students_t_test(a: bytes, b: bytes) -> list[float]:
    """Two-sided Welch p-value per value column."""
    _, nva, _, _, va = deserialize(a)
    _, nvb, _, _, vb = deserialize(b)
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
    lg_k, nv, theta, keys, vals = deserialize(sketch)
    out = (
        "### AOD sketch summary:\n"
        f"   lg_k      : {lg_k}\n"
        f"   num_values: {nv}\n"
        f"   retained  : {keys.size}\n"
        f"   theta     : {float(theta) / float(2**64):.6f}\n"
        f"   estimate  : {get_estimate(sketch):.1f}\n"
    )
    if print_entries:
        for key, row in zip(keys.tolist(), vals.tolist()):
            out += f"   {key}: {row}\n"
    return out
