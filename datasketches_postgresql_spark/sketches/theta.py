"""Theta (KMV) distinct-count sketch with full set algebra.

Re-expresses the semantics of the reference's theta family
(/root/reference/src/theta_sketch_pg_functions.c,
 /root/reference/src/theta_sketch_c_adapter.cpp,
 /root/reference/sql/datasketches_theta_sketch.sql) as a numpy kernel:

- build(hashes[, lg_k[, p]]) -> sketch  (sql/datasketches_theta_sketch.sql:105-133)
- union / intersection / a_not_b, both aggregate and pairwise
  (sql:135-163,181-195)
- get_estimate / get_estimate_and_bounds / to_string (sql:165-179)

Semantics preserved (SURVEY.md §2.1):
- default lg_k = 12 (k = 4096 nominal entries), optional sampling p;
- EXACT below k retained entries (theta == 1.0), which the reference's tests
  rely on (/root/reference/test/theta_sketch_test.sql:24-33);
- union keeps min theta, trims to k; intersection keeps min theta.

Hash space: the DataSketches one. An entry is ``murmur3_x64_128(key,
9001).h1 >> 1`` (63-bit, 0 excluded) and theta is a 63-bit threshold, so
``Long.MAX_VALUE`` means 1.0. ``build`` takes uniform 64-bit hashes (the
murmur3 h1 of the keys, or any other uniform hash a caller already holds)
and keeps ``h >> 1``, as datasketches-java does.

Serialized layout: every sketch IS the standard DataSketches compact theta
image (the reference's storage format, src/theta_sketch_c_adapter.cpp:
195-205), readable by datasketches-{java,cpp,python}, Druid, Hive and
Spark's native ``theta_*`` functions. The kernel writes serial version 3
and reads 3 and 4:

    long 0:  byte 0   preamble longs
             byte 1   serial version (3 or 4)
             byte 2   family (3 = COMPACT)
             byte 3   v4: bits per packed entry delta (v3: unused)
             byte 4   v4: bytes of the entry count (v3: unused)
             byte 5   flags (1=big-endian, 2=read-only, 4=empty, 8=compact,
                      16=ordered, 32=single item)
             bytes 6-7 seed hash (lower 16 bits of murmur3_x64_128(seed))
    v3: preamble 1 = empty, or a single item in long 1; preamble 2 = exact,
        long 1 holds the u32 entry count; preamble 3 = estimation, theta in
        long 2. Then the entries, u64 LE, ascending.
    v4 (always ordered, >= 2 entries or estimation): preamble 1 = exact,
        2 = estimation with theta in long 1. Then the entry count in byte-4
        little-endian bytes, then the deltas between consecutive entries
        (the first from 0), each in byte-3 bits, packed MSB first.

The decoder checks every size against ``len(image)`` before it allocates,
and raises ``ValueError`` on a truncated, foreign or inconsistent image.
"""

from __future__ import annotations

import struct

import numpy as np

from .murmur3 import DEFAULT_SEED, compute_seed_hash

DEFAULT_LG_K = 12
MAX_THETA = (1 << 63) - 1  # Long.MAX_VALUE: theta == 1.0
_THETA_SCALE = float(2**63)  # theta as a fraction, as datasketches-java divides
_FAMILY_COMPACT = 3
_F_BIG_ENDIAN, _F_READ_ONLY, _F_EMPTY, _F_COMPACT, _F_ORDERED, _F_SINGLE = 1, 2, 4, 8, 16, 32
_HEAD = struct.Struct("<BBBBBBH")
_U64 = np.dtype("<u8")
_SEED_HASH = compute_seed_hash(DEFAULT_SEED)


def _theta_for_p(p: float) -> int:
    """Initial theta of a p-sampling sketch (datasketches-java ``setP``)."""
    return MAX_THETA if p >= 1.0 else int(p * _THETA_SCALE)


# ---- image codec -------------------------------------------------------------


def serialize(theta: int, hashes: np.ndarray) -> bytes:
    """(theta, sorted unique entries below it) -> compact v3 image."""
    n = int(hashes.size)
    exact = theta >= MAX_THETA
    flags = _F_READ_ONLY | _F_COMPACT | _F_ORDERED
    if exact and n == 0:
        return _HEAD.pack(1, 3, _FAMILY_COMPACT, 0, 0, flags | _F_EMPTY, _SEED_HASH)
    if exact and n == 1:
        head = _HEAD.pack(1, 3, _FAMILY_COMPACT, 0, 0, flags | _F_SINGLE, _SEED_HASH)
        return head + np.asarray(hashes, dtype=_U64).tobytes()
    pre = 2 if exact else 3
    head = _HEAD.pack(pre, 3, _FAMILY_COMPACT, 0, 0, flags, _SEED_HASH) + struct.pack("<II", n, 0)
    if not exact:
        head += struct.pack("<Q", theta)
    return head + np.ascontiguousarray(hashes, dtype=_U64).tobytes()


def empty() -> bytes:
    return serialize(MAX_THETA, np.empty(0, dtype=_U64))


def _need(image: bytes, size: int, what: str) -> None:
    if len(image) < size:
        raise ValueError(f"truncated theta image: {what} needs {size} bytes, image has {len(image)}")


def _unpack_deltas(packed: bytes, n: int, bits: int) -> np.ndarray:
    """n MSB-first ``bits``-wide values from a packed byte stream."""
    buf = np.frombuffer(packed + bytes(9), dtype=np.uint8)
    at = np.arange(n, dtype=np.int64) * bits
    shift = (at & 7).astype(np.uint64)
    window = np.lib.stride_tricks.sliding_window_view(buf, 9)[at >> 3]
    word = window[:, :8].copy().view(">u8").ravel().astype(np.uint64)
    nxt = window[:, 8].astype(np.uint64)
    word = (word << shift) | (nxt >> (np.uint64(8) - shift))
    return word >> np.uint64(64 - bits)


def _decode_v3(image: bytes, pre: int, flags: int) -> tuple[int, np.ndarray]:
    if pre == 1:
        _need(image, 16, "a single-item image")
        return MAX_THETA, np.frombuffer(image, dtype=_U64, count=1, offset=8)
    if pre not in (2, 3):
        raise ValueError(f"theta v3 image with preamble length {pre}")
    _need(image, 8 * pre, f"a {pre}-long preamble")
    (n,) = struct.unpack_from("<I", image, 8)
    theta = MAX_THETA if pre == 2 else struct.unpack_from("<Q", image, 16)[0]
    _need(image, 8 * pre + 8 * n, f"{n} entries")
    hashes = np.frombuffer(image, dtype=_U64, count=n, offset=8 * pre)
    return theta, hashes if flags & _F_ORDERED else np.sort(hashes)


def _decode_v4(image: bytes, pre: int, bits: int, count_bytes: int) -> tuple[int, np.ndarray]:
    if pre not in (1, 2):
        raise ValueError(f"theta v4 image with preamble length {pre}")
    if not 1 <= bits <= 63:
        raise ValueError(f"theta v4 image with {bits}-bit entries")
    if not 1 <= count_bytes <= 4:
        raise ValueError(f"theta v4 image with a {count_bytes}-byte entry count")
    off = 8 * pre
    _need(image, off + count_bytes, "the entry count")
    theta = MAX_THETA if pre == 1 else struct.unpack_from("<Q", image, 8)[0]
    n = int.from_bytes(image[off : off + count_bytes], "little")
    off += count_bytes
    _need(image, off + (n * bits + 7) // 8, f"{n} {bits}-bit entries")
    hashes = np.cumsum(_unpack_deltas(image[off:], n, bits), dtype=np.uint64)
    return theta, hashes


def deserialize(image: bytes, seed: int = DEFAULT_SEED) -> tuple[int, np.ndarray]:
    """Compact theta image (v3 or v4) -> (theta, sorted entries)."""
    image = bytes(image)
    _need(image, 8, "the preamble")
    pre, ser_ver, family, b3, b4, flags, seed_hash = _HEAD.unpack_from(image)
    if family != _FAMILY_COMPACT:
        raise ValueError(f"not a compact theta image (family {family})")
    if ser_ver not in (3, 4):
        raise ValueError(f"unsupported theta serial version {ser_ver} (expected 3 or 4)")
    if flags & _F_BIG_ENDIAN or not flags & _F_COMPACT:
        raise ValueError(f"theta image flags {flags:#x}: not a little-endian compact image")
    if flags & _F_EMPTY:
        return MAX_THETA, np.empty(0, dtype=_U64)
    if seed_hash != (_SEED_HASH if seed == DEFAULT_SEED else compute_seed_hash(seed)):
        raise ValueError("seed hash mismatch: image was built with a different update seed")
    if ser_ver == 3:
        theta, hashes = _decode_v3(image, pre, flags)
    else:
        theta, hashes = _decode_v4(image, pre, b3, b4)
    if not 0 < theta <= MAX_THETA:
        raise ValueError(f"theta image with theta {theta} outside (0, 2^63)")
    if hashes.size and not (
        hashes[0] > 0 and hashes[-1] < theta and np.all(hashes[1:] > hashes[:-1])
    ):
        raise ValueError("theta image entries are not ascending, distinct and in (0, theta)")
    return theta, hashes


# ---- kernel ------------------------------------------------------------------


def _smallest_unique(v: np.ndarray, want: int) -> np.ndarray:
    """Sorted unique values of ``v``, truncated: guaranteed to contain the
    min(want, n_unique) smallest unique values (possibly more, never fewer).

    Selection by THRESHOLD FILTER, not ``np.partition``: the entries are
    63-bit hash values (uniform by contract), so the want-th smallest sits
    near ``(want/n)*2^63`` and one vectorized compare-and-compress pass
    isolates ~c*want candidates. That pass is memory-streaming O(n); on
    this class of hardware both ``np.sort`` and ``np.partition`` on 10^7
    u64 cost 10-26 s while the filter pass costs ~0.1 s, and only the k+1
    smallest unique hashes can survive the trim anyway. Escalates the
    threshold (handles duplication / mild non-uniformity) and degrades to
    the full unique only for adversarial non-hash inputs."""
    n = v.size
    c = 8.0
    while True:
        frac = c * want / n
        if frac >= 1.0:
            return np.unique(v)
        thresh = np.uint64(int(frac * _THETA_SCALE))
        head = v[v < thresh]
        if head.size == n:
            return np.unique(head)
        if head.size:
            uniq = np.unique(head)
            if uniq.size >= want:
                return uniq
        c *= 16.0


def _retain(theta: int, entries: np.ndarray, lg_k: int) -> bytes:
    """Image of the distinct entries in (0, theta), trimmed to the k
    smallest with theta raised to the (k+1)-th (standard KMV trim)."""
    k = 1 << lg_k
    # k + 2: a 0 entry may take one of the selected places
    u = _smallest_unique(entries, k + 2) if entries.size > 4 * k else np.unique(entries)
    u = u[(u > 0) & (u < np.uint64(theta))]
    if u.size > k:
        theta, u = int(u[k]), u[:k]
    return serialize(theta, u)


def build(hashes: np.ndarray, lg_k: int = DEFAULT_LG_K, p: float = 1.0) -> bytes:
    """Build from uniform 64-bit hashes (dedups internally): entries are
    ``h >> 1`` in (0, theta), as datasketches-java keys murmur3 h1."""
    v = np.asarray(hashes, dtype=np.uint64) >> np.uint64(1)
    return _retain(_theta_for_p(p), v, lg_k)


def sample(image: bytes, p: float) -> bytes:
    """Lower theta to ``p``: keep entries below p·2^63 (``setP(p)`` applied
    to a finished sketch). An empty sketch stays empty."""
    theta, hashes = deserialize(image)
    if hashes.size == 0 and theta == MAX_THETA:
        return image
    theta = min(theta, _theta_for_p(p))
    return serialize(theta, hashes[hashes < np.uint64(theta)])


def union(images: list[bytes], lg_k: int | None = None) -> bytes:
    parts = [deserialize(s) for s in images if s is not None]
    if not parts:
        return empty()
    theta = min(p[0] for p in parts)
    return _retain(theta, np.concatenate([p[1] for p in parts]), lg_k or DEFAULT_LG_K)


def intersection(images: list[bytes]) -> bytes:
    """Intersection over >=1 sketches; keeps min theta, intersects retained
    sets filtered below it (src/theta_sketch_c_adapter.cpp:215-239 semantics)."""
    parts = [deserialize(s) for s in images if s is not None]
    if not parts:
        return empty()
    theta = min(p[0] for p in parts)
    acc = parts[0][1]
    for _, h in parts[1:]:
        acc = np.intersect1d(acc, h, assume_unique=True)
    return serialize(theta, acc[acc < np.uint64(theta)])


def a_not_b(a: bytes, b: bytes) -> bytes:
    """Set difference A \\ B (src/theta_sketch_c_adapter.cpp:253-264)."""
    th_a, ha = deserialize(a)
    th_b, hb = deserialize(b)
    theta = min(th_a, th_b)
    out = np.setdiff1d(ha, hb, assume_unique=True)
    return serialize(theta, out[out < np.uint64(theta)])


def estimate_and_bounds(theta: int, retained: int, num_std_devs: int = 1) -> tuple[float, float, float]:
    """(estimate, lower, upper) of a KMV sample of ``retained`` entries
    below ``theta``. Exact mode -> all equal. Estimation mode uses the
    normal approximation of the KMV estimator: var ~= r(1-theta)/theta^2."""
    r = float(retained)
    if theta >= MAX_THETA:
        return r, r, r
    th = theta / _THETA_SCALE
    est = r / th
    sd = np.sqrt(r * (1.0 - th)) / th
    return est, max(r, est - num_std_devs * sd), est + num_std_devs * sd


def get_estimate(image: bytes) -> float:
    theta, hashes = deserialize(image)
    return estimate_and_bounds(theta, hashes.size)[0]


def get_estimate_and_bounds(image: bytes, num_std_devs: int = 1) -> tuple[float, float, float]:
    theta, hashes = deserialize(image)
    return estimate_and_bounds(theta, hashes.size, num_std_devs)


def to_string(image: bytes) -> str:
    theta, hashes = deserialize(image)
    return (
        "### Theta sketch summary:\n"
        f"   retained entries: {hashes.size}\n"
        f"   theta (fraction): {theta / _THETA_SCALE:.6f}\n"
        f"   estimation mode : {theta < MAX_THETA}\n"
        f"   estimate        : {hashes.size / (theta / _THETA_SCALE):.1f}\n"
    )
