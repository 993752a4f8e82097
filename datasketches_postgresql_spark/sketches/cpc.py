"""CPC-family distinct-count sketch: coupon matrix + maximum-likelihood
estimator.

A real coupon-collection sketch in the spirit of the reference's CPC family
(the reference's src/cpc_sketch_pg_functions.c, default lg_k=11 at :30):
each update hashes to a (row, column) coupon and the sketch is the k x 64
bit matrix of observed coupons. The coupon mapping is the DataSketches one
(``CpcSketch.update``): the key is hashed with murmur3_x64_128 and seed 9001
(``functions.keys`` holds the key rule), row = the low lg_k bits of h1,
column = min(clz(h2), 63), so P(col = j) = 2^-(j+1). A matrix built here is
identical to the one datasketches-java builds over the same keys, and
unions with Druid / Hive / datasketches-* sketches are exact. The published
CPC sketch (Lang, "Back to the Future: an even more nearly optimal
cardinality estimation algorithm") adds entropy compression of this same
matrix and a surplus/HIP estimator; the working image below keeps the
matrix uncompressed (8k bytes dense vs CPC's ~k bytes) and estimates by
inverting the expected coupon count, giving the same accuracy CLASS
(measured RSE ~= 0.8/sqrt(k)).

The canonical compressed DataSketches CPC image is the interchange format
(sketches.cpc_interop); its constant code tables live in cpc_tables.npz
(extracted from the datasketches-java bundled inside Spark's jars —
tools/gen_cpc_tables.py), and the emitted images are byte-identical to the
library's own serialization for the same matrix
(tests/test_jvm_groundtruth.py). The uncompressed matrix stays the
engine's WORKING format (OR-mergeable partials, vectorized updates), the
split the reference makes between in-memory sketch state and its stored
bytea.

- merge = bitwise OR; sketches of different lg_k fold to the smallest one
  first (row i of a 2k-row matrix lands on row i mod k, the library's
  ``CpcUnion`` K reduction), and empty inputs do not lower it;
- sparse mode below 2k coupons stores (row<<6 | col) u32 coupons;
- estimate: invert E[#coupons | n] at the observed count (bisection on
  ln n).

Working image layout (little-endian):
    [u8 magic=0x43][u8 lg_k][u8 mode: 4 = sparse, 5 = dense]
    sparse: [u32 count][u32 * count coupons, ascending]
    dense:  [u64 * k bitmap rows]
Bit 2 of the mode byte marks the DataSketches coupon space. Images with it
clear (modes 0 and 1) were written by earlier versions in a retired coupon
space that no DataSketches reader shares; the decoder rejects them. It checks every size against the image length before it
allocates and raises ``ValueError`` on a truncated or inconsistent image.
"""

from __future__ import annotations

import struct

import numpy as np

from .hll import _bit_length_u64
from .murmur3 import DEFAULT_SEED, hash128_u64

DEFAULT_LG_K = 11  # src/cpc_sketch_pg_functions.c:30
MIN_LG_K, MAX_LG_K = 4, 26  # CpcSketch's range
_MAGIC = 0x43
_SPARSE, _DENSE = 4, 5
_HEAD = struct.Struct("<BBB")

_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def popcount64(arr: np.ndarray) -> int:
    """Total set bits of a u64 array (byte-LUT gather — numpy < 2.0 has no
    bitwise_count ufunc and the bin() fallback dominated profiles)."""
    if arr.size == 0:
        return 0
    return int(_POP8[np.ascontiguousarray(arr).view(np.uint8)].sum(dtype=np.int64))


def _use_scatter(n: int, lg_k: int) -> bool:
    """Dedup by scatter into the 2^(lg_k+6)-slot coupon space only when the
    batch fills at least half of it (the measured crossover against
    np.unique's sort) and the flag array stays <= 2 MiB (lg_k <= 15)."""
    return lg_k <= 15 and 2 * n >= 1 << (lg_k + 6)


def _coupons(h1: np.ndarray, h2: np.ndarray, lg_k: int) -> np.ndarray:
    """murmur3 halves -> sorted unique u32 coupons (row<<6 | col), row = h1
    low lg_k bits, col = min(clz(h2), 63)."""
    rows = (h1 & np.uint64((1 << lg_k) - 1)).astype(np.uint32)
    cols = np.minimum(64 - _bit_length_u64(h2), 63).astype(np.uint32)
    raw = (rows << np.uint32(6)) | cols
    if _use_scatter(raw.size, lg_k):
        seen = np.zeros(1 << (lg_k + 6), dtype=bool)
        seen[raw] = True
        return np.flatnonzero(seen).astype(np.uint32)
    return np.unique(raw)


def _dense_from_coupons(coupons: np.ndarray, lg_k: int) -> np.ndarray:
    mat = np.zeros(1 << lg_k, dtype=np.uint64)
    rows = (coupons >> np.uint32(6)).astype(np.int64)
    cols = (coupons & np.uint32(63)).astype(np.uint64)
    np.bitwise_or.at(mat, rows, np.uint64(1) << cols)
    return mat


def coupons_from_dense(mat: np.ndarray) -> np.ndarray:
    """Set bits of a k x 64 bit matrix as sorted u32 (row<<6 | col). The
    non-empty rows expand to one byte per bit, 2^14 rows at a time, so the
    temporaries stay at most 1 MiB whatever lg_k."""
    rows = np.flatnonzero(mat)
    out = [np.empty(0, dtype=np.uint32)]
    for start in range(0, rows.size, 1 << 14):
        chunk = rows[start : start + (1 << 14)]
        octets = mat[chunk].astype("<u8").view(np.uint8).reshape(-1, 8)
        r, c = np.nonzero(np.unpackbits(octets, axis=1, bitorder="little"))
        out.append((chunk[r].astype(np.uint32) << np.uint32(6)) | c.astype(np.uint32))
    return np.concatenate(out)


def serialize(lg_k: int, coupons: np.ndarray | None, dense: np.ndarray | None) -> bytes:
    if dense is None:
        return (
            _HEAD.pack(_MAGIC, lg_k, _SPARSE) + struct.pack("<I", len(coupons))
            + np.ascontiguousarray(coupons, dtype="<u4").tobytes()
        )
    return _HEAD.pack(_MAGIC, lg_k, _DENSE) + np.ascontiguousarray(dense, dtype="<u8").tobytes()


def deserialize(buf: bytes) -> tuple[int, np.ndarray]:
    """-> (lg_k, dense matrix)."""
    buf = bytes(buf)
    if len(buf) < _HEAD.size:
        raise ValueError(f"truncated CPC image: {len(buf)} bytes")
    magic, lg_k, mode = _HEAD.unpack_from(buf)
    if magic != _MAGIC:
        raise ValueError("not a CPC sketch image")
    if mode in (0, 1):
        raise ValueError(
            "CPC image in the retired coupon space of earlier versions "
            "(mode 0 or 1); rebuild it from the source keys"
        )
    if mode not in (_SPARSE, _DENSE):
        raise ValueError(f"CPC image with unknown mode {mode}")
    if not MIN_LG_K <= lg_k <= MAX_LG_K:
        raise ValueError(f"CPC image with lg_k {lg_k} outside [{MIN_LG_K}, {MAX_LG_K}]")
    k = 1 << lg_k
    if mode == _DENSE:
        if len(buf) != 3 + 8 * k:
            raise ValueError(f"CPC dense image of {len(buf)} bytes, expected {3 + 8 * k}")
        return lg_k, np.frombuffer(buf, dtype="<u8", offset=3).copy()
    if len(buf) < 7:
        raise ValueError(f"truncated CPC image: {len(buf)} bytes")
    (cnt,) = struct.unpack_from("<I", buf, 3)
    if len(buf) != 7 + 4 * cnt:
        raise ValueError(f"CPC sparse image of {len(buf)} bytes for {cnt} coupons")
    coupons = np.frombuffer(buf, dtype="<u4", count=cnt, offset=7)
    if cnt and not (coupons[-1] < k << 6 and np.all(coupons[1:] > coupons[:-1])):
        raise ValueError("CPC image coupons are not ascending, distinct and inside the matrix")
    return lg_k, _dense_from_coupons(coupons, lg_k)


def pack(lg_k: int, coupons: np.ndarray | None = None, dense: np.ndarray | None = None) -> bytes:
    """Working image from sorted coupons or a dense matrix, sparse while the
    coupon list is the smaller form."""
    k = 1 << lg_k
    n = coupons.size if dense is None else popcount64(dense)
    if n * 4 + 4 < k * 8 and n <= 2 * k:
        return serialize(lg_k, coupons_from_dense(dense) if coupons is None else coupons, None)
    return serialize(lg_k, None, _dense_from_coupons(coupons, lg_k) if dense is None else dense)


def from_hashes(h1: np.ndarray, h2: np.ndarray, lg_k: int = DEFAULT_LG_K) -> bytes:
    """Build from the murmur3 halves of the keys (``functions.keys``)."""
    return pack(lg_k, coupons=_coupons(h1, h2, lg_k))


def build(keys: np.ndarray, lg_k: int = DEFAULT_LG_K) -> bytes:
    """Build over integer keys, hashed as ``update(long)`` does."""
    return from_hashes(*hash128_u64(np.asarray(keys, dtype=np.uint64), DEFAULT_SEED), lg_k)


def union(sketches: list[bytes], lg_k: int | None = None) -> bytes:
    """OR-union at the smallest lg_k among ``lg_k`` and the non-empty inputs
    (``CpcUnion``'s rule: an empty input does not lower it). Without
    ``lg_k``, inputs that are all empty give their smallest lg_k, and no
    input gives the default."""
    parts = [deserialize(s) for s in sketches if s is not None]
    filled = [mat for _, mat in parts if mat.any()]
    sizes = [m.size.bit_length() - 1 for m in filled]
    if lg_k is not None:
        target = min(sizes + [lg_k])
    else:
        target = min(sizes or [g for g, _ in parts] or [DEFAULT_LG_K])
    acc = np.zeros(1 << target, dtype=np.uint64)
    for mat in filled:
        # row i of a larger matrix folds onto row i mod k
        acc |= np.bitwise_or.reduce(mat.reshape(-1, acc.size), axis=0)
    return pack(target, dense=acc)


def _column_counts(dense: np.ndarray) -> np.ndarray:
    """c_j = number of rows with bit j set, j = 0..63."""
    counts = np.zeros(64, dtype=np.int64)
    for j in range(64):
        counts[j] = int(((dense >> np.uint64(j)) & np.uint64(1)).sum())
        if counts[j] == 0 and int((dense >> np.uint64(j)).max() if dense.size else 0) == 0:
            break
    return counts


def _expected_coupons(n: float, k: int) -> float:
    """g(n) = E[#coupons observed | n distinct items]: cell (row, col j) is
    hit with probability 2^-(j+1)/k per item, independently binned."""
    j = np.arange(64, dtype=np.float64)
    qs = np.ldexp(1.0, -(j + 1).astype(np.int64))
    return float(np.sum(-k * np.expm1(n * np.log1p(-qs / k))))


def estimate_from_dense(dense: np.ndarray) -> float:
    """ICON-style estimator (the CPC paper's approach): invert the expected
    TOTAL coupon count at the observed count. Unlike a per-column MLE, the
    coupon count has sharp concentration at every n (for n << k collisions
    are rare so the count IS n, giving the near-exact small-n regime the
    reference's tests exercise)."""
    k = dense.size
    counts = _column_counts(dense)
    total = int(counts.sum())
    if total == 0:
        return 0.0
    if total >= 64 * k:  # matrix saturated
        return float("inf")
    # bisection on ln n: g is strictly increasing
    lo, hi = np.log(max(total / 2.0, 0.5)), np.log(float(total) * k * 64.0)
    for _ in range(100):
        mid = (lo + hi) / 2.0
        if _expected_coupons(np.exp(mid), k) < total:
            lo = mid
        else:
            hi = mid
        if hi - lo < 1e-12:
            break
    return float(np.exp((lo + hi) / 2.0))


def get_estimate(sketch: bytes) -> float:
    _, dense = deserialize(sketch)
    return estimate_from_dense(dense)


def get_estimate_and_bounds(sketch: bytes, num_std_devs: int = 1) -> tuple[float, float, float]:
    """Normal-approximation bounds at the measured MLE RSE ~= 0.8/sqrt(k)."""
    lg_k, dense = deserialize(sketch)
    est = estimate_from_dense(dense)
    rse = 0.8 / np.sqrt(float(1 << lg_k))
    lb = est / (1.0 + num_std_devs * rse)
    ub = est * (1.0 + num_std_devs * rse)
    return est, lb, ub


def to_string(sketch: bytes) -> str:
    lg_k, dense = deserialize(sketch)
    n_coupons = popcount64(dense)
    return (
        "### CPC sketch summary:\n"
        f"   lg_k    : {lg_k}\n"
        f"   coupons : {n_coupons}\n"
        f"   estimate: {estimate_from_dense(dense):.1f}\n"
    )
