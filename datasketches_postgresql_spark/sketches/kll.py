"""KLL quantile sketch: the standard DataSketches image and a numpy compactor.

Re-expresses the reference's quantile family surface
(/root/reference/src/kll_float_sketch_pg_functions.c,
 /root/reference/sql/datasketches_kll_float_sketch.sql, and the mirrored
 kll_double / quantiles_double / req_float families):

- build(values[, k]) / merge(sketches[, k])     (sql:69-107)
- get_rank / get_quantile / get_quantiles        (sql:109-115,141-143)
- get_pmf (N+1 bins) / get_cdf                   (sql:133-139; N+1 semantics
  at src/kll_float_sketch_pg_functions.c:318)
- get_histogram (default 10 equal-width bins over [min,max], scaled to
  counts; src/kll_float_sketch_pg_functions.c:425-470)
- get_n / get_min_item / get_max_item / to_string (sql:117-131)

Defaults: k=200 for KLL float/double (src/kll_float_sketch_c_adapter.h:29),
k=128 for classic quantiles (src/quantiles_double_sketch_c_adapter.h:29), k=12
for REQ (src/req_float_sketch_c_adapter.h:29). REQ (sketches.req) and classic
quantiles (sketches.quantiles) have their own kernels and share this module's
QuantileQueriesMixin, so the three families answer every query alike.

Rank semantics: EXCLUSIVE by default (rank(v) = weight of items strictly
below v), matching the reference's pmf bin convention (lower bin gets items
< split) and the REQ family's ``inclusive`` flag default of false
(sql/datasketches_req_float_sketch.sql:137-193); the ``inclusive`` parameter
is honored on all query functions.

The sketch is EXACT while no compaction has occurred (all items retained at
level 0 with weight 1) — the regime the reference's tests exploit
(test/kll_float_sketch_test.sql:26-34). DataFrame builds and merges run in
datasketches-java (Spark's kll_sketch_agg_double / kll_merge_agg_double),
whose compaction picks its even/odd offset at random, so estimation-regime
answers vary from run to run. This module's numpy ``build``/``merge`` (the SQL
surface, AOD's to_kll and the streaming sink) alternate the offset with a
per-sketch compaction counter instead, so their results are reproducible.

Serialized form: the standard DataSketches kll_doubles compact image
(family 15) that datasketches-java and Spark's KLL aggregates write
(java KllPreambleUtil), little-endian: an 8-byte preamble [u8 preamble_ints]
[u8 serial_version][u8 family][u8 flags][u16 k][u8 m=8][u8 unused], which is
the whole empty image (flags EMPTY); a single-item image (serial version 2)
adds its f8 item; a full one (preamble_ints 5) adds [u64 n][u16 min_k]
[u8 num_levels][u8 unused][u32 level offsets, num_levels of them][f8 min]
[f8 max] and the items from offset levels[0] to the capacity, level 0 first,
each level sorted.
The capacity is DataSketches' sum of round-half-up k (2/3)^depth level
widths (``compute_total_capacity``); the numpy compactor uses the same, so
its state always fits. Item weights are 2^level and sum to n. ``decode``
checks every size against the image length before it allocates and raises
ValueError on a malformed image.
"""

from __future__ import annotations

import struct

import numpy as np

DEFAULT_K = 200

FAMILY_KLL = 15
M = 8  # minimum level width; DataSketches writes 8
MAX_LEVELS = 64  # level weights 2^h of a u64 n
_PRE_SHORT, _PRE_FULL = 2, 5
_SER_FULL, _SER_SINGLE = 1, 2
_F_EMPTY, _F_LEVEL_ZERO_SORTED, _F_SINGLE = 1, 2, 4
_HEAD = struct.Struct("<BBBBHBB")
_FULL = struct.Struct("<QHBB")

_POW3 = [3**i for i in range(31)]


def level_capacity(k: int, num_levels: int, height: int, m: int = M) -> int:
    """DataSketches' capacity of level ``height``: max(m, round(k (2/3)^depth))."""
    depth = num_levels - height - 1
    d = min(depth, 30)
    cap = ((((k << 1) << d) // _POW3[d]) + 1) >> 1
    return max(m, cap >> (depth - d))


def compute_total_capacity(k: int, m: int, num_levels: int) -> int:
    return sum(level_capacity(k, num_levels, h, m) for h in range(num_levels))


class QuantileQueriesMixin:
    """Rank/quantile/pmf/cdf/histogram estimators over any weighted-sample
    sketch exposing ``_sorted_view() -> (items, weights)``, ``n``, ``min``,
    ``max`` — shared by the KLL, REQ and classic-quantiles kernels (one
    query surface in the reference, src/kll_float_sketch_pg_functions.c vs
    src/req_float_sketch_pg_functions.c and
    src/quantiles_double_sketch_pg_functions.c). Values are compared in the
    items' own dtype, so REQ's float32 items see a float32 value."""

    def get_rank(self, value: float, inclusive: bool = False) -> float:
        if self.n == 0:
            return float("nan")
        items, weights = self._sorted_view()
        value = items.dtype.type(value)
        mask = items <= value if inclusive else items < value
        return float(weights[mask].sum()) / float(self.n)

    def get_quantile(self, rank: float, inclusive: bool = False) -> float:
        if self.n == 0:
            return float("nan")
        rank = min(max(rank, 0.0), 1.0)
        items, weights = self._sorted_view()
        cum = np.cumsum(weights)
        target = rank * self.n
        if inclusive:
            idx = int(np.searchsorted(cum, target, side="left"))
        else:
            idx = int(np.searchsorted(cum, target, side="right"))
        idx = min(idx, items.size - 1)
        return float(items[idx])

    def get_quantiles(self, ranks: list[float], inclusive: bool = False) -> list[float]:
        return [self.get_quantile(r, inclusive) for r in ranks]

    def get_pmf(self, splits: list[float], inclusive: bool = False) -> list[float]:
        """N+1 bins: (-inf,s1), [s1,s2) ... [sN,+inf) under exclusive ranks
        (src/kll_float_sketch_pg_functions.c:277-325)."""
        if self.n == 0:
            return []
        cdf = self.get_cdf(splits, inclusive)
        return [cdf[0]] + [cdf[i] - cdf[i - 1] for i in range(1, len(cdf))]

    def get_cdf(self, splits: list[float], inclusive: bool = False) -> list[float]:
        """N+1 values; last is always 1.0 (src/kll_float_sketch_pg_functions.c:327-375)."""
        if self.n == 0:
            return []
        return [self.get_rank(s, inclusive) for s in splits] + [1.0]

    def get_histogram(self, num_bins: int = 10) -> list[float]:
        """Equal-width bins over [min,max], masses scaled to counts
        (split construction src/kll_float_sketch_pg_functions.c:452-458,
        scale=true :459)."""
        if self.n == 0:
            return []
        if self.min == self.max:
            return [float(self.n)] + [0.0] * (num_bins - 1)
        step = (self.max - self.min) / num_bins
        splits = [self.min + step * i for i in range(1, num_bins)]
        pmf = self.get_pmf(splits, inclusive=True)
        return [m * self.n for m in pmf]


class KllState(QuantileQueriesMixin):
    __slots__ = ("k", "min_k", "n", "cc", "min", "max", "levels")

    def __init__(self, k: int = DEFAULT_K):
        self.k = self.min_k = int(k)
        self.n = 0
        self.cc = 0  # compaction counter (drives deterministic offset); not serialized
        self.min = np.inf
        self.max = -np.inf
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]

    # -- capacity ----------------------------------------------------------
    def _total_cap(self) -> int:
        return compute_total_capacity(self.k, M, len(self.levels))

    def _total_items(self) -> int:
        return sum(a.size for a in self.levels)

    # -- update ------------------------------------------------------------
    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return
        self.n += int(v.size)
        self.min = min(self.min, float(v.min()))
        self.max = max(self.max, float(v.max()))
        self.levels[0] = np.concatenate([self.levels[0], v])
        self._compress()

    def _compress(self) -> None:
        while self._total_items() > self._total_cap():
            # lowest level at/above its individual capacity, else lowest with >=2
            lvl = next(
                (h for h, a in enumerate(self.levels)
                 if a.size >= level_capacity(self.k, len(self.levels), h)),
                None,
            )
            if lvl is None:
                lvl = next(h for h, a in enumerate(self.levels) if a.size >= 2)
            arr = np.sort(self.levels[lvl])
            odd = arr.size % 2
            offset = (self.cc & 1) + odd
            promoted = arr[offset::2]
            kept = arr[:odd]  # odd leftover stays at this level
            self.cc += 1
            self.levels[lvl] = kept
            if lvl + 1 == len(self.levels):
                self.levels.append(np.empty(0, dtype=np.float64))
            self.levels[lvl + 1] = np.concatenate([self.levels[lvl + 1], promoted])

    def merge(self, other: "KllState") -> None:
        if other.n == 0:
            return
        self.n += other.n
        self.cc += other.cc
        self.min_k = min(self.min_k, other.min_k)
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for h, arr in enumerate(other.levels):
            self.levels[h] = np.concatenate([self.levels[h], arr])
        self._compress()

    # -- serde: the standard image (module docstring) ------------------------
    def encode(self, dtype: str = "<f8") -> bytes:
        """The standard KLL image with ``dtype`` items: '<f8' is kll_doubles,
        '<f4' kll_floats (the family byte is the same)."""
        if self.n == 0:
            return _HEAD.pack(_PRE_SHORT, _SER_FULL, FAMILY_KLL, _F_EMPTY, self.k, M, 0)
        # every level sorted, as datasketches-java's sorted view, merge and
        # compaction assume; a numpy merge or compaction leaves levels
        # above 0 as two concatenated sorted runs
        items = np.concatenate([np.sort(a) for a in self.levels]).astype(dtype)
        if self.n == 1:
            return _HEAD.pack(_PRE_SHORT, _SER_SINGLE, FAMILY_KLL, _F_SINGLE, self.k, M, 0) + items.tobytes()
        levels = np.cumsum([self._total_cap() - items.size] + [a.size for a in self.levels[:-1]])
        return (
            _HEAD.pack(_PRE_FULL, _SER_FULL, FAMILY_KLL, _F_LEVEL_ZERO_SORTED, self.k, M, 0)
            + _FULL.pack(self.n, self.min_k, len(self.levels), 0)
            + levels.astype("<u4").tobytes()
            + np.array([self.min, self.max], dtype=dtype).tobytes()
            + items.tobytes()
        )

    def serialize(self) -> bytes:
        return self.encode("<f8")

    @classmethod
    def deserialize(cls, buf: bytes) -> "KllState":
        return decode(buf, "<f8")

    # -- queries -----------------------------------------------------------
    def _sorted_view(self) -> tuple[np.ndarray, np.ndarray]:
        """(sorted items, weights) across all levels. As in datasketches-java,
        the view holds the min and max items: one that compaction dropped
        takes a weight of 1 from its retained neighbour, so rank 0 answers
        the min and rank 1 the max."""
        items = np.concatenate(self.levels)
        weights = np.concatenate(
            [np.full(a.size, 1 << h, dtype=np.int64) for h, a in enumerate(self.levels)]
        )
        order = np.argsort(items, kind="stable")
        items, weights = items[order], weights[order]
        if items.size and items[0] != self.min:
            items, weights = np.r_[self.min, items], np.r_[1, weights]
            weights[1] -= 1
        if items.size and items[-1] != self.max:
            items, weights = np.r_[items, self.max], np.r_[weights, 1]
            weights[-2] -= 1
        return items, weights

    def to_string(self) -> str:
        return (
            "### KLL sketch summary:\n"
            f"   k        : {self.k}\n"
            f"   n        : {self.n}\n"
            f"   levels   : {len(self.levels)}\n"
            f"   retained : {self._total_items()}\n"
            f"   min,max  : {self.min},{self.max}\n"
        )


def decode(image: bytes, dtype: str = "<f8") -> KllState:
    """Standard KLL image with ``dtype`` items -> state. Every size is checked
    against ``len(image)`` before anything is allocated; a malformed image
    raises ValueError."""
    item = np.dtype(dtype)
    size = len(image)
    if size < _HEAD.size:
        raise ValueError(f"KLL image truncated: {size} bytes")
    pre, ser, fam, flags, k, m, _ = _HEAD.unpack_from(image, 0)
    if fam != FAMILY_KLL:
        raise ValueError(f"not a KLL image (family {fam}, expected {FAMILY_KLL})")
    if m != M or k < M or flags & ~(_F_EMPTY | _F_LEVEL_ZERO_SORTED | _F_SINGLE):
        raise ValueError(f"bad KLL header: k={k}, m={m}, flags={flags:#x}")
    st = KllState(k)
    if flags & _F_EMPTY:
        if (pre, ser, size) != (_PRE_SHORT, _SER_FULL, _HEAD.size):
            raise ValueError("malformed empty KLL image")
        return st
    if flags & _F_SINGLE:
        if (pre, ser, size) != (_PRE_SHORT, _SER_SINGLE, _HEAD.size + item.itemsize):
            raise ValueError("malformed single-item KLL image")
        st.levels = [np.frombuffer(image, item, 1, _HEAD.size).astype(np.float64)]
        st.n, st.min, st.max = 1, float(st.levels[0][0]), float(st.levels[0][0])
        return st
    if (pre, ser) != (_PRE_FULL, _SER_FULL) or size < _HEAD.size + _FULL.size:
        raise ValueError(f"malformed KLL image: preamble {pre}, serial version {ser}, {size} bytes")
    n, min_k, num_levels, _ = _FULL.unpack_from(image, _HEAD.size)
    if not 1 <= num_levels <= MAX_LEVELS or not M <= min_k <= k:
        raise ValueError(f"bad KLL header: {num_levels} levels, min_k={min_k}, k={k}")
    at = _HEAD.size + _FULL.size + 4 * num_levels
    if size < at + 2 * item.itemsize:
        raise ValueError(f"KLL image truncated: {size} bytes")
    capacity = compute_total_capacity(k, M, num_levels)
    bounds = [*struct.unpack_from(f"<{num_levels}I", image, at - 4 * num_levels), capacity]
    sizes = [b - a for a, b in zip(bounds, bounds[1:])]
    if min(sizes) < 0:
        raise ValueError("KLL level offsets are not monotone")
    count = capacity - bounds[0]
    if size != at + (2 + count) * item.itemsize:
        raise ValueError(f"KLL image of {size} bytes does not hold its {count} items")
    if n != sum(c << h for h, c in enumerate(sizes)):
        raise ValueError(f"KLL n={n} does not match the retained weights")
    mn, mx = np.frombuffer(image, item, 2, at).astype(np.float64)
    items = np.frombuffer(image, item, count, at + 2 * item.itemsize).astype(np.float64, copy=False)
    st.n, st.min_k, st.min, st.max = n, min_k, float(mn), float(mx)
    st.levels = [items[a - bounds[0]: b - bounds[0]] for a, b in zip(bounds, bounds[1:])]
    return st


def build(values: np.ndarray, k: int = DEFAULT_K) -> bytes:
    st = KllState(k)
    st.update(values)
    return st.serialize()


def merge(sketches: list[bytes], k: int | None = None) -> bytes:
    states = [KllState.deserialize(s) for s in sketches if s is not None]
    if not states:
        return KllState(k or DEFAULT_K).serialize()
    if k is not None:
        acc = KllState(k)
    else:
        acc = KllState(min(s.k for s in states))
    for s in states:
        acc.merge(s)
    return acc.serialize()
