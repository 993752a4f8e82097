"""KLL quantile sketch (numpy compactor implementation).

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
(test/kll_float_sketch_test.sql:26-34). Compaction is deterministic: the
even/odd offset alternates with a per-sketch compaction counter instead of a
random bit, so results are reproducible across parallelism levels.

Serialized layout (little-endian):
    [u16 k][u8 num_levels][u64 n][u32 compaction_count]
    [f64 min][f64 max][u32 count x num_levels][f64 items, level 0 first]
"""

from __future__ import annotations

import struct

import numpy as np

DEFAULT_K = 200
DEFAULT_K_CLASSIC = 128
DEFAULT_K_REQ = 12
_HDR = struct.Struct("<HBQI d d")


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
    __slots__ = ("k", "n", "cc", "min", "max", "levels")

    def __init__(self, k: int = DEFAULT_K):
        self.k = int(k)
        self.n = 0
        self.cc = 0  # compaction counter (drives deterministic offset)
        self.min = np.inf
        self.max = -np.inf
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]

    # -- capacity ----------------------------------------------------------
    def _cap(self, level: int) -> int:
        depth = len(self.levels) - 1 - level
        return max(8, int(np.ceil(self.k * (2.0 / 3.0) ** depth)))

    def _total_cap(self) -> int:
        return sum(self._cap(h) for h in range(len(self.levels)))

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
                (h for h, a in enumerate(self.levels) if a.size >= self._cap(h)),
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
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for h, arr in enumerate(other.levels):
            self.levels[h] = np.concatenate([self.levels[h], arr])
        self._compress()

    # -- serde -------------------------------------------------------------
    def serialize(self) -> bytes:
        counts = np.array([a.size for a in self.levels], dtype="<u4")
        items = np.concatenate(self.levels) if self.levels else np.empty(0)
        return (
            _HDR.pack(self.k, len(self.levels), self.n, self.cc, self.min, self.max)
            + counts.tobytes()
            + np.ascontiguousarray(items, dtype="<f8").tobytes()
        )

    @classmethod
    def deserialize(cls, buf: bytes) -> "KllState":
        k, nl, n, cc, mn, mx = _HDR.unpack_from(buf, 0)
        st = cls(k)
        st.n, st.cc, st.min, st.max = n, cc, mn, mx
        counts = np.frombuffer(buf, dtype="<u4", count=nl, offset=_HDR.size)
        items = np.frombuffer(buf, dtype="<f8", offset=_HDR.size + 4 * nl)
        st.levels = []
        pos = 0
        for c in counts:
            st.levels.append(items[pos : pos + int(c)].astype(np.float64))
            pos += int(c)
        return st

    # -- queries -----------------------------------------------------------
    def _sorted_view(self) -> tuple[np.ndarray, np.ndarray]:
        """(sorted items, weights) across all levels."""
        items = np.concatenate(self.levels)
        weights = np.concatenate(
            [np.full(a.size, 1 << h, dtype=np.int64) for h, a in enumerate(self.levels)]
        )
        order = np.argsort(items, kind="stable")
        return items[order], weights[order]

    def to_string(self) -> str:
        return (
            "### KLL sketch summary:\n"
            f"   k        : {self.k}\n"
            f"   n        : {self.n}\n"
            f"   levels   : {len(self.levels)}\n"
            f"   retained : {self._total_items()}\n"
            f"   min,max  : {self.min},{self.max}\n"
        )


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
