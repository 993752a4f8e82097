"""REQ — Relative Error Quantiles sketch (float), re-derived from the
published algorithm (Cormode, Karnin, Liberty, Thaler, Vesely, "Relative
Error Streaming Quantiles", PODS'21) that the reference's req_float family
wraps (/root/reference/src/req_float_sketch_pg_functions.c,
/root/reference/src/req_float_sketch_c_adapter.cpp).

Structure: a stack of relative compactors. Level h holds items of weight
2^h in a buffer of nominal capacity 2 * num_sections * section_size. On
overflow the buffer is sorted and only the INACCURATE end is compacted
(the low end for HRA — high-rank accuracy, the default; the high end for
LRA), promoting every other compacted item to level h+1:

- the number of sections compacted follows the geometric schedule
  s = trailing_ones(counter) + 1 — sections nearest the accurate end are
  touched exponentially less often;
- section size decays by sqrt(2) each time the compaction counter reaches
  2^(num_sections - 1) (num_sections doubles, capacity stays put), the
  paper's sqrt schedule.

Net effect: items near the accurate end are never compacted, so the rank
error at normalized rank r is O((1-r)) for HRA — RELATIVE to the distance
from the accurate end — instead of KLL's uniform additive error. The
below-capacity regime is exact (no compaction ever fires), which the oracle
queries rely on.

Queries (rank, quantile, pmf, cdf, histogram) come from the KLL kernel's
QuantileQueriesMixin; ranks compare in the items' float32.

Promotion offset alternates deterministically with the compaction counter
(the paper flips a coin; alternation keeps the pair-averaged rank unbiased
while making results reproducible across partitions and merges).

Serialized layout (little-endian):
    [u8 magic=0x52][u8 hra][u16 k][u64 n][f32 min][f32 max][u8 num_levels]
    per level: [u32 counter][u16 num_sections][f32 section_size_raw]
               [u32 count][f32 * count]
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .kll import QuantileQueriesMixin

DEFAULT_K = 12  # src/req_float_sketch_c_adapter.h:29
_MAGIC = 0x52
_MIN_SECTION = 4
_INIT_SECTIONS = 3


def _trailing_ones(x: int) -> int:
    t = 0
    while x & 1:
        t += 1
        x >>= 1
    return t


class _Compactor:
    __slots__ = ("buf", "counter", "num_sections", "section_size_raw")

    def __init__(self, k: int):
        self.buf = np.empty(0, dtype=np.float32)
        self.counter = 0
        self.num_sections = _INIT_SECTIONS
        self.section_size_raw = float(max(k, _MIN_SECTION))

    @property
    def section_size(self) -> int:
        return max(_MIN_SECTION, 2 * int(self.section_size_raw / 2 + 0.5))  # even

    @property
    def capacity(self) -> int:
        return 2 * self.num_sections * self.section_size


class ReqState(QuantileQueriesMixin):
    def __init__(self, k: int = DEFAULT_K, hra: bool = True):
        if k < 4:
            raise ValueError("req k must be >= 4")
        self.k = k + (k & 1)  # even
        self.hra = bool(hra)
        self.n = 0
        self.min = math.inf
        self.max = -math.inf
        self.levels: list[_Compactor] = [_Compactor(self.k)]

    # -- update / compaction -------------------------------------------------
    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float32)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return
        self.n += int(v.size)
        self.min = min(self.min, float(v.min()))
        self.max = max(self.max, float(v.max()))
        lvl = self.levels[0]
        lvl.buf = np.concatenate([lvl.buf, v])
        self._compress()

    def _compress(self) -> None:
        h = 0
        while h < len(self.levels):
            lvl = self.levels[h]
            if lvl.buf.size >= lvl.capacity:
                self._compact_level(h)
            h += 1

    def _compact_level(self, h: int) -> None:
        lvl = self.levels[h]
        if h + 1 == len(self.levels):
            self.levels.append(_Compactor(self.k))
        buf = np.sort(lvl.buf)
        ss = lvl.section_size
        s = min(_trailing_ones(lvl.counter) + 1, lvl.num_sections)
        # retain the accurate-most (capacity - s*ss) items; compact the rest
        retain = max(lvl.capacity - s * ss, 0)
        m = buf.size - retain
        m -= m & 1  # even region: every-other promotion conserves total weight
        if m < 2:
            lvl.buf = buf
            return
        if self.hra:
            compacted, kept = buf[:m], buf[m:]  # compact LOW end, protect high ranks
        else:
            compacted, kept = buf[buf.size - m :], buf[: buf.size - m]
        offset = lvl.counter & 1  # deterministic alternation (see module doc)
        promoted = compacted[offset::2]
        lvl.buf = kept
        lvl.counter += 1
        if lvl.counter >= (1 << (lvl.num_sections - 1)) and lvl.section_size_raw > _MIN_SECTION:
            lvl.section_size_raw /= math.sqrt(2.0)
            lvl.num_sections *= 2
        nxt = self.levels[h + 1]
        nxt.buf = np.concatenate([nxt.buf, promoted])

    # -- merge ---------------------------------------------------------------
    def merge(self, other: "ReqState") -> None:
        if other.n == 0:
            return
        if other.hra != self.hra:
            raise ValueError("cannot merge HRA and LRA REQ sketches")
        self.n += other.n
        self.min = min(self.min, other.min)
        self.max = max(self.max, other.max)
        while len(self.levels) < len(other.levels):
            self.levels.append(_Compactor(self.k))
        for h, olvl in enumerate(other.levels):
            lvl = self.levels[h]
            lvl.buf = np.concatenate([lvl.buf, olvl.buf])
            # conservative state union: most-compacted wins
            lvl.counter = max(lvl.counter, olvl.counter)
            lvl.num_sections = max(lvl.num_sections, olvl.num_sections)
            lvl.section_size_raw = min(lvl.section_size_raw, olvl.section_size_raw)
        self._compress()

    # -- queries (QuantileQueriesMixin needs this view) ----------------------
    def _sorted_view(self) -> tuple[np.ndarray, np.ndarray]:
        """(sorted float32 items, weights) across all compactors."""
        items = np.concatenate([l.buf for l in self.levels])
        weights = np.concatenate(
            [np.full(l.buf.size, 1 << h, dtype=np.int64) for h, l in enumerate(self.levels)]
        )
        order = np.argsort(items, kind="stable")
        return items[order], weights[order]

    def to_string(self) -> str:
        return (
            "### REQ sketch summary:\n"
            f"   k        : {self.k}\n"
            f"   hra      : {self.hra}\n"
            f"   n        : {self.n}\n"
            f"   levels   : {len(self.levels)}\n"
            f"   retained : {sum(l.buf.size for l in self.levels)}\n"
            f"   min,max  : {self.min},{self.max}\n"
        )

    # -- serialization -------------------------------------------------------
    def serialize(self) -> bytes:
        parts = [
            struct.pack(
                "<BBHQffB",
                _MAGIC,
                int(self.hra),
                self.k,
                self.n,
                np.float32(self.min if self.n else 0.0),
                np.float32(self.max if self.n else 0.0),
                len(self.levels),
            )
        ]
        for lvl in self.levels:
            parts.append(
                struct.pack("<IHfI", lvl.counter, lvl.num_sections, lvl.section_size_raw, lvl.buf.size)
            )
            parts.append(np.ascontiguousarray(lvl.buf, dtype="<f4").tobytes())
        return b"".join(parts)

    @classmethod
    def deserialize(cls, buf: bytes) -> "ReqState":
        magic, hra, k, n, mn, mx, n_levels = struct.unpack_from("<BBHQffB", buf, 0)
        if magic != _MAGIC:
            raise ValueError("not a REQ sketch image")
        st = cls(k, bool(hra))
        st.n = n
        st.min = float(mn) if n else math.inf
        st.max = float(mx) if n else -math.inf
        off = struct.calcsize("<BBHQffB")
        st.levels = []
        for _ in range(n_levels):
            counter, ns, ssr, cnt = struct.unpack_from("<IHfI", buf, off)
            off += struct.calcsize("<IHfI")
            lvl = _Compactor(k)
            lvl.counter, lvl.num_sections, lvl.section_size_raw = counter, ns, ssr
            lvl.buf = np.frombuffer(buf, dtype="<f4", count=cnt, offset=off).copy()
            off += 4 * cnt
            st.levels.append(lvl)
        if not st.levels:
            st.levels = [_Compactor(k)]
        return st


def build(values: np.ndarray, k: int = DEFAULT_K, hra: bool = True) -> bytes:
    st = ReqState(k, hra)
    st.update(values)
    return st.serialize()


def merge(sketches: list[bytes], k: int | None = None, hra: bool = True) -> bytes:
    states = [ReqState.deserialize(s) for s in sketches if s is not None]
    if not states:
        return ReqState(k or DEFAULT_K, hra).serialize()
    acc = ReqState(k if k is not None else min(s.k for s in states), states[0].hra)
    for s in states:
        acc.merge(s)
    return acc.serialize()
