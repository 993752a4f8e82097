"""Frequent-items (heavy hitters) sketch for strings — Misra-Gries /
space-saving hybrid with PER-ITEM error tracking, matching the reference's
frequent_strings surface
(/root/reference/src/frequent_strings_sketch_pg_functions.c,
 /root/reference/sql/datasketches_frequent_strings_sketch.sql):

- build(lg_k, values[, weights])     (sql:65-83; weight default 1 at
  src/frequent_strings_sketch_pg_functions.c:83)
- merge(lg_k, sketches)              (sql:85-93)
- result_no_false_positives / result_no_false_negatives ([threshold]) ->
  rows (str, estimate, lower_bound, upper_bound) sorted by estimate desc
  (sql:103-123; error-policy switch at
  src/frequent_strings_sketch_c_adapter.cpp:164-169)
- to_string                          (sql:95-101)

Error model (the DataSketches family's per-item scheme, tighter than one
global offset): each tracked item stores an UPPER-BOUND counter ``ub`` and
the error ``err`` it inherited when (re-)inserted — the maximum possible
overcount baked into ub. Invariants:

    true_count <= ub                    (ub only grows; re-inserted items
                                         start at weight + offset, which
                                         dominates any dropped history)
    true_count >= ub - err              (overcount is bounded by the offset
                                         at insertion time)

so lower_bound = ub - err, upper_bound = estimate = ub (DataSketches
reports the upper bound as the estimate). A merge adds the other sketch's
offset to ``ub`` and ``err`` of every item only this sketch tracks (its
count in the other stream is at most that offset), the per-item form of
datasketches-java summing the two offsets. Items inserted BEFORE any purge
keep err = 0 — their bounds stay exact even after later purges, which a
single global offset cannot express. ``offset`` is the largest counter
ever evicted (any untracked item's true count is <= offset — the
no-false-negatives guarantee at threshold >= offset).

A sketch decoded from a DataSketches image (as the native unweighted
DataFrame build is) has err = offset for every item: Java's model.

While no purge has occurred the sketch is EXACT with lb == est == ub —
the regime the reference's tests use (test/fi_sketch_test.sql:7-19).

Capacity: 0.75 * 2^lg_k tracked items (DataSketches load factor).

Serialized layout: [u8 magic=0x46][u8 lg_k][u64 offset][u64 total]
[u32 num] then per item [u32 len][utf8 bytes][i64 ub][i64 err]. ``total``
is the total stream weight (DataSketches get_total_weight — needed for the
canonical wire format, sketches.fi_interop).
"""

from __future__ import annotations

import struct

import numpy as np

NO_FALSE_POSITIVES = "NO_FALSE_POSITIVES"
NO_FALSE_NEGATIVES = "NO_FALSE_NEGATIVES"
_MAGIC = 0x46


class FiState:
    __slots__ = ("lg_k", "offset", "total", "items")

    def __init__(self, lg_k: int):
        self.lg_k = int(lg_k)
        self.offset = 0  # max evicted counter: bound on any untracked item
        self.total = 0  # total stream weight seen (survives purges)
        self.items: dict[str, list[int]] = {}  # str -> [ub, err]

    @property
    def cap(self) -> int:
        return max(1, (3 * (1 << self.lg_k)) // 4)

    def update(self, values, weights=None) -> None:
        if weights is None:
            uniq, counts = np.unique(np.asarray(values, dtype=object), return_counts=True)
            agg = zip(uniq.tolist(), counts.tolist())
        else:
            import pandas as pd

            agg = (
                pd.Series(np.asarray(weights, dtype=np.int64), index=values)
                .groupby(level=0)
                .sum()
                .items()
            )
        for s, w in agg:
            if s is None or w == 0:  # a zero weight updates nothing, as in Java
                continue
            self.total += int(w)
            slot = self.items.get(s)
            if slot is None:
                # a dropped item may have had true count up to ``offset``
                self.items[s] = [int(w) + self.offset, self.offset]
            else:
                slot[0] += int(w)
        self._purge_if_needed()

    def _purge_if_needed(self) -> None:
        while len(self.items) > self.cap:
            ubs = np.fromiter((v[0] for v in self.items.values()), dtype=np.int64)
            m = max(int(np.median(ubs)), self.offset + 1)
            if not bool((ubs <= m).any()):
                m = int(ubs.min())  # progress guarantee: evict the minima
            evicted_max = 0
            keep: dict[str, list[int]] = {}
            for s, v in self.items.items():
                if v[0] <= m:
                    evicted_max = max(evicted_max, v[0])
                else:
                    keep[s] = v
            self.items = keep
            self.offset = max(self.offset, evicted_max)

    def merge(self, other: "FiState") -> None:
        if other.offset:
            for s, slot in self.items.items():
                if s not in other.items:
                    # untracked there: its count in other's stream is <= other.offset
                    slot[0] += other.offset
                    slot[1] += other.offset
        for s, (ub, err) in other.items.items():
            slot = self.items.get(s)
            if slot is None:
                # absent here: could have been dropped with up to self.offset
                self.items[s] = [ub + self.offset, err + self.offset]
            else:
                slot[0] += ub
                slot[1] += err
        self.offset += other.offset
        self.total += other.total
        self._purge_if_needed()

    def result(self, policy: str = NO_FALSE_NEGATIVES, threshold: int = 0):
        """Rows (str, estimate, lower_bound, upper_bound) sorted by estimate
        desc (ties: lexicographic for determinism)."""
        rows = []
        for s, (ub, err) in self.items.items():
            lb = max(ub - err, 0)
            keep = (lb > threshold) if policy == NO_FALSE_POSITIVES else (ub > threshold)
            if keep:
                rows.append((s, ub, lb, ub))
        rows.sort(key=lambda t: (-t[1], t[0]))
        return rows

    def to_string(self, print_items: bool = False) -> str:
        out = (
            "### Frequent strings sketch summary:\n"
            f"   lg_k   : {self.lg_k}\n"
            f"   items  : {len(self.items)}\n"
            f"   offset : {self.offset}\n"
        )
        if print_items:
            for s, e, lb, ub in self.result(NO_FALSE_NEGATIVES, 0):
                out += f"   {s}: est={e} lb={lb} ub={ub}\n"
        return out

    def serialize(self) -> bytes:
        parts = [
            struct.pack("<BBQQI", _MAGIC, self.lg_k, self.offset, self.total, len(self.items))
        ]
        for s, (ub, err) in self.items.items():
            b = s.encode("utf-8")
            parts.append(struct.pack("<I", len(b)) + b + struct.pack("<qq", ub, err))
        return b"".join(parts)

    @classmethod
    def deserialize(cls, buf: bytes) -> "FiState":
        magic, lg_k, offset, total, num = struct.unpack_from("<BBQQI", buf, 0)
        if magic != _MAGIC:
            raise ValueError("not a frequent-strings sketch image")
        st = cls(lg_k)
        st.offset = offset
        st.total = total
        pos = struct.calcsize("<BBQQI")
        for _ in range(num):
            (ln,) = struct.unpack_from("<I", buf, pos)
            pos += 4
            s = buf[pos : pos + ln].decode("utf-8")
            pos += ln
            ub, err = struct.unpack_from("<qq", buf, pos)
            pos += 16
            st.items[s] = [ub, err]
        return st


def build(lg_k: int, values, weights=None) -> bytes:
    st = FiState(lg_k)
    st.update(values, weights)
    return st.serialize()


def merge(lg_k: int, sketches: list[bytes]) -> bytes:
    acc = FiState(lg_k)
    for s in sketches:
        if s is not None:
            acc.merge(FiState.deserialize(s))
    return acc.serialize()
