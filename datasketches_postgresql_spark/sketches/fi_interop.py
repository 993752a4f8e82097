"""Canonical Apache DataSketches frequent-items (strings) wire format.

The reference's `frequent_strings_sketch` type is a bytea holding exactly
what datasketches-cpp `frequent_items_sketch<std::string>::serialize()`
emits (built at /root/reference/src/frequent_strings_sketch_c_adapter.cpp,
cast in/out at /root/reference/sql/datasketches_frequent_strings_sketch.sql:31-42),
so images interop with Druid/Hive/datasketches-{java,cpp,py}. These adapters
give the Spark engine's FI family the same property.

Publicly documented layout (datasketches-cpp frequent_items_sketch_impl.hpp
/ java PreambleUtil), little-endian:

  Empty (8 bytes):
    [u8 preamble_longs=1][u8 serial_version=1][u8 family=10]
    [u8 lg_max_map_size][u8 lg_cur_map_size][u8 flags=EMPTY][u16 unused]
  Non-empty (preamble_longs=4):
    [... flags=0 ...]
    [u32 num_active][u32 unused]
    [u64 total_weight][u64 offset]
    [u64 weights[num_active]]
    [items: per string, u32 utf8-length + bytes]

Semantics mapping (documented, not silent): datasketches-java stores for
each item a counter ``c`` that is the item's LOWER bound; its estimate and
upper bound are ``c + offset``, and an item not in the map is bounded by
``[0, offset]``. The internal state keeps ``[ub, err]`` per item (lower
bound ``ub - err``), a per-item error the wire format cannot carry.

- Import maps each counter ``c`` to ``[c + offset, offset]``: Java's bounds
  exactly.
- Export writes the global offset ``O = max(evicted counter, per-item
  errors)`` and each item's counter ``ub - O``. Java's upper bound is then
  ``ub`` and its lower bound ``ub - O <= ub - err`` stays valid, merely
  looser. An item whose counter would be ``<= 0`` is left out: its
  ``ub <= O``, so Java's absent-item bounds ``[0, O]`` still bracket it.

So a round trip keeps every exported item's ``ub`` and widens its error to
``O``.
"""

from __future__ import annotations

import struct

import numpy as np

from . import fi as _fi

FAMILY_FI = 10
_SERIAL_VERSION = 1
_PRE_EMPTY, _PRE_FULL = 1, 4
_F_EMPTY = 1
_LG_MIN_MAP_SIZE = 3
_LOAD_FACTOR = 0.75


def _lg_cur_map_size(num_active: int) -> int:
    lg = _LG_MIN_MAP_SIZE
    while num_active > int(_LOAD_FACTOR * (1 << lg)):
        lg += 1
    return lg


def serialize(sketch: bytes) -> bytes:
    """Internal FI state -> canonical DataSketches frequent-strings image."""
    st = _fi.FiState.deserialize(sketch)
    if not st.items and st.total == 0:
        return struct.pack(
            "<BBBBBBH", _PRE_EMPTY, _SERIAL_VERSION, FAMILY_FI,
            st.lg_k, _LG_MIN_MAP_SIZE, _F_EMPTY, 0,
        )
    # one offset bounding every item's error keeps Java's lower bound valid
    offset = max([st.offset, *(err for _ub, err in st.items.values())])
    # Java's counter is the lower bound ub - offset (deterministic order)
    rows = sorted((s, ub - offset) for s, (ub, _e) in st.items.items() if ub > offset)
    head = struct.pack(
        "<BBBBBBH", _PRE_FULL, _SERIAL_VERSION, FAMILY_FI,
        st.lg_k, _lg_cur_map_size(len(rows)), 0, 0,
    )
    mid = struct.pack("<IIQQ", len(rows), 0, st.total, offset)
    weights = np.array([c for _, c in rows], dtype="<u8").tobytes()
    items = b"".join(
        struct.pack("<I", len(b)) + b for b in (s.encode("utf-8") for s, _ in rows)
    )
    return head + mid + weights + items


def deserialize(image: bytes) -> bytes:
    """Canonical DataSketches frequent-strings image -> internal state."""
    if len(image) < 8:
        raise ValueError("frequent-strings image too short")
    pre, ser, fam, lg_max, _lg_cur, flags, _ = struct.unpack_from("<BBBBBBH", image, 0)
    if fam != FAMILY_FI:
        raise ValueError(f"not a frequent-items image (family {fam}, expected {FAMILY_FI})")
    if ser != _SERIAL_VERSION:
        raise ValueError(f"unsupported frequent-items serial version {ser}")
    st = _fi.FiState(lg_max)
    if flags & _F_EMPTY or pre == _PRE_EMPTY:
        return st.serialize()
    num, _, total, offset = struct.unpack_from("<IIQQ", image, 8)
    weights = np.frombuffer(image, dtype="<u8", count=num, offset=32)
    pos = 32 + 8 * num
    st.total, st.offset = int(total), int(offset)
    for i in range(num):
        (ln,) = struct.unpack_from("<I", image, pos)
        pos += 4
        s = image[pos: pos + ln].decode("utf-8")
        pos += ln
        st.items[s] = [int(weights[i]) + st.offset, st.offset]
    return st.serialize()
