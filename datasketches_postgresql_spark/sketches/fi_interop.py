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

The decoder checks every count against the image's exact length (a bad
image raises ValueError). Spark's ``approx_top_k_accumulate`` appends a
NULL count to the image; ``from_top_k_accumulate`` strips it.
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
_HEAD = struct.Struct("<BBBBBBH")
_COUNTS = struct.Struct("<IIQQ")
_BODY = _HEAD.size + _COUNTS.size


def _lg_cur_map_size(num_active: int) -> int:
    lg = _LG_MIN_MAP_SIZE
    while num_active > int(_LOAD_FACTOR * (1 << lg)):
        lg += 1
    return lg


def serialize(sketch: bytes) -> bytes:
    """Internal FI state -> canonical DataSketches frequent-strings image."""
    st = _fi.FiState.deserialize(sketch)
    if not st.items and st.total == 0:
        return _HEAD.pack(
            _PRE_EMPTY, _SERIAL_VERSION, FAMILY_FI,
            st.lg_k, _LG_MIN_MAP_SIZE, _F_EMPTY, 0,
        )
    # one offset bounding every item's error keeps Java's lower bound valid
    offset = max([st.offset, *(err for _ub, err in st.items.values())])
    # Java's counter is the lower bound ub - offset (deterministic order)
    rows = sorted((s, ub - offset) for s, (ub, _e) in st.items.items() if ub > offset)
    head = _HEAD.pack(
        _PRE_FULL, _SERIAL_VERSION, FAMILY_FI,
        st.lg_k, _lg_cur_map_size(len(rows)), 0, 0,
    )
    mid = _COUNTS.pack(len(rows), 0, st.total, offset)
    weights = np.array([c for _, c in rows], dtype="<u8").tobytes()
    items = b"".join(
        struct.pack("<I", len(b)) + b for b in (s.encode("utf-8") for s, _ in rows)
    )
    return head + mid + weights + items


def deserialize(image: bytes) -> bytes:
    """Canonical DataSketches frequent-strings image -> internal state. The
    image must be exactly its own length: truncation, trailing bytes, an
    oversized num_active or bad UTF-8 raise ValueError before anything
    larger than the image is allocated."""
    size = len(image)
    if size < _HEAD.size:
        raise ValueError(f"frequent-items image truncated: {size} bytes")
    pre, ser, fam, lg_max, _lg_cur, flags, _ = _HEAD.unpack_from(image, 0)
    if fam != FAMILY_FI:
        raise ValueError(f"not a frequent-items image (family {fam}, expected {FAMILY_FI})")
    if ser != _SERIAL_VERSION:
        raise ValueError(f"unsupported frequent-items serial version {ser}")
    st = _fi.FiState(lg_max)
    if flags & _F_EMPTY:
        if (pre, size) != (_PRE_EMPTY, _HEAD.size):
            raise ValueError("malformed empty frequent-items image")
        return st.serialize()
    if pre != _PRE_FULL or size < _BODY:
        raise ValueError(f"malformed frequent-items image: preamble {pre}, {size} bytes")
    num, _, total, offset = _COUNTS.unpack_from(image, _HEAD.size)
    if num > (size - _BODY) // 12:  # each item takes a u64 weight and a u32 length
        raise ValueError(f"frequent-items image of {size} bytes cannot hold {num} items")
    weights = np.frombuffer(image, dtype="<u8", count=num, offset=_BODY).tolist()
    if max(weights, default=0) + offset >= 1 << 63 or total >= 1 << 63:
        raise ValueError("frequent-items counters overflow a signed 64-bit count")
    pos = _BODY + 8 * num
    st.total, st.offset = total, offset
    for w in weights:
        if pos + 4 > size:
            raise ValueError("frequent-items image truncated")
        (ln,) = struct.unpack_from("<I", image, pos)
        pos += 4
        if pos + ln > size:
            raise ValueError("frequent-items image truncated")
        # a UnicodeDecodeError is a ValueError
        st.items[bytes(image[pos: pos + ln]).decode("utf-8")] = [w + offset, offset]
        pos += ln
    if pos != size:
        raise ValueError(f"frequent-items image has {size - pos} trailing bytes")
    return st.serialize()


def from_top_k_accumulate(sketch: bytes) -> bytes:
    """The ``sketch`` field of Spark's ``approx_top_k_accumulate`` struct ->
    internal state. The field is a family-10 image followed by 8 more bytes,
    a big-endian count of NULL inputs; the strict decoder checks that the
    image ends exactly where that suffix begins."""
    if len(sketch) < _HEAD.size + 8:
        raise ValueError(f"top-k accumulator of {len(sketch)} bytes has no NULL-count suffix")
    return deserialize(sketch[:-8])
