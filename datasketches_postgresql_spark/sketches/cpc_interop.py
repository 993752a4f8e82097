"""Apache DataSketches CPC canonical (compressed) wire-format interop.

The reference stores CPC sketches as the standard compressed image
(/root/reference/src/cpc_sketch_c_adapter.cpp serializes via the core
library; stored per /root/reference/sql/datasketches_cpc_sketch.sql) —
readable by datasketches-{java,cpp,py} and Druid. Round 2 documented this
format as out of reach ("no library to validate against"); round 3 found
datasketches-java 6.2.0 inside Spark's own jars, which supplies both the
spec constants (tools/gen_cpc_tables.py -> cpc_tables.npz) and live
ground truth (tests/test_jvm_groundtruth.py), so the divergence is now
closed: this module emits and reads the canonical image.

Format (little-endian; Lang 2017 + the public datasketches-* sources):

  Header (8 bytes, all formats):
    byte 0: preamble ints   byte 1: serial version (1)
    byte 2: family (16=CPC) byte 3: lgK
    byte 4: fiCol           byte 5: flags
    bytes 6-7: seed hash (murmur3 of the update seed, theta-style)
  flags: bit0 bigEndian, bit1 compressed, bits 2-4 = format ordinal:
    (hasHip | hasSv<<1 | hasWindow<<2). This engine's sketches are
  OR-merged coupon matrices with no HIP state, so the writer emits the
  MERGED formats (exactly what a CpcUnion result serializes to); the
  reader accepts all eight.

  Per-format preamble fields (int offsets from the reflection-extracted
  PreambleUtil tables, validated byte-for-byte against the library):
    SPARSE_HYBRID_MERGED (2, preInts 4):  numCoupons@8 svLen@12 sv@16
    SPARSE_HYBRID_HIP    (3, preInts 8):  + kxp@16 hipAccum@24, sv@32
    PINNED_SLIDING_MERGED_NOSV (4, 4):    numCoupons@8 wLen@12 w@16
    PINNED_SLIDING_HIP_NOSV    (5, 8):    + kxp/hip, w@32
    PINNED_SLIDING_MERGED      (6, 6):    numCoupons@8 numSv@12 svLen@16
                                          wLen@20, w@24, sv after w
    PINNED_SLIDING_HIP         (7, 10):   + kxp@16 hip@24, svLen@32
                                          wLen@36, w@40, sv after w

  Sketch model: k x 64 coupon bit matrix. flavor by c=numCoupons:
  EMPTY; SPARSE (32c<3k); HYBRID (2c<k); PINNED (8c<27k); SLIDING.
  offset = max(0, (8c - 19k) >> (lgK+3)). window byte i = matrix bits
  [offset, offset+8); the "surprising values" pair list is the XOR of the
  remaining bits against the all-ones default below offset (pairs toggle:
  they encode surprising HIGH ones and surprising LOW zeros). SPARSE /
  HYBRID serialize every coupon as a pair (window folded in, offset 0).

  Entropy coding (LSB-first bits flushed into u32 words):
  - pairs: per pair (sorted ascending), column delta vs the previous pair
    in the same row via the 65-entry length-limited code; row delta via
    Golomb (plain-unary high part, b raw low bits),
    b = floor(log2((k) / numPairs)) via golombChooseNumberOfBaseBits
    (k+numPairs, numPairs); stream tail-padded with max(0, 10-b) zero
    bits. PINNED pairs store col-8; SLIDING pairs store
    colPerm[(col + 56 - offset) & 63].
  - window: per byte, the 12-bit-max length-limited code from the
    22-table set selected by pseudoPhase(lgK, c); tail-padded 11 bits.
"""

from __future__ import annotations

import struct

import numpy as np

from . import cpc as _c
from .murmur3 import DEFAULT_SEED, compute_seed_hash

FAMILY_CPC = 16
_SER_VER = 1

_TABLES = None


def _tables():
    global _TABLES
    if _TABLES is None:
        import io
        from importlib import resources

        # importlib.resources (not __file__+open): this loads PER EXECUTOR
        # inside the UDFs, and on a cluster the package arrives as the
        # --py-files zip
        data = resources.files(__package__).joinpath("cpc_tables.npz").read_bytes()
        _TABLES = dict(np.load(io.BytesIO(data)).items())
    return _TABLES


# -- spec arithmetic (mirrors CpcUtil / CpcCompression) -----------------------


def determine_flavor(lg_k: int, c: int) -> str:
    k = 1 << lg_k
    if c == 0:
        return "empty"
    if (c << 5) < 3 * k:
        return "sparse"
    if (c << 1) < k:
        return "hybrid"
    if (c << 3) < 27 * k:
        return "pinned"
    return "sliding"


def determine_correct_offset(lg_k: int, c: int) -> int:
    tmp = (c << 3) - 19 * (1 << lg_k)
    return 0 if tmp < 0 else tmp >> (lg_k + 3)


def determine_pseudo_phase(lg_k: int, c: int) -> int:
    k = 1 << lg_k
    if 1000 * c < 2375 * k:
        if 4 * c < 3 * k:
            return 16
        if 10 * c < 11 * k:
            return 17
        if 100 * c < 132 * k:
            return 18
        if 3 * c < 5 * k:
            return 19
        if 1000 * c < 1965 * k:
            return 20
        if 1000 * c < 2275 * k:
            return 21
        return 6
    return (c >> (lg_k - 4)) & 15


def golomb_base_bits(k_plus_count: int, count: int) -> int:
    q = (k_plus_count - count) // count
    return 0 if q == 0 else q.bit_length() - 1


# -- LSB-first bit streams over u32 words -------------------------------------


class _BitWriter:
    __slots__ = ("words", "buf", "nbits")

    def __init__(self):
        self.words: list[int] = []
        self.buf = 0
        self.nbits = 0

    def put(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.buf |= (value & ((1 << nbits) - 1)) << self.nbits
        self.nbits += nbits
        while self.nbits >= 32:
            self.words.append(self.buf & 0xFFFFFFFF)
            self.buf >>= 32
            self.nbits -= 32

    def put_unary(self, value: int) -> None:
        # value zeros then a 1 bit
        while value >= 32:
            self.put(0, 32)
            value -= 32
        self.put(1 << value, value + 1)

    def finish(self, pad_bits: int) -> np.ndarray:
        self.put(0, pad_bits)
        if self.nbits > 0:
            self.words.append(self.buf & 0xFFFFFFFF)
            self.buf = 0
            self.nbits = 0
        return np.array(self.words, dtype="<u4")


# -- pair and window codecs ----------------------------------------------------
# (reads past the encoded tail see zero bits — the writer's padding
# guarantees real symbols never need them)


def _scatter_bits(offsets: np.ndarray, values: np.ndarray, total_bits: int) -> np.ndarray:
    """OR each value (<= 30 bits) into an LSB-first bitstream at its bit
    offset; returns the u32 word array. One pair of OR-scatters — a value
    at offset o lands in 32-bit words o>>5 and (o>>5)+1."""
    n_words = (total_bits + 31) >> 5
    acc = np.zeros(n_words + 1, dtype=np.uint64)
    word = (offsets >> 5).astype(np.int64)
    shift = (offsets & 31).astype(np.uint64)
    contrib = values.astype(np.uint64) << shift
    np.bitwise_or.at(acc, word, contrib & np.uint64(0xFFFFFFFF))
    np.bitwise_or.at(acc, word + 1, contrib >> np.uint64(32))
    return acc[:n_words].astype("<u4")


def _compress_pairs(pairs: np.ndarray, base_bits: int) -> np.ndarray:
    """Vectorized pair encoder: deltas, code lookups, bit offsets (cumsum)
    and two OR-scatters — no per-pair Python. Unary high parts are a
    single 1-bit at a computed offset (runs of zeros are implicit)."""
    if pairs.size == 0:
        return _BitWriter().finish(max(0, 10 - base_bits))
    enc65 = _tables()["llu_encoding_65"]
    rc = pairs.astype(np.int64)
    rows, cols = rc >> 6, rc & 63
    y_delta = np.empty_like(rows)
    y_delta[0] = rows[0]
    y_delta[1:] = rows[1:] - rows[:-1]
    pred_col = np.empty_like(cols)
    pred_col[0] = 0
    pred_col[1:] = np.where(y_delta[1:] == 0, cols[:-1] + 1, 0)
    x_delta = cols - pred_col
    codes = enc65[x_delta].astype(np.int64)
    code_len, code_val = codes >> 12, codes & 0xFFF
    hi = y_delta >> base_bits
    lo = (y_delta & ((1 << base_bits) - 1)).astype(np.int64)
    # per-pair layout: [code][hi zeros][1][lo bits]
    pair_bits = code_len + hi + 1 + base_bits
    starts = np.zeros(len(rc), dtype=np.int64)
    np.cumsum(pair_bits[:-1], out=starts[1:])
    total = int(starts[-1] + pair_bits[-1])
    # merge the unary terminator into the lo field: bit 0 of (1 | lo<<1)
    offs = np.concatenate([starts, starts + code_len + hi])
    vals = np.concatenate([code_val, 1 | (lo << 1)])
    return _scatter_bits(offs, vals, total + max(0, 10 - base_bits))


# decode-side speed: prefix-code decoding is inherently sequential (each
# symbol's offset depends on every previous length), so instead of
# vectorizing we make the per-symbol step cheap — ONE list index into a
# 40-bit little-endian byte window (built vectorized below) plus shifts,
# with the decode tables cached as plain Python lists (list indexing is
# ~10x numpy scalar indexing). ~3-8x over the former per-bit reader loop.
_list_tables: dict[str, list] = {}


def _winlist(words: np.ndarray) -> list[int]:
    """w[j] = 40 bits of the stream starting at byte j (LSB-first), so any
    <=33-bit field at bit offset o reads as (w[o>>3] >> (o&7)) & mask."""
    b = np.frombuffer(words.astype("<u4").tobytes(), dtype=np.uint8).astype(np.int64)
    b = np.concatenate([b, np.zeros(5, np.int64)])
    w = (
        b[:-4]
        | (b[1:-3] << 8)
        | (b[2:-2] << 16)
        | (b[3:-1] << 24)
        | (b[4:] << 32)
    )
    return w.tolist()


def _dec_list(name: str, pseudo_phase: int | None = None) -> list[int]:
    key = name if pseudo_phase is None else f"{name}:{pseudo_phase}"
    t = _list_tables.get(key)
    if t is None:
        arr = _tables()[name]
        t = (arr if pseudo_phase is None else arr[pseudo_phase]).tolist()
        _list_tables[key] = t
    return t


def _uncompress_pairs(words: np.ndarray, num_pairs: int, base_bits: int) -> np.ndarray:
    dec65 = _dec_list("llu_decoding_65")
    w = _winlist(words)
    lo_mask = (1 << base_bits) - 1
    out = np.empty(num_pairs, dtype=np.uint32)
    pred_row, pred_col, pos = 0, 0, 0
    try:
        for i in range(num_pairs):
            e = dec65[(w[pos >> 3] >> (pos & 7)) & 0xFFF]
            pos += e >> 8
            x_delta = e & 0xFF
            # unary high part: scan for the terminating 1-bit, 32 bits a stride
            hi = 0
            while True:
                chunk = (w[pos >> 3] >> (pos & 7)) & 0xFFFFFFFF
                if chunk:
                    z = (chunk & -chunk).bit_length() - 1
                    hi += z
                    pos += z + 1
                    break
                hi += 32
                pos += 32
                if hi > 1 << 20:
                    raise ValueError("corrupt CPC stream: unbounded unary run")
            lo = (w[pos >> 3] >> (pos & 7)) & lo_mask
            pos += base_bits
            y_delta = (hi << base_bits) | lo
            row = pred_row + y_delta
            if y_delta:
                pred_col = 0
            col = pred_col + x_delta
            out[i] = (row << 6) | col
            pred_row, pred_col = row, col + 1
    except IndexError:
        # a truncated/corrupt stream walks the window index off the end —
        # surface the documented controlled error, not a bare IndexError
        raise ValueError("corrupt CPC stream: truncated pairs section") from None
    return out


def _compress_window(window: np.ndarray, pseudo_phase: int) -> np.ndarray:
    """Vectorized window encoder: one table gather + cumsum offsets + the
    two OR-scatters (k symbols, zero per-byte Python)."""
    enc = _tables()["encoding_high"][pseudo_phase]
    codes = enc[window.astype(np.int64)].astype(np.int64)
    lens, vals = codes >> 12, codes & 0xFFF
    starts = np.zeros(len(codes), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    total = int(starts[-1] + lens[-1]) if len(codes) else 0
    return _scatter_bits(starts, vals, total + 11)


def _uncompress_window(words: np.ndarray, k: int, pseudo_phase: int) -> np.ndarray:
    dec = _dec_list("decoding_high", pseudo_phase)
    w = _winlist(words)
    out = bytearray(k)
    pos = 0
    try:
        for i in range(k):
            e = dec[(w[pos >> 3] >> (pos & 7)) & 0xFFF]
            pos += e >> 8
            out[i] = e & 0xFF
    except IndexError:
        raise ValueError("corrupt CPC stream: truncated window section") from None
    return np.frombuffer(bytes(out), dtype=np.uint8)


# -- matrix <-> serialized state -----------------------------------------------


def _matrix_to_pattern(matrix: np.ndarray, offset: int):
    """(window bytes, xor-pattern rows): the canonical split at offset."""
    window = ((matrix >> np.uint64(offset)) & np.uint64(0xFF)).astype(np.uint8)
    masked_out = np.uint64((~(0xFF << offset)) & 0xFFFFFFFFFFFFFFFF)
    default = np.uint64((1 << offset) - 1)
    pattern = (matrix & masked_out) ^ default
    return window, pattern


def serialize_canonical(sketch: bytes, seed: int = DEFAULT_SEED) -> bytes:
    """Working CPC image -> canonical compressed DataSketches CPC image
    (a MERGED-format image: the engine's matrices are OR-merged partials
    with no HIP state — the same thing a CpcUnion result serializes to)."""
    lg_k, matrix = _c.deserialize(sketch)
    k = 1 << lg_k
    c = _c.popcount64(matrix)
    seed_hash = compute_seed_hash(seed)
    flavor = determine_flavor(lg_k, c)
    if flavor == "empty":
        flags = 2 | (0 << 2)
        return struct.pack("<BBBBBBH", 2, _SER_VER, FAMILY_CPC, lg_k, 0, flags, seed_hash)
    if flavor in ("sparse", "hybrid"):
        pairs = _c.coupons_from_dense(matrix)  # offset 0: pattern == matrix
        bb = golomb_base_bits(k + c, c)
        sv = _compress_pairs(pairs, bb)
        flags = 2 | (2 << 2)  # SPARSE_HYBRID_MERGED
        head = struct.pack(
            "<BBBBBBH", 4, _SER_VER, FAMILY_CPC, lg_k, 0, flags, seed_hash
        ) + struct.pack("<II", c, len(sv))
        return head + sv.tobytes()
    offset = determine_correct_offset(lg_k, c)
    window, pattern = _matrix_to_pattern(matrix, offset)
    pairs = _c.coupons_from_dense(pattern)
    or_all = int(np.bitwise_or.reduce(pattern)) if pattern.size else 0
    tz = (or_all & -or_all).bit_length() - 1 if or_all else 64
    fi_col = min(tz, offset)
    cw = _compress_window(window, determine_pseudo_phase(lg_k, c))
    if pairs.size == 0:
        flags = 2 | (4 << 2)  # PINNED_SLIDING_MERGED_NOSV
        head = struct.pack(
            "<BBBBBBH", 4, _SER_VER, FAMILY_CPC, lg_k, fi_col, flags, seed_hash
        ) + struct.pack("<II", c, len(cw))
        return head + cw.tobytes()
    enc_pairs = pairs.copy()
    if flavor == "pinned":
        enc_pairs = np.sort(enc_pairs - np.uint32(8))  # cols >= 8 guaranteed
    else:  # sliding: permute columns into [0, 56)
        perm = _tables()["col_perm_encoding"][determine_pseudo_phase(lg_k, c)]
        rows = enc_pairs >> np.uint32(6)
        cols = (enc_pairs & np.uint32(63)).astype(np.int64)
        cols = perm[(cols + 56 - offset) & 63].astype(np.uint32)
        enc_pairs = np.sort((rows << np.uint32(6)) | cols)
    bb = golomb_base_bits(k + pairs.size, pairs.size)
    sv = _compress_pairs(enc_pairs, bb)
    flags = 2 | (6 << 2)  # PINNED_SLIDING_MERGED
    head = struct.pack(
        "<BBBBBBH", 6, _SER_VER, FAMILY_CPC, lg_k, fi_col, flags, seed_hash
    ) + struct.pack("<IIII", c, int(pairs.size), len(sv), len(cw))
    return head + cw.tobytes() + sv.tobytes()


def deserialize_canonical(image: bytes, seed: int = DEFAULT_SEED) -> bytes:
    """Canonical DataSketches CPC image (any of the 8 formats, HIP or
    merged) -> internal sketch bytes usable with every cpc_* function.
    HIP registers, if present, are ignored — the engine estimates with
    ICON/MLE from the matrix, as any merged-sketch reader must."""
    if len(image) < 8:
        raise ValueError("truncated CPC image")
    pre_ints, ser, fam, lg_k, fi_col, flags, seed_hash = struct.unpack_from(
        "<BBBBBBH", image, 0
    )
    if ser != _SER_VER:
        raise ValueError(f"unsupported CPC serial version {ser} (expected 1)")
    if fam != FAMILY_CPC:
        raise ValueError(f"not a CPC image (family {fam}, expected 16)")
    ordinal = (flags >> 2) & 7
    if not _c.MIN_LG_K <= lg_k <= _c.MAX_LG_K:
        raise ValueError(f"CPC image with lg_k {lg_k} outside [{_c.MIN_LG_K}, {_c.MAX_LG_K}]")
    if ordinal == 0 or ordinal == 1:  # EMPTY
        return _c.serialize(lg_k, np.empty(0, dtype=np.uint32), None)
    if seed_hash != compute_seed_hash(seed):
        raise ValueError("seed hash mismatch: image built with a different update seed")
    k = 1 << lg_k
    has_hip = bool(ordinal & 1)
    has_window = bool(ordinal & 4)
    # everything past the validated preamble is section parsing: a
    # truncated/corrupt payload fails the documented way (struct reads
    # past the buffer and np.frombuffer short counts both raise their own
    # ValueErrors; the decoders raise IndexError via the window list)
    try:
        (c,) = struct.unpack_from("<I", image, 8)
        if c > 64 * k:
            raise ValueError(f"corrupt CPC stream: {c} coupons in a {k}-row matrix")
        if not has_window:  # SPARSE_HYBRID
            (sv_len,) = struct.unpack_from("<I", image, 12)
            sv_off = 32 if has_hip else 16
            sv = np.frombuffer(image, dtype="<u4", count=sv_len, offset=sv_off)
            pairs = _uncompress_pairs(sv, c, golomb_base_bits(k + c, c))
            # keep the SPARSE internal form: the decoded pairs ARE the kernel's
            # sorted-unique coupon array (a dense matrix is 8*2^lgK bytes per
            # sketch — 512 MB at the format's max lgK 26, where the coupon list
            # is a few KB)
            return _c.pack(lg_k, coupons=pairs)
        offset = determine_correct_offset(lg_k, c)
        has_sv = bool(ordinal & 2)
        if not has_sv:  # NOSV
            (w_len,) = struct.unpack_from("<I", image, 12)
            w_off = 32 if has_hip else 16
            num_sv, sv = 0, None
        else:
            (num_sv,) = struct.unpack_from("<I", image, 12)
            if num_sv > 64 * k:
                raise ValueError(f"corrupt CPC stream: {num_sv} pairs in a {k}-row matrix")
            if has_hip:
                sv_len, w_len = struct.unpack_from("<II", image, 32)
                w_off = 40
            else:
                sv_len, w_len = struct.unpack_from("<II", image, 16)
                w_off = 24
            sv = np.frombuffer(image, dtype="<u4", count=sv_len, offset=w_off + 4 * w_len)
        cw = np.frombuffer(image, dtype="<u4", count=w_len, offset=w_off)
        window = _uncompress_window(cw, k, determine_pseudo_phase(lg_k, c))
        matrix = (
            np.full(k, (1 << offset) - 1, dtype=np.uint64)
            | (window.astype(np.uint64) << np.uint64(offset))
        )
        if num_sv:
            enc_pairs = _uncompress_pairs(sv, num_sv, golomb_base_bits(k + num_sv, num_sv))
            rows = (enc_pairs >> np.uint32(6)).astype(np.int64)
            cols = (enc_pairs & np.uint32(63)).astype(np.int64)
            if determine_flavor(lg_k, c) == "pinned":
                cols = cols + 8
            else:
                perm_dec = _tables()["col_perm_decoding"][determine_pseudo_phase(lg_k, c)]
                cols = (perm_dec[cols].astype(np.int64) + offset + 8) & 63
            np.bitwise_xor.at(matrix, rows, np.uint64(1) << cols.astype(np.uint64))
        return _c.pack(lg_k, dense=matrix)
    except ValueError as e:
        if "corrupt CPC stream" in str(e):
            raise
        raise ValueError(f"corrupt CPC stream: {e}") from None
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt CPC stream: {e}") from None


# every working image is in the DataSketches coupon space, so the kernel
# build is the ecosystem build
build_murmur = _c.build
