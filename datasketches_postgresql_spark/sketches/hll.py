"""HLL register-level kernel (register building + classic estimator).

Wire formats live in sketches.hll_interop, which emits the canonical
DataSketches HLL image for every tgt_type (the reference's storage format,
src/hll_sketch_c_adapter.cpp:38-48) — the round-2 private packed image is
gone. This module keeps the hash-space-agnostic register math that
hll_interop uses:

- _bit_length_u64: vectorized bit length, for register ranks;
- estimate_from_registers: bias-corrected harmonic mean (alpha_m m^2 /
  sum 2^-reg) with the linear-counting small-range correction,
  RSE ~= 1.04/sqrt(k).

Registers themselves come from hll_interop.registers_murmur (the
ecosystem's coupon mapping), so images merge exactly with
datasketches-{java,cpp,py} sketches over the same keys.
"""

from __future__ import annotations

import numpy as np

DEFAULT_LG_K = 12


def _bit_length_u64(w: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (0 -> 0), from the float64 exponent:
    ``w >> 11`` has at most 53 bits, so its float64 is exact and the
    exponent field is its bit length + 1022. Values below 2^11 (rare for a
    hash) take the same route on ``w`` itself."""
    w = np.asarray(w, dtype=np.uint64)
    top = (w >> np.uint64(11)).astype(np.float64)
    out = (top.view(np.uint64) >> np.uint64(52)).astype(np.int32) - np.int32(1022 - 11)
    small = np.flatnonzero(w < np.uint64(1 << 11))
    if small.size:
        low = w[small].astype(np.float64)
        out[small] = np.where(low > 0, (low.view(np.uint64) >> np.uint64(52)).astype(np.int32) - 1022, 0)
    return out


def estimate_from_registers(regs: np.ndarray) -> float:
    m = regs.size
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = alpha * m * m / float(np.sum(np.ldexp(1.0, -regs.astype(np.int64))))
    zeros = int(np.count_nonzero(regs == 0))
    if raw <= 2.5 * m and zeros > 0:
        return m * np.log(m / zeros)  # linear counting
    return float(raw)
