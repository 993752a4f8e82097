"""MinHash signatures + SimHash fingerprints, vectorized across whole Arrow
batches (north_rule: "vectorized MinHash signatures (k permutations over
character n-gram shingles via pandas/Arrow UDFs)").

MinHash is one-permutation hashing (OPH) with rotation densification —
O(total shingles) work per batch regardless of signature width.

SimHash: 64-bit sign hash over the same shingle set; per-bit majority via
64 in-place bit-column passes (allocation-light for worker concurrency).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .shingle import DEFAULT_SHINGLE_N, shingle_hash_batch, splitmix64

DEFAULT_NUM_PERM = 128
_BLOCK_SHINGLES = 1 << 16  # cache-block unit for the OPH/SimHash inner loops
_U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def minhash_signatures(
    shingles: list[np.ndarray], num_perm: int = DEFAULT_NUM_PERM, seed: int = 7
) -> np.ndarray:
    """(n_docs, num_perm) uint64 signature matrix via ONE-PERMUTATION HASHING
    with rotation densification (Li/Owen/Zhang OPH + Shrivastava-Li
    densified variant): each shingle is binned by its top bits and the
    per-bin minimum of a remixed value is kept — O(M) total work instead of
    the classic O(num_perm x M), which is what makes 100 TB signatures
    affordable. Empty bins borrow circularly from the nearest filled bin to
    the right; signature equality for identical shingle sets remains exact,
    and E[mean(sig_a == sig_b)] ~= Jaccard as for classic MinHash.

    Requires num_perm to be a power of two. Empty docs -> u64 max."""
    assert num_perm & (num_perm - 1) == 0, "num_perm must be a power of two"
    n_docs = len(shingles)
    sig = np.full((n_docs, num_perm), _U64_MAX, dtype=np.uint64)
    if n_docs == 0:
        return sig
    lens = np.array([s.size for s in shingles], dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return sig
    bin_shift = np.uint64(64 - int(np.log2(num_perm)))
    salt = np.uint64((0x9E3779B97F4A7C15 * (seed * 2 + 1)) & 0xFFFFFFFFFFFFFFFF)
    flat = sig.reshape(-1)
    # CACHE-BLOCKED over ~_BLOCK_SHINGLES-shingle doc groups: remix, bin and
    # segmented-min while the block is L2/L3-resident (monolithic streaming
    # passes are memory-bandwidth-bound and kill parallel scaling; same
    # rationale as shingle_hash_batch). Identical output to a single pass:
    # doc slots are disjoint across blocks.
    b0 = 0
    while b0 < n_docs:
        b1 = b0 + 1
        m = int(lens[b0])
        while b1 < n_docs and m + lens[b1] <= _BLOCK_SHINGLES:
            m += int(lens[b1])
            b1 += 1
        parts = [shingles[i] for i in range(b0, b1) if lens[i]]
        if parts:
            concat = np.concatenate(parts)
            concat ^= salt
            vals = splitmix64(concat)
            doc_idx = np.repeat(np.arange(b0, b1, dtype=np.int64), lens[b0:b1])
            slots = (vals >> bin_shift).astype(np.int64)
            slots += doc_idx * num_perm
            # segmented min via unbuffered scatter-min: the target region is
            # this block's ~(docs x num_perm) signature slice (~100 KB,
            # L2-resident), where minimum.at measures ~20x faster than the
            # former radix-argsort + reduceat formulation (min is commutative
            # + associative, so the result is order-independent =
            # deterministic)
            np.minimum.at(flat, slots, vals)
        b0 = b1
    # rotation densification: iteratively fill empty bins from the left
    # neighbor (circular) until stable; docs with zero shingles stay MAX
    nonempty_docs = lens > 0
    live = sig[nonempty_docs]
    for _ in range(num_perm):
        empty = live == _U64_MAX
        if not empty.any():
            break
        rolled = np.roll(live, 1, axis=1)
        fill = empty & (rolled != _U64_MAX)
        if not fill.any():
            break
        live[fill] = rolled[fill]
    sig[nonempty_docs] = live
    return sig


# bit b of byte value v — the per-byte popcount-by-position table the
# histogram simhash multiplies against
_BIT_LUT = ((np.arange(256)[:, None] >> np.arange(8)[None, :]) & 1).astype(np.int64)


def simhash(shingles: list[np.ndarray]) -> np.ndarray:
    """(n_docs,) int64 simhash (bit b set iff majority of shingle hashes have
    bit b set). CACHE-BLOCKED like minhash_signatures, and computed via
    per-doc BYTE HISTOGRAMS: each of the 8 byte columns of the u64 hashes is
    bincounted into a (docs, 256) table (L2-resident; one C pass per column)
    and the per-bit sums fall out of a tiny (docs,256)x(256,8) LUT product —
    8 histogram passes instead of 64 shift/mask/reduceat passes, measured
    2.7x faster and bit-identical. Empty docs -> 0."""
    n_docs = len(shingles)
    out = np.zeros(n_docs, dtype=np.uint64)
    lens = np.array([s.size for s in shingles], dtype=np.int64)
    if not lens.any():
        return out.view(np.int64)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    b0 = 0
    while b0 < n_docs:
        b1 = b0 + 1
        m = int(lens[b0])
        while b1 < n_docs and m + lens[b1] <= _BLOCK_SHINGLES:
            m += int(lens[b1])
            b1 += 1
        idx = np.flatnonzero(lens[b0:b1]) + b0
        if idx.size:
            concat = np.concatenate([shingles[i] for i in idx])
            M = concat.size
            nd = idx.size
            doc_base = np.repeat(np.arange(nd, dtype=np.int64) << 8, lens[idx])
            bytes_view = concat.view(np.uint8).reshape(M, 8)
            sums = np.empty((nd, 64), dtype=np.int64)
            slots = np.empty(M, dtype=np.int64)
            for j in range(8):
                np.add(doc_base, bytes_view[:, j], out=slots)
                hist = np.bincount(slots, minlength=nd * 256).reshape(nd, 256)
                sums[:, 8 * j : 8 * j + 8] = hist @ _BIT_LUT
            half = lens[idx][:, None]
            sim_bits = (2 * sums > half).astype(np.uint64)
            out[idx] = (sim_bits * weights[None, :]).sum(axis=1, dtype=np.uint64)
        b0 = b1
    return out.view(np.int64)


def signature_schema(
    bands: int = 32, with_chunks: bool = False, winnow_chars: int | None = None
) -> StructType:
    """Signature-stage output schema. The band count is stamped into the
    ``band_hashes`` field metadata (survives parquet checkpoints) so
    lsh.band_hashes can verify the precomputed banding matches a caller's
    request instead of silently reusing mismatched hashes."""
    fields = [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("n_shingles", LongType()),
        StructField("minhash", ArrayType(LongType())),
        StructField("simhash", LongType()),
        # LSH band hashes + full-signature hash, PRECOMPUTED here in numpy:
        # computing them JVM-side (slice + xxhash64 per band over the
        # array<bigint>) costs ~130us/row in codegen (per-slice array
        # allocation + element boxing) and gets re-evaluated per plan use —
        # it was the single most expensive expression in the pipeline.
        StructField("band_hashes", ArrayType(LongType()), metadata={"bands": bands}),
        StructField("sig_hash", LongType()),
        # per-batch theta partial over the shingle hash space: the
        # distinct-shingle lineage metric (one non-null row per Arrow batch;
        # the pipeline unions them — mergeable partial aggregation exactly
        # like the reference's COMBINEFUNC protocol)
        StructField("shingle_theta", BinaryType()),
    ]
    if with_chunks:
        # CDC chunk content hashes, computed by the FUSED kernel in the same
        # text pass as the shingles (chunking.shingle_and_chunks_batch) —
        # the substring-candidate layer then rides this stage's scan instead
        # of re-reading the extracted text (~+2% stored bytes per doc vs a
        # second full text scan at 10^12-doc scale)
        fields.append(StructField("chunk_hashes", ArrayType(LongType())))
    if winnow_chars is not None:
        # Substring-verify winnow fingerprints (filter + confirm tier),
        # computed in the SAME text pass (suffix.winnow_pair_fingerprints
        # _batch) — the verify stage then joins these stored arrays to
        # candidate pairs instead of re-scanning the corpus text. The L
        # they were built for is stamped into metadata so the verify layer
        # can refuse a mismatched config instead of silently using them.
        fields.append(
            StructField(
                "winnow_h",
                ArrayType(LongType()),
                metadata={"winnow_chars": int(winnow_chars)},
            )
        )
        fields.append(StructField("winnow_hc", ArrayType(LongType())))
    return StructType(fields)


SIGNATURE_SCHEMA = signature_schema()


def band_hash_matrix(sig: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """(n_docs, bands) int64 band hashes: polynomial over each band's rows,
    SEEDED WITH THE BAND INDEX and splitmix-finalized. The band index baked
    into the hash makes the hash alone a valid bucket key — the LSH layer
    then shuffles/windows on one 8-byte column instead of (band, band_hash),
    cutting the banded shuffle's bytes and sort-key width. Vectorized over
    the whole signature matrix."""
    n = sig.shape[0]
    view = sig.reshape(n, bands, rows)
    acc = np.broadcast_to(
        np.arange(1, bands + 1, dtype=np.uint64)[None, :], (n, bands)
    ).copy()
    with np.errstate(over="ignore"):
        for r in range(rows):
            acc *= np.uint64(0x100000001B3)
            acc += view[:, :, r]
    return splitmix64(acc.reshape(-1)).reshape(n, bands).view(np.int64)


def sig_hash_vector(band_h: np.ndarray) -> np.ndarray:
    """(n_docs,) int64 full-signature hash from the band-hash matrix."""
    acc = np.zeros(band_h.shape[0], dtype=np.uint64)
    bh = band_h.view(np.uint64)
    with np.errstate(over="ignore"):
        for b in range(band_h.shape[1]):
            acc *= np.uint64(0x100000001B3)
            acc += bh[:, b]
    return splitmix64(acc).view(np.int64)


def signature_stage(
    extracted: DataFrame,
    shingle_n: int = DEFAULT_SHINGLE_N,
    num_perm: int = DEFAULT_NUM_PERM,
    seed: int = 7,
    bands: int = 32,
    rows: int = 4,
    cdc: tuple[int, int] | None = None,
    winnow_chars: int | None = None,
) -> DataFrame:
    """(doc_id, url, text, ...) ->
    (doc_id, url, n_shingles, minhash, simhash, band_hashes, sig_hash
     [, chunk_hashes] [, winnow_h, winnow_hc]).

    With ``cdc=(divisor, min_chunk)`` the CDC chunk content hashes are
    computed in the SAME text pass (fused kernel) and emitted as an extra
    array column — the exact-substring candidate layer then needs no second
    scan of the extracted text. With ``winnow_chars=L`` the substring
    verifier's two winnow fingerprint tiers ride the same pass too, so the
    VERIFY stage also needs no text re-scan (see signature_schema)."""
    assert bands * rows == num_perm, "bands x rows must cover the signature"
    proj = extracted.select("doc_id", "url", "text")
    from ..sketches import theta as _theta
    from .chunking import shingle_and_chunks_batch

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if cdc is not None:
                sh, ch = shingle_and_chunks_batch(
                    pdf["text"], n=shingle_n, divisor=cdc[0], min_chunk=cdc[1]
                )
            else:
                sh = shingle_hash_batch(pdf["text"], n=shingle_n)
            sig = minhash_signatures(sh, num_perm=num_perm, seed=seed)
            sim = simhash(sh)
            band_h = band_hash_matrix(sig, bands, rows)
            all_sh = np.concatenate(sh) if sh else np.empty(0, dtype=np.uint64)
            theta_partial = [None] * len(pdf)
            theta_partial[0] = _theta.build(all_sh)
            cols = {
                "doc_id": pdf["doc_id"].to_numpy(),
                "url": pdf["url"].to_numpy(),
                "n_shingles": np.array([s.size for s in sh], dtype=np.int64),
                "minhash": list(sig.view(np.int64)),
                "simhash": sim,
                "band_hashes": list(band_h),
                "sig_hash": sig_hash_vector(band_h),
                "shingle_theta": theta_partial,
            }
            if cdc is not None:
                cols["chunk_hashes"] = [c.view(np.int64) for c in ch]
            if winnow_chars is not None:
                from .suffix import winnow_pair_fingerprints_batch

                wf, wc = winnow_pair_fingerprints_batch(
                    list(pdf["text"]), winnow_chars
                )
                cols["winnow_h"] = [f.view(np.int64) for f in wf]
                cols["winnow_hc"] = [c.view(np.int64) for c in wc]
            yield pd.DataFrame(cols)

    return proj.mapInPandas(
        run,
        schema=signature_schema(
            bands, with_chunks=cdc is not None, winnow_chars=winnow_chars
        ),
    )
