"""Content-defined chunking (CDC) for distributed exact-substring candidate
generation.

Why: a suffix array per host group has an inherent straggler (the largest
host) and misses cross-host containment. CDC removes both: cut every
document at positions where the 9-char rolling hash satisfies
``roll % divisor == 0`` (content-defined, so two copies of the same text cut
at the same content positions), hash each chunk's FULL content, and join on
chunk hashes — any two documents sharing a verbatim region spanning at least
one interior chunk land in the same bucket. O(total chars) work, perfectly
parallel, shuffle volume ~ 16 bytes per ~divisor chars of text.

The pipeline computes the chunk hashes in the signature stage's text pass
(shingle_and_chunks_batch); substring_candidates turns the stored hashes
into candidate pairs, and suffix.sa_verify_pairs keeps the pairs that share
a verbatim substring of at least L chars.

Chunk content hashes are computed with an invertible-power prefix polynomial
(mod 2^64): S[i] = sum c_j * Binv^j, hash(l, r) = (S[r] - S[l]) * B^r, all
vectorized; no per-chunk Python loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.materialize import materialize

from .shingle import _BASE, splitmix64

DEFAULT_DIVISOR = 64
DEFAULT_MIN_CHUNK = 32
_BINV = pow(int(_BASE), -1, 1 << 64)  # modular inverse of the odd base


_POW_CACHE: tuple[np.ndarray, np.ndarray] | None = None


def _prefix_powers(n: int) -> tuple[np.ndarray, np.ndarray]:
    """B^i and B^-i mod 2^64 for i in [0, n]; cached module-level (the block
    size is bounded, so one cumprod serves every batch)."""
    global _POW_CACHE
    if _POW_CACHE is None or _POW_CACHE[0].size < n + 1:
        with np.errstate(over="ignore"):
            pows = np.empty(n + 1, dtype=np.uint64)
            pows[0] = 1
            np.cumprod(np.full(n, _BASE, dtype=np.uint64), out=pows[1:])
            ipows = np.empty(n + 1, dtype=np.uint64)
            ipows[0] = 1
            np.cumprod(np.full(n, np.uint64(_BINV), dtype=np.uint64), out=ipows[1:])
        _POW_CACHE = (pows, ipows)
    return _POW_CACHE


_BLOCK_CHARS = 1 << 16


def chunk_hashes_batch(
    texts: pd.Series,
    divisor: int = DEFAULT_DIVISOR,
    min_chunk: int = DEFAULT_MIN_CHUNK,
    shingle_n: int = 9,
) -> list[np.ndarray]:
    """Per-doc arrays of content hashes for CDC chunks >= min_chunk chars.
    Deterministic per document (independent of batching/neighbors). The
    standalone reference for shingle_and_chunks_batch's chunk output, which
    is what the pipeline runs.

    CACHE-BLOCKED like shingle_hash_batch: decode, rolling hash, cut
    detection and prefix sums all run over ~64K-codepoint doc-aligned blocks.
    Chunk hashes are position-independent ((S[r]-S[l])*B^r telescopes to
    sum c_j B^(r-j)), so block-local prefix sums give bit-identical output."""
    n_docs = len(texts)
    filled = texts.fillna("")
    lens = filled.str.len().to_numpy(dtype=np.int64)
    strs = filled.to_numpy(dtype=object)
    out: list[np.ndarray] = [None] * n_docs  # type: ignore[list-item]
    if n_docs == 0:
        return out

    b0 = 0
    while b0 < n_docs:
        b1 = b0 + 1
        blk = int(lens[b0])
        while b1 < n_docs and blk + lens[b1] <= _BLOCK_CHARS:
            blk += int(lens[b1])
            b1 += 1
        if blk == 0:
            for i in range(b0, b1):
                out[i] = np.empty(0, dtype=np.uint64)
            b0 = b1
            continue
        joined = "".join(strs[b0:b1])
        codes = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4").astype(np.uint64)
        total = codes.size
        pows, ipows = _prefix_powers(max(total, _BLOCK_CHARS))
        # rolling 9-gram hash over the block (same kernel as shingling)
        m = max(total - shingle_n + 1, 0)
        roll = np.zeros(m, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for j in range(shingle_n):
                roll *= _BASE
                roll += codes[j : j + m]
            roll = splitmix64(roll)
            is_cut = (roll % np.uint64(divisor)) == 0
            # block-local prefix polynomial sums for O(1) substring hashes
            weighted = codes * ipows[:total]
            prefix = np.concatenate(
                [[np.uint64(0)], np.cumsum(weighted, dtype=np.uint64)]
            )

        off = 0
        for d in range(b0, b1):
            start = off
            end = off + int(lens[d])
            off = end
            # cut positions strictly inside the doc (a cut at i ends a chunk)
            out[d] = _doc_chunks(prefix, pows, is_cut, start, end, min_chunk, shingle_n)
        b0 = b1
    return out


def _doc_chunks(
    prefix: np.ndarray,
    pows: np.ndarray,
    is_cut: np.ndarray,
    start: int,
    end: int,
    min_chunk: int,
    shingle_n: int,
) -> np.ndarray:
    """Chunk content hashes for one doc spanning [start, end) of a block's
    codepoint array (shared by the reference and fused kernels)."""
    ln = end - start
    if ln < min_chunk:
        return np.empty(0, dtype=np.uint64)
    lo, hi = start, max(start, end - shingle_n + 1)
    local_cuts = start + np.flatnonzero(is_cut[lo:hi])
    bounds = np.concatenate([[start], local_cuts, [end]]).astype(np.int64)
    ls, rs = bounds[:-1], bounds[1:]
    keep = (rs - ls) >= min_chunk
    ls, rs = ls[keep], rs[keep]
    if ls.size == 0:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        h = (prefix[rs] - prefix[ls]) * pows[rs]
        h = splitmix64(h ^ (rs - ls).astype(np.uint64))
    return np.unique(h)


def shingle_and_chunks_batch(
    texts: pd.Series,
    n: int = 9,
    divisor: int = DEFAULT_DIVISOR,
    min_chunk: int = DEFAULT_MIN_CHUNK,
    unique: bool = True,
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """FUSED kernel: per-doc (shingle hashes, CDC chunk hashes) in ONE pass
    over the text — one utf-32 decode and one rolling 9-gram hash feed both
    the near-dup layer (MinHash/SimHash shingles) and the exact-substring
    layer (content-defined chunk hashes). The standalone kernels each pay
    that decode + roll; at 10^12 docs the text scan IS the cost, so the
    substring candidate stage rides the signature stage's scan for free.

    Output is bit-identical to (shingle_hash_batch(texts, n),
    chunk_hashes_batch(texts, divisor, min_chunk, n)) — the CDC cut
    predicate is the same splitmix-finalized rolling hash the shingles use,
    and chunk content hashes telescope to position-independent values, so
    block grouping cannot leak between documents (pinned by tests)."""
    from .shingle import _BLOCK_CHARS, shingle_hash_batch

    n_docs = len(texts)
    filled = texts.fillna("")
    lens = filled.str.len().to_numpy(dtype=np.int64)
    strs = filled.to_numpy(dtype=object)
    out_sh: list[np.ndarray] = [None] * n_docs  # type: ignore[list-item]
    out_ch: list[np.ndarray] = [None] * n_docs  # type: ignore[list-item]
    if n_docs == 0:
        return out_sh, out_ch
    scratch = np.empty(_BLOCK_CHARS + 4096, dtype=np.uint64)
    scratch2 = np.empty(_BLOCK_CHARS + 4096, dtype=np.uint64)

    b0 = 0
    with np.errstate(over="ignore"):
        while b0 < n_docs:
            b1 = b0 + 1
            blk = int(lens[b0])
            while b1 < n_docs and blk + lens[b1] <= _BLOCK_CHARS:
                blk += int(lens[b1])
                b1 += 1
            if blk == 0:
                for i in range(b0, b1):
                    out_sh[i] = np.empty(0, dtype=np.uint64)
                    out_ch[i] = np.empty(0, dtype=np.uint64)
                b0 = b1
                continue
            joined = "".join(strs[b0:b1])
            codes = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4")
            total = codes.size
            m = total - n + 1
            acc = None
            if m > 0:
                if m > scratch.size:
                    scratch = np.empty(m, dtype=np.uint64)
                    scratch2 = np.empty(m, dtype=np.uint64)
                acc = scratch[:m]
                t = scratch2[:m]
                acc[:] = 0
                for j in range(n):
                    acc *= _BASE
                    acc += codes[j : j + m]
                acc += np.uint64(0x9E3779B97F4A7C15)
                np.right_shift(acc, np.uint64(30), out=t)
                acc ^= t
                acc *= np.uint64(0xBF58476D1CE4E5B9)
                np.right_shift(acc, np.uint64(27), out=t)
                acc ^= t
                acc *= np.uint64(0x94D049BB133111EB)
                np.right_shift(acc, np.uint64(31), out=t)
                acc ^= t
                is_cut = (acc % np.uint64(divisor)) == 0
            else:
                is_cut = np.empty(0, dtype=bool)
            pows, ipows = _prefix_powers(max(total, _BLOCK_CHARS))
            codes64 = codes.astype(np.uint64)
            weighted = codes64 * ipows[:total]
            prefix = np.concatenate(
                [[np.uint64(0)], np.cumsum(weighted, dtype=np.uint64)]
            )

            off = 0
            for i in range(b0, b1):
                ln = int(lens[i])
                start, end = off, off + ln
                off = end
                if ln == 0:
                    out_sh[i] = np.empty(0, dtype=np.uint64)
                elif ln < n:
                    h = np.uint64(0)
                    for c in codes[start:end]:
                        h = h * _BASE + np.uint64(c)
                    out_sh[i] = splitmix64(np.array([h], dtype=np.uint64))
                else:
                    sl = acc[start : start + ln - n + 1]
                    out_sh[i] = np.unique(sl) if unique else sl.copy()
                out_ch[i] = _doc_chunks(prefix, pows, is_cut, start, end, min_chunk, n)
            b0 = b1
    return out_sh, out_ch


def substring_candidates(chunks: DataFrame, max_bucket: int = 512) -> DataFrame:
    """Candidate substring-dup edges (a, b): docs sharing any CDC chunk.
    Star edges per chunk bucket (O(bucket)); buckets larger than
    ``max_bucket`` (mass boilerplate) are dropped — they represent content
    shared by hundreds of documents, which the near-dup LSH layer already
    handles; the cap is a documented precision/size guard.

    ``chunks``: (doc_id, chunk_hash) rows — the pipeline passes the
    signature stage's fused ``chunk_hashes`` column, exploded JVM-side, so
    candidate generation never touches text.

    Bucket stats come from ONE window shuffle over the exploded chunk rows
    (count/min per chunk_hash), mirroring lsh.candidate_edges — the former
    groupBy + join-back shape shuffled the exploded frame twice and needed
    a second materialization barrier, which showed up as a non-scaling
    fixed cost at every parallelism level."""
    from pyspark.sql import Window

    w = Window.partitionBy("chunk_hash")
    chj = (
        chunks.withColumn("cnt", F.count("*").over(w))
        .withColumn("root", F.min("doc_id").over(w))
        .where((F.col("cnt") > 1) & (F.col("cnt") <= max_bucket))
    )
    # one materialization for the two consumers below (pairs + star)
    chj = materialize(chj)
    # all pairs for small buckets (each pair gets its own substring check —
    # a star hub failing verification must never disconnect a true pair);
    # star edges keep big buckets O(bucket)
    pair_cap = 16
    small = chj.where(F.col("cnt") <= pair_cap).select("chunk_hash", "doc_id")
    pairs = (
        small.alias("l")
        .join(small.alias("r"), "chunk_hash")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
    )
    star = (
        chj.where(F.col("cnt") > pair_cap)
        .where(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("a"), F.col("doc_id").alias("b"))
    )
    return pairs.union(star).distinct()
