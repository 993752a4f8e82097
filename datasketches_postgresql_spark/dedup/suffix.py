"""Exact-substring dedup (SURVEY.md §7.2 S5).

Criterion (the standard one for training-data dedup, cf. "Deduplicating
Training Data Makes Language Models Better": duplicated spans >= L): two
documents are substring-duplicates iff they share a VERBATIM substring of at
least ``min_match_chars`` characters. This catches containment pairs whose
shingle-set Jaccard sits below the LSH threshold (|small|/|big|) and is
robust to boilerplate wrapping (boilerplate stays well under L).

Method (the pipeline's one path, all per-doc work O(len)):
  1. candidates: docs sharing a content-defined chunk
     (chunking.substring_candidates over the chunk hashes the signature
     stage stored);
  2. sa_verify_pairs joins each pair to two winnowed fingerprint arrays the
     signature stage also stored: a filter-tier miss rejects the pair, a
     confirm-tier hit accepts it (winnow_pair_fingerprints);
  3. the narrow residue is decided exactly by full L-gram hash overlap
     (lgram_hashes), JVM-side ``arrays_overlap``; no document text crosses
     a pair join.

The suffix-array kernel below (prefix doubling + capped LCP,
shared_substring_pairs_pandas) tests the same criterion directly on a group
of texts. Nothing in the pipeline runs it: it is the exact oracle the
verifier is tested against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..plans.materialize import materialize

DEFAULT_MIN_MATCH_CHARS = 200


def suffix_array_with_levels(
    codes: np.ndarray, max_level_len: int = 512
) -> tuple[np.ndarray, list[tuple[int, np.ndarray]]]:
    """Prefix-doubling suffix array + rank snapshots for prefix lengths
    1, 2, 4, ... <= max_level_len (the binary-lifting LCP tables)."""
    n = codes.size
    _, rank = np.unique(codes, return_inverse=True)
    rank = rank.astype(np.int32)
    levels = [(1, rank)]
    k = 1
    while True:
        key2 = np.full(n, -1, dtype=np.int32)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        new_rank = np.empty(n, dtype=np.int32)
        changed = (rank[order][1:] != rank[order][:-1]) | (
            key2[order][1:] != key2[order][:-1]
        )
        new_rank[order] = np.concatenate([[0], np.cumsum(changed, dtype=np.int32)])
        rank = new_rank
        if 2 * k <= max_level_len:
            levels.append((2 * k, rank))
        if rank[order[-1]] == n - 1:
            return order, levels
        k *= 2


def suffix_array(codes: np.ndarray) -> np.ndarray:
    return suffix_array_with_levels(codes)[0]


def lcp_adjacent_capped(
    sa: np.ndarray, levels: list[tuple[int, np.ndarray]], n: int
) -> np.ndarray:
    """LCP between SA-adjacent suffixes, exact up to (sum of level lengths)
    ~= 2*max_level_len - 1 and saturating above — all we need is
    min(lcp, min_match_chars), and min_match_chars <= the saturation point.

    Vectorized binary lifting over the doubling rank snapshots: rank equality
    at prefix length p implies the suffixes share p chars (distinct suffixes
    of one text have distinct lengths, so end-padding can never alias). One
    numpy pass per level — replaces the per-character Kasai loop, which was
    the containment stage's bottleneck (O(group chars) Python)."""
    i = sa[:-1].astype(np.int64).copy()
    j = sa[1:].astype(np.int64).copy()
    lcp = np.zeros(i.size, dtype=np.int64)
    for plen, rank in sorted(levels, key=lambda t: -t[0]):
        active = (i < n) & (j < n)
        idx = np.flatnonzero(active)
        eq = idx[rank[i[idx]] == rank[j[idx]]]
        lcp[eq] += plen
        i[eq] += plen
        j[eq] += plen
    return lcp


def lcp_array(codes: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """lcp[i] = LCP(suffix sa[i], suffix sa[i+1]); saturates at ~1023 (ample
    for the >= min_match_chars tests)."""
    _, levels = suffix_array_with_levels(codes)
    out = np.zeros(codes.size, dtype=np.int64)
    out[: codes.size - 1] = lcp_adjacent_capped(sa, levels, codes.size)
    return out


def shared_substring_pairs_pandas(
    doc_ids: np.ndarray, texts: list[str], min_match_chars: int = DEFAULT_MIN_MATCH_CHARS
) -> list[tuple[int, int]]:
    """[(doc_id_lo, doc_id_hi)] pairs sharing a verbatim substring >= L
    within one group. Fully vectorized post-SA."""
    n_docs = len(texts)
    if n_docs < 2:
        return []
    lens = np.array([len(t) for t in texts], dtype=np.int64)
    joined = "\x00".join(texts)
    codes = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    n = codes.size
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=starts[1:])
    ends = starts + lens  # exclusive end of each doc's text
    owner = np.searchsorted(starts, np.arange(n), side="right") - 1
    rem = ends[owner] - np.arange(n)  # chars to own doc end (<=0 on sentinels)

    max_level = 512
    while max_level < min_match_chars:
        max_level *= 2
    sa, levels = suffix_array_with_levels(codes, max_level_len=max_level)
    lcp = lcp_adjacent_capped(sa, levels, n)

    left, right = sa[:-1], sa[1:]
    eff = np.minimum(lcp, np.minimum(rem[left], rem[right]))
    mask = (eff >= min_match_chars) & (owner[left] != owner[right])
    if not mask.any():
        return []
    a = doc_ids[owner[left[mask]]]
    b = doc_ids[owner[right[mask]]]
    pairs = np.unique(
        np.stack([np.minimum(a, b), np.maximum(a, b)], axis=1), axis=0
    )
    return [tuple(p) for p in pairs.tolist()]


def _sliding_min_u64(h: np.ndarray, w: int) -> np.ndarray:
    """Minimum over every length-``w`` window of ``h`` (uint64), vectorized
    via the block prefix/suffix-minima decomposition (two accumulate passes,
    O(len), no Python loop)."""
    m = h.size
    if w <= 1 or m == 0:
        return h
    if m < w:
        return np.array([h.min()], dtype=np.uint64) if m else h
    pad = (-m) % w
    hp = np.concatenate([h, np.full(pad, np.uint64(0xFFFFFFFFFFFFFFFF))])
    blocks = hp.reshape(-1, w)
    pref = np.minimum.accumulate(blocks, axis=1).ravel()
    suff = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suff[: m - w + 1], pref[w - 1 : m])


def winnow_params(min_match_chars: int) -> tuple[int, int]:
    """(gram_len L', window w) with L' + w - 1 == L: every shared verbatim
    substring of length >= L contains w consecutive L'-grams in BOTH docs,
    i.e. one complete winnowing window inside the shared region, whose
    minimum hash VALUE is content-defined and therefore identical in both
    fingerprint sets — zero false negatives at the prefilter."""
    L = int(min_match_chars)
    w = max(1, L // 4)
    return L - w + 1, w


def winnow_pair_fingerprints(text: str, min_match_chars: int) -> tuple[np.ndarray, np.ndarray]:
    """(filter_fps, confirm_fps) from ONE text pass (shared prefix sums).

    filter_fps  — winnowed L'-gram minima (winnow_params): a >= L shared
                  substring ALWAYS yields an overlap (exact recall); an
                  overlap may come from a shorter (L'..L-1) match.
    confirm_fps — winnowed minima over the FULL L-gram hashes (same hash
                  function as lgram_hashes): a shared value IS a shared
                  L-gram hash, i.e. PROOF of a >= L verbatim match under
                  exactly the criterion the exact phase tests — and any
                  shared substring of length >= L + w - 1 guarantees one.

    Together they three-way split candidate pairs: filter-miss = rejected
    exactly; confirm-hit = accepted exactly; the narrow [L, L+w-2]-ish
    residue goes to the full L-gram phase."""
    L = int(min_match_chars)
    Lp, w = winnow_params(L)
    codes = np.frombuffer(text.encode("utf-32-le"), dtype="<u4").astype(np.uint64)
    n = codes.size
    empty = np.empty(0, dtype=np.uint64)
    if n < Lp:
        return empty, empty
    from .chunking import _prefix_powers
    from .shingle import splitmix64

    pows, ipows = _prefix_powers(n)
    with np.errstate(over="ignore"):
        weighted = codes * ipows[:n]
        prefix = np.concatenate([[np.uint64(0)], np.cumsum(weighted, dtype=np.uint64)])
        h_f = splitmix64((prefix[Lp:] - prefix[:-Lp]) * pows[Lp : n + 1])
        filt = np.unique(_sliding_min_u64(h_f, w))
        if n < L:
            return filt, empty
        h_c = splitmix64((prefix[L:] - prefix[:-L]) * pows[L : n + 1])
    return filt, np.unique(_sliding_min_u64(h_c, w))


# Sub-block size for the batched winnow kernel, in codepoints. A whole
# 10k-doc Arrow batch concatenates to ~100+ MB per u64 temporary — past
# glibc's 32 MiB mmap-threshold cap, so EVERY call would mmap and pay this
# VM's slow first-touch page faults (the cost _alloc.py exists to avoid).
# 2M codepoints keeps each temporary ~16 MB: heap-retained and reused
# across sub-batches, while still amortizing numpy call overhead over
# ~1.4k docs per block (the per-call overhead the batching removes is
# ~30 small allocations per DOC, not per block).
_WINNOW_BLOCK_CODES = 2_000_000


def winnow_pair_fingerprints_batch(
    texts, min_match_chars: int
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Batched winnow_pair_fingerprints: one concatenated rolling-hash +
    sliding-min pass per ~2M-codepoint doc-aligned block instead of ~30
    small numpy calls per doc (which dominate the verify stage's wall time
    at ~0.5 ms per doc). Sound because the telescoped polynomial hash
    (S[l+L]-S[l])*B^(l+L) is content-only — global positions produce the
    SAME hash values as per-doc offsets — and a window minimum is only
    taken at positions whose window lies entirely inside one doc, so the
    concatenation seams never contribute; block boundaries are doc-aligned,
    so blocking cannot change any doc's output either. Returns per-doc
    (filter fps, confirm fps), each identical to the scalar kernel's."""
    code_parts = [
        np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(np.uint64)
        for t in texts
    ]
    ndocs = len(code_parts)
    if ndocs == 0:
        return [], []
    filt: list[np.ndarray] = []
    conf: list[np.ndarray] = []
    b0 = 0
    while b0 < ndocs:
        b1 = b0 + 1
        m = code_parts[b0].size
        while b1 < ndocs and m + code_parts[b1].size <= _WINNOW_BLOCK_CODES:
            m += code_parts[b1].size
            b1 += 1
        f, c = _winnow_block(code_parts[b0:b1], min_match_chars)
        filt.extend(f)
        conf.extend(c)
        b0 = b1
    return filt, conf


def _winnow_block(
    code_parts: list[np.ndarray], min_match_chars: int
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """One doc-aligned block of the batched winnow kernel (see
    winnow_pair_fingerprints_batch for the soundness argument)."""
    L = int(min_match_chars)
    Lp, w = winnow_params(L)
    from .chunking import _prefix_powers
    from .shingle import splitmix64

    lens = np.array([c.size for c in code_parts], dtype=np.int64)
    ndocs = lens.size
    empty = np.empty(0, dtype=np.uint64)
    codes = np.concatenate(code_parts) if ndocs > 1 else code_parts[0]
    n = codes.size
    if n == 0:
        return [empty] * ndocs, [empty] * ndocs
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    pows, ipows = _prefix_powers(n)
    with np.errstate(over="ignore"):
        weighted = codes * ipows[:n]
        prefix = np.concatenate([[np.uint64(0)], np.cumsum(weighted, dtype=np.uint64)])

        def tier(gram: int) -> list[np.ndarray]:
            if n < gram:
                return [empty] * ndocs
            h = splitmix64((prefix[gram:] - prefix[:-gram]) * pows[gram : n + 1])
            mins = _sliding_min_u64(h, w)
            out = []
            for d in range(ndocs):
                m_d = int(lens[d]) - gram + 1  # doc's window-hash count
                if m_d < w:
                    # fewer hashes than one window: the scalar kernel's
                    # _sliding_min_u64 degrades to min-of-all (m_d >= 1)
                    s = int(starts[d])
                    out.append(
                        np.unique(np.array([h[s : s + m_d].min()], dtype=np.uint64))
                        if m_d >= 1
                        else empty
                    )
                    continue
                s = int(starts[d])
                out.append(np.unique(mins[s : s + m_d - w + 1]))
            return out

        filt = tier(Lp)
        conf = tier(L)
    return filt, conf


def lgram_hashes(text: str, L: int) -> np.ndarray:
    """Sorted unique content-only polynomial hashes of every L-char window.
    Two docs share a verbatim >= L substring IFF their L-gram hash sets
    intersect (up to the 2^-64 per-pair hash-collision probability) — the
    same criterion the suffix-array layer tests via min(LCP, doc-rem) >= L.
    O(len) vectorized: prefix sums of c_j * B^-j, window hash
    (S[l+L]-S[l]) * B^(l+L) telescopes to content-only."""
    from .chunking import _prefix_powers

    codes = np.frombuffer(text.encode("utf-32-le"), dtype="<u4").astype(np.uint64)
    n = codes.size
    if n < L:
        return np.empty(0, dtype=np.uint64)
    pows, ipows = _prefix_powers(n)
    from .shingle import splitmix64

    with np.errstate(over="ignore"):
        weighted = codes * ipows[:n]
        prefix = np.concatenate([[np.uint64(0)], np.cumsum(weighted, dtype=np.uint64)])
        h = (prefix[L:] - prefix[:-L]) * pows[L : n + 1]
    return np.unique(splitmix64(h))


def sa_verify_pairs(
    candidates: DataFrame,
    extracted: DataFrame,
    winnow_tbl: DataFrame,
    min_match_chars: int = DEFAULT_MIN_MATCH_CHARS,
) -> DataFrame:
    """Verify candidate edges (a, b): keep exactly the pairs sharing a
    verbatim >= min_match_chars substring.

    Two-phase, and NO document text ever crosses a candidate-PAIR join (the
    round-2 version joined full texts to every pair, so a doc in P pairs
    shipped its text P times — the verify stage's dominant shuffle at scale):

      1. WINNOW PASS (decides almost every pair): every doc carries TWO
         small fingerprint arrays, hashed in the signature stage's text
         pass (winnow_pair_fingerprints): filter fps (exact recall — a miss
         exactly rejects) and confirm fps (a hit is PROOF of a >= L match
         under the same L-gram-hash criterion the exact phase tests).
         Pairs join the arrays and split three ways with JVM-side
         ``arrays_overlap`` — filter-miss rejected, confirm-hit accepted.
      2. EXACT verify, RESIDUE ONLY: the narrow undecided band (shared
         region < L + w - 1 chars — prefilter near-misses and short true
         matches) re-hashes just those docs into FULL L-gram sets and
         keeps pairs iff the sets intersect — "sets intersect" IS the
         >= L verbatim substring criterion (lgram_hashes docstring). The
         full arrays are ~25x larger than the fingerprints, so keeping
         them off the decided pairs is most of this operator's cost model.

    Per-doc work is O(len) in both phases; per-pair work is JVM-side set
    intersection of pre-sorted hash arrays.

    ``winnow_tbl``: the (doc_id, h, hc) fingerprint table built for
    ``min_match_chars`` — the signature stage's stored columns, read
    through fused_winnow_table, so the only text this operator reads is the
    residue's. ``extracted`` supplies that residue text."""
    L = int(min_match_chars)
    pairs = candidates.select("a", "b").distinct()
    tbl = winnow_tbl.select("doc_id", "h", "hc")
    ta = tbl.select(F.col("doc_id").alias("a"), F.col("h").alias("h_a"), F.col("hc").alias("hc_a"))
    tb = tbl.select(F.col("doc_id").alias("b"), F.col("h").alias("h_b"), F.col("hc").alias("hc_b"))
    survivors = materialize(
        pairs.join(ta, "a")
        .join(tb, "b")
        .filter(F.arrays_overlap("h_a", "h_b"))
        .select("a", "b", F.arrays_overlap("hc_a", "hc_b").alias("confirmed"))
    )
    confirmed = survivors.filter("confirmed").select("a", "b")
    residue = survivors.filter(~F.col("confirmed")).select("a", "b")
    exact = hash_overlap_join(
        residue, lgram_hash_table(extracted, _endpoint_ids(residue), L)
    )
    return confirmed.union(exact)


def _endpoint_ids(pairs: DataFrame) -> DataFrame:
    return (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )


HASH_TBL_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("h", ArrayType(LongType()))]
)


def lgram_hash_table(extracted: DataFrame, ids: DataFrame, min_match_chars: int) -> DataFrame:
    """Doc-keyed full L-gram hash table (doc_id, h): each doc's text is
    consumed ONCE here and projected away — only the hash array crosses any
    later join."""
    docs = extracted.join(ids, "doc_id").select("doc_id", "text")
    L = int(min_match_chars)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            arrs = [lgram_hashes(t, L).view(np.int64) for t in pdf["text"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(), "h": arrs})

    return docs.mapInPandas(run, schema=HASH_TBL_SCHEMA)


def fused_winnow_table(signatures: DataFrame, min_match_chars: int) -> DataFrame:
    """(doc_id, h, hc) view over a signature table's fused winnow columns,
    REFUSING a table whose fingerprints were built for a different L (the
    stamp survives parquet checkpoints — same contract as lsh.band_hashes)
    instead of silently producing wrong verify decisions."""
    meta = signatures.schema["winnow_h"].metadata or {}
    stamped = meta.get("winnow_chars")
    if stamped is not None and int(stamped) != int(min_match_chars):
        raise ValueError(
            f"fused winnow fingerprints were built for min_match_chars="
            f"{stamped}, config wants {min_match_chars}"
        )
    return signatures.select(
        "doc_id", F.col("winnow_h").alias("h"), F.col("winnow_hc").alias("hc")
    )


def hash_overlap_join(pairs: DataFrame, htbl: DataFrame) -> DataFrame:
    """Keep the (a, b) pairs whose hash sets intersect — JVM-side
    ``arrays_overlap``, id+array shuffle only."""
    ha = htbl.select(F.col("doc_id").alias("a"), F.col("h").alias("h_a"))
    hb = htbl.select(F.col("doc_id").alias("b"), F.col("h").alias("h_b"))
    return (
        pairs.join(ha, "a")
        .join(hb, "b")
        .filter(F.arrays_overlap("h_a", "h_b"))
        .select("a", "b")
    )
