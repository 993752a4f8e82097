"""Unit tests for the dedup building blocks (numpy level + Spark level)."""

import numpy as np
import pandas as pd
import pytest

from datasketches_postgresql_spark.dedup.minhash import (
    minhash_signatures,
    simhash,
)
from datasketches_postgresql_spark.dedup.shingle import shingle_hash_batch
from datasketches_postgresql_spark.dedup.suffix import (
    lcp_array,
    shared_substring_pairs_pandas,
    suffix_array,
)


class TestShingle:
    def test_batch_equals_per_doc(self):
        texts = pd.Series(["hello world this is a document", "another doc entirely", "hi"])
        batch = shingle_hash_batch(texts, n=5)
        for i, t in enumerate(texts):
            solo = shingle_hash_batch(pd.Series([t]), n=5)[0]
            assert np.array_equal(batch[i], solo), f"doc {i} differs"

    def test_identical_texts_identical_shingles(self):
        t = "the quick brown fox jumps over the lazy dog" * 3
        a, b = shingle_hash_batch(pd.Series([t, t]), n=9)
        assert np.array_equal(a, b)

    def test_short_doc_fallback(self):
        (h,) = shingle_hash_batch(pd.Series(["hi"]), n=9)
        assert h.size == 1
        (h2,) = shingle_hash_batch(pd.Series(["hj"]), n=9)
        assert h[0] != h2[0]

    def test_jaccard_of_near_dup(self):
        base = " ".join(f"word{i:03d}" for i in range(300))
        words = base.split()
        words[50] = "CHANGED"
        words[150] = "OTHER"
        near = " ".join(words)
        a, b = shingle_hash_batch(pd.Series([base, near]), n=9)
        j = np.intersect1d(a, b).size / np.union1d(a, b).size
        assert j > 0.9


class TestMinhash:
    def _sig_jaccard(self, a, b):
        return float(np.mean(a == b))

    def test_exact_dup_signature_equal(self):
        t = "some document text repeated enough to have many shingles " * 5
        sh = shingle_hash_batch(pd.Series([t, t]))
        sig = minhash_signatures(sh)
        assert np.array_equal(sig[0], sig[1])

    def test_signature_estimates_jaccard(self):
        rng = np.random.default_rng(0)
        base = rng.integers(0, 2**63, 2000, dtype=np.uint64)
        other = base.copy()
        other[:200] = rng.integers(0, 2**63, 200, dtype=np.uint64)  # J ~ 0.82
        sig = minhash_signatures([base, other], num_perm=128)
        true_j = np.intersect1d(base, other).size / np.union1d(base, other).size
        assert abs(self._sig_jaccard(sig[0], sig[1]) - true_j) < 0.12

    def test_chunking_invariance(self, monkeypatch):
        """Cache blocking is invisible: with a block far smaller than the
        batch (so it spans many blocks, and docs longer than a block get a
        block of their own), minhash_signatures and simhash return exactly
        the single-block output."""
        import datasketches_postgresql_spark.dedup.minhash as mh

        rng = np.random.default_rng(1)
        docs = [rng.integers(0, 2**63, rng.integers(5, 500), dtype=np.uint64) for _ in range(40)]
        docs[7] = docs[7][:0]  # an empty doc inside the batch
        block = 256
        assert sum(d.size for d in docs) < mh._BLOCK_SHINGLES  # one block unpatched
        assert sum(d.size for d in docs) > 20 * block
        assert max(d.size for d in docs) > block
        full_sig, full_sim = minhash_signatures(docs), simhash(docs)
        monkeypatch.setattr(mh, "_BLOCK_SHINGLES", block)
        assert np.array_equal(full_sig, minhash_signatures(docs))
        assert np.array_equal(full_sim, simhash(docs))

    def test_simhash_hamming(self):
        rng = np.random.default_rng(2)
        base = rng.integers(0, 2**63, 3000, dtype=np.uint64)
        near = base.copy()
        near[:60] = rng.integers(0, 2**63, 60, dtype=np.uint64)
        far = rng.integers(0, 2**63, 3000, dtype=np.uint64)
        s = simhash([base, near, far])
        d_near = bin(int(s[0]) ^ int(s[1]) & (2**64 - 1)).count("1")
        d_far = bin((int(s[0]) ^ int(s[2])) & (2**64 - 1)).count("1")
        assert d_near <= 8
        assert d_far > 16


class TestSuffixArray:
    def test_suffix_array_banana(self):
        codes = np.frombuffer("banana".encode("utf-32-le"), dtype="<u4").astype(np.int64)
        sa = suffix_array(codes)
        # suffixes sorted: a(5) ana(3) anana(1) banana(0) na(4) nana(2)
        assert sa.tolist() == [5, 3, 1, 0, 4, 2]
        lcp = lcp_array(codes, sa)
        assert lcp.tolist()[:5] == [1, 3, 0, 0, 2]

    def test_containment_detection(self):
        container = " ".join(f"tok{i:04d}" for i in range(200))
        contained = " ".join(f"tok{i:04d}" for i in range(50, 150))
        unrelated = " ".join(f"other{i:04d}" for i in range(100))
        pairs = shared_substring_pairs_pandas(
            np.array([10, 20, 30]), [container, contained, unrelated]
        )
        assert (10, 20) in pairs
        assert all(30 not in p for p in pairs)

    def test_boilerplate_wrapped_containment(self):
        # contained text wrapped in (short) boilerplate still detected —
        # the criterion is a shared >=L substring, not full-text containment
        body = " ".join(f"tok{i:04d}" for i in range(200))
        sub = " ".join(f"tok{i:04d}" for i in range(60, 140))
        boiler_a, boiler_b = "site nav home", "copyright footer"
        pairs = shared_substring_pairs_pandas(
            np.array([1, 2]),
            [f"{boiler_a} {body} {boiler_b}", f"{boiler_a} {sub} {boiler_b}"],
        )
        assert (1, 2) in pairs

    def test_exact_dup_detected_as_mutual(self):
        t = "identical document body " * 20
        pairs = shared_substring_pairs_pandas(np.array([1, 2]), [t, t])
        assert (1, 2) in pairs

    def test_no_false_positive_across_sentinel(self):
        # match length is clamped at doc ends: two 100-char docs can never
        # produce a >=150 match even though the concatenation repeats
        pairs = shared_substring_pairs_pandas(
            np.array([1, 2]), ["x" * 100, "x" * 100], min_match_chars=150
        )
        assert pairs == []
        pairs2 = shared_substring_pairs_pandas(
            np.array([1, 2]), ["x" * 100, "x" * 100], min_match_chars=80
        )
        assert (1, 2) in pairs2

    def test_short_boilerplate_not_paired(self):
        a = "site nav home " + " ".join(f"aw{i}" for i in range(300))
        b = "site nav home " + " ".join(f"bw{i}" for i in range(300))
        assert shared_substring_pairs_pandas(np.array([1, 2]), [a, b]) == []


class TestFusedShingleChunks:
    def test_fused_kernel_matches_standalone(self):
        import numpy as np
        import pandas as pd

        from datasketches_postgresql_spark.dedup.chunking import (
            chunk_hashes_batch,
            shingle_and_chunks_batch,
        )
        from datasketches_postgresql_spark.dedup.shingle import shingle_hash_batch

        rng = np.random.default_rng(0)
        cases = [
            "", "a", "ababab", "x" * 8, "y" * 9, "z" * 31, "w" * 32,
            "hello world " * 500, None,
            "".join(rng.choice(list("abcdef "), 70000)),
        ]
        texts = pd.Series(cases)
        sh1 = shingle_hash_batch(texts)
        ch1 = chunk_hashes_batch(texts)
        sh2, ch2 = shingle_and_chunks_batch(texts)
        for a, b in zip(sh1, sh2):
            assert np.array_equal(a, b)
        for a, b in zip(ch1, ch2):
            assert np.array_equal(a, b)

    def test_fused_batching_independence(self):
        # chunk + shingle hashes must not depend on which docs share a batch
        import numpy as np
        import pandas as pd

        from datasketches_postgresql_spark.dedup.chunking import (
            shingle_and_chunks_batch,
        )

        rng = np.random.default_rng(1)
        docs = ["".join(rng.choice(list("abcdefgh "), rng.integers(40, 3000)))
                for _ in range(50)]
        sh_all, ch_all = shingle_and_chunks_batch(pd.Series(docs))
        for i in (0, 7, 23, 49):
            sh_one, ch_one = shingle_and_chunks_batch(pd.Series([docs[i]]))
            assert np.array_equal(sh_all[i], sh_one[0])
            assert np.array_equal(ch_all[i], ch_one[0])


class TestWinnowedVerify:
    """The de-texted substring verify: winnowed prefilter + exact L-gram
    arrays_overlap (suffix.sa_verify_pairs, round-3 rework)."""

    def test_sliding_min_matches_naive(self):
        from datasketches_postgresql_spark.dedup.suffix import _sliding_min_u64

        rng = np.random.default_rng(3)
        for m, w in [(1, 1), (5, 3), (10, 10), (100, 7), (64, 64), (65, 64), (333, 50)]:
            h = rng.integers(0, 2**63, size=m, dtype=np.uint64)
            got = _sliding_min_u64(h, w)
            exp = (
                np.array([h[i : i + w].min() for i in range(m - w + 1)], dtype=np.uint64)
                if m >= w
                else np.array([h.min()], dtype=np.uint64)
            )
            assert np.array_equal(got, exp), (m, w)

    def test_prefilter_never_drops_true_pair(self):
        """Winnowing guarantee: a shared verbatim substring of EXACTLY L chars
        yields overlapping fingerprint sets (one full window fits inside)."""
        from datasketches_postgresql_spark.dedup.suffix import winnow_pair_fingerprints

        rng = np.random.default_rng(7)
        L = 200
        for trial in range(20):
            shared = "".join(rng.choice(list("abcdefgh "), size=L))
            t1 = "".join(rng.choice(list("uvwxyz"), size=int(rng.integers(0, 400)))) + shared
            t2 = shared + "".join(rng.choice(list("klmnop"), size=int(rng.integers(0, 400))))
            f1 = winnow_pair_fingerprints(t1, L)[0]
            f2 = winnow_pair_fingerprints(t2, L)[0]
            assert np.intersect1d(f1, f2).size > 0, f"trial {trial}"

    def test_confirm_tier_guarantee_and_soundness(self):
        """Confirm fingerprints (winnow_pair_fingerprints[1]): a shared
        substring of >= L + w - 1 chars MUST produce overlapping confirm
        sets (guarantee), and any confirm overlap must be a genuine shared
        L-gram hash (soundness vs lgram_hashes) — i.e. a confirm hit is
        proof under the exact phase's own criterion."""
        from datasketches_postgresql_spark.dedup.suffix import (
            lgram_hashes,
            winnow_pair_fingerprints,
            winnow_params,
        )

        rng = np.random.default_rng(13)
        L = 200
        _, w = winnow_params(L)
        for trial in range(10):
            shared = "".join(rng.choice(list("abcdefgh "), size=L + w - 1))
            t1 = "".join(rng.choice(list("uvwxyz"), size=150)) + shared
            t2 = shared + "".join(rng.choice(list("klmnop"), size=150))
            f1, c1 = winnow_pair_fingerprints(t1, L)
            f2, c2 = winnow_pair_fingerprints(t2, L)
            hit = np.intersect1d(c1, c2)
            assert hit.size > 0, f"trial {trial}: confirm guarantee violated"
            assert np.intersect1d(f1, f2).size > 0
            # soundness: every confirm fp is one of the doc's L-gram hashes
            assert np.isin(c1, lgram_hashes(t1, L)).all()
            assert np.isin(c2, lgram_hashes(t2, L)).all()
        # below the confirm threshold the pair may be unconfirmed, but the
        # filter tier still guarantees survival for a >= L match
        shared = "".join(rng.choice(list("abcdefgh "), size=L))
        f1, _c1 = winnow_pair_fingerprints("x" * 300 + shared, L)
        f2, _c2 = winnow_pair_fingerprints(shared + "y" * 300, L)
        assert np.intersect1d(f1, f2).size > 0

    def test_batched_winnow_matches_scalar(self):
        """winnow_pair_fingerprints_batch over a mixed batch (long docs,
        short docs below L, below L', empty) returns, per doc, EXACTLY the
        scalar kernel's (filter, confirm) arrays — the concatenation seams
        and global-offset hashing must be invisible."""
        from datasketches_postgresql_spark.dedup.suffix import (
            winnow_pair_fingerprints,
            winnow_pair_fingerprints_batch,
            winnow_params,
        )

        rng = np.random.default_rng(29)
        L = 200
        Lp, w = winnow_params(L)
        alphabet = list("abcdefghij klmnop")
        texts = []
        for size in [0, 1, Lp - 1, Lp, L - 1, L, L + w - 2, L + w - 1, 500, 3000]:
            texts.append("".join(rng.choice(alphabet, size=size)))
        # duplicated content at different batch positions must hash identically
        texts.append(texts[-1])
        bf, bc = winnow_pair_fingerprints_batch(texts, L)
        assert len(bf) == len(bc) == len(texts)
        for i, t in enumerate(texts):
            sf, sc = winnow_pair_fingerprints(t, L)
            assert np.array_equal(bf[i], sf), f"doc {i} (len {len(t)}) filter tier"
            assert np.array_equal(bc[i], sc), f"doc {i} (len {len(t)}) confirm tier"
        assert np.array_equal(bf[-1], bf[-2]) and np.array_equal(bc[-1], bc[-2])
        # singleton batch == scalar, and empty batch is well-formed
        one_f, one_c = winnow_pair_fingerprints_batch([texts[-1]], L)
        assert np.array_equal(one_f[0], bf[-1]) and np.array_equal(one_c[0], bc[-1])
        assert winnow_pair_fingerprints_batch([], L) == ([], [])

    def test_batched_winnow_block_boundaries(self, monkeypatch):
        """Sub-blocking (the mmap-threshold cap) is invisible: forcing a
        tiny block size so the batch spans many blocks — including a doc
        bigger than the cap, which must get a solo block — yields exactly
        the unblocked output."""
        import datasketches_postgresql_spark.dedup.suffix as sx

        rng = np.random.default_rng(31)
        L = 200
        alphabet = list("abcdefghij klmnop")
        texts = ["".join(rng.choice(alphabet, size=int(s))) for s in rng.integers(150, 900, size=12)]
        texts.append("".join(rng.choice(alphabet, size=5000)))  # > block cap below
        want = sx.winnow_pair_fingerprints_batch(texts, L)
        monkeypatch.setattr(sx, "_WINNOW_BLOCK_CODES", 1000)
        got = sx.winnow_pair_fingerprints_batch(texts, L)
        for a, b in zip(want[0] + want[1], got[0] + got[1]):
            assert np.array_equal(a, b)

    @staticmethod
    def _verify(spark, docs, cands, L):
        """sa_verify_pairs fed the way the pipeline feeds it: fingerprints
        from signature_stage(..., winnow_chars=L), read through
        fused_winnow_table."""
        from datasketches_postgresql_spark.dedup.minhash import signature_stage
        from datasketches_postgresql_spark.dedup.suffix import (
            fused_winnow_table,
            sa_verify_pairs,
        )

        extracted = spark.createDataFrame(
            [(d, f"https://h{d}/", t) for d, t in docs],
            "doc_id long, url string, text string",
        )
        sigs = signature_stage(extracted, winnow_chars=L)
        cand_df = spark.createDataFrame(cands, "a long, b long")
        out = sa_verify_pairs(cand_df, extracted, fused_winnow_table(sigs, L), L)
        return sorted(tuple(r) for r in out.collect())

    def test_sa_verify_pairs_exact_semantics(self, spark):
        """End-to-end: keeps exactly the pairs sharing >= L verbatim chars;
        a pair sharing L-1 chars is rejected by the exact phase even though
        the winnowed prefilter may pass it."""

        rng = np.random.default_rng(11)
        L = 200
        shared = "".join(rng.choice(list("abcdefgh "), size=L))
        near = shared[:-1]  # L-1 chars: must NOT verify
        mk = lambda n, abc: "".join(rng.choice(list(abc), size=n))
        docs = [
            (1, mk(300, "uvw") + shared + mk(100, "xyz")),
            (2, mk(50, "klm") + shared),
            (3, mk(250, "pqr") + near + mk(250, "stu")),
            (4, near + mk(400, "efg")),
            (5, mk(600, "hij")),
            (6, mk(600, "nop")),
        ]
        got = self._verify(spark, docs, [(1, 2), (3, 4), (5, 6), (1, 5)], L)
        assert got == [(1, 2)]

    def test_verifier_matches_suffix_array_oracle(self, spark):
        """The live verifier (winnow filter/confirm, then the L-gram residue)
        returns exactly the pairs the suffix-array oracle finds, over every
        pair of a seeded doc set with shared spans at and around each
        threshold: L-1, L, L+w-2 (may miss the confirm tier), L+w-1 (always
        confirmed) and 2L; docs shorter than L'; two separate L-1 spans;
        and short boilerplate shared by every doc. Spans and filler use
        disjoint alphabets, so no shared span extends past its plant."""
        from itertools import combinations

        from datasketches_postgresql_spark.dedup.suffix import (
            winnow_pair_fingerprints,
            winnow_params,
        )

        rng = np.random.default_rng(41)
        L = 200
        Lp, w = winnow_params(L)
        filler = lambda n: "".join(rng.choice(list("abcdefghijklmnop "), size=n))
        span = lambda n: "".join(rng.choice(list("qrvwxyz0123456789"), size=n))
        boiler = "home | about | contact | cookie settings "
        docs, planted = [], []

        def add(text, prefix=boiler):
            docs.append((len(docs) + 1, prefix + text))
            return len(docs)

        for span_len in (L - 1, L, L + w - 2, L + w - 1, 2 * L):
            sp = span(span_len)
            ids = [
                add(filler(int(rng.integers(50, 300))) + sp + filler(int(rng.integers(0, 200)))),
                add(sp + filler(int(rng.integers(100, 300)))),
                add(filler(int(rng.integers(1, 120))) + sp),
            ]
            if span_len >= L:
                planted += list(combinations(ids, 2))
        s1, s2 = span(L - 1), span(L - 1)  # two short spans never make one long one
        add(filler(80) + s1 + filler(60) + s2)
        add(s2 + filler(90) + s1)
        short = span(Lp - 1)
        add(short, prefix="")  # shorter than L': no fingerprints at all
        add(filler(30) + short + filler(300))
        add(filler(Lp - 10), prefix="")
        cands = list(combinations([d for d, _ in docs], 2))
        texts = dict(docs)
        want = sorted(
            (a, b)
            for a, b in cands
            if shared_substring_pairs_pandas(np.array([a, b]), [texts[a], texts[b]], L)
        )
        assert want == sorted(planted)
        # at least one true pair is left to the exact residue phase
        confirm = {d: winnow_pair_fingerprints(t, L)[1] for d, t in docs}
        assert any(np.intersect1d(confirm[a], confirm[b]).size == 0 for a, b in want)
        assert self._verify(spark, docs, cands, L) == want


class TestSkewBoundedCandidates:
    """Evidence for the north rule's 'skew handled explicitly' clause: a
    pathological LSH bucket (boilerplate shared by every doc — the web-crawl
    worst case) must cost O(bucket) candidate edges, not O(bucket^2), while
    keeping full connectivity so no true duplicate pair is lost."""

    def test_mega_bucket_emits_linear_star_edges(self, spark):
        from datasketches_postgresql_spark.dedup.lsh import candidate_edges
        from datasketches_postgresql_spark.dedup.minhash import signature_stage

        n = 3000
        rows = [(i, f"https://h/{i}", "common boilerplate page text " * 30) for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id long, url string, text string")
        edges = candidate_edges(signature_stage(df)).collect()
        # identical texts -> identical signatures -> every band bucket holds
        # all n docs; the hybrid path stars each doc to the signature
        # sub-group minimum: exactly n-1 edges (all-pairs would be ~4.5M)
        assert len(edges) == n - 1
        assert all(e["a"] == 0 for e in edges)
        assert sorted(e["b"] for e in edges) == list(range(1, n))

    def test_mega_bucket_clusters_completely(self, spark):
        """The star edges must survive verification (signature-identical =>
        jaccard_est 1.0) and resolve to ONE cluster containing every doc."""
        from datasketches_postgresql_spark.dedup.cc import connected_components
        from datasketches_postgresql_spark.dedup.lsh import candidate_edges
        from datasketches_postgresql_spark.dedup.minhash import signature_stage
        from datasketches_postgresql_spark.dedup.verify import verify_edges

        n = 500
        rows = [(i, f"https://h/{i}", "shared boilerplate body " * 40) for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id long, url string, text string")
        sigs = signature_stage(df)
        verified = verify_edges(candidate_edges(sigs), sigs)
        clusters = connected_components(verified).collect()
        assert len(clusters) == n
        assert len({r["cluster_id"] for r in clusters}) == 1
