"""Driver-side kernel timings on fixed batches (traced runs only).

The batches depend on a constant seed, never on ``--seed``, so a kernel's
figure compares across runs and commits. Each kernel runs REPS times and the
median is reported.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from . import corpus
from .sketch_build import zipf_labels

REPS = 5
_SEED = 20240101


def _median_s(fn) -> float:
    fn()  # first call pays imports and lazy tables
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def dedup_kernels() -> dict[str, float]:
    from datasketches_postgresql_spark.dedup.minhash import minhash_signatures, simhash
    from datasketches_postgresql_spark.dedup.shingle import shingle_hash_batch

    pages, _ = corpus.generate(1000, _SEED)
    texts = pages["text"]
    n = len(texts)
    shingles = shingle_hash_batch(texts)
    return {
        "dedup.shingle.shingle_hash_batch.us_per_doc": _median_s(lambda: shingle_hash_batch(texts)) / n * 1e6,
        "dedup.minhash.minhash_signatures.us_per_doc": _median_s(lambda: minhash_signatures(shingles)) / n * 1e6,
        "dedup.minhash.simhash.us_per_doc": _median_s(lambda: simhash(shingles)) / n * 1e6,
    }


def sketch_kernels() -> dict[str, float]:
    from datasketches_postgresql_spark.sketches import cpc, fi, kll, theta
    from datasketches_postgresql_spark.sketches import cpc_interop, fi_interop, interop, kll_interop

    rng = np.random.default_rng(_SEED)
    n_items = 1 << 20
    hashes = rng.integers(0, 2**63, n_items, dtype=np.int64).astype(np.uint64)
    normals = rng.standard_normal(n_items)
    strings = zipf_labels(rng, n_items // 4, 8192, "v")
    m: dict[str, float] = {
        "sketches.theta.build_ns_per_item": _median_s(lambda: theta.build(hashes)) / n_items * 1e9,
        "sketches.cpc.build_ns_per_item": _median_s(lambda: cpc.build(hashes)) / n_items * 1e9,
        "sketches.kll.build_ns_per_item": _median_s(lambda: kll.build(normals)) / n_items * 1e9,
        "sketches.fi.build_ns_per_item": _median_s(lambda: fi.build(9, strings)) / len(strings) * 1e9,
    }

    # 64 images per family, each over 8,192 items, in DataSketches wire format
    n_img, per = 64, 8192
    keys = rng.integers(1, 2**62, (n_img, per), dtype=np.int64).astype(np.uint64)
    xs = rng.standard_normal((n_img, per))
    fi_vals = strings[: n_img * per // 4].reshape(n_img, -1)
    internal = {
        "theta": [interop.build_murmur(k) for k in keys],
        "cpc": [cpc_interop.build_murmur(k) for k in keys],
        "kll": [kll.build(x) for x in xs],
        "fi": [fi.build(9, v) for v in fi_vals],
    }
    codecs = {
        "theta": (interop.serialize_compact, interop.deserialize_compact, theta.union),
        "cpc": (cpc_interop.serialize_canonical, cpc_interop.deserialize_canonical, cpc.union),
        "kll": (
            lambda b: kll_interop.serialize(b, "<f8"),
            lambda b: kll_interop.deserialize(b, "<f8"),
            kll.merge,
        ),
        "fi": (fi_interop.serialize, fi_interop.deserialize, lambda s: fi.merge(9, s)),
    }
    for f, (enc, dec, union) in codecs.items():
        wire = [enc(b) for b in internal[f]]
        m[f"sketches.{f}.decode_us_per_image"] = _median_s(lambda: [dec(b) for b in wire]) / n_img * 1e6
        m[f"sketches.{f}.union_us_per_image"] = _median_s(lambda: union(internal[f])) / n_img * 1e6
    return m
