"""Partitioned, mergeable Bloom filter over 64-bit key columns — the
membership tier for batch-append dedup: an incremental crawl asks "which
of my content/band hashes could the accumulated corpus already hold?"
and only Bloom-POSITIVE keys pay the exact semi-join against the base
tables; negatives are definitely new (no false negatives, ever) and skip
the corpus entirely. DataSketches heritage: the ecosystem ships the same
primitive as its bloom filter family (datasketches.apache.org); like the
engine's other sketches it is built partition-parallel and OR-mergeable,
so tomorrow's filter = today's filter ∪ today's batch without rescanning
history (the reference's stored-aggregate re-aggregation shape,
/root/reference/sql/datasketches_theta_sketch.sql merge aggregates).

Scale shape at 10^12 keys:

- ONE filter is never materialized: keys hash-partition into
  ``n_buckets`` slices, each an independent fixed-width bitmap sized for
  n/n_buckets keys, so build parallelism, filter storage, and probe
  shuffles all follow the bucket key (on Iceberg the filter table lives
  bucketed by ``bucket``). 10^12 keys at 10 bits/key is ~1.2 TB of
  bitmap — per 65k buckets that is ~19 MB a slice, one Arrow batch.
- build is groupBy(bucket) → one numpy scatter per slice (applyInPandas;
  no per-row Python); bit-OR semantics make the result independent of
  row order and partition layout (bit-identical, tested).
- probes COGROUP the batch's keys with the filter on bucket, so a slice's
  bitmap crosses the shuffle once per bucket — never once per probed key
  (a plain join would ship ~19 MB per row).
- merge is groupBy(bucket) + bitwise OR of equal-width bitmaps: append a
  new batch's filter without touching old slices' inputs.

Hash scheme: double hashing (Kirsch–Mitzenmacher) h_i = h1 + i*h2 over
the two 64-bit halves splitmix64-mixed from the key — k probe positions
from one mix pass, fully vectorized."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

DEFAULT_BITS_PER_KEY = 10
_U64 = np.uint64


def _mix(keys: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 finalizer over u64 keys — the same public mixer the
    engine's other kernels use for salting; one pass, vectorized."""
    z = keys + _U64(seed * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def _positions(keys: np.ndarray, m_bits: int, n_hashes: int) -> np.ndarray:
    """(len(keys), n_hashes) bit positions via double hashing. h2 is forced
    odd so the probe stride never degenerates on power-of-two m."""
    h1 = _mix(keys, 1)
    h2 = _mix(keys, 2) | _U64(1)
    i = np.arange(n_hashes, dtype=_U64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % _U64(m_bits)).astype(np.int64)


def _scatter(bits: np.ndarray, keys: np.ndarray, m_bits: int, n_hashes: int) -> None:
    pos = _positions(keys, m_bits, n_hashes).ravel()
    np.bitwise_or.at(bits, pos >> 3, np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)))


def _test(bits: np.ndarray, keys: np.ndarray, m_bits: int, n_hashes: int) -> np.ndarray:
    pos = _positions(keys, m_bits, n_hashes)
    hit = (bits[pos >> 3] & np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8))) != 0
    return hit.all(axis=1)


def _bucket(key, n_buckets: int):
    # an independent mix (seed 3) decorrelates the bucket route from the
    # in-slice probe positions (both consume the same key)
    return F.pmod(F.xxhash64(key.cast("long"), F.lit(3)), F.lit(n_buckets)).cast("int")


def bloom_build(
    df: DataFrame,
    key_col: str,
    n_buckets: int = 64,
    bits_per_slice: int = 1 << 20,
    n_hashes: int = 7,
) -> DataFrame:
    """Build the partitioned filter: (bucket int, bits binary, n_keys long).
    Size ``bits_per_slice`` for the EXPECTED keys per bucket (m/n ~ 10 for
    ~1% fpp at k=7); every slice is exactly bits_per_slice/8 bytes so
    merges never need a resize. Buckets with no keys are absent (a probe
    against an absent bucket is definitely-new)."""
    if bits_per_slice % 8:
        raise ValueError("bits_per_slice must be a multiple of 8")
    m, k = bits_per_slice, n_hashes
    schema = StructType(
        [
            StructField("bucket", IntegerType()),
            StructField("bits", BinaryType()),
            StructField("n_keys", LongType()),
            StructField("n_buckets", IntegerType()),
            StructField("n_hashes", IntegerType()),
        ]
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m >> 3, dtype=np.uint8)
        keys = pdf["__key"].to_numpy(dtype=np.int64).view(np.uint64)
        _scatter(bits, keys, m, k)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["__bucket"].iloc[0])],
                "bits": [bits.tobytes()],
                "n_keys": [int(len(np.unique(keys)))],
                # the filter is self-describing: a probe or merge with
                # mismatched routing/probe params would produce SILENT
                # false negatives, so the params ride with every slice
                # and are validated at use
                "n_buckets": [n_buckets],
                "n_hashes": [k],
            }
        )

    # NULL keys carry no membership information and would arrive in the
    # Arrow batch as NaN in a float64 column (crashing the int64 view) —
    # drop them here; a NULL-keyed probe is handled symmetrically below
    keyed = df.select(
        F.col(key_col).cast("long").alias("__key"),
        _bucket(F.col(key_col), n_buckets).alias("__bucket"),
    ).where(F.col("__key").isNotNull())
    return keyed.groupBy("__bucket").applyInPandas(build, schema)


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two filters built with identical (n_buckets, bits_per_slice,
    n_hashes): groupBy(bucket) + bitwise OR. n_keys adds (an upper bound
    after the union — exact per-slice distinct is gone, as with any
    Bloom)."""
    both = a.unionByName(b)
    schema = both.schema

    def orfold(pdf: pd.DataFrame) -> pd.DataFrame:
        widths = {len(x) for x in pdf["bits"]}
        if len(widths) != 1:
            raise ValueError(f"mismatched slice widths {widths}: filters built with different bits_per_slice")
        for p in ("n_buckets", "n_hashes"):
            vals = set(pdf[p].tolist())
            if len(vals) != 1:
                raise ValueError(
                    f"mismatched {p} {sorted(vals)}: merging filters built "
                    "with different parameters would produce silent false "
                    "negatives"
                )
        acc = np.zeros(widths.pop(), dtype=np.uint8)
        for x in pdf["bits"]:
            acc |= np.frombuffer(x, dtype=np.uint8)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "bits": [acc.tobytes()],
                "n_keys": [int(pdf["n_keys"].sum())],
                "n_buckets": [int(pdf["n_buckets"].iloc[0])],
                "n_hashes": [int(pdf["n_hashes"].iloc[0])],
            }
        )

    return both.groupBy("bucket").applyInPandas(orfold, schema)


def bloom_maybe_contains(
    batch: DataFrame,
    key_col: str,
    filt: DataFrame,
    n_buckets: int | None = None,
    n_hashes: int | None = None,
    result_col: str = "maybe_member",
) -> DataFrame:
    """batch + a boolean ``result_col``: False = DEFINITELY not in the
    filtered key set (skip the corpus join), True = possibly present
    (verify with the exact semi-join; fpp ~ (1 - e^{-kn/m})^k). The
    filter's bitmap crosses the shuffle once per bucket (cogroup), never
    per probed row. ``filt`` may be a UNION of several filters built with
    the same params (base + increments): slices sharing a bucket OR-fold
    in the probe, so chained batch-append never rewrites old filters.

    The filter is self-describing: ``n_buckets``/``n_hashes`` default to
    the values stored on the filter rows (one small lookup job, skipped
    when both are passed explicitly — explicit params keep the call
    fully lazy), and EVERY probed bucket re-validates its stored params
    against the probing ones inside the cogroup — a mismatch anywhere in
    a unioned filter raises instead of silently missing members, the one
    failure mode a Bloom filter must never have. Filters checkpointed
    before the params columns existed still probe with explicit
    arguments (legacy fallback, unvalidated by necessity)."""
    self_describing = "n_buckets" in filt.columns and "n_hashes" in filt.columns
    if n_buckets is None or n_hashes is None:
        if not self_describing:
            raise ValueError(
                "legacy filter (no stored params): pass n_buckets and "
                "n_hashes explicitly"
            )
        stored = filt.select("n_buckets", "n_hashes").first()
        if stored is None:  # empty filter: every probe is definitely-new
            n_buckets = n_buckets or 64
            n_hashes = n_hashes or 7
        else:
            if n_buckets is not None and n_buckets != stored["n_buckets"]:
                raise ValueError(
                    f"n_buckets={n_buckets} but the filter was built with "
                    f"{stored['n_buckets']} — probing would silently miss members"
                )
            if n_hashes is not None and n_hashes != stored["n_hashes"]:
                raise ValueError(
                    f"n_hashes={n_hashes} but the filter was built with "
                    f"{stored['n_hashes']} — probing would silently miss members"
                )
            n_buckets = stored["n_buckets"]
            n_hashes = stored["n_hashes"]
    k_hashes, want_buckets = n_hashes, n_buckets
    probe_schema = StructType(
        [StructField("__key", LongType()), StructField(result_col, BooleanType())]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        keys = left["__key"].to_numpy(dtype=np.int64)
        if right.empty:
            return pd.DataFrame({"__key": keys, result_col: np.zeros(len(keys), bool)})
        if "n_hashes" in right.columns:
            # per-bucket validation: a UNION of filters built with
            # different params must fail loudly, not probe with one
            # arbitrary row's parameters
            bad_k = set(right["n_hashes"].tolist()) - {k_hashes}
            bad_b = set(right["n_buckets"].tolist()) - {want_buckets}
            if bad_k or bad_b:
                raise ValueError(
                    f"filter slice built with n_hashes={sorted(bad_k) or k_hashes} "
                    f"/ n_buckets={sorted(bad_b) or want_buckets}, probed with "
                    f"({k_hashes}, {want_buckets}) — would silently miss members"
                )
        widths = {len(x) for x in right["bits"]}
        if len(widths) != 1:
            raise ValueError(
                f"mismatched slice widths {widths}: filters built with different bits_per_slice"
            )
        bits = np.zeros(widths.pop(), dtype=np.uint8)
        for x in right["bits"]:
            bits |= np.frombuffer(x, dtype=np.uint8)
        got = _test(bits, keys.view(np.uint64), len(bits) << 3, k_hashes)
        return pd.DataFrame({"__key": keys, result_col: got})

    # NULL probe keys never reach the UDF (NaN-in-float64 would crash the
    # int64 view); they fall through the left join below and are flagged
    # False — a row with no key is definitely not a member of the key set
    keyed = (
        batch.select(
            F.col(key_col).cast("long").alias("__key"),
            _bucket(F.col(key_col), n_buckets).alias("__bucket"),
        )
        .where(F.col("__key").isNotNull())
        .dropDuplicates(["__key"])
    )
    flags = (
        keyed.groupBy("__bucket")
        .cogroup(filt.groupBy("bucket"))
        .applyInPandas(probe, probe_schema)
    )
    return batch.join(
        flags.select(F.col("__key"), F.col(result_col)),
        F.col(key_col).cast("long") == F.col("__key"),
        "left",
    ).drop("__key").fillna({result_col: False})
