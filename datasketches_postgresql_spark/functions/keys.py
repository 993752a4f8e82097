"""The DataSketches key rule, in one place.

Every hash-based family here (theta, HLL, CPC, AOD) keys its sketches the
way datasketches-java's ``update`` overloads do (SURVEY.md §1.2: the
reference canonicalizes any element type to bytes before hashing,
src/theta_sketch_pg_functions.c:103-115), so its images union with
Druid / Hive / datasketches-* sketches over the same keys:

- byte, short, int and long values hash as ``update(long)``: the 8
  little-endian bytes of the long;
- binary values hash as ``update(byte[])``: the raw bytes;
- anything else hashes as ``update(String)``: the UTF-8 bytes of its string;

all with murmur3_x64_128 and seed 9001. NULLs, empty strings and empty
byte arrays update nothing, as in datasketches-java.

``key_column`` is the Spark side of the rule (the projection a native
aggregate or a numpy partial reads), ``hash_keys`` the numpy side (the
murmur3 halves of one batch of projected keys).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, ByteType, IntegerType, LongType, ShortType

from ..sketches.murmur3 import DEFAULT_SEED, hash128_arrow, hash128_u64

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def key_column(df: DataFrame, col: str) -> Column:
    """The column as datasketches-java's update(long / byte[] / String) key."""
    dtype = df.schema[col].dataType
    if isinstance(dtype, _INTEGRAL):
        return F.col(col).cast("long")
    if isinstance(dtype, BinaryType):
        return F.col(col)
    return F.col(col).cast("string")


def _exact_longs(arr: np.ndarray, name: str) -> np.ndarray:
    """Longs from a float64 rendering of a nullable BIGINT column (how a
    SQL pandas UDF receives one), refusing what float64 cannot hold."""
    if not np.all(arr == np.floor(arr)):
        raise ValueError(f"{name}: non-integral numeric keys — cast to BIGINT or STRING first")
    # beyond 2^53 a float64 cannot represent every long, and 2^53 itself is
    # reachable by rounding from 2^53 + 1: the hash would silently differ
    # from a sketch built on the true keys
    if np.any(np.abs(arr) >= 2.0**53):
        raise ValueError(
            f"{name}: integer keys above 2^53 were rendered as lossy "
            "float64 (nullable BIGINT via Arrow) — cast to BIGINT or STRING first"
        )
    return arr.astype(np.int64)


def hash_keys(keys: pd.Series, name: str = "sketch build") -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (kept, h1, h2): ``kept`` marks the rows that update a sketch (not
    NULL, not an empty string or byte array), and h1/h2 are their murmur3
    halves, in row order. Integer columns arrive as int64 or nullable Int64
    (or as float64 through a SQL pandas UDF), binary columns as bytes,
    string columns as str."""
    kept = keys.notna().to_numpy()
    if keys.dtype.kind in "iu":
        longs = keys.to_numpy(dtype=np.int64, na_value=0)[kept]
        return kept, *hash128_u64(longs.view(np.uint64), DEFAULT_SEED)
    if keys.dtype.kind == "f":
        longs = _exact_longs(keys.to_numpy()[kept], name)
        return kept, *hash128_u64(longs.view(np.uint64), DEFAULT_SEED)
    present = keys[kept]
    binary = len(present) > 0 and isinstance(present.iloc[0], (bytes, bytearray))
    try:
        arr = pa.array(keys, type=pa.large_binary() if binary else pa.large_string(), from_pandas=True)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        arr = pa.array(keys.map(str, na_action="ignore"), type=pa.large_string(), from_pandas=True)
    kept = pc.fill_null(pc.greater(pc.binary_length(arr), 0), False).to_numpy(zero_copy_only=False)
    return kept, *hash128_arrow(arr, DEFAULT_SEED, with_h2=True)
