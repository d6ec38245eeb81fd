"""Pseudonymization hashing with reference-value parity (SURVEY §2.3 P5).

The reference pseudonymizes customer emails with ``mmh3.hash(email, seed=666,
signed=True)`` (src/gomus/_utils/extract_customers.py:135-140; seed constant
also src/_utils/database.py:59) — MurmurHash3 x86_32, signed 32-bit output.

Spark's builtin ``F.hash`` IS Murmur3 x86_32 but hard-codes seed 42 and a
different string layout, so stored ids would not match the reference's.
Decision (SURVEY §4 item 2): re-implement x86_32 with the pinned seed as an
Arrow-batched pandas UDF for value parity.  The algorithm below is the
public-domain MurmurHash3 reference algorithm.

Hot-path note: for *internal* keys (no parity requirement) always prefer
``F.hash`` / ``F.xxhash64`` — JVM-side, codegen-friendly.  This UDF exists
only where values must equal the reference's stored ids.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

MMH3_SEED = 666  # src/_utils/database.py:59

_C1, _C2 = 0xCC9E2D51, 0x1B873593
_M32 = 0xFFFFFFFF


def murmur3_32_signed(data: bytes, seed: int = MMH3_SEED) -> int:
    """MurmurHash3 x86_32, signed output — matches ``mmh3.hash(s, seed,
    signed=True)`` for UTF-8 input."""
    h = seed & _M32
    n = len(data)
    rounded = n & ~3
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * _C1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * _C2) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * _C1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * _C2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


@pandas_udf(LongType())
def _hash_id_udf(email: pd.Series, alternative: pd.Series) -> pd.Series:
    def one(e, alt):
        if not isinstance(e, str):
            # non-string email → numeric fallback id
            # (extract_customers.py:137-138); NULL arrives as NaN via Arrow
            return 0 if pd.isna(alt) else int(float(alt))
        return murmur3_32_signed(e.encode("utf-8"))

    return pd.Series(
        [one(e, a) for e, a in zip(email, alternative)], dtype="int64")


def hash_id(email: Column, alternative: Column) -> Column:
    """``hash_id(email, alternative)`` with mmh3(seed=666) parity."""
    return _hash_id_udf(email, alternative.cast("double"))
