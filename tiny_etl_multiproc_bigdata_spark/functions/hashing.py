"""Engine-portable stable hashing for dedup / fingerprinting.

Spark's native ``hash``/``xxhash64`` are engine-specific (Murmur3 with
Spark's seed), so results could never be checked against an external SQL
oracle. Instead we build hashes from ``md5`` — bit-identical in every
engine — by taking the first 15 hex chars (60 bits, always positive in a
signed 64-bit int). Used by MinHash, SimHash and fingerprint operators;
each has a DuckDB twin using the same construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column, offset: int = 1) -> Column:
    """First 60 bits of md5(col) as a non-negative BIGINT.

    ``offset`` selects a hex window so one md5 yields two independent
    56-60 bit values (offset 1 and 17 with length 15/16 stay within the
    32 hex chars).
    """
    return F.conv(F.substring(F.md5(col), offset, 15), 16, 10).cast("bigint")


def duck_md5_long(expr: str) -> str:
    """DuckDB twin of ``md5_long`` (offset 1) for oracle SQL."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def stable_token_hash(col: Column, seed: int = 0) -> Column:
    """Stable 60-bit hash of a token under a seed: md5(seed || '|' || tok)."""
    return md5_long(F.concat(F.lit(f"{seed}|"), col))


def minhash_value(tokens: Column, seed: int) -> Column:
    """MinHash signature component: min over token array of the seeded
    stable hash. ``tokens`` is an ``array<string>`` column."""
    return F.array_min(F.transform(tokens, lambda t: stable_token_hash(t, seed)))
