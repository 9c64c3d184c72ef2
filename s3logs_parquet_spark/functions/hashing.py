"""Portable deterministic hashing, identical in Spark and ANSI SQL.

The near-dup / fingerprint family must be verifiable by a DuckDB
differential oracle, so hash values must match bit-for-bit across
engines. Engine-native hashes (Spark xxhash64/murmur3, DuckDB hash())
differ; MD5 is identical everywhere. We derive a 32-bit unsigned int
from the first 8 hex chars of md5 — small enough that a*x+b stays
within signed-64 arithmetic in any engine.

Spark:   conv(substring(md5(s), 1, 8), 16, 10)::long
DuckDB:  ('0x' || substr(md5(s), 1, 8))::bigint

The entire sketch family (MinHash, SimHash, fingerprints, winnowing,
splits, sharding) routes through hash32(), so every value it produces
is checkable against a DuckDB oracle. MD5 costs ~1.4x xxhash64 on the
hash stage alone and ~9% of an end-to-end MinHash job (PERF.md
"HASH_IMPL"); an engine-native hash would give up the oracle parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_31 = (1 << 31) - 1


def hash32(c: Column) -> Column:
    """32-bit hash of a string column (non-negative long): the first
    8 hex chars of md5."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def hash32_sql(expr: str) -> str:
    """The DuckDB-side twin of hash32()."""
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def affine_coeffs(num: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the MinHash affine family
    h_i(x) = (a_i*x + b_i) mod (2^31-1), via an LCG seeded portably —
    plain integer arithmetic reproducible in SQL or any language."""
    state = (seed & 0x7FFFFFFF) or 1
    out: list[tuple[int, int]] = []
    for _ in range(num):
        state = (state * 1103515245 + 12345) % MERSENNE_31
        a = state or 1
        state = (state * 1103515245 + 12345) % MERSENNE_31
        out.append((a, state))
    return out
