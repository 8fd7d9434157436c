"""Deterministic, engine-portable hashing.

MinHash/SimHash/fingerprint operators need a hash that computes the
SAME value in Spark (JVM) and in the DuckDB correctness oracle.
Spark's ``xxhash64``/``hash`` and DuckDB's ``hash`` are different
algorithms, so we standardize on **MD5 prefix → bigint**:

  Spark : CAST(CONV(SUBSTRING(MD5(x), 1, k), 16, 10) AS BIGINT)
  DuckDB: ('0x' || substr(md5(x), 1, k))::BIGINT

Both are the byte-identical MD5 of the UTF-8 string, so the integers
agree exactly.  Two widths:

- 60-bit (15 hex chars): fingerprints / bucket ids (collision-safe).
- 28-bit (7 hex chars): MinHash ring, small enough that
  ``a * h + b`` never overflows int64 under ANSI arithmetic
  (a < 2^31, h < 2^28 → product < 2^59).

MD5 is ~GB/s/core in the JVM — at 100 TB this stays inside
whole-stage codegen (no Python boundary).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31 - 1: the classic universal-hash modulus.
MINHASH_PRIME = 2147483647

# Fixed affine coefficients for the MinHash family h_i(x) = (a_i*x + b_i) mod P.
# Any fixed odd-ish constants work; these are arbitrary but FROZEN because the
# oracle SQL embeds the same values.
MINHASH_A = [1103515245, 1299721, 1013904223, 22695477, 1664525, 214013, 69069, 1686629717]
MINHASH_B = [12345, 29573, 1299709, 7919, 104729, 2531011, 362437, 97531]


def md5_int60(col: Column) -> Column:
    """60-bit integer hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_int60_sql(expr: str) -> str:
    """Same 60-bit hash for the DuckDB oracle."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def md5_int28(col: Column) -> Column:
    """28-bit integer hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def md5_int28_sql(expr: str) -> str:
    """Same 28-bit hash for the DuckDB oracle."""
    return f"(('0x' || substr(md5({expr}), 1, 7))::BIGINT)"


def md5_int28_py(s: str) -> int:
    """Same 28-bit hash driver-side (Python) — for frozen constants
    computed once and shipped into plans as literals (hyperplane
    weights, IVF seeds, classifier weight tables).  Must stay
    bit-identical to :func:`md5_int28` / :func:`md5_int28_sql`."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


def minhash_expr(hash_col: Column, i: int) -> Column:
    """i-th MinHash permutation value of a 28-bit token hash (Spark side)."""
    return (F.lit(MINHASH_A[i]) * hash_col + F.lit(MINHASH_B[i])) % F.lit(MINHASH_PRIME)

