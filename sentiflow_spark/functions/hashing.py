"""Portable deterministic hashing primitives.

These are the building blocks for content ids (reference:
``internal/producer/fetch.go:178-182`` derives ids as
``hex(sha256(topic:source:post_id))``), MinHash signatures, SimHash
fingerprints, and LSH bucketing.

The md5-prefix primitives have two renderings that produce *identical
values*:

- a Spark ``Column`` (JVM-side, codegen'd — no Python in the hot path),
- a DuckDB SQL fragment (for the correctness oracle).

The shared integer space is the first 8 hex chars of md5 → a value in
[0, 2^32), wide enough for MinHash yet safely multipliable by a 31-bit
coefficient inside int64 (max product < 2^63).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 31-bit Mersenne prime — the classic universal-hash modulus.
MERSENNE_31 = 2_147_483_647

# Deterministic (a, b) coefficient pairs for k MinHash permutations:
# h_i(x) = (a_i * x + b_i) % MERSENNE_31. Generated from a fixed LCG so
# both engines (and every run) agree without any RNG.
MINHASH_SEED = 42  # LCG start state of the MinHash permutation coefficients


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    coeffs = []
    state = MINHASH_SEED
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = state % (MERSENNE_31 - 2) + 1  # a in [1, p-2]
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % (MERSENNE_31 - 1)  # b in [0, p-2]
        coeffs.append((a, b))
    return coeffs


# ---------------------------------------------------------------- Spark side

def md5_i32(col: Column) -> Column:
    """First 32 bits of md5(col) as a non-negative BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def md5_i60(col: Column) -> Column:
    """First 60 bits of md5(col) as a non-negative BIGINT — the wide
    variant for membership probes (e.g. decontamination) where 32 bits
    would birthday-collide against billions of keys. 15 hex chars keep
    the value strictly below 2^60, so the BIGINT cast can't overflow in
    either engine."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def content_id(*cols: Column) -> Column:
    """Reference id scheme: hex(sha256(a:b:c))."""
    return F.sha2(F.concat_ws(":", *cols), 256)


# --------------------------------------------------------------- DuckDB side

def duck_md5_i32(expr: str) -> str:
    """DuckDB fragment equal to md5_i32: hex-prefix cast parses base-16."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def duck_md5_i60(expr: str) -> str:
    """DuckDB fragment equal to md5_i60."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"
