"""Portable hashing — identical arithmetic in Spark and DuckDB so even
MinHash/SimHash pipelines are oracle-checkable.

Base hash: first 8 hex chars of md5 → 32-bit unsigned int (both engines
have md5; hex→BIGINT is exact). MinHash family: h_k(x) = (a_k*x + b_k)
mod P with P prime > 2^32 and a_k < 2^30 so a_k*x + b_k < 2^63 — no
int64 overflow in either engine (Spark runs ANSI mode, overflow would
throw, which is the point: exact integer parity).
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MINHASH_P = 4_294_967_311  # smallest prime > 2^32
NUM_MINHASHES = 16

_rng = random.Random(7)
MINHASH_A = [(_rng.randrange(1, 1 << 30) | 1) for _ in range(NUM_MINHASHES)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(NUM_MINHASHES)]

FINGERPRINT_P = 1_000_000_007
FINGERPRINT_MULT = 31


def h32(col: Column) -> Column:
    """32-bit md5-prefix hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h32_sql(expr: str) -> str:
    """Same hash, DuckDB SQL."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


def minhash_expr(k: int, hcol: Column) -> Column:
    """k-th MinHash permutation of a pre-hashed value (Spark side)."""
    return (F.lit(MINHASH_A[k]) * hcol + F.lit(MINHASH_B[k])) % F.lit(MINHASH_P)
