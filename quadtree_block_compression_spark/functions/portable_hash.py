"""Cross-engine deterministic hashing (Spark ⇄ DuckDB).

The correctness gate runs every query twice — PySpark and a DuckDB oracle —
and compares value hashes. Hash-dependent operators (MinHash, SimHash,
fingerprints) therefore need a string→int64 hash that BOTH engines compute
identically. Spark's ``xxhash64`` and DuckDB's ``hash()`` differ, so we
define one from primitives both share: the first 15 hex digits of ``md5``
(60 bits, always < 2^63, never negative):

* Spark SQL:  ``cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)``
* DuckDB SQL: ``cast('0x' || substring(md5(s), 1, 15) as bigint)``

MinHash permutations are the classic universal-hash family
``(a_i · h + b_i) mod p`` with p = 2^61 − 1 (a Mersenne prime) and seeded
odd constants — pure integer arithmetic, expressible in both dialects.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

MINHASH_PRIME = (1 << 61) - 1

# deterministic permutation constants (seeded LCG, public constants)


def _perm_constants(n: int, seed: int = 42) -> list[tuple[int, int]]:
    state = seed
    out = []
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state | 1) % MINHASH_PRIME
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MINHASH_PRIME
        out.append((a, b))
    return out


PERMS_16 = _perm_constants(16)


def portable_hash64(col: Column | str) -> Column:
    """60-bit non-negative hash of a string column (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash64_spark_sql(expr: str) -> str:
    """Same hash as :func:`portable_hash64`, as Spark SQL text."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def portable_hash64_sql(expr: str) -> str:
    """Same hash in DuckDB SQL (for oracle queries)."""
    return f"CAST('0x' || substring(md5({expr}), 1, 15) AS BIGINT)"


def minhash_perm(h: Column, i: int) -> Column:
    """i-th MinHash permutation of a hash column (Spark side).

    (a·h + b) mod p computed entirely in int64 (r6): the 121-bit product is
    split into four partial products over (a₁·2³¹ + a₀)(h₁·2³⁰ + h₀) and
    reduced with the Mersenne identity 2⁶¹ ≡ 1 (mod p), each intermediate
    staying below 2⁶² (ANSI-safe). Exact integer arithmetic — value-
    identical to the previous DECIMAL(38,0) form (pytest pins equality over
    boundary + 200k random inputs) and to DuckDB's HUGEINT oracle
    (``minhash_perm_sql``), at roughly half the per-row cost (measured
    2.6M-row signature pass: 1.5s → 0.8s).

    Validity: h < 2⁶⁰ (the portable hash is 60-bit) so h₁ < 2³⁰;
    a < p < 2⁶¹ so a₁ < 2³⁰, a₀ < 2³¹. Then a₁h₁ < 2⁶⁰ (≡ its own
    2⁶¹-coefficient), a₁h₀ < 2⁶⁰ and a₀h₁ < 2⁶¹ are re-split before their
    shifts, a₀h₀ < 2⁶¹, and every running sum adds values < 2⁶¹ to an
    accumulator < p — no signed-64 overflow anywhere.
    """
    a, b = PERMS_16[i]
    p = F.lit(MINHASH_PRIME)
    a1, a0 = a >> 31, a & ((1 << 31) - 1)
    h1 = F.shiftright(h, 30)
    h0 = h.bitwiseAND(F.lit((1 << 30) - 1))
    u = F.lit(a1) * h0                                # < 2^60
    u1 = F.shiftright(u, 30)
    u0 = u.bitwiseAND(F.lit((1 << 30) - 1))
    v = F.lit(a0) * h1                                # < 2^61
    v1 = F.shiftright(v, 31)
    v0 = v.bitwiseAND(F.lit((1 << 31) - 1))
    acc = F.pmod(F.lit(a1) * h1 + u1 + v1, p)         # 2^61-coefficients ≡ 1
    acc = F.pmod(acc + u0 * F.lit(1 << 31), p)
    acc = F.pmod(acc + v0 * F.lit(1 << 30), p)
    acc = F.pmod(acc + F.lit(a0) * h0, p)
    return F.pmod(acc + F.lit(b), p)


def minhash_perm_decimal(h: Column, i: int) -> Column:
    """Pre-r6 DECIMAL(38,0) form of :func:`minhash_perm` — kept as the
    independent reference implementation the equivalence pytest checks the
    int64 form against (mirrors DuckDB's HUGEINT arithmetic directly)."""
    a, b = PERMS_16[i]
    prod = h.cast("decimal(38,0)") * F.lit(a).cast("decimal(38,0)") + F.lit(b)
    return F.pmod(prod, F.lit(MINHASH_PRIME).cast("decimal(38,0)")).cast("long")


def minhash_perm_sql(expr: str, i: int) -> str:
    """Same permutation in DuckDB SQL (HUGEINT arithmetic)."""
    a, b = PERMS_16[i]
    return (f"CAST((CAST({expr} AS HUGEINT) * {a} + {b}) % {MINHASH_PRIME} AS BIGINT)")
