"""Engine-portable hash primitives (Spark ⇄ DuckDB lockstep).

Spark's fastest 64-bit hash, ``xxhash64``, exists only in Spark, so
signatures built from it cannot be reproduced by the DuckDB oracle. These
helpers derive hash words from ``md5``, which both engines implement
bit-identically over UTF-8 bytes, so the SAME signature pipeline can be
written as a Spark plan and as an ANSI-ish SQL string and hash-compared end
to end. The dedup/LSH operators (``operators/dedup.py``) use them for every
hash.

Two word widths:

* ``hex60``  — first 15 hex chars of the md5 → 60-bit non-negative bigint.
  15 (not 16) chars so the unsigned value always fits a SIGNED 64-bit int in
  both engines (Spark ``conv`` returns an unsigned decimal string; casting a
  ≥2^63 value to bigint would null out).
* ``h64``    — full 64 bits, reconstructed as two 32-bit halves with a
  signed-overflow-safe combine (``(hi - 2^32·[hi ≥ 2^31]) · 2^32 + lo``).
  Used by SimHash, where every bit position carries a vote.

Multi-value combines skip NULL inputs in BOTH engines (``concat_ws(',')``
for ``combine60``, a no-op step for the Carter-Wegman combine), which the
shingle operators rely on for trailing sub-shingles.

Each primitive has a ``*_spark`` (→ pyspark Column) and a ``*_sql``
(→ DuckDB SQL fragment) form generated from the same parameters; tests and
the driver's oracle gate hold them in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "hex60_spark",
    "hex60_sql",
    "md5_word_spark",
    "md5_word_sql",
    "h64_spark",
    "h64_sql",
    "combine60_spark",
    "combine60_sql",
    "CW_PRIME",
    "CW_MULT",
    "cw_hash_spark",
    "cw_hash_sql",
    "combine_cw_spark",
    "combine_cw_sql",
]


def hex60_spark(col: Column) -> Column:
    """60-bit bigint from md5(col). ``col`` must already be a string."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hex60_sql(expr: str) -> str:
    """DuckDB fragment computing the same 60-bit word. ``expr`` → VARCHAR."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def md5_word_spark(col: Column, lo: int, n: int) -> Column:
    """Hex chars [lo, lo+n) of md5(col) as a bigint (n ≤ 15)."""
    return F.conv(F.substring(F.md5(col), lo, n), 16, 10).cast("bigint")


def md5_word_sql(expr: str, lo: int, n: int) -> str:
    return f"(('0x' || substr(md5({expr}), {lo}, {n}))::BIGINT)"


def h64_spark(col: Column) -> Column:
    """Full 64-bit signed word from md5(col): two 32-bit halves combined
    without overflow (hi is re-signed before the shift-by-multiply)."""
    hi = md5_word_spark(col, 1, 8)
    lo = md5_word_spark(col, 9, 8)
    signed_hi = F.when(hi >= F.lit(1 << 31), hi - F.lit(1 << 32)).otherwise(hi)
    return (signed_hi * F.lit(1 << 32) + lo).cast("bigint")


def h64_sql(expr: str) -> str:
    hi = md5_word_sql(expr, 1, 8)
    lo = md5_word_sql(expr, 9, 8)
    return (
        f"((CASE WHEN {hi} >= 2147483648 THEN {hi} - 4294967296 "
        f"ELSE {hi} END) * 4294967296 + {lo})"
    )


#: Mersenne prime 2^31 - 1 — the classic Carter-Wegman universal-hash
#: modulus. Family members are (a_i · (x mod p) + b_i) mod p: with
#: x mod p < 2^31 and a_i < 2^31 the product stays < 2^62, so the identical
#: expression evaluates overflow-free in Spark AND DuckDB int64 arithmetic —
#: a portable 16-member hash family at integer-multiply cost instead of 16
#: md5 digests per shingle.
CW_PRIME = (1 << 31) - 1


def _cw_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for family member i: odd multiplier from a fixed
    LCG step, both reduced mod p (a forced nonzero)."""
    a = (2654435761 * (i + 1) + 40503) % CW_PRIME or 1
    b = (40503 * (i + 1) + 2654435761) % CW_PRIME
    return a, b


def cw_hash_spark(col: Column, i: int) -> Column:
    """Family member i applied to a non-negative bigint column."""
    a, b = _cw_params(i)
    return (F.pmod(col, F.lit(CW_PRIME)) * F.lit(a) + F.lit(b)) % F.lit(CW_PRIME)


def cw_hash_sql(expr: str, i: int) -> str:
    a, b = _cw_params(i)
    return f"((({expr}) % {CW_PRIME}) * {a} + {b}) % {CW_PRIME}"


#: Base for the portable polynomial combine — any odd constant < 2^31 works;
#: each step is h ← (h·BASE + (x mod p)) mod p, overflow-free in int64
#: (h, x mod p < 2^31 ⇒ h·BASE + x < 2^62 + 2^31).
CW_MULT = 1_000_003


def _cw_seed(seed: int) -> int:
    """Start value for a seeded polynomial combine (decorrelates band 0
    from the unseeded combine)."""
    return ((seed + 1) * 2654435761 + 40503) % CW_PRIME


def combine_cw_spark(*cols: Column, seed: int = 0) -> Column:
    """Polynomial combine of several non-negative bigint words mod 2^31-1 —
    the integer-only portable multi-value hash (one multiply-add per word vs
    one md5 digest + string concat for :func:`combine60_spark`). NULL inputs
    are skipped (the step is a no-op), like concat_ws, so trailing
    sub-shingles hash the words they have."""
    h: Column = F.lit(_cw_seed(seed)).cast("bigint")
    for c in cols:
        step = (h * F.lit(CW_MULT) + F.pmod(c.cast("bigint"), F.lit(CW_PRIME))) % F.lit(
            CW_PRIME
        )
        h = F.when(c.isNull(), h).otherwise(step)
    return h


def combine_cw_sql(*exprs: str, seed: int = 0) -> str:
    """DuckDB fragment computing the identical polynomial combine. The
    multiplier is cast to BIGINT explicitly — DuckDB types bare int literals
    INT32 and overflows the product otherwise."""
    h = f"CAST({_cw_seed(seed)} AS BIGINT)"
    for e in exprs:
        step = (
            f"((({h}) * CAST({CW_MULT} AS BIGINT)"
            f" + (({e}) % {CW_PRIME})) % {CW_PRIME})"
        )
        h = f"(CASE WHEN ({e}) IS NULL THEN ({h}) ELSE {step} END)"
    return h


def combine60_spark(*cols: Column, seed: str | None = None) -> Column:
    """60-bit hash of several values: md5 of the comma-joined string casts.
    NULL inputs are skipped (concat_ws semantics) in BOTH engines."""
    parts = ([F.lit(seed)] if seed is not None else []) + [
        c.cast("string") for c in cols
    ]
    return hex60_spark(F.concat_ws(",", *parts))


def combine60_sql(*exprs: str, seed: str | None = None) -> str:
    parts = ([f"'{seed}'"] if seed is not None else []) + [
        f"CAST({e} AS VARCHAR)" for e in exprs
    ]
    return hex60_sql(f"concat_ws(',', {', '.join(parts)})")
