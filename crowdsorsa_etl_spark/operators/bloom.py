"""Engine-portable Bloom-filter semi-join prune — the broadcast shape of
the decontamination probe.

``llm_substring_decontamination`` semi-joins corpus windows against the
eval set's window hashes. At 100 TB the corpus side of that join is the
whole scan; what production plans broadcast instead is a BLOOM of the
eval keys (Spark's own ``spark.sql.optimizer.runtime.bloomFilter`` does
exactly this, but with an engine-private hash the DuckDB oracle can't
replay). This module builds the same structure from portable md5 words
so the differential gate can pin every bit:

* ``k = 4`` probe positions per key = four DISJOINT 4-hex-digit words of
  ONE md5 (16 bits each, one hash invocation per key);
* the bit array is packed into **63-bit words** (``word = pos div 63``,
  ``bit = pos mod 63``) — bit 63 would be the sign bit, whose shift
  semantics differ across engines; 63-bit packing keeps every word a
  plain non-negative BIGINT and the build a map-side-combined
  ``groupBy(word) bit_or(1 << bit)``;
* membership = all k positions set. A Bloom pass is a *candidate*: the
  prune query counts true matches (exact semi-join at fixture scale)
  and false positives, and reports the measured FP rate next to the
  (1 - e^{-kn/m})^k design point — the approximation ships with its
  loss measured, the suffix-audit posture.

Scale: the filter is O(m_bits / 63) BIGINT rows (a few KB) — broadcast
by construction; the probe side is one narrow projection per corpus
row + a broadcast join, no shuffle of the corpus. False-positive rate
degrades gracefully with load factor; the FP audit row is the signal to
re-size m_bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.portable_hash import (
    md5_word_spark,
    md5_word_sql,
)

BLOOM_K = 4
_WORD = 63


def _positions_spark(col) -> list:
    """k probe positions from one md5: hex windows [1,4], [5,8], [9,12],
    [13,16] — 16 bits each, so every position is below 2^16 with no modulo."""
    return [md5_word_spark(col, 1 + 4 * i, 4) for i in range(BLOOM_K)]


def _positions_sql(expr: str) -> list[str]:
    return [md5_word_sql(expr, 1 + 4 * i, 4) for i in range(BLOOM_K)]


def bloom_build(keys: DataFrame) -> DataFrame:
    """(word int, bits bigint) packed filter over distinct keys."""
    pos = F.explode(F.array(*_positions_spark(F.col("s")))).alias("pos")
    return (
        keys.select(pos)
        .select(
            F.expr(f"pos div {_WORD}").cast("int").alias("word"),
            F.expr(f"shiftleft(cast(1 as bigint), pos % {_WORD})").alias("_b"),
        )
        .groupBy("word")
        .agg(F.bit_or("_b").alias("bits"))
    )


def bloom_probe(probes: DataFrame, flt: DataFrame) -> DataFrame:
    """probes + boolean ``bloom_pass``: all k positions set. ``flt`` is
    broadcast (it is KBs by construction). Duplicate probe keys are fine:
    membership compares hits against the probed-position COUNT per key,
    not the constant ``BLOOM_K`` (a sum-vs-constant test would report a
    genuine member as false for any key probed more than once — a
    false-negative, the one error class a Bloom filter must never make).
    Output is one row per DISTINCT key."""
    pos_arr = F.array(*_positions_spark(F.col("s")))
    exploded = probes.select(
        "s", F.posexplode(pos_arr).alias("_i", "pos")
    ).select(
        "s",
        "_i",
        F.expr(f"pos div {_WORD}").cast("int").alias("word"),
        F.expr(f"shiftleft(cast(1 as bigint), pos % {_WORD})").alias("_b"),
    )
    hit = (
        exploded.join(F.broadcast(flt), "word", "left")
        .select(
            "s",
            (
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("_b"))
                != 0
            ).cast("int").alias("_hit"),
        )
        .groupBy("s")
        .agg((F.sum("_hit") == F.count(F.lit(1))).alias("bloom_pass"))
    )
    return hit


def bloom_prune_sql(eval_keys_sql: str, probe_keys_sql: str) -> str:
    """One-row oracle: filter-chain md5 (pins every packed word), probe
    counts, exact-match split, measured FP rate."""
    pos_build = " UNION ALL ".join(
        f"SELECT {p} AS pos FROM ek" for p in _positions_sql("s")
    )
    pos_probe = ", ".join(_positions_sql("s"))
    probe_hits = " + ".join(
        f"""CASE WHEN (coalesce((SELECT bits FROM flt
             WHERE flt.word = CAST(p{i} // {_WORD} AS INT)), 0)
             & (CAST(1 AS BIGINT) << (p{i} % {_WORD}))) != 0
            THEN 1 ELSE 0 END"""
        for i in range(BLOOM_K)
    )
    return f"""
    WITH ek AS MATERIALIZED ({eval_keys_sql}),
    pk AS MATERIALIZED ({probe_keys_sql}),
    flt AS MATERIALIZED (
      SELECT CAST(pos // {_WORD} AS INT) AS word,
             CAST(bit_or(CAST(1 AS BIGINT) << (pos % {_WORD})) AS BIGINT)
               AS bits
      FROM ({pos_build}) GROUP BY 1
    ),
    fchain AS (
      SELECT md5(string_agg(CAST(word AS VARCHAR) || ':' ||
                            CAST(bits AS VARCHAR), ',' ORDER BY word))
               AS filter_md5,
             CAST(count(*) AS BIGINT) AS n_words
      FROM flt
    ),
    probed AS (
      SELECT s,
             ({probe_hits}) = {BLOOM_K} AS pass,
             s IN (SELECT s FROM ek) AS truth
      FROM (SELECT s, {pos_probe} FROM pk) _p(s, p0, p1, p2, p3)
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_probes,
             CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
             CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN pass AND NOT truth THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_false_pos,
             CAST(sum(CASE WHEN truth AND NOT pass THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_false_neg
      FROM probed
    )
    SELECT f.n_words, f.filter_md5, a.n_probes, a.n_pass, a.n_true,
           a.n_false_pos, a.n_false_neg,
           round(CASE WHEN a.n_probes - a.n_true = 0 THEN 0
                 ELSE a.n_false_pos * 1.0 / (a.n_probes - a.n_true)
                 END, 6) AS fp_rate
    FROM fchain f, agg a
    """
