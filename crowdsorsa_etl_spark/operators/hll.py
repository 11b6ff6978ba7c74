"""HyperLogLog distinct-count sketch (Flajolet et al. 2007) — the
cardinality member of the sketch triad (q92_countmin = frequency,
q113_kll_quantiles = quantiles, this = distinct count).

Exact ``count(DISTINCT x)`` at 100 TB is a full shuffle of the distinct
key space; the HLL register table is O(m) bytes, mergeable by per-register
max, and answers within ~1.04/sqrt(m). Engine-portable by construction:

* the item hash is ``hex60`` (``functions/portable_hash``) — md5-derived,
  bit-identical in Spark and DuckDB;
* register index = top ``b`` bits, ``rho`` = leading-zero rank of the
  remaining ``w = 60 - b`` bits computed from the BINARY STRING length
  (``bin(w)`` drops leading zeros in both engines; the usual
  ``floor(log2())`` route re-imports the exact-power libm ulp trap that
  _pow2_bucket documents) — integer/string ops end to end;
* the 2^-M fold is EXACT: ``sum(2^(wbits+1 - M_j))`` over present
  registers plus ``2^(wbits+1)`` per zero register is a BIGINT
  (m * 2^53 < 2^62), so both engines agree to the bit and the only
  float in the estimate is the final alpha * m^2 * 2^53 / S division.

Distribution: one map-side-combined groupBy(idx) max — the register
build collapses to m partials per input partition before the exchange;
merge of independently built sketches is the same max, which the pytest
gate exercises. Linear-counting small-range branch included (V > 0 and
raw E <= 2.5 m); its ln() is the one operation that could drift last-ulp
cross-engine, and it only activates when cardinality is comparable to m
— document the operating point, don't hide the branch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.portable_hash import hex60_spark, hex60_sql

HLL_B = 8  # 2^8 = 256 registers
HLL_M = 1 << HLL_B
HLL_WBITS = 60 - HLL_B  # 52 value bits; rho in [1, 53]
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
_POW_W = 1 << HLL_WBITS


def hll_registers(df: DataFrame, col) -> DataFrame:
    """(idx int, r int) for registers hit at least once; absent idx rows
    are zero registers (callers derive V = m - count(*))."""
    h = hex60_spark(F.concat(F.lit("hll:v1:"), F.col(col).cast("string")))
    base = df.select(h.alias("_h")).select(
        F.expr(f"_h div {_POW_W}").cast("int").alias("idx"),
        (F.col("_h") % F.lit(_POW_W)).alias("_w"),
    )
    rho = (
        F.when(F.col("_w") == 0, HLL_WBITS + 1)
        .otherwise(F.lit(HLL_WBITS) - F.length(F.bin(F.col("_w"))) + 1)
        .cast("int")
    )
    return (
        base.select("idx", rho.alias("_rho"))
        .groupBy("idx")
        .agg(F.max("_rho").cast("int").alias("r"))
    )


def hll_estimate_expr(sum_fx: Column, v_zero: Column) -> Column:
    """Estimate from the exact integer fold: raw HLL with the standard
    linear-counting small-range branch. ``sum_fx`` = sum over ALL m
    registers of 2^(wbits+1 - M_j) (zero register -> 2^(wbits+1))."""
    scale = float(1 << (HLL_WBITS + 1))
    raw = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(scale)
        / sum_fx.cast("double")
    )
    lc = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_zero.cast("double"))
    return F.when((raw <= 2.5 * HLL_M) & (v_zero > 0), lc).otherwise(raw)


def hll_registers_sql(source_sql: str, value_sql: str) -> str:
    """DuckDB fragment producing the same (idx, r) register rows."""
    h = hex60_sql(f"'hll:v1:' || CAST({value_sql} AS VARCHAR)")
    return f"""
      SELECT CAST(h // {_POW_W} AS INT) AS idx,
             CAST(max(CASE WHEN h % {_POW_W} = 0 THEN {HLL_WBITS + 1}
                      ELSE {HLL_WBITS} - length(bin(h % {_POW_W})) + 1
                      END) AS INT) AS r
      FROM (SELECT {h} AS h FROM ({source_sql}))
      GROUP BY 1
    """


def hll_summary_sql(source_sql: str, value_sql: str) -> str:
    """One-row oracle: register-chain md5 (pins every cell), exact integer
    2^-M fold, estimate with the same literal constants, exact distinct,
    relative error."""
    regs = hll_registers_sql(source_sql, value_sql)
    scale = 1 << (HLL_WBITS + 1)
    raw = f"(CAST({HLL_ALPHA!r} AS DOUBLE) * {float(HLL_M * HLL_M)!r} * {float(scale)!r} / CAST(sum_fx AS DOUBLE))"
    lc = f"({float(HLL_M)!r} * ln({float(HLL_M)!r} / CAST(v_zero AS DOUBLE)))"
    return f"""
    WITH regs AS ({regs}),
    fold AS (
      SELECT CAST(count(*) AS BIGINT) AS n_regs,
             CAST({HLL_M} - count(*) AS BIGINT) AS v_zero,
             CAST(coalesce(sum(CAST(1 AS BIGINT) << ({HLL_WBITS + 1} - r)), 0)
                  + ({HLL_M} - count(*)) * CAST({scale} AS BIGINT)
                  AS BIGINT) AS sum_fx,
             md5(string_agg(CAST(idx AS VARCHAR) || ':' || CAST(r AS VARCHAR),
                            ',' ORDER BY idx)) AS reg_md5
      FROM regs
    ),
    ex AS (
      SELECT CAST(count(DISTINCT {value_sql}) AS BIGINT) AS n_exact
      FROM ({source_sql})
    )
    SELECT CAST({HLL_M} AS INT) AS m, f.v_zero, f.sum_fx, f.reg_md5,
           e.n_exact,
           round(CASE WHEN {raw} <= {2.5 * HLL_M!r} AND f.v_zero > 0
                      THEN {lc} ELSE {raw} END, 6) AS est,
           round(abs(CASE WHEN {raw} <= {2.5 * HLL_M!r} AND f.v_zero > 0
                          THEN {lc} ELSE {raw} END - e.n_exact)
                 / e.n_exact, 6) AS rel_err
    FROM fold f, ex e
    """


def hll_est_case_sql(sum_fx: str, v_zero: str) -> str:
    """Unrounded estimate expression over an exact integer fold — shared
    by the one-shot summary and the windowed rollup oracles."""
    scale = 1 << (HLL_WBITS + 1)
    raw = (
        f"(CAST({HLL_ALPHA!r} AS DOUBLE) * {float(HLL_M * HLL_M)!r}"
        f" * {float(scale)!r} / CAST({sum_fx} AS DOUBLE))"
    )
    lc = f"({float(HLL_M)!r} * ln({float(HLL_M)!r} / CAST({v_zero} AS DOUBLE)))"
    return (
        f"CASE WHEN {raw} <= {2.5 * HLL_M!r} AND {v_zero} > 0"
        f" THEN {lc} ELSE {raw} END"
    )


def hll_fold_sql(regs: str, group: str = "") -> str:
    """Fold a register relation (idx, r [, group cols]) into v_zero /
    sum_fx / reg_md5, optionally grouped."""
    g_sel = f"{group}, " if group else ""
    g_by = f"GROUP BY {group}" if group else ""
    return f"""
      SELECT {g_sel}
             CAST({HLL_M} - count(*) AS BIGINT) AS v_zero,
             CAST(coalesce(sum(CAST(1 AS BIGINT) << ({HLL_WBITS + 1} - r)), 0)
                  + ({HLL_M} - count(*)) * CAST({1 << (HLL_WBITS + 1)} AS BIGINT)
                  AS BIGINT) AS sum_fx,
             md5(string_agg(CAST(idx AS VARCHAR) || ':' || CAST(r AS VARCHAR),
                            ',' ORDER BY idx)) AS reg_md5
      FROM {regs} {g_by}
    """
