"""Z-order (Morton curve) layout clustering — multi-dimensional data
locality for file-level min/max pruning.

A table queried by ANY of several keys (e.g. ``o_custkey``, ``o_orderdate``,
``o_shippriority``) can only be range-partitioned by one of them; sorting by
the interleaved-bit Z-value keeps rows close in EVERY dimension close in
file order, so parquet row-group min/max statistics prune scans for
predicates on any key. This is what Delta's ``OPTIMIZE ZORDER BY`` and
Iceberg's sort orders do; here it is a pure column expression plus a
range-partitioned write — no table format needed.

The bit-interleave is built from shift/and/or column expressions (JVM-side,
codegen'd); the same loop generates the DuckDB oracle SQL, so engine parity
holds by construction (same pattern as ``_lang_detect_sql``).

n-ary interleave: bit ``i`` of column ``j`` lands at position ``i·n + j``
(round-robin, column 0 lowest), the direct generalization of the classic
2-D Morton code. ``n·bits`` must fit a signed bigint, so the default bit
width per key is ``min(16, 63 // n)`` — 16 for 2-3 keys, 15 for 4.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BITS = 16


def _bits_for(n: int, bits: int | None) -> int:
    if bits is None:
        bits = min(16, 63 // n)
    if n * bits > 63:
        raise ValueError(
            f"{n} keys x {bits} bits = {n * bits} interleaved bits "
            "overflows a signed bigint (max 63)"
        )
    return bits


def z_value_n(cols: Sequence[Column], bits: int | None = None) -> Column:
    """Interleave the low ``bits`` bits of ``n`` non-negative int columns:
    bit i of column j → position i·n + j."""
    n = len(cols)
    bits = _bits_for(n, bits)
    mask = F.lit((1 << bits) - 1)
    masked = [c.cast("bigint").bitwiseAND(mask) for c in cols]
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, c in enumerate(masked):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return out


def z_value_n_sql(exprs: Sequence[str], bits: int | None = None) -> str:
    """DuckDB SQL for the identical n-ary interleave — generated from the
    same bit loop as :func:`z_value_n`."""
    n = len(exprs)
    bits = _bits_for(n, bits)
    mask = (1 << bits) - 1
    masked = [f"(CAST({e} AS BIGINT) & {mask})" for e in exprs]
    terms = [
        f"((({c} >> {i}) & 1) << {i * n + j})"
        for i in range(bits)
        for j, c in enumerate(masked)
    ]
    return "(" + " | ".join(terms) + ")"


def z_value(x: Column, y: Column) -> Column:
    """2-key form (x even bit positions, y odd) — kept as the common case;
    delegates to :func:`z_value_n`."""
    return z_value_n([x, y], _BITS)


def z_value_sql(x_expr: str, y_expr: str) -> str:
    return z_value_n_sql([x_expr, y_expr], _BITS)


def zorder_write(
    df: DataFrame,
    path: str,
    *cols: str,
    bits: int | None = None,
    num_files: int | None = None,
) -> None:
    """Write ``df`` clustered by Z-value over any number of keys:
    repartitionByRange on the Z-value (one range shuffle — the same cost as
    any global sort-write) then sortWithinPartitions, so every output file
    covers a compact Z-range and its parquet column stats are selective for
    predicates on EVERY interleaved key."""
    if len(cols) < 2:
        raise ValueError("zorder_write needs at least two key columns")
    zed = df.withColumn("_z", z_value_n([F.col(c) for c in cols], bits))
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        zed.repartitionByRange(parts, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Hilbert curve — the stronger space-filling curve (no Morton "seams":
# consecutive curve positions are always grid neighbors, so equal-size
# file ranges have strictly better worst-case locality; what Delta Lake
# added as OPTIMIZE ... HILBERT and Iceberg exposes as a sort transform).
# Same engine shape as Z-order: a pure integer column expression feeding
# repartitionByRange + sortWithinPartitions.
#
# The classic xy2d bit loop (rx/ry quadrant digit, Gray-ish digit
# accumulate, reflect+swap rotation) is sequential across bit levels; it
# runs as an F.aggregate fold over the level list — LINEAR expression
# size (the lambda is applied at runtime, not unrolled), all integer
# ops, fully codegen. The oracle replays the identical loop as a
# bounded-depth recursive CTE generated from the same constants.
# ---------------------------------------------------------------------------


def hilbert_value(x: Column, y: Column, bits: int = 16) -> Column:
    """Hilbert curve index d of grid cell (x, y) on a 2^bits × 2^bits
    grid. Inputs must be non-negative and < 2^bits."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31]; got {bits}")
    n = 1 << bits
    levels = F.array(*[F.lit(n >> (i + 1)).cast("bigint") for i in range(bits)])
    init = F.struct(
        x.cast("bigint").alias("x"),
        y.cast("bigint").alias("y"),
        F.lit(0).cast("bigint").alias("d"),
    )

    def step(acc: Column, s: Column) -> Column:
        ax, ay, ad = acc["x"], acc["y"], acc["d"]
        rx = F.when(ax.bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        ry = F.when(ay.bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        d2 = ad + s * s * ((F.lit(3) * rx).bitwiseXOR(ry))
        nx = (
            F.when(ry == 0, F.when(rx == 1, F.lit(n - 1) - ay).otherwise(ay))
            .otherwise(ax)
            .cast("bigint")
        )
        ny = (
            F.when(ry == 0, F.when(rx == 1, F.lit(n - 1) - ax).otherwise(ax))
            .otherwise(ay)
            .cast("bigint")
        )
        return F.struct(nx.alias("x"), ny.alias("y"), d2.alias("d"))

    return F.aggregate(levels, init, step)["d"]


def hilbert_cte_sql(
    src_sql: str, id_expr: str, x_expr: str, y_expr: str, bits: int = 16
) -> str:
    """DuckDB recursive-CTE replay of :func:`hilbert_value` over
    ``src_sql`` rows — one iteration per bit level, final state at s=0.
    Returns a query yielding (id, h)."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31]; got {bits}")
    n = 1 << bits
    return f"""
    WITH RECURSIVE hil AS (
      SELECT {id_expr} AS id,
             CAST({x_expr} AS BIGINT) AS x,
             CAST({y_expr} AS BIGINT) AS y,
             CAST(0 AS BIGINT) AS d,
             CAST({n // 2} AS BIGINT) AS s
      FROM ({src_sql})
      UNION ALL
      SELECT id,
        CASE WHEN (y & s) = 0
             THEN CASE WHEN (x & s) > 0 THEN {n - 1} - y ELSE y END
             ELSE x END,
        CASE WHEN (y & s) = 0
             THEN CASE WHEN (x & s) > 0 THEN {n - 1} - x ELSE x END
             ELSE y END,
        d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
                        (CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END)),
        s // 2
      FROM hil WHERE s > 0
    )
    SELECT id, d AS h FROM hil WHERE s = 0
    """
