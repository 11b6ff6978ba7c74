"""Scalable global row numbering / rank distributions.

``Window.orderBy(...)`` with no partition key funnels EVERY row through a
single window task (Spark's WindowExec warns about exactly this) — fine at
sf0.01, an OOM at 100 TB. This module implements the distributed two-phase
form of a global ORDER BY rank:

1. ``repartitionByRange`` on the sort key (the only full shuffle), then
   ``sortWithinPartitions`` — together a distributed total sort where
   partition *i* holds keys ≤ partition *i+1*'s.
2. ``monotonically_increasing_id`` assigned AFTER the local sort encodes
   ``partition_id * 2^33 + local_seq`` — so partition id and the
   partition-local row number are recovered with two bit ops, no extra
   shuffle and no per-partition window exchange.
3. Per-partition row counts are collected to the driver (bounded: one
   number per partition, like AQE's own stats) and turned into prefix-sum
   offsets, broadcast back as a tiny join.

global row number = partition offset + local row number. Everything stays
JVM-side; the one data-sized shuffle is the range exchange itself.

The ``order_cols`` MUST form a unique key (add a tie-breaker column, the
usual SQL determinism requirement). Under that contract
``rank = dense_rank = row_number``, and ``percent_rank`` / ``cume_dist`` /
``ntile`` are closed-form expressions of the global row number and the
total count, which lets the whole rank-distribution family run without a
single-partition window anywhere in the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.checkpointing import materialize

_MID_SEQ_BITS = 33  # monotonically_increasing_id: pid << 33 | local_seq


def with_global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    *,
    rn_col: str = "global_rn",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Return (df + ``rn_col`` 1-based global row number, total row count).

    ``order_cols`` must be a deterministic unique ordering (tie-breaker
    included). The input is materialized once (``materialize``) so the
    range-sampled partitioning is identical between the counts job and the
    output job — without it a resample could shift partition boundaries
    between the two passes.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    part = materialize(
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id()),
        # lazy: the counts job below is the first action, so it both
        # computes and persists the blocks in one pass — an eager
        # checkpoint would add a separate materialize job plus a full
        # read-back (VERDICT r16 next-#9: the barrier cost repeated
        # across every sketch/rank caller is long-tail fixed cost).
        # Determinism is unchanged: blocks are computed exactly once,
        # and the output job reads those same blocks.
        eager=False,
    )
    pid = F.shiftrightunsigned("_mid", _MID_SEQ_BITS)
    local_rn = F.col("_mid").bitwiseAND(F.lit((1 << _MID_SEQ_BITS) - 1)) + 1

    # one row per partition — bounded driver-side work, like AQE statistics
    counts = sorted(
        (r["_pid"], r["_n"])
        for r in part.groupBy(pid.alias("_pid")).agg(F.count(F.lit(1)).alias("_n")).collect()
    )
    offsets, running = [], 0
    for p, n in counts:
        offsets.append((p, running))
        running += n
    total = running

    off_df = spark.createDataFrame(offsets, "_pid bigint, _off bigint")
    out = (
        part.withColumn("_pid", pid)
        .join(F.broadcast(off_df), "_pid")
        .withColumn(rn_col, (F.col("_off") + local_rn).cast("bigint"))
        .drop("_pid", "_mid", "_off")
    )
    return out, total


def rank_distributions(
    df: DataFrame,
    order_cols: list[Column],
    *,
    ntile: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global ntile / percent_rank / cume_dist / rank / dense_rank over a
    unique ordering, with no single-partition window in the plan.

    With a unique sort key every row is its own peer group, so:
    ``rank = dense_rank = rn``, ``percent_rank = (rn-1)/(total-1)``,
    ``cume_dist = rn/total``, and ntile follows SQL's uneven-bucket rule
    (the first ``total % n`` buckets get one extra row).
    """
    out, total = with_global_row_number(
        df, order_cols, rn_col="_grn", num_partitions=num_partitions
    )
    rn = F.col("_grn")
    base, rem = divmod(total, ntile)
    if base == 0:
        tile = rn  # fewer rows than buckets: row i → bucket i
    else:
        head = rem * (base + 1)  # rows covered by the (base+1)-sized buckets
        tile = F.when(
            rn <= head, F.floor((rn - 1) / (base + 1)) + 1
        ).otherwise(rem + F.floor((rn - 1 - head) / base) + 1)
    return (
        out.withColumn("quartile" if ntile == 4 else f"ntile_{ntile}", tile.cast("int"))
        .withColumn(
            "pct_rank",
            F.round((rn - 1) / F.lit(max(total - 1, 1)), 6),
        )
        .withColumn("cdist", F.round(rn / F.lit(total), 6))
        .withColumn("rnk", rn.cast("int"))
        .withColumn("drnk", rn.cast("int"))
        .drop("_grn")
    )


def with_global_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    weight_col: str,
    *,
    cum_col: str = "global_cum",
) -> DataFrame:
    """Running total of ``weight_col`` over a global ordering, with no
    single-partition window anywhere in the plan — the same two-phase
    range-sort trick as ``with_global_row_number`` with per-partition SUMS
    (not counts) as the bounded driver round-trip. ``cum_col`` is the
    INCLUSIVE prefix sum (current row counted).

    The in-partition running sum is a window partitioned by the range
    partition id — every partition's window state stays local; the driver
    only ever sees one number per partition, exactly like AQE statistics.
    ``order_cols`` must be a deterministic unique ordering.

    NULL weights count as 0 (both in the per-partition offsets and the
    in-partition running sum) — the SQL ``sum(coalesce(w, 0)) OVER ...``
    contract.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    part = materialize(
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id()),
        # lazy for the same reason as with_global_row_number: the sums
        # job materializes the blocks, the output job re-reads them
        eager=False,
    )
    pid = F.shiftrightunsigned("_mid", _MID_SEQ_BITS)

    w_expr = F.coalesce(F.col(weight_col), F.lit(0))
    sums = sorted(
        (r["_pid"], r["_w"])
        for r in part.groupBy(pid.alias("_pid"))
        .agg(F.coalesce(F.sum(w_expr), F.lit(0)).cast("bigint").alias("_w"))
        .collect()
    )
    offsets, running = [], 0
    for p, w in sums:
        offsets.append((p, running))
        running += w

    off_df = spark.createDataFrame(offsets, "_pid bigint, _off bigint")
    local_cum = F.sum(w_expr).over(
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.withColumn("_pid", pid)
        .join(F.broadcast(off_df), "_pid")
        .withColumn(cum_col, (F.col("_off") + local_cum).cast("bigint"))
        .drop("_pid", "_mid", "_off")
    )


def with_global_cumsum_multi(
    df: DataFrame,
    order_cols: list[Column],
    weight_cols: list[str],
    *,
    cum_cols: list[str] | None = None,
) -> tuple[DataFrame, list[int]]:
    """Running totals of SEVERAL weight columns over ONE global ordering,
    with no single-partition window anywhere in the plan — the
    :func:`with_global_cumsum` two-phase range-sort machinery paying its
    one range exchange, one bounded driver round-trip (|partitions| rows
    of |weights| sums each), and one PARTITIONED in-partition window for
    all the weights together, instead of once per weight.

    Returns ``(df + cum_cols inclusive prefix sums, [total per weight])``.
    The totals come free from the driver-side prefix fold, so callers that
    also need grand totals (KS deviation: ``ca*nb − cb*na``) embed them as
    literals instead of paying an extra unpartitioned unbounded window.

    NULL weights count as 0; ``order_cols`` must be a deterministic unique
    ordering (the ``with_global_row_number`` contract).
    """
    from pyspark.sql import Window

    if cum_cols is None:
        cum_cols = [f"{w}_cum" for w in weight_cols]
    if len(cum_cols) != len(weight_cols):
        raise ValueError("cum_cols must match weight_cols")
    spark = df.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    part = materialize(
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id()),
        # lazy for the same reason as with_global_row_number: the sums
        # job materializes the blocks, the output job re-reads them
        eager=False,
    )
    pid = F.shiftrightunsigned("_mid", _MID_SEQ_BITS)

    w_exprs = [F.coalesce(F.col(w), F.lit(0)) for w in weight_cols]
    sums = sorted(
        (r["_pid"], [r[f"_w{i}"] for i in range(len(weight_cols))])
        for r in part.groupBy(pid.alias("_pid"))
        .agg(
            *[
                F.coalesce(F.sum(e), F.lit(0)).cast("bigint").alias(f"_w{i}")
                for i, e in enumerate(w_exprs)
            ]
        )
        .collect()
    )
    offsets, running = [], [0] * len(weight_cols)
    for p, ws in sums:
        offsets.append((p, *running))
        running = [r + w for r, w in zip(running, ws)]
    totals = running

    off_schema = "_pid bigint, " + ", ".join(
        f"_off{i} bigint" for i in range(len(weight_cols))
    )
    off_df = spark.createDataFrame(offsets, off_schema)
    wloc = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = part.withColumn("_pid", pid).join(F.broadcast(off_df), "_pid")
    for i, (e, c) in enumerate(zip(w_exprs, cum_cols)):
        out = out.withColumn(
            c, (F.col(f"_off{i}") + F.sum(e).over(wloc)).cast("bigint")
        )
    out = out.drop("_pid", "_mid", *[f"_off{i}" for i in range(len(weight_cols))])
    return out, totals
