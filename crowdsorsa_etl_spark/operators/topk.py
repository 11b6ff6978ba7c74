"""Top-k per group + sessionization — window-function compositions.

Both are [not in reference] generalizations (SURVEY.md §2.2): the engine
needs them for dedup keep-first, as-of joins, and event analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    *,
    descending: bool = True,
    tiebreak: str | None = None,
) -> DataFrame:
    """row_number window + filter — the canonical distributed top-k; Spark
    pushes a per-partition partial top-k below the shuffle (WindowGroupLimit)
    so only k rows per group per input partition move."""
    order = [F.col(order_col).desc() if descending else F.col(order_col).asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sessionize(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap from the previous
    event of the same user exceeds ``gap_minutes`` (lag + running sum — the
    batch analogue of streaming ``session_window``)."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc())
    # microsecond-exact gap (unix_timestamp would truncate to seconds)
    gap_us = gap_minutes * 60 * 1_000_000
    prev_ts = F.lag(ts_col).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_ts) > gap_us),
        1,
    ).otherwise(0)
    return df.withColumn("_new_session", is_new).withColumn(
        "session_seq",
        F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).drop("_new_session")
