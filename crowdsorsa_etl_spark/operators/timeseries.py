"""Time-series smoothing — windowed EWMA as a pure-expression operator.

Exponentially-weighted moving averages are the standard
feature-engineering smoother (monitoring baselines, decayed engagement
scores, drift detectors). The textbook recurrence
``s_t = α·x_t + (1−α)·s_{t−1}`` is sequential per key — hostile to a
distributed engine. The production reformulation used here is the
*bounded-span* EWMA (pandas ``ewm(span, adjust=True)`` truncated to the
last W observations): weights ``(1−α)^j`` over the trailing W rows,
renormalized —

    ewma_i = Σ_{j=0..m−1} x_{i−j}·(1−α)^j  /  Σ_{j=0..m−1} (1−α)^j

which is a plain window aggregation: one shuffle on the key, O(W) state
per row, no sequential dependency. At 100 TB this is exactly the q75
rolling-stats shape — the window sort rides the same single Exchange,
and W bounds both memory and the weight tail (beyond W≈2·span the
truncated mass is negligible).

Engine-parity note: the fold multiplies by ``(1−α)^j`` computed via
``pow`` on BOTH engines and folds left-to-right over the same
most-recent-first order, so with α chosen exactly representable in
binary (e.g. 0.5, 0.25, 0.75) the pre-rounding doubles are
bit-identical to the DuckDB oracle's ``list_reduce`` replay.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ewma(
    df: DataFrame,
    value_col: str = "value",
    *,
    key_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    alpha: float = 0.5,
    span: int = 10,
) -> DataFrame:
    """Append a bounded-span EWMA column over each key's ordered stream.

    ``order_cols`` must make the ordering total (include a unique
    tie-break column) — otherwise frame contents are nondeterministic.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1); got {alpha}")
    if span < 1:
        raise ValueError(f"span must be >= 1; got {span}")
    key_cols = key_cols or ["user_id"]
    order_cols = order_cols or ["ts", "event_id"]
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_cols)
        .rowsBetween(-(span - 1), Window.currentRow)
    )
    # most-recent-first so weight j decays with age; identical fold
    # order to the oracle's list_reduce over list_reverse
    vals = F.reverse(F.collect_list(F.col(value_col).cast("double")).over(w))
    decay = F.lit(1.0 - alpha)
    num = F.aggregate(
        F.transform(vals, lambda x, j: x * F.pow(decay, j.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.transform(vals, lambda _, j: F.pow(decay, j.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    out: Column = F.round(num / den, 6)
    return df.withColumn("ewma", out)
