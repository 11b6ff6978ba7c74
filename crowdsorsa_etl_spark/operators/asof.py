"""As-of (point-in-time) join — an operator Spark lacks natively.

Implemented as the *union-merge* composition of built-in ops rather than the
naive ``range-predicate join + dedup``:

    naive:  left ⋈ (right WHERE r.t <= l.t) → row_number → rn=1
            — the intermediate blows up as |matches per key| grows; at 100 TB
              a hot key with 1M prior rows produces 1M candidates per probe.

    here:   union both sides tagged → one shuffle on key → one sort on
            (t, side, tiebreak) → carry the latest right row forward with
            last(struct, ignorenulls) over an unbounded-preceding frame.

    cost:   exactly ONE shuffle of |L|+|R| rows and one sort per partition —
            linear, no candidate blowup. NOTE on skew: AQE's skew handling
            applies to joins, not window sorts — a single hot key still
            sorts on one task here.

Right-side payload is packed into a single struct so the carried values always
come from the *same* right row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_time: str,
    right_time: str,
    right_payload: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row with the same key
    and ``right.t <= left.t``. Unmatched left rows keep NULL payload
    (left-join semantics).

    ``tiebreak``: right column ordered ascending so that among right rows with
    equal time the LAST (max tiebreak) one wins — keeps results deterministic.
    """
    payload = F.struct(*[F.col(c) for c in right_payload]).alias("_asof_payload")

    l_tag = left.withColumn("_t", F.col(left_time)).withColumn(
        "_side", F.lit(1)
    ).withColumn("_asof_payload", F.lit(None).cast(
        right.select(payload).schema["_asof_payload"].dataType
    )).withColumn("_tie", F.lit(None).cast("long"))

    r_tag = right.select(
        F.col(on),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        payload,
        (F.col(tiebreak) if tiebreak else F.lit(0)).cast("long").alias("_tie"),
    )

    left_cols = [c for c in left.columns]
    combined = l_tag.select(
        on, "_t", "_side", "_asof_payload", "_tie",
        *[c for c in left_cols if c != on],
    ).unionByName(r_tag, allowMissingColumns=True)

    # right rows at t sort BEFORE left rows at t → visible at t
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_t").asc(), F.col("_side").asc(), F.col("_tie").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    carried = combined.withColumn(
        "_carried", F.last("_asof_payload", ignorenulls=True).over(w)
    )

    out = carried.filter(F.col("_side") == 1).select(
        *left_cols,
        *[F.col(f"_carried.{c}").alias(c) for c in right_payload],
    )
    return out
