"""Skew-handling recipes (SURVEY.md §7 step 8).

AQE's skew-join splitting handles most cases at runtime
(``spark.sql.adaptive.skewJoin.enabled`` is on in session.py); these helpers
cover the two shapes AQE can't fix:

* ``salted_join`` — skewed FACT ⋈ dim where the dim is too big to broadcast:
  salt the fact key into S sub-keys and replicate each dim row S times, so a
  hot key's rows spread over S reducers instead of one. Deterministic salt
  (hash of a high-cardinality column, not rand()) keeps retries/oracle runs
  reproducible.
* ``salted_distinct_count`` — COUNT(DISTINCT x) BY skewed_key: two-stage
  aggregation (partial distinct per (key, salt), merge per key) so a hot
  group's distinct-set never materializes on one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    *,
    fact_key: str,
    dim_key: str,
    salt_buckets: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """fact ⋈ dim on key with S-way salting.

    ``salt_source``: a fact column whose hash spreads a hot key's rows
    (defaults to all fact columns via xxhash64 — deterministic, no rand()).
    """
    salt_cols = [F.col(salt_source)] if salt_source else [F.col(c) for c in fact.columns]
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*salt_cols), F.lit(salt_buckets)).cast("int")
    )
    exploded_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(s) for s in range(salt_buckets)]))
    )
    joined = salted_fact.join(
        exploded_dim,
        (salted_fact[fact_key] == exploded_dim[dim_key])
        & (salted_fact["_salt"] == exploded_dim["_salt"]),
        "inner",
    )
    return joined.drop("_salt")


def salted_distinct_count(
    df: DataFrame,
    *,
    group_col: str,
    distinct_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """COUNT(DISTINCT distinct_col) GROUP BY group_col, skew-safe.

    Stage 1 dedups (key, salt, value) — the heavy set is spread over
    key×salt reducers; stage 2 sums per-salt distinct counts (value→salt is
    deterministic, so no value is counted twice)."""
    salted = df.select(
        F.col(group_col),
        F.col(distinct_col),
        F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(salt_buckets))
        .cast("int")
        .alias("_salt"),
    )
    partial = (
        salted.dropDuplicates([group_col, "_salt", distinct_col])
        .groupBy(group_col, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(group_col).agg(
        F.sum("_partial").alias(f"n_distinct_{distinct_col}")
    )
