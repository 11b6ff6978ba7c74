"""Count-Min sketch — mergeable frequency summaries for heavy-hitter work.

The streaming/batch summarization piece between exact top-k (q29-style
two-stage agg — needs |vocab| state) and HLL cardinalities (q47 — counts
distincts, not frequencies): d×w counters bounding every item's frequency
from above (est ≥ true; overestimate ≤ ε·N with prob 1−δ at w = e/ε,
d = ln 1/δ). The LLM-pipeline uses: boilerplate phrase caps, URL/domain
frequency ceilings, vocab heavy hitters — anywhere "roughly how often"
over an unbounded key space must fit in fixed memory.

Spark shape: the sketch IS a (d×w)-row table built by one
partial-aggregable groupBy (explode d bucket assignments per token, count
per cell) — map-side combine shrinks the shuffle to ≤ d·w rows per
partition, and MERGING two sketches is summing cell counts (the same
union + groupBy the incremental-MV states use). No driver state, no UDAF.

Hashing is the portable Carter-Wegman family over md5 token words
(functions/portable_hash), so the identical sketch — cell for cell — is
derivable in DuckDB SQL and the estimates hash-compare in the driver's
oracle gate (lsh_oracles.countmin_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.portable_hash import cw_hash_spark, hex60_spark

from crowdsorsa_etl_spark.functions.text import normalized_tokens

_DEPTH = 4
_WIDTH = 1024


def count_min_sketch(df: DataFrame) -> DataFrame:
    """Build the sketch over the corpus token stream: one row per non-empty
    cell — (row i, bucket, cnt) with bucket = CW_i(md5word(token)) mod w."""
    toks = normalized_tokens(df, "text").select(
        hex60_spark(F.col("token")).alias("th")
    )
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.pmod(cw_hash_spark(F.col("th"), i), F.lit(_WIDTH)).alias(
                            "bucket"
                        ),
                    )
                    for i in range(_DEPTH)
                ]
            )
        ).alias("cell")
    )
    return (
        cells.select("cell.i", "cell.bucket")
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimate(sketch: DataFrame, probes: DataFrame) -> DataFrame:
    """Estimated frequency per probe token: min over the d cells the token
    hashes into. Join shape: probes explode to d (i, bucket) keys and
    equi-join the sketch — |probes|·d joined rows, never the corpus."""
    keyed = probes.select(
        F.col("token"),
        hex60_spark(F.col("token")).alias("th"),
    ).select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.pmod(cw_hash_spark(F.col("th"), i), F.lit(_WIDTH)).alias(
                            "bucket"
                        ),
                    )
                    for i in range(_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("token", "cell.i", "cell.bucket")
    return (
        keyed.join(sketch, ["i", "bucket"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
    )
