"""KMV / theta sketch — distinct-count SET ALGEBRA with an estimator
that stays well-behaved under intersection.

``llm_hll_setops`` ships HLL's honest caveat: union is native (register
max) but intersection is inclusion–exclusion, whose error compounds
with |A∪B|/|A∩B|. The theta sketch (Dasgupta et al., the DataSketches
production answer to exactly this) fixes the algebra: keep the k
SMALLEST distinct hash values (KMV); any set expression is then
evaluated over the retained SAMPLES below a shared threshold θ =
min(θ_A, θ_B), and ``est = |sample| · H / θ`` (H = hash-space size)
holds for union AND intersection alike — intersection error scales
like 1/√(J·k), not with the union/intersection ratio.

Engine-portable determinism: the item hash is 15 hex digits of one md5
(60 bits, always-positive BIGINT — the hll hex60 trick), the sketch is
the k smallest DISTINCT values (a total order, no ties — md5 collisions
at 60 bits are the usual negligible caveat), and the only float is the
final ``|sample| · 2^60 / θ`` division, rounded to 6 dp on both
engines. The DuckDB oracle replays every retained hash, θ, and count,
so the gate pins the exact sketch content.

Scale shape: the build is ``distinct`` (map-side combined) +
``TakeOrdered(k)`` — per-partition top-k, a k-row-per-partition
shuffle; sketches are KBs and merge driver/aggregator-side (the
kll_merge posture). θ semantics: a set with fewer than k distinct
hashes is retained WHOLE with θ = 2^60 (estimates are then exact);
otherwise θ = the k-th smallest and the sample is the k−1 values
strictly below it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.portable_hash import (
    md5_word_spark,
    md5_word_sql,
)

KMV_K = 256
KMV_SEED = "kmv:v1:"
H_SPACE = 1 << 60


def kmv_hash_spark(col) -> "F.Column":
    return md5_word_spark(F.concat(F.lit(KMV_SEED), col.cast("string")), 1, 15)


def kmv_hash_sql(expr: str) -> str:
    return md5_word_sql(f"'{KMV_SEED}' || CAST({expr} AS VARCHAR)", 1, 15)


def kmv_sketch(df: DataFrame, key_col: str) -> list[int]:
    """The ``KMV_K`` smallest distinct 60-bit hashes of ``key_col``
    (ascending).
    Distributed build (distinct + TakeOrdered), sketch-sized collect."""
    rows = (
        # NULL keys hash to NULL, which Spark's orderBy sorts FIRST
        # (occupying the min slot) while DuckDB sorts NULLS LAST — and
        # theta_estimates would then crash on None < int. A NULL key is
        # not a set member; drop it on both paths (ADVICE r14 low).
        df.where(F.col(key_col).isNotNull())
        .select(kmv_hash_spark(F.col(key_col)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
        .collect()
    )
    return [r["h"] for r in rows]


def theta_split(sketch: list[int]) -> tuple[list[int], int]:
    """(retained sample, theta): whole set + θ=2^60 when under ``KMV_K``
    entries, else the k−1 values strictly below the k-th smallest (= θ)."""
    if len(sketch) < KMV_K:
        return list(sketch), H_SPACE
    return list(sketch[: KMV_K - 1]), sketch[KMV_K - 1]


def theta_estimates(sk_a: list[int], sk_b: list[int]) -> dict[str, float]:
    """est_a/est_b/est_union/est_inter from two KMV sketches under the
    shared θ = min(θ_A, θ_B); one 6-dp-rounded division per estimate."""
    sa, ta = theta_split(sk_a)
    sb, tb = theta_split(sk_b)
    theta = min(ta, tb)
    a = {h for h in sa if h < theta}
    b = {h for h in sb if h < theta}

    def est(n: int) -> float:
        # mirror the oracle's float op order exactly: (n · 2^60) as an
        # exact double (n ≤ k ≤ 2^53, scaled by a power of two), then ONE
        # double division by θ — same single rounding both engines
        return round(n * float(H_SPACE) / float(theta), 6)

    return {
        "theta": theta,
        "est_a": est(len(a)),
        "est_b": est(len(b)),
        "est_union": est(len(a | b)),
        "est_inter": est(len(a & b)),
    }


def kmv_setops_sql(a_keys_sql: str, b_keys_sql: str, key: str) -> str:
    """One-row oracle replaying both sketches, θ, all four estimates, and
    exact truth with the intersection's relative error."""
    ha, hb = kmv_hash_sql(key), kmv_hash_sql(key)
    return f"""
    WITH ska AS MATERIALIZED (
      SELECT h, row_number() OVER (ORDER BY h) AS rn
      FROM (SELECT DISTINCT {ha} AS h FROM ({a_keys_sql})
            WHERE {key} IS NOT NULL)
      ORDER BY h LIMIT {KMV_K}
    ),
    skb AS MATERIALIZED (
      SELECT h, row_number() OVER (ORDER BY h) AS rn
      FROM (SELECT DISTINCT {hb} AS h FROM ({b_keys_sql})
            WHERE {key} IS NOT NULL)
      ORDER BY h LIMIT {KMV_K}
    ),
    th AS (
      SELECT least(
        coalesce((SELECT h FROM ska WHERE rn = {KMV_K}), {H_SPACE}),
        coalesce((SELECT h FROM skb WHERE rn = {KMV_K}), {H_SPACE})
      ) AS theta
    ),
    sa AS (SELECT h FROM ska, th WHERE h < theta),
    sb AS (SELECT h FROM skb, th WHERE h < theta),
    cnts AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM sa) AS ca,
             (SELECT CAST(count(*) AS BIGINT) FROM sb) AS cb,
             (SELECT CAST(count(*) AS BIGINT)
              FROM (SELECT h FROM sa UNION SELECT h FROM sb)) AS cu,
             (SELECT CAST(count(*) AS BIGINT)
              FROM (SELECT h FROM sa INTERSECT SELECT h FROM sb)) AS ci,
             theta
      FROM th
    ),
    truth AS (
      SELECT (SELECT CAST(count(DISTINCT {key}) AS BIGINT)
              FROM ({a_keys_sql})) AS n_a,
             (SELECT CAST(count(DISTINCT {key}) AS BIGINT)
              FROM ({b_keys_sql})) AS n_b,
             (SELECT CAST(count(DISTINCT {key}) AS BIGINT)
              FROM (SELECT {key} FROM ({a_keys_sql})
                    UNION SELECT {key} FROM ({b_keys_sql}))) AS n_union
    )
    SELECT CAST({KMV_K} AS INT) AS k,
           round(ca * pow(2, 60) / theta, 6) AS est_a,
           round(cb * pow(2, 60) / theta, 6) AS est_b,
           round(cu * pow(2, 60) / theta, 6) AS est_union,
           round(ci * pow(2, 60) / theta, 6) AS est_inter,
           n_a, n_b, n_union,
           CAST(n_a + n_b - n_union AS BIGINT) AS n_inter,
           CASE WHEN n_a + n_b - n_union = 0 THEN CAST(NULL AS DOUBLE)
                ELSE round(abs(round(ci * pow(2, 60) / theta, 6)
                               - (n_a + n_b - n_union))
                           / (n_a + n_b - n_union), 6)
           END AS inter_rel_err
    FROM cnts, truth
    """
