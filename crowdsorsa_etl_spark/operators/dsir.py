"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) over hashed n-gram features.

North-star surface (nothing like it in the reference, whose only scoring
is a fixed-field quality remap, `crowdsorsa-etl-2023.R`): given a small
TARGET corpus (the distribution you want — e.g. trusted domains) and a
large RAW pool (web crawl), score every raw document by the
log-likelihood ratio of its hashed n-gram features under two bag-of-
n-grams models:

    score(doc) = Σ_{g ∈ unigrams+bigrams(doc)}  ln p_t[h(g)] − ln p_r[h(g)]

where h maps n-grams into ``buckets`` hash buckets and p_t / p_r are
add-λ-smoothed bucket frequencies estimated from the target / raw
corpora. Positive score ⇒ the doc looks more like the target than like
the pool; DSIR selects by sampling ∝ exp(score) — here the deterministic
variant (threshold at 0) so the oracle can replay selection exactly.

Scale shape (the reason DSIR beats classifier-based selection at 100 TB):
the model is a BOUNDED artifact — one row per hash bucket, ≤ ``buckets``
rows regardless of corpus size. Building it is ONE bucket-keyed shuffle
with map-side combine (bucket cardinality ≤ 2^12 here, so the exchange
carries partials, not occurrences); scoring is a BROADCAST join of that
artifact against the feature stream plus ONE doc-keyed aggregation. Two
corpus-sized exchanges total, no driver traffic, no iteration.

Float parity (stronger than the round-then-sum convention in
`operators/ngramlm.py`): each bucket's log-ratio is computed once from
exact BIGINT counts (identical doubles in both engines), scaled to a
FIXED-POINT integer ``round(lr·10⁶)``; per-doc scores are exact BIGINT
sums of those integers — no float summation exists anywhere, so
summation order cannot flip a digit. The final division by 10⁶ and the
mean are single float ops on identical inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.portable_hash import hex60_spark, hex60_sql
from crowdsorsa_etl_spark.functions.text import normalize_text
from crowdsorsa_etl_spark.operators.checkpointing import materialize

_SMOOTHING = 1.0

#: fixed-point scale for bucket log-ratios (6 dp — the registry rounding
#: convention, expressed as an integer scale so sums stay exact)
FX = 1_000_000


def hashed_ngram_buckets(
    docs: DataFrame,
    *,
    buckets: int,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(doc_id, bucket, *extra_cols): one row per unigram+bigram OCCURRENCE
    of the normalized text, hashed into ``buckets`` via the portable md5
    hex60. Bigrams join their words with a single space, so a bigram can
    never collide with a unigram of the same spelling only by hashing.
    Docs whose normalized text is empty drop out (no features)."""
    arr = F.split(normalize_text(F.col("text")), " ")
    src = docs.select(
        F.col("doc_id"),
        *[F.col(c) for c in (extra_cols or [])],
        arr.alias("arr"),
    ).filter((F.size("arr") > 0) & (F.element_at("arr", 1) != ""))
    a = F.col("arr")
    bigrams = F.when(
        F.size(a) >= 2,
        F.zip_with(
            F.slice(a, 1, F.size(a) - 1),
            F.slice(a, 2, F.size(a) - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(a, bigrams)
    return src.select(
        "doc_id",
        *[F.col(c) for c in (extra_cols or [])],
        F.explode(grams).alias("g"),
    ).select(
        "doc_id",
        *[F.col(c) for c in (extra_cols or [])],
        F.pmod(hex60_spark(F.col("g")), F.lit(buckets)).alias("bucket"),
    )


def dsir_weights_onepass(
    docs: DataFrame,
    target_pred: Column,
    *,
    buckets: int,
) -> DataFrame:
    """(doc_id, n_grams, logratio, avg_logratio, selected): DSIR scores
    of the raw pool (``target_pred`` false) against a bucket model built
    from the same snapshot, in ONE n-gram pass (r16, guide §2.4). The
    occurrence stream folds immediately to a (doc_id, bucket, is_t, cnt)
    grid (map-side combined; ≤ min(4096, grams) rows per doc — far
    narrower than the token stream) which is materialized once and feeds
    BOTH the bucket model (t_cnt/r_cnt = Σ cnt over the grid slices, the
    smoothed log-ratio as fixed-point ``lr_fx``) and the per-doc scores
    (_fx = Σ cnt·lr_fx) — exact BIGINT sums. ``selected`` is the
    deterministic threshold-at-0 variant."""
    feats = hashed_ngram_buckets(
        docs.select(
            F.col("doc_id"), F.col("text"), target_pred.alias("_is_t")
        ),
        buckets=buckets,
        extra_cols=["_is_t"],
    )
    grid = materialize(
        feats.groupBy("doc_id", "bucket", "_is_t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    stats = grid.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_t"), F.col("cnt")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("t_cnt"),
        F.sum(F.when(F.col("_is_t"), F.lit(0)).otherwise(F.col("cnt")))
        .cast("bigint")
        .alias("r_cnt"),
    )
    totals = stats.agg(
        F.sum("t_cnt").cast("bigint").alias("t_total"),
        F.sum("r_cnt").cast("bigint").alias("r_total"),
    )
    lam = _SMOOTHING
    lr = F.log(
        (F.col("t_cnt") + F.lit(lam))
        / (F.col("t_total") + F.lit(lam * buckets))
    ) - F.log(
        (F.col("r_cnt") + F.lit(lam))
        / (F.col("r_total") + F.lit(lam * buckets))
    )
    model = stats.crossJoin(F.broadcast(totals)).select(
        "bucket", F.round(lr * F.lit(FX), 0).cast("bigint").alias("lr_fx")
    )
    out = (
        grid.filter(~F.col("_is_t"))
        .join(F.broadcast(model), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            F.sum(F.col("cnt") * F.coalesce("lr_fx", F.lit(0)))
            .cast("bigint")
            .alias("_fx"),
        )
    )
    logratio = F.col("_fx") / F.lit(float(FX))
    return out.select(
        "doc_id",
        "n_grams",
        F.round(logratio, 6).alias("logratio"),
        F.round(logratio / F.col("n_grams"), 6).alias("avg_logratio"),
        (F.col("_fx") > 0).alias("selected"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle fragments — the identical pipeline in SQL. All fragments
# assume a ``documents``-shaped relation; the normalization expression is
# injected so it stays single-sourced with queries/_shared._NORM_SQL.
# ---------------------------------------------------------------------------


def features_sql(
    src: str, norm_sql: str, buckets: int, select_extra: str = ""
) -> str:
    """(doc_id, bucket[, extra]) — unigram+bigram occurrences hashed into
    ``buckets``. ``select_extra`` is forwarded verbatim (e.g. ``, is_t``)."""
    h = hex60_sql("g")
    return f"""
      SELECT doc_id{select_extra}, ({h}) % {buckets} AS bucket
      FROM (
        SELECT doc_id{select_extra}, u.g
        FROM (
          SELECT doc_id{select_extra}, arr,
                 len(arr) AS n
          FROM (SELECT doc_id{select_extra}, string_split({norm_sql}, ' ')
                         AS arr
                FROM {src})
          WHERE len(arr) > 0 AND arr[1] <> ''
        ),
        LATERAL (
          SELECT unnest(arr) AS g
          UNION ALL
          SELECT arr[i] || ' ' || arr[i + 1]
          FROM UNNEST(range(1, n)) AS t(i)
        ) u
      )
    """


def stats_sql(feats_cte: str, buckets: int) -> str:
    """(bucket, t_cnt, r_cnt, lr_fx) from a features CTE carrying
    (doc_id, bucket, is_t)."""
    lam = _SMOOTHING
    lr = (
        f"(ln((t_cnt + {lam}) / (t_total + {lam * buckets})) "
        f"- ln((r_cnt + {lam}) / (r_total + {lam * buckets})))"
    )
    return f"""
      SELECT bucket, t_cnt, r_cnt,
             CAST(round({lr} * {FX}, 0) AS BIGINT) AS lr_fx
      FROM (
        SELECT bucket,
               CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
                 AS t_cnt,
               CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT)
                 AS r_cnt
        FROM {feats_cte}
        GROUP BY bucket
      ) c,
      (
        SELECT CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
                 AS t_total,
               CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT)
                 AS r_total
        FROM {feats_cte}
      ) tot
    """


def scores_sql(feats_cte: str, stats_cte: str) -> str:
    """(doc_id, n_grams, logratio, avg_logratio, selected) from a features
    CTE (doc_id, bucket) and a stats CTE (bucket, lr_fx)."""
    return f"""
      SELECT doc_id, n_grams,
             round(fx / {float(FX)}, 6) AS logratio,
             round(fx / {float(FX)} / n_grams, 6) AS avg_logratio,
             fx > 0 AS selected
      FROM (
        SELECT f.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(coalesce(s.lr_fx, 0)) AS BIGINT) AS fx
        FROM {feats_cte} f LEFT JOIN {stats_cte} s USING (bucket)
        GROUP BY f.doc_id
      )
    """
