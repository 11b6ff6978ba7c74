"""Interpolated Kneser–Ney bigram LM and CCNet-style perplexity buckets.

The reference has no language-model tier (its text ops are single-row string
repairs, `crowdsorsa-etl-2023.R:88-94`); this module is north-star surface:
the CCNet / KenLM perplexity-filter stage of a web-corpus pipeline, one
modeling step up from the add-one bigram LM (`queries/curation.py`,
``llm_bigram_logprob``) that introduced the shape.

Model (interpolated Kneser–Ney, bigram order, absolute discount ``D``):

    P(w2 | w1) = max(c(w1 w2) - D, 0) / c(w1 ·)
               + D * N1+(w1 ·) / c(w1 ·) * Pcont(w2)
    Pcont(w2)  = N1+(· w2) / N1+(· ·)

where ``c(w1 ·)`` is the left-context token count, ``N1+(w1 ·)`` the number
of distinct continuations of ``w1``, ``N1+(· w2)`` the number of distinct
left contexts of ``w2``, and ``N1+(· ·)`` the number of distinct bigram
TYPES. Training corpus == scored corpus here, so every scored bigram has
c >= 1 and the interpolation term matters only through the discount mass —
no OOV branch is needed on either engine.

Scale shape: ONE data-sized shuffle builds the bigram count table (the
groupBy on (w1, w2), map-side combined); the three derived statistics
(context totals, continuation counts, type count) are aggregations OVER THE
COUNT TABLE, whose size is the bigram vocabulary — Zipf-bounded at real
scale, orders of magnitude below the corpus. Scoring joins the per-doc
bigram stream against those model tables; AQE broadcasts them from observed
size. No driver collect anywhere; the model never leaves the cluster.

Float parity with the DuckDB oracle (BM25 posture, `operators/bm25.py`,
plus one extra step the MEAN needs): the per-bigram log-probability rounds
to 6 dp BEFORE the per-doc sum, so both engines sum identical multiples of
1e-6 — but a mean ``sum/n`` of such a sum can land exactly on a 6-dp
rounding boundary (k/n ending in ...5), where a last-ulp summation-order
difference flips the rounded digit. So the sum is CANONICALIZED first:
``avg = round(round(sum, 6) / n, 6)``. The inner round lands on the
nearest multiple of 1e-6 (stable against 1e-16 noise); both engines then
divide bit-identical doubles by the same integer, making the outer round
deterministic.

Perplexity buckets (`perplexity_buckets`): CCNet splits each language's
corpus into head/middle/tail thirds by LM score. A per-language ``ntile``
window would sort whole-language partitions on single tasks (the dominant
language at 100 TB = one task sorting most of the corpus), so thresholds
are computed the histogram way instead — quantize the score into integer
bins, count per (lang, bin), run the cumulative window over the BINS (a
few thousand rows per language, never corpus-sized), and pick the first
bin whose cumulative count crosses each third. Every engine-side step is
exact integer arithmetic on binned scores, so the DuckDB oracle replays it
verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DISCOUNT = 0.75

#: integer bins for bucket thresholds: floor(-avg_logprob * BIN_SCALE)
BIN_SCALE = 1000


def _bigrams(docs: DataFrame, *, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, w1, w2) — one row per bigram OCCURRENCE, order preserved
    inside the zip_with (no position shuffle; the explode is narrow)."""
    arr = F.split(F.lower(F.trim(F.col(text_col))), " ")
    toks = docs.select(F.col(id_col).alias("doc_id"), arr.alias("arr"))
    a = F.col("arr")
    pairs = F.when(
        F.size(a) >= 2,
        F.zip_with(
            F.slice(a, 1, F.size(a) - 1),
            F.slice(a, 2, F.size(a) - 1),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )


def kneser_ney_token_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, lp): one 6-dp-rounded interpolated-KN log-probability per
    bigram OCCURRENCE — the per-token stream the document aggregates
    (mean score, CCNet buckets, min-k% membership inference) all consume.
    Count tables aggregate over bigram TYPES, not occurrences."""
    big = _bigrams(docs, text_col="text", id_col="doc_id")

    bc = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("bc")
    )
    # left-context stats: total continuation mass + distinct continuations.
    # Aggregated over the COUNT TABLE (bigram types), not the occurrence
    # stream — one pass, two columns.
    left = bc.groupBy("w1").agg(
        F.sum("bc").cast("bigint").alias("ctx"),
        F.count(F.lit(1)).cast("bigint").alias("nleft"),
    )
    right = bc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("nright")
    )
    types = bc.agg(F.count(F.lit(1)).cast("bigint").alias("ttypes"))

    d = F.lit(float(DISCOUNT))
    p = (
        F.greatest(F.col("bc") - d, F.lit(0.0)) / F.col("ctx")
        + d
        * F.col("nleft")
        / F.col("ctx")
        * (F.col("nright") / F.col("ttypes"))
    )
    lp = F.round(F.log(p), 6)

    return (
        big.join(bc, ["w1", "w2"])
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(types))
        .select("doc_id", lp.alias("lp"))
    )


def kneser_ney_bigram_scores(
    docs: DataFrame,
    *,
    token_scores: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob): interpolated-KN mean bigram
    log-probability per document, trained on ``docs`` itself. Docs with
    fewer than two tokens drop out (no bigram to score) — same contract
    as ``llm_bigram_logprob``.

    ``token_scores`` injects a precomputed :func:`kneser_ney_token_scores`
    stream (the per-fixture materialized artifact queries/_shared
    maintains — a frozen filter LM's scores ARE an at-rest table in
    production); identical output either way, deterministic both ways."""
    tok = (
        token_scores
        if token_scores is not None
        else kneser_ney_token_scores(
            docs
        )
    )
    return (
        tok
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.round(F.sum("lp"), 6) / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
    )


def min_k_prob_scores(
    docs: DataFrame,
    *,
    token_scores: DataFrame | None = None,
) -> DataFrame:
    """Min-k%-prob membership inference (Shi et al. 2023, "Detecting
    Pretraining Data"): per document, the mean log-probability of its
    bottom 20% of bigram scores.
    A document the LM has MEMORIZED scores high even on its least-likely
    tokens, so a HIGH mink_logprob relative to the corpus flags likely
    training-set membership — the benchmark-contamination probe run
    against a frozen filter LM.

    The cutoff count is exact integer arithmetic (ceil(n/5) via
    (n + 4) div 5 — no float k% multiply whose last ulp
    could move the ceil across engines), and the bottom-m multiset is
    tie-robust: values at the cutoff boundary are equal, so any
    tie-resolution yields the same mean. One per-doc window (partitioned,
    never SinglePartition) over the token-score stream.

    The mean is BIGINT fixed-point (the DSIR discipline): each 6-dp lp
    converts to exact integer micro-units (round(lp·1e6) — within 1 ulp
    of the integer, so the nearest-int round is exact on both engines),
    the sum is exact integer arithmetic, and the output is ONE correctly-
    rounded double division. The round(sum)/m double form hit a real
    half-boundary at sf0.01 (S/m = -3.8087875: Spark's BigDecimal HALF_UP
    on the binary expansion and DuckDB's multiply-then-round disagree at
    exactly .5e-6) — fixed point removes the boundary instead of hoping.

    Output: (doc_id, n_bigrams, m_bottom, mink_logprob).
    """
    tok = (
        token_scores
        if token_scores is not None
        else kneser_ney_token_scores(
            docs
        )
    )
    counts = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams")
    )
    m = ((F.col("n_bigrams") + F.lit(4)) / F.lit(5)).cast("bigint")
    w = Window.partitionBy("doc_id").orderBy(F.col("lp").asc())
    lpu = F.round(F.col("lp") * F.lit(1_000_000.0)).cast("bigint")
    return (
        tok.withColumn("_rn", F.row_number().over(w))
        .join(counts.withColumn("m_bottom", m), "doc_id")
        .filter(F.col("_rn") <= F.col("m_bottom"))
        .select("doc_id", "n_bigrams", "m_bottom", lpu.alias("_lpu"))
        .groupBy("doc_id", "n_bigrams", "m_bottom")
        .agg(
            (
                F.sum("_lpu").cast("double")
                / (F.col("m_bottom") * F.lit(1_000_000)).cast("double")
            ).alias("mink_logprob")
        )
    )


def _kn_scored_ctes() -> str:
    """CTE text toks→big→bc→lft→rgt→ttl→scored producing (doc_id, lp) —
    the per-occurrence KN score stream shared by the mean-score, bucket,
    and min-k% oracles (one fragment, one set of conventions)."""
    return f"""toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr
      FROM documents
    ),
    big AS (
      SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
      FROM toks, UNNEST(range(1, len(arr))) AS t(i)
    ),
    bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS bc
      FROM big GROUP BY w1, w2
    ),
    lft AS (
      SELECT w1, CAST(sum(bc) AS BIGINT) AS ctx,
             CAST(count(*) AS BIGINT) AS nleft
      FROM bc GROUP BY w1
    ),
    rgt AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS nright
      FROM bc GROUP BY w2
    ),
    ttl AS (SELECT CAST(count(*) AS BIGINT) AS ttypes FROM bc),
    scored AS (
      SELECT big.doc_id,
             round(ln(greatest(bc.bc - {DISCOUNT}, 0.0) / lft.ctx
                      + {DISCOUNT} * lft.nleft / lft.ctx
                        * (rgt.nright * 1.0 / ttl.ttypes)), 6) AS lp
      FROM big
      JOIN bc  ON big.w1 = bc.w1 AND big.w2 = bc.w2
      JOIN lft ON big.w1 = lft.w1
      JOIN rgt ON big.w2 = rgt.w2
      CROSS JOIN ttl
    )"""


def kneser_ney_bigram_sql() -> str:
    """DuckDB oracle replaying :func:`kneser_ney_bigram_scores` verbatim
    (same count tables, same 6-dp pre-sum rounding)."""
    return f"""
    WITH {_kn_scored_ctes()}
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(round(sum(lp), 6) / count(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """


def min_k_prob_sql() -> str:
    """DuckDB oracle replaying :func:`min_k_prob_scores`: same per-token
    score stream, the same exact-integer bottom-count
    ceil(n/5) = (n + 4) // 5, the same tie-robust
    bottom-m selection, the same BIGINT fixed-point mean."""
    return f"""
    WITH {_kn_scored_ctes()},
    ranked AS (
      SELECT doc_id, CAST(round(lp * 1000000.0) AS BIGINT) AS lpu,
             row_number() OVER (PARTITION BY doc_id ORDER BY lp ASC) AS rn,
             CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT)
               AS n_bigrams
      FROM scored
    )
    SELECT doc_id, n_bigrams,
           CAST((n_bigrams + 4) // 5 AS BIGINT)
             AS m_bottom,
           CAST(sum(lpu) AS DOUBLE)
             / CAST(((n_bigrams + 4) // 5)
                    * 1000000 AS DOUBLE)
             AS mink_logprob
    FROM ranked
    WHERE rn <= (n_bigrams + 4) // 5
    GROUP BY doc_id, n_bigrams
    """


def perplexity_buckets(scores: DataFrame) -> DataFrame:
    """Assign each row a CCNet bucket ('head' | 'middle' | 'tail') of its
    ``lang`` population by ``avg_logprob``, via integer histogram
    thresholds.

    Bins are ``floor(-avg_logprob * BIN_SCALE)`` — ascending bin = better
    (higher log-prob) document, so the first third is the head, matching
    CCNet's "head = lowest perplexity" convention. Thresholds are the
    first bin whose cumulative count reaches ``ceil(n/3)`` (head) and
    ``ceil(2n/3)`` (middle); the cumulative window runs over (group, bin)
    HISTOGRAM rows, never over documents. Ties inside one bin share a
    bucket by construction — deterministic on both engines.
    """
    bin_col = F.floor(-F.col("avg_logprob") * BIN_SCALE).cast("bigint")
    binned = scores.withColumn("ppl_bin", bin_col)

    hist = binned.groupBy("lang", "ppl_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy("ppl_bin")
    cum = hist.select(
        "lang",
        "ppl_bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("lang")).alias("total"),
    )
    thresholds = cum.groupBy("lang").agg(
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.col("total") / 3.0), F.col("ppl_bin")
            )
        ).alias("t_head"),
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.col("total") * 2.0 / 3.0),
                F.col("ppl_bin"),
            )
        ).alias("t_middle"),
    )
    bucket = (
        F.when(F.col("ppl_bin") <= F.col("t_head"), F.lit("head"))
        .when(F.col("ppl_bin") <= F.col("t_middle"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return binned.join(F.broadcast(thresholds), "lang").select(
        *scores.columns, bucket.alias("bucket")
    )


def perplexity_buckets_sql(*, scores_cte: str) -> str:
    """Oracle fragment: expects ``scores_cte`` to name a CTE with columns
    (``lang``, ``avg_logprob``, ...); yields SELECT * of the CTE plus
    ``bucket``. The cumulative window runs over histogram rows, exactly
    like the engine side."""
    return f"""
    binned AS (
      SELECT s.*, CAST(floor(-avg_logprob * {BIN_SCALE}) AS BIGINT)
               AS ppl_bin
      FROM {scores_cte} s
    ),
    hist AS (
      SELECT lang, ppl_bin, CAST(count(*) AS BIGINT) AS cnt
      FROM binned GROUP BY lang, ppl_bin
    ),
    cum AS (
      SELECT lang, ppl_bin,
             sum(cnt) OVER (PARTITION BY lang ORDER BY ppl_bin)
               AS cum,
             sum(cnt) OVER (PARTITION BY lang) AS total
      FROM hist
    ),
    thr AS (
      SELECT lang,
             min(CASE WHEN cum >= ceil(total / 3.0) THEN ppl_bin END)
               AS t_head,
             min(CASE WHEN cum >= ceil(total * 2.0 / 3.0) THEN ppl_bin END)
               AS t_middle
      FROM cum GROUP BY lang
    ),
    bucketed AS (
      SELECT binned.* EXCLUDE (ppl_bin),
             CASE WHEN ppl_bin <= t_head THEN 'head'
                  WHEN ppl_bin <= t_middle THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM binned JOIN thr USING (lang)
    )
    """
