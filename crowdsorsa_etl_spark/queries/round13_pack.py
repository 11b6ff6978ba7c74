"""Round 13: diagnostics and training-serving operators a production
corpus pipeline runs around the core dedup/tokenizer tiers.

Audits (measure, don't guess — each hashed by the oracle gate, not just
pytest): LSH precision/recall vs exact shingle-Jaccard ground truth
(+ the analytic banding S-curve), ANN recall@k vs exact cosine,
Matryoshka truncation recall, classifier calibration (reliability table
in logit space).

Tokenizer family #3 — WordPiece: likelihood-ratio-scored learn over the
frequency-capped dictionary, greedy longest-match encode (BERT [UNK]
semantics), token-id export.

Training-serving: hard-negative mining, length-bucketed batching with a
padding-waste report, boundary-preserving bucket packing (two-phase
per-bucket rank), TF-IDF keywords, PMI collocations, feature hashing,
min-k%-prob membership inference (fixed-point mean over the shared KN
score stream).

Entity resolution: linkage pairs -> connected components -> golden
records, plus the incremental registry fold (label condensation) hashed
against the one-shot CC oracle. Governance: k-anonymity release check.

Registration ORDER is load-bearing (the driver's correctness window samples
the first 50 registrations); this module is imported after round12_pack by
queries/__init__.py (round14_pack follows), so its entries append after the
round-12 tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.queries._shared import _lsh_pairs, _t, register


# ===========================================================================
# llm_lsh_audit — measure, don't guess: precision/recall of the banded
# MinHash candidate generator against EXACT shingle-set Jaccard ground
# truth, per resemblance threshold. MinHash estimates shingle resemblance,
# so the truth tier reuses the identical shingle universe (same token
# hashes, same Carter-Wegman combine, trailing shingles included) — an
# audit against token-set Jaccard would grade the sketch on a quantity it
# never estimated. Truth pair generation is the AllPairs inverted-index
# join (pairs sharing >= 1 shingle; disjoint pairs have jaccard 0 < every
# threshold), so the audit itself never goes |docs|^2; at corpus scale the
# operator's max_df stop-shingle cap bounds the per-shingle blowup. The
# final numbers are two 1-row conditional aggregations broadcast-joined —
# no theta join, no SinglePartition window.
# ===========================================================================

_AUDIT_THRESHOLDS = (0.2, 0.3, 0.5, 0.7)


def _lsh_audit_oracle() -> str:
    from crowdsorsa_etl_spark.lsh_oracles import lsh_audit_sql

    return lsh_audit_sql(thresholds=_AUDIT_THRESHOLDS)


@register("llm_lsh_audit", _lsh_audit_oracle())
def llm_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-threshold precision/recall of minhash_lsh_candidates vs exact
    shingle-Jaccard (operators/dedup.shingle_jaccard_pairs)."""
    from crowdsorsa_etl_spark.queries._shared import _shingle_jaccard_truth

    truth = _shingle_jaccard_truth(spark, sf_dir)
    cand = _lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    candj = cand.join(truth, ["id_a", "id_b"], "left").select(
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jac")
    )

    def _counts(prefix: str) -> list:
        return [
            F.coalesce(
                F.sum(
                    F.when(F.col("jac") >= F.lit(t), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"{prefix}{i}")
            for i, t in enumerate(_AUDIT_THRESHOLDS)
        ]

    tstats = truth.select(F.col("jaccard").alias("jac")).agg(*_counts("nt"))
    cstats = candj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand"), *_counts("nh")
    )
    def _scurve(t: float):
        # analytic banding S-curve 1 - (1 - t^r)^b (r=2 rows/band, b=8
        # bands at the default config) as an exact multiply chain — the
        # THEORETICAL collision probability the measured recall column is
        # judged against; no libm pow in the parity contract (the oracle
        # unrolls the identical IEEE multiplies)
        x = F.lit(float(t)) * F.lit(float(t))
        miss = F.lit(1.0) - x
        prod = miss
        for _ in range(8 - 1):
            prod = prod * miss
        return F.round(F.lit(1.0) - prod, 6)

    row = tstats.join(F.broadcast(cstats))
    per_t = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(t)).alias("threshold"),
                        F.col(f"nt{i}").alias("n_true"),
                        F.col("n_cand").alias("n_candidates"),
                        F.col(f"nh{i}").alias("n_hit"),
                        _scurve(t).alias("expected_collision_prob"),
                    )
                    for i, t in enumerate(_AUDIT_THRESHOLDS)
                ]
            )
        ).alias("s")
    ).select("s.*")
    return per_t.select(
        "threshold",
        "n_true",
        "n_candidates",
        "n_hit",
        F.round(
            F.col("n_hit") / F.nullif(F.col("n_candidates"), F.lit(0)), 6
        ).alias("precision"),
        F.round(F.col("n_hit") / F.nullif(F.col("n_true"), F.lit(0)), 6).alias(
            "recall"
        ),
        "expected_collision_prob",
    )


# ===========================================================================
# llm_hard_negatives — contrastive-training negative mining: per query
# vector, the top-k most-similar DIFFERENT-label corpus vectors (the
# highest-scoring wrong answers). The probe set broadcasts; the corpus
# never shuffles; the label-mismatch predicate rides the broadcast join so
# no post-filter re-rank is needed. Same float discipline as
# llm_cosine_topk (sequential double dot, round 6) — bit-identical in
# DuckDB.
# ===========================================================================


@register(
    "llm_hard_negatives",
    """
    WITH q AS (SELECT vec_id AS query_id, label AS query_label,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 16),
    c AS (SELECT vec_id AS neighbor_id, label AS neighbor_label,
                 CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    s AS (SELECT query_id, query_label, neighbor_id, neighbor_label,
                 round(list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(cv, cv))), 6) AS cosine
          FROM q JOIN c
            ON neighbor_id != query_id AND neighbor_label != query_label)
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine, rank
    FROM (SELECT *, CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
          FROM s)
    WHERE rank <= 5
    """,
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 nearest different-label neighbors per probe vector
    (operators/similarity.hard_negative_topk)."""
    from crowdsorsa_etl_spark.operators.similarity import hard_negative_topk

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb, emb.filter(F.col("vec_id") < 16), k=5)


# ===========================================================================
# llm_length_buckets — inference/training batching report: docs bucketed by
# next-power-of-2 token length (the standard bucketed-batching discipline),
# per bucket the batch count at B=32 and the padding waste, plus the waste
# a naive pad-everything-to-corpus-max batcher would pay (the number that
# justifies bucketing to begin with). One groupBy on the bucket key + one
# 3-scalar corpus aggregate broadcast back; all counts exact BIGINTs, the
# two waste ratios are single divisions rounded 6 dp. The bucket key is
# the _pow2_bucket helper: ceil(log2(n)) with an exact-integer overshoot
# correction, because Spark's log2 is log(x)/log(2) and returns
# 29.000000000000004 at n=2**29 — parity-safe on both engines.
# ===========================================================================

_BATCH = 32


def _pow2_bucket(col):
    """Smallest power of two >= greatest(col, 1), as an exact BIGINT.

    Spark's log2(x) is log(x)/log(2): at exact powers of two the quotient
    can land one ulp ABOVE the integer (29.000000000000004 at 2**29), so
    ceil() overshoots to the next bucket while DuckDB's exact libm log2
    does not — a cross-engine hash break. The shiftright post-correction
    (half-bucket still covers n -> take the half-bucket) repairs any
    one-step overshoot with exact integer comparisons; undershoot is
    impossible because for n just above 2**k the true log2 gap (~2.7e-9
    at 2**29+1) dwarfs the sub-ulp libm error.
    """
    n = F.greatest(col, F.lit(1))
    b = F.pow(F.lit(2), F.ceil(F.log2(n))).cast("bigint")
    return F.when(F.shiftright(b, 1) >= n, F.shiftright(b, 1)).otherwise(b)




@register(
    "llm_length_buckets",
    f"""
    WITH toks AS (
      SELECT CAST(CASE WHEN nt = '' THEN 0
                  ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_tokens
      FROM (SELECT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt
            FROM documents)
    ),
    bucketed AS (
      SELECT n_tokens,
             CASE WHEN CAST(power(2, ceil(log2(greatest(n_tokens, 1)))) AS BIGINT) // 2 >= greatest(n_tokens, 1)
                  THEN CAST(power(2, ceil(log2(greatest(n_tokens, 1)))) AS BIGINT) // 2
                  ELSE CAST(power(2, ceil(log2(greatest(n_tokens, 1)))) AS BIGINT) END
               AS bucket_len
      FROM toks
    ),
    per_bucket AS (
      SELECT bucket_len,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS real_tokens
      FROM bucketed GROUP BY bucket_len
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS all_docs,
             CAST(sum(n_tokens) AS BIGINT) AS all_real,
             CAST(max(n_tokens) AS BIGINT) AS max_len
      FROM toks
    )
    SELECT bucket_len, n_docs,
           CAST((n_docs + {_BATCH - 1}) // {_BATCH} AS BIGINT) AS n_batches,
           n_docs * bucket_len AS padded_tokens,
           real_tokens,
           round(1.0 - real_tokens * 1.0 / (n_docs * bucket_len), 6)
             AS waste_frac,
           round(1.0 - all_real * 1.0 / (all_docs * max_len), 6)
             AS naive_waste_frac
    FROM per_bucket, tot
    """,
)
def llm_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-2 length-bucketed batching: per-bucket batch counts and
    padding waste vs the naive pad-to-corpus-max baseline."""
    from crowdsorsa_etl_spark.functions.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    nt = normalize_text(F.col("text"))
    toks = docs.select(
        F.when(nt == "", F.lit(0))
        .otherwise(F.size(F.split(nt, " ")))
        .cast("bigint")
        .alias("n_tokens")
    )
    bucketed = toks.select(
        "n_tokens",
        _pow2_bucket(F.col("n_tokens")).alias("bucket_len"),
    )
    per_bucket = bucketed.groupBy("bucket_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("real_tokens"),
    )
    tot = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("all_docs"),
        F.sum("n_tokens").cast("bigint").alias("all_real"),
        F.max("n_tokens").cast("bigint").alias("max_len"),
    )
    return per_bucket.join(F.broadcast(tot)).select(
        "bucket_len",
        "n_docs",
        ((F.col("n_docs") + F.lit(_BATCH - 1)) / F.lit(_BATCH))
        .cast("bigint")
        .alias("n_batches"),
        (F.col("n_docs") * F.col("bucket_len")).alias("padded_tokens"),
        "real_tokens",
        F.round(
            F.lit(1.0)
            - F.col("real_tokens")
            * F.lit(1.0)
            / (F.col("n_docs") * F.col("bucket_len")),
            6,
        ).alias("waste_frac"),
        F.round(
            F.lit(1.0)
            - F.col("all_real") * F.lit(1.0) / (F.col("all_docs") * F.col("max_len")),
            6,
        ).alias("naive_waste_frac"),
    )


# ===========================================================================
# llm_wordpiece_merges / llm_wordpiece_encode — the THIRD tokenizer family
# (operators/wordpiece.py) next to BPE and the unigram LM: likelihood-
# ratio-scored learning (count(ab)/(count(a)·count(b)), the BERT trainer)
# over the frequency-capped word dictionary, and greedy longest-match-
# first inference against the learned vocabulary (never a merge replay —
# a genuinely different encode algorithm, with BERT's whole-word [UNK]
# failure semantics). The cap (24) BITES on this fixture (31 distinct
# words), so the oracle proves truncated-learn semantics; scores are
# single IEEE divisions of exact BIGINTs — no rounding, bit-identical in
# Python, Spark, and DuckDB.
# ===========================================================================

_WP_MERGES = 40
# the encode gate uses a 16-merge vocabulary: greedy longest-match is what
# this query proves (merge-count depth is llm_wordpiece_merges' job), and
# DuckDB's PLANNING cost for the unrolled learn-inside-encode statement
# grows superlinearly with merge count (40 merges: ~25 s to bind, 0.36 s
# to execute)
_WP_MERGES_ENC = 16
_WP_CAP = 24


def _wp_merges_oracle() -> str:
    from crowdsorsa_etl_spark.operators.wordpiece import wordpiece_merges_sql

    return wordpiece_merges_sql(_WP_MERGES, max_vocab_words=_WP_CAP)


def _wp_encode_oracle() -> str:
    from crowdsorsa_etl_spark.operators.wordpiece import wordpiece_encode_sql

    return wordpiece_encode_sql(_WP_MERGES_ENC, max_vocab_words=_WP_CAP)


def _wp_ids_oracle() -> str:
    from crowdsorsa_etl_spark.operators.wordpiece import (
        wordpiece_token_ids_sql,
    )

    return wordpiece_token_ids_sql(_WP_MERGES_ENC, max_vocab_words=_WP_CAP)


@register("llm_wordpiece_merges", _wp_merges_oracle())
def llm_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece learn at 40 merges over the top-24-words capped
    dictionary (operators/wordpiece.wordpiece_learn)."""
    from crowdsorsa_etl_spark.operators.wordpiece import wordpiece_learn

    docs = _t(spark, sf_dir, "documents")
    return wordpiece_learn(docs, n_merges=_WP_MERGES, max_vocab_words=_WP_CAP)


@register("llm_wordpiece_encode", _wp_encode_oracle())
def llm_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match WordPiece encoding of every distinct corpus
    word against the learned vocabulary (alphabet + merged tokens)."""
    from crowdsorsa_etl_spark.operators.wordpiece import (
        wordpiece_encode_words,
        wordpiece_learn,
        wordpiece_vocab,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = wordpiece_learn(
        docs, n_merges=_WP_MERGES_ENC, max_vocab_words=_WP_CAP
    )
    return wordpiece_encode_words(docs, wordpiece_vocab(docs, merges))


@register("llm_wordpiece_token_ids", _wp_ids_oracle())
def llm_wordpiece_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents to WordPiece token-id streams (sorted-vocab ids + [UNK];
    md5 of the comma-joined stream is the gate) — the family's training-
    export column, mirroring llm_bpe_token_ids."""
    from crowdsorsa_etl_spark.operators.wordpiece import (
        wordpiece_learn,
        wordpiece_token_ids,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = wordpiece_learn(
        docs, n_merges=_WP_MERGES_ENC, max_vocab_words=_WP_CAP
    )
    return wordpiece_token_ids(docs, merges)


# ===========================================================================
# llm_tfidf_topterms — per-document keyword extraction (the RAG/metadata
# tagging primitive BM25 doesn't cover: BM25 scores DOCS for a query,
# this scores TERMS for a doc). idf is the BM25-style RATIO
# (N - df + 0.5)/(df + 0.5), deliberately log-free: the score is then two
# exact-int subtractions/additions + one division + one multiply — fully
# determined IEEE both engines, so the per-doc ranking cannot drift on a
# libm log's last ulp (log is monotone in the ratio, so top-k is
# identical). Shuffles: one (doc, term) agg, one vocab-sized df agg
# (AQE-broadcast back), one per-doc top-k window — never SinglePartition.
# ===========================================================================

_TFIDF_K = 3


@register(
    "llm_tfidf_topterms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(
               lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '))
               AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE len(term) > 0 GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf * ((n.n_docs - df.df + 0.5) / (df.df + 0.5)) AS score
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tf, df, round(score, 6) AS score, rank
    FROM (SELECT *, CAST(row_number() OVER (
                 PARTITION BY doc_id
                 ORDER BY score DESC, term ASC) AS INT) AS rank
          FROM scored)
    WHERE rank <= {_TFIDF_K}
    """,
)
def llm_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (rational BM25-style idf)."""
    from pyspark.sql import Window

    from crowdsorsa_etl_spark.functions.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * (
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TFIDF_K)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round("score", 6).alias("score"),
            "rank",
        )
    )


# ===========================================================================
# llm_pmi_collocations — corpus collocation extraction (the phrase-mining
# primitive feeding tokenizer seed phrases / stop-phrase lists): top-20
# adjacent bigrams by PMI with a min-count support filter. The score is
# exp(PMI) = N·c(ab) / (c(a)·c(b)) — log-free like the TF-IDF idf, so the
# argsort is exact IEEE on both engines (log is monotone). Counts come
# from two map-side-combined aggregations; the top-k is a global
# orderBy+limit (TakeOrderedAndProject — per-partition heaps, no full
# sort, no SinglePartition window). Products stay far below 2^53 so the
# double casts are exact.
# ===========================================================================

_PMI_TOPK = 20
_PMI_MIN_COUNT = 5


@register(
    "llm_pmi_collocations",
    f"""
    WITH toks AS (
      SELECT doc_id, w, pos FROM (
        SELECT doc_id,
               unnest(string_split(
                 lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '))
                 AS w,
               generate_subscripts(string_split(
                 lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '), 1)
                 AS pos
        FROM documents
      ) WHERE len(w) > 0
    ),
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w
    ),
    bi AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM (
        SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
                 AS w2
        FROM toks
      ) WHERE w2 IS NOT NULL GROUP BY w1, w2
    ),
    n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bi FROM bi)
    SELECT w1, w2, c_ab,
           round(CAST(n.n_bi * bi.c_ab AS DOUBLE)
                 / CAST(ua.c * ub.c AS DOUBLE), 6) AS pmi_ratio
    FROM bi
    JOIN uni ua ON bi.w1 = ua.w
    JOIN uni ub ON bi.w2 = ub.w, n
    WHERE c_ab >= {_PMI_MIN_COUNT}
    ORDER BY CAST(n.n_bi * bi.c_ab AS DOUBLE)
               / CAST(ua.c * ub.c AS DOUBLE) DESC,
             w1 ASC, w2 ASC
    LIMIT {_PMI_TOPK}
    """,
)
def llm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-bigram collocations by exp(PMI) with support >= 5."""
    from pyspark.sql import Window

    from crowdsorsa_etl_spark.functions.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(normalize_text(F.col("text")), " ")).alias(
            "pos", "w"
        ),
    ).filter(F.length("w") > 0)
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        toks.select(
            F.col("w").alias("w1"), F.lead("w").over(wd).alias("w2")
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    )
    n = bi.agg(F.sum("c_ab").cast("bigint").alias("n_bi"))
    score = (F.col("n_bi") * F.col("c_ab")).cast("double") / (
        F.col("ca") * F.col("cb")
    ).cast("double")
    return (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("ca")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("cb")), "w2")
        .join(F.broadcast(n))
        .filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(score, 6).alias("pmi_ratio"),
            score.alias("_s"),
        )
        .orderBy(F.col("_s").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(_PMI_TOPK)
        .drop("_s")
    )


# ===========================================================================
# llm_hashed_features — the feature-hashing trick (Weinberger et al.;
# Vowpal Wabbit): term counts hashed into a fixed 64-bucket space with a
# hash-derived ±1 sign to de-bias collisions — the bounded-width document
# featurization a linear quality scorer consumes when the vocabulary is
# unbounded. Portable md5-derived h64 on both engines; bucket =
# floor-mod 64, sign = bit 6. ONE (doc, bucket) aggregation; values are
# exact BIGINTs (signed counts), no floats anywhere.
# ===========================================================================

_FH_DIM = 64


def _fh_oracle() -> str:
    from crowdsorsa_etl_spark.functions.portable_hash import h64_sql

    h = h64_sql("w")
    return f"""
    WITH toks AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(string_split(
                 lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '))
                 AS w
        FROM documents
      ) WHERE len(w) > 0
    ),
    hashed AS (
      SELECT doc_id,
             ((({h}) % {_FH_DIM}) + {_FH_DIM}) % {_FH_DIM} AS bucket,
             CASE WHEN (({h}) & 64) = 0 THEN 1 ELSE -1 END AS sgn
      FROM toks
    )
    SELECT doc_id, CAST(bucket AS INT) AS bucket,
           CAST(sum(sgn) AS BIGINT) AS val
    FROM hashed GROUP BY doc_id, bucket
    HAVING sum(sgn) != 0
    """


@register("llm_hashed_features", _fh_oracle())
def llm_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed 64-bucket feature-hashed term counts per document (sparse
    rows; zero-sum buckets dropped on both engines)."""
    from crowdsorsa_etl_spark.functions.portable_hash import h64_spark
    from crowdsorsa_etl_spark.functions.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w"),
    ).filter(F.length("w") > 0)
    h = h64_spark(F.col("w"))
    hashed = toks.select(
        "doc_id",
        F.pmod(h, F.lit(_FH_DIM)).cast("int").alias("bucket"),
        F.when(h.bitwiseAND(F.lit(64)) == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    return (
        hashed.groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )


# ===========================================================================
# llm_bucket_pack_assign — doc-boundary-preserving batch packing (the SFT
# dataloader shape, where GPT-style concat-split packing is wrong because
# examples must not cross sequence boundaries): docs group by their
# next-power-of-2 length bucket, each bin holds floor(MAX_LEN/bucket_len)
# docs (>= 1), and bin membership is the deterministic (doc_id) order
# within the bucket — an EXACT assignment, unlike first-fit-decreasing
# whose sequential prefix state doesn't distribute. The within-bucket
# rank deliberately does NOT use Window.partitionBy(bucket_len): only
# ~log2(max_len) buckets exist, so each would be ONE reducer at corpus
# scale — instead the global two-phase row number over (bucket, doc_id)
# (operators/global_rank.py: one range exchange, bounded offsets) minus a
# broadcast per-bucket start offset gives the identical rank with no hot
# key anywhere. Per-bin padding waste reports against the
# MAX_LEN·capacity envelope. Composes with llm_length_buckets: that
# query justifies bucketing, this one ships the assignment.
# ===========================================================================

_PACK_MAX_LEN = 512


@register(
    "llm_bucket_pack_assign",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(CASE WHEN nt = '' THEN 0
                  ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_tokens
      FROM (SELECT doc_id,
                   lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt
            FROM documents)
    ),
    bucketed AS (
      SELECT doc_id, n_tokens,
             CASE WHEN CAST(power(2, ceil(log2(greatest(n_tokens, 1)))) AS BIGINT) // 2 >= greatest(n_tokens, 1)
                  THEN CAST(power(2, ceil(log2(greatest(n_tokens, 1)))) AS BIGINT) // 2
                  ELSE CAST(power(2, ceil(log2(greatest(n_tokens, 1)))) AS BIGINT) END
               AS bucket_len
      FROM toks
      WHERE n_tokens <= {_PACK_MAX_LEN}
    ),
    assigned AS (
      SELECT bucket_len, n_tokens,
             CAST((row_number() OVER (PARTITION BY bucket_len
                                      ORDER BY doc_id) - 1)
                  // greatest({_PACK_MAX_LEN} // bucket_len, 1) AS BIGINT)
               AS bin_id,
             CAST(greatest({_PACK_MAX_LEN} // bucket_len, 1) AS BIGINT)
               AS capacity
      FROM bucketed
    )
    SELECT bucket_len, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(capacity) AS capacity,
           CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
           min(capacity) * bucket_len AS padded_tokens,
           round(1.0 - sum(n_tokens) * 1.0 / (min(capacity) * bucket_len), 6)
             AS waste_frac
    FROM assigned
    GROUP BY bucket_len, bin_id
    """,
)
def llm_bucket_pack_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deterministic bin assignment for boundary-preserving packing:
    per (bucket, bin) membership counts and padding waste at MAX_LEN=512."""
    from crowdsorsa_etl_spark.functions.text import normalize_text
    from crowdsorsa_etl_spark.operators.global_rank import (
        with_global_row_number,
    )

    docs = _t(spark, sf_dir, "documents")
    nt = normalize_text(F.col("text"))
    toks = docs.select(
        "doc_id",
        F.when(nt == "", F.lit(0))
        .otherwise(F.size(F.split(nt, " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    bucketed = toks.filter(F.col("n_tokens") <= _PACK_MAX_LEN).select(
        "doc_id",
        "n_tokens",
        _pow2_bucket(F.col("n_tokens")).alias("bucket_len"),
    )
    ranked, _total = with_global_row_number(
        bucketed,
        [F.col("bucket_len"), F.col("doc_id")],
        rn_col="_grn",
    )
    starts = ranked.groupBy("bucket_len").agg(F.min("_grn").alias("_b0"))
    cap = F.greatest(
        (F.lit(_PACK_MAX_LEN) / F.col("bucket_len")).cast("bigint"), F.lit(1)
    ).cast("bigint")
    assigned = ranked.join(F.broadcast(starts), "bucket_len").select(
        "bucket_len",
        "n_tokens",
        ((F.col("_grn") - F.col("_b0")) / cap).cast("bigint").alias("bin_id"),
        cap.alias("capacity"),
    )
    return (
        assigned.groupBy("bucket_len", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("capacity").alias("capacity"),
            F.sum("n_tokens").cast("bigint").alias("real_tokens"),
        )
        .select(
            "bucket_len",
            "bin_id",
            "n_docs",
            "capacity",
            "real_tokens",
            (F.col("capacity") * F.col("bucket_len")).alias("padded_tokens"),
            F.round(
                F.lit(1.0)
                - F.col("real_tokens")
                * F.lit(1.0)
                / (F.col("capacity") * F.col("bucket_len")),
                6,
            ).alias("waste_frac"),
        )
    )


# ===========================================================================
# llm_entity_resolution — the end-to-end ER pipeline a metadata
# reconciliation run ships: multipass-blocked Fellegi–Sunter pairs
# (llm_record_linkage_multipass), 'match'-class edges only, connected
# components over the bipartite clean/dirty node set (pointer-doubling
# min-label propagation, O(log diameter) rounds), then ONE aggregation to
# the golden-record table: members per entity and the canonical clean
# record (min clean custkey — every component contains a clean node
# because edges are bipartite). Nodes encode as 2·key (clean) / 2·key+1
# (dirty); at a key domain near 2^62 switch to a (kind, key) struct —
# the encoding is a fixture convenience, not a design constraint.
# The oracle replays the full chain: both blocking passes, the score
# literals, the match threshold, a recursive transitive closure for the
# components (entity clusters are small by construction), and the same
# golden-record aggregation.
# ===========================================================================


def _entity_resolution_sql() -> str:
    from crowdsorsa_etl_spark.queries.round12_pack import _mp_linkage_sql

    return f"""
    WITH RECURSIVE
    scored AS ({_mp_linkage_sql()}),
    m AS (SELECT c_custkey, d_custkey FROM scored WHERE fs_class = 'match'),
    edges AS (
      SELECT 2 * c_custkey AS src, 2 * d_custkey + 1 AS dst FROM m
    ),
    sym AS (
      SELECT src, dst FROM edges
      UNION
      SELECT dst AS src, src AS dst FROM edges
    ),
    reach(id, r) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT reach.id, s.dst
      FROM reach JOIN sym s ON reach.r = s.src
      WHERE s.dst != reach.id
    ),
    comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
    nodes AS (
      SELECT DISTINCT node, ck, is_clean FROM (
        SELECT 2 * c_custkey AS node, c_custkey AS ck, true AS is_clean
        FROM m
        UNION ALL
        SELECT 2 * d_custkey + 1 AS node, d_custkey AS ck, false AS is_clean
        FROM m
      )
    ),
    labeled AS (
      SELECT n.node, n.ck, n.is_clean, c.component
      FROM nodes n JOIN comp c ON n.node = c.id
    ),
    ent AS (
      SELECT component AS entity_id,
             CAST(count(*) AS BIGINT) AS n_records,
             CAST(sum(CASE WHEN is_clean THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clean,
             CAST(sum(CASE WHEN is_clean THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dirty,
             min(CASE WHEN is_clean THEN ck END) AS canonical_custkey
      FROM labeled GROUP BY component
    )
    SELECT e.entity_id, e.n_records, e.n_clean, e.n_dirty,
           e.canonical_custkey, c.c_name AS canonical_name
    FROM ent e JOIN customer c ON e.canonical_custkey = c.c_custkey
    """


@register("llm_entity_resolution", _entity_resolution_sql())
def llm_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record table: match-class F-S pairs -> connected components
    -> per-entity member counts + canonical clean record."""
    from crowdsorsa_etl_spark.operators.clusters import connected_components
    from crowdsorsa_etl_spark.queries._shared import _fs_scored_pairs

    pairs = _fs_scored_pairs(spark, sf_dir).filter(
        F.col("fs_class") == "match"
    )
    # materialize the match-pair set ONCE (r16, guide §2.4): ``m`` feeds
    # the edge list AND both node-union branches — without this each
    # reference re-ran the full F-S blocking + scoring pipeline. Match
    # pairs are the bounded output of the blocking join.
    m = pairs.select("c_custkey", "d_custkey").localCheckpoint()
    edges = m.select(
        (F.col("c_custkey") * 2).alias("id_a"),
        (F.col("d_custkey") * 2 + 1).alias("id_b"),
    )
    comp = connected_components(edges)
    nodes = (
        m.select(
            (F.col("c_custkey") * 2).alias("node"),
            F.col("c_custkey").alias("ck"),
            F.lit(True).alias("is_clean"),
        )
        .unionAll(
            m.select(
                (F.col("d_custkey") * 2 + 1).alias("node"),
                F.col("d_custkey").alias("ck"),
                F.lit(False).alias("is_clean"),
            )
        )
        .distinct()
    )
    labeled = nodes.join(comp, nodes.node == comp.id).select(
        "node", "ck", "is_clean", "component"
    )
    ent = labeled.groupBy(F.col("component").alias("entity_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        F.sum(F.when(F.col("is_clean"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clean"),
        F.sum(F.when(F.col("is_clean"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_dirty"),
        F.min(F.when(F.col("is_clean"), F.col("ck"))).alias(
            "canonical_custkey"
        ),
    )
    cust = _t(spark, sf_dir, "customer")
    return ent.join(
        cust.select("c_custkey", F.col("c_name").alias("canonical_name")),
        ent.canonical_custkey == F.col("c_custkey"),
    ).select(
        "entity_id",
        "n_records",
        "n_clean",
        "n_dirty",
        "canonical_custkey",
        "canonical_name",
    )


# ===========================================================================
# llm_min_k_prob — min-k%-prob membership inference (Shi et al. 2023,
# "Detecting Pretraining Data from Large Language Models"): per document,
# the mean KN log-probability of its bottom-20% bigram scores. Memorized
# text scores high even on its LEAST-likely tokens, so a high
# mink_logprob flags probable training-set membership — the benchmark-
# contamination probe the n-gram-overlap tiers (llm_contamination,
# llm_substring_decontamination) cannot express (they need the verbatim
# text; this catches near-verbatim memorization through the LM). Reuses
# the per-occurrence KN score stream (one shared CTE fragment with
# llm_kneser_ney_logprob / llm_perplexity_buckets); the bottom-count is
# exact integer ceil(n/5) — no float k% multiply whose last ulp could
# move the cutoff across engines — and the bottom-m selection is
# tie-robust (boundary ties are equal values, same sum either way).
# ===========================================================================


def _min_k_oracle() -> str:
    from crowdsorsa_etl_spark.operators.ngramlm import min_k_prob_sql

    return min_k_prob_sql()


@register("llm_min_k_prob", _min_k_oracle())
def llm_min_k_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-20%-prob membership-inference score per document over the
    corpus-trained KN bigram LM (operators/ngramlm.min_k_prob_scores)."""
    from crowdsorsa_etl_spark.operators.ngramlm import min_k_prob_scores
    from crowdsorsa_etl_spark.queries._shared import _kn_token_scores

    return min_k_prob_scores(
        _t(spark, sf_dir, "documents"),
        token_scores=_kn_token_scores(spark, sf_dir),
    )


# ===========================================================================
# llm_ann_recall_audit — the ANN mirror of llm_lsh_audit (measure, don't
# guess): per-query recall@5 of the IVF index against exact brute-force
# cosine ground truth, at the exact llm_ivf_topk configuration. Both tiers
# already replay end-to-end in SQL (deterministic sample-trained k-means;
# sequential-double cosine), so the audit's oracle is a join of the two
# replays — a recall regression from a probe-selection or re-rank bug
# breaks the hash, not just a pytest gate.
# ===========================================================================


def _ann_audit_oracle() -> str:
    from crowdsorsa_etl_spark import lsh_oracles
    from crowdsorsa_etl_spark.queries.llm_pack import COSINE_TOPK_ORACLE_SQL

    ivf = lsh_oracles.ivf_topk_sql(n_lists=16, n_probe=8)
    return f"""
    WITH exact_tk AS ({COSINE_TOPK_ORACLE_SQL}),
    approx_tk AS ({ivf})
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           round(count(a.neighbor_id) * 1.0 / count(*), 6) AS recall
    FROM exact_tk e
    LEFT JOIN approx_tk a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """


@register("llm_ann_recall_audit", _ann_audit_oracle())
def llm_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of ivf_topk(n_lists=16, n_probe=8) vs exact
    cosine_topk over the same probe set."""
    from crowdsorsa_etl_spark.operators.similarity import ivf_topk
    from crowdsorsa_etl_spark.queries._shared import _ann_exact_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    # memoized per-fixture ground truth (the jactruth_v1 posture)
    exact = _ann_exact_topk(spark, sf_dir)
    approx = ivf_topk(
        emb, probes, k=5, n_lists=16, n_probe=8
    ).select("query_id", F.col("neighbor_id").alias("_an"))
    joined = exact.join(
        approx,
        (exact.query_id == approx.query_id)
        & (F.col("neighbor_id") == F.col("_an")),
        "left",
    ).select(exact.query_id.alias("qid"), "neighbor_id", "_an")
    return joined.groupBy(F.col("qid").alias("query_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.count(F.col("_an")).cast("bigint").alias("n_hit"),
        F.round(
            F.count(F.col("_an")) * F.lit(1.0) / F.count(F.lit(1)), 6
        ).alias("recall"),
    )


# ===========================================================================
# llm_classifier_calibration — the reliability table a model-based filter
# ships with (is a logit of +2 actually 88% likely to be a keeper?):
# documents bin by floor(logit) (clamped to [-5, 4]; binning in LOGIT
# space keeps the contract free of cross-libm exp()), and each bin
# reports its document count and the ACTUAL positive rate under the label
# the classifier was distilled from (n_chars >= 300 — the weak label
# tools/fit_quality_weights.py trained against). Mean logit per bin is
# BIGINT fixed point over the 6-dp-rounded logits (the min-k discipline:
# no double-summation-order drift, no rounding boundary). One narrow
# scan + one bin-keyed aggregation.
# ===========================================================================


def _calibration_oracle() -> str:
    from crowdsorsa_etl_spark.queries.round8d_pack import _qc_oracle

    return f"""
    WITH scored AS ({_qc_oracle()}),
    labeled AS (
      SELECT s.doc_id, s.logit, (d.n_chars >= 300) AS is_pos,
             CAST(least(greatest(floor(s.logit), -5), 4) AS BIGINT) AS bin,
             CAST(round(s.logit * 1000000.0) AS BIGINT) AS logit_u
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           round(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS pos_rate,
           CAST(sum(logit_u) AS DOUBLE) / (count(*) * 1000000)
             AS mean_logit
    FROM labeled GROUP BY bin
    """


@register("llm_classifier_calibration", _calibration_oracle())
def llm_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the shipped quality classifier: per logit
    bin, document count, actual positive rate under the distillation
    label, and the fixed-point mean logit."""
    from crowdsorsa_etl_spark.queries.round8d_pack import (
        llm_quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = llm_quality_classifier(spark, sf_dir).select("doc_id", "logit")
    labeled = scored.join(
        docs.select("doc_id", (F.col("n_chars") >= 300).alias("is_pos")),
        "doc_id",
    ).select(
        F.least(F.greatest(F.floor("logit"), F.lit(-5)), F.lit(4))
        .cast("bigint")
        .alias("bin"),
        "is_pos",
        F.round(F.col("logit") * F.lit(1_000_000.0))
        .cast("bigint")
        .alias("logit_u"),
    )
    return labeled.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.round(
            F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
            * F.lit(1.0)
            / F.count(F.lit(1)),
            6,
        ).alias("pos_rate"),
        (
            F.sum("logit_u").cast("double")
            / (F.count(F.lit(1)) * F.lit(1_000_000))
        ).alias("mean_logit"),
    )


# ===========================================================================
# llm_matryoshka_audit — embedding-truncation quality audit (Matryoshka
# representation learning serving question: how much recall do I keep if
# I store only the first d' dims?): recall@5 of cosine top-k over the
# FIRST 8 and FIRST 4 dimensions vs the full-width exact ranking, per
# truncation width. Same measure-don't-guess family as llm_lsh_audit /
# llm_ann_recall_audit; same sequential-double cosine and rank
# conventions as llm_cosine_topk, applied to array slices — so the whole
# audit replays in SQL. Corpus scans scale linearly; the probe set is
# bounded and broadcast.
# ===========================================================================

_MRL_WIDTHS = (8, 4)


def _mrl_topk_cte(width: int | None, name: str) -> str:
    vec = "CAST(embedding AS DOUBLE[])" if width is None else (
        f"CAST(embedding AS DOUBLE[])[1:{width}]"
    )
    return f"""{name} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
        FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_dot_product(q.v, c.v)
                       / (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
          FROM (SELECT vec_id, {vec} AS v FROM embeddings
                WHERE vec_id < 10) q
          JOIN (SELECT vec_id, {vec} AS v FROM embeddings) c
            ON c.vec_id != q.vec_id
        )
      ) WHERE rank <= 5
    )"""


def _mrl_oracle() -> str:
    ctes = [_mrl_topk_cte(None, "full_tk")] + [
        _mrl_topk_cte(w, f"tk{w}") for w in _MRL_WIDTHS
    ]
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({w} AS INT) AS width,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_hit,
           round(count(t.neighbor_id) * 1.0 / count(*), 6) AS recall
    FROM full_tk f
    LEFT JOIN tk{w} t
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id"""
        for w in _MRL_WIDTHS
    )
    return "WITH " + ",\n    ".join(ctes) + "\n" + rows


@register("llm_matryoshka_audit", _mrl_oracle())
def llm_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of truncated-dimension cosine top-k (first 8 / first 4
    dims) vs the full-width exact ranking."""
    from crowdsorsa_etl_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")

    def tk(width: int | None) -> DataFrame:
        e = emb
        if width is not None:
            e = emb.select(
                "vec_id", F.slice("embedding", 1, width).alias("embedding")
            )
        return cosine_topk(e, e.filter(F.col("vec_id") < 10), k=5).select(
            "query_id", "neighbor_id"
        )

    full = tk(None)
    out = None
    for w in _MRL_WIDTHS:
        t = tk(w).withColumnRenamed("neighbor_id", "_tn")
        j = full.alias("f").join(
            t.alias("t"),
            (F.col("f.query_id") == F.col("t.query_id"))
            & (F.col("f.neighbor_id") == F.col("t._tn")),
            "left",
        )
        row = j.agg(
            F.lit(w).cast("int").alias("width"),
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.count(F.col("t._tn")).cast("bigint").alias("n_hit"),
            F.round(
                F.count(F.col("t._tn")) * F.lit(1.0) / F.count(F.lit(1)), 6
            ).alias("recall"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# ===========================================================================
# llm_k_anonymity — release-governance check: under the quasi-identifier
# (lang, source, power-of-2 length bucket), which equivalence classes
# fall below k=5 members (re-identification risk in a published corpus'
# metadata), plus the share of documents at risk. Two map-side-combined
# aggregations: one on the quasi-identifier, one 2-scalar summary
# broadcast back onto the violating rows. Exact BIGINTs; one division.
# ===========================================================================

_KANON_K = 5


@register(
    "llm_k_anonymity",
    f"""
    WITH q AS (
      SELECT lang, source,
             CASE WHEN CAST(power(2, ceil(log2(greatest(n_chars, 1)))) AS BIGINT) // 2 >= greatest(n_chars, 1)
                  THEN CAST(power(2, ceil(log2(greatest(n_chars, 1)))) AS BIGINT) // 2
                  ELSE CAST(power(2, ceil(log2(greatest(n_chars, 1)))) AS BIGINT) END
               AS len_bucket
      FROM documents
    ),
    classes AS (
      SELECT lang, source, len_bucket, CAST(count(*) AS BIGINT) AS n_docs
      FROM q GROUP BY lang, source, len_bucket
    ),
    summary AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
             CAST(coalesce(sum(CASE WHEN n_docs < {_KANON_K}
                                    THEN n_docs ELSE 0 END), 0) AS BIGINT)
               AS at_risk_docs
      FROM classes
    )
    SELECT c.lang, c.source, c.len_bucket, c.n_docs,
           round(s.at_risk_docs * 1.0 / s.total_docs, 6) AS at_risk_frac
    FROM classes c, summary s
    WHERE c.n_docs < {_KANON_K}
    """,
)
def llm_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-identifier classes below k=5 + the corpus at-risk share."""
    docs = _t(spark, sf_dir, "documents")
    q = docs.select(
        "lang",
        "source",
        _pow2_bucket(F.col("n_chars")).alias("len_bucket"),
    )
    classes = q.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    summary = classes.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.coalesce(
            F.sum(
                F.when(F.col("n_docs") < _KANON_K, F.col("n_docs")).otherwise(
                    F.lit(0)
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("at_risk_docs"),
    )
    return (
        classes.filter(F.col("n_docs") < _KANON_K)
        .join(F.broadcast(summary))
        .select(
            "lang",
            "source",
            "len_bucket",
            "n_docs",
            F.round(
                F.col("at_risk_docs") * F.lit(1.0) / F.col("total_docs"), 6
            ).alias("at_risk_frac"),
        )
    )


# ===========================================================================
# llm_incremental_components — the incremental entity/cluster registry:
# the corpus' LSH candidate edges split into two arrival batches, batch 0
# builds the registry with the one-shot CC, batch 1 folds in via label
# condensation (operators/clusters.incremental_components: CC runs only
# on the CONDENSED touched-label graph, the registry relabels with one
# broadcast label-keyed join). The oracle is the BATCH pipeline's oracle
# verbatim (transitive closure over ALL edges) — hash-match proves
# incremental == full recompute, the invariant an at-ingest entity store
# lives on. Deterministic split (sum of endpoint ids mod 2), so both
# engines see the same batches trivially: the oracle never needs them.
# ===========================================================================


def _inc_components_oracle() -> str:
    from crowdsorsa_etl_spark import lsh_oracles

    return lsh_oracles.dedup_clusters_sql()


@register("llm_incremental_components", _inc_components_oracle())
def llm_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch incremental cluster registry, hashed against the
    one-shot connected-components oracle."""
    from crowdsorsa_etl_spark.operators.clusters import (
        connected_components,
        incremental_components,
    )

    import os

    from crowdsorsa_etl_spark.queries._shared import _at_rest, _sf_cache_dir

    docs = _t(spark, sf_dir, "documents")
    pairs = _lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    b0 = pairs.filter((F.col("id_a") + F.col("id_b")) % 2 == 0)
    b1 = pairs.filter((F.col("id_a") + F.col("id_b")) % 2 == 1)
    # The batch-0 registry is the AT-REST input of this query (an entity
    # store has its registry materialized before any batch arrives), so it
    # memoizes per fixture like _lsh_pairs; the incremental fold of batch 1
    # — the operation this query demonstrates — always runs live.
    reg_path = _at_rest(
        os.path.join(
            _sf_cache_dir(sf_dir, "increg_v1", "documents"),
            "registry.parquet",
        ),
        lambda stage: connected_components(b0).write.parquet(stage),
    )
    reg = spark.read.parquet(reg_path)
    reg = incremental_components(reg, b1)
    out = docs.select("doc_id").join(
        reg, docs.doc_id == reg.id, "left"
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
    ).withColumn("keep", F.col("doc_id") == F.col("cluster_id"))


# ===========================================================================
# llm_wordpiece_oov — tokenizer coverage on data the vocabulary never saw
# (the llm_bpe_oov contract for family #3): the documents-learned
# WordPiece vocabulary encodes the PART-name word dictionary — 'gizmo'
# carries a 'z' the documents alphabet lacks, so BERT's whole-word [UNK]
# path fires for real — and one aggregate reports the UNK rate and the
# mean piece count over covered words. A rising UNK rate is the
# train/serve drift gate a shipped tokenizer needs.
# ===========================================================================


def _wp_oov_oracle() -> str:
    from crowdsorsa_etl_spark.operators.wordpiece import wordpiece_oov_sql

    return wordpiece_oov_sql(_WP_MERGES_ENC, max_vocab_words=_WP_CAP)


@register("llm_wordpiece_oov", _wp_oov_oracle())
def llm_wordpiece_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[UNK] rate + mean piece count of the documents-learned WordPiece
    vocabulary applied to part-name words."""
    from crowdsorsa_etl_spark.operators.wordpiece import (
        wordpiece_encode_words,
        wordpiece_learn,
        wordpiece_vocab,
    )

    docs = _t(spark, sf_dir, "documents")
    part = _t(spark, sf_dir, "part")
    merges = wordpiece_learn(
        docs, n_merges=_WP_MERGES_ENC, max_vocab_words=_WP_CAP
    )
    enc = wordpiece_encode_words(
        part, wordpiece_vocab(docs, merges), text_col="p_name"
    )
    unk = F.col("wp_tokens") == "[UNK]"
    return enc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.when(unk, 1).otherwise(0)).cast("bigint").alias("n_unk"),
        F.round(
            F.sum(F.when(unk, 1).otherwise(0)) * F.lit(1.0) / F.count(F.lit(1)),
            6,
        ).alias("unk_rate"),
        F.round(
            F.sum(F.when(unk, F.lit(0)).otherwise(F.col("n_wp_tokens")))
            * F.lit(1.0)
            / F.nullif(
                F.sum(F.when(unk, 0).otherwise(1)).cast("bigint"), F.lit(0)
            ),
            6,
        ).alias("mean_pieces_known"),
    )


# ===========================================================================
# llm_dup_profile — the duplication datasheet number (how duplicated is
# this corpus?): near-dup cluster-size histogram from the LSH candidate
# components — per size, the cluster count, the documents they hold, and
# the doc share — with singletons (docs in no candidate pair) as the
# size-1 row. One CC over the shared candidate-pairs artifact + two
# bounded aggregations; the duplication factor of the release doc.
# ===========================================================================


def _dup_profile_oracle() -> str:
    from crowdsorsa_etl_spark import lsh_oracles

    clusters = lsh_oracles.dedup_clusters_sql()
    return f"""
    WITH cl AS ({clusters}),
    sizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM cl GROUP BY cluster_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM cl)
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs,
           round(sum(cluster_size) * 1.0 / t.n_total, 6) AS doc_frac
    FROM sizes, tot t
    GROUP BY cluster_size, t.n_total
    """


@register("llm_dup_profile", _dup_profile_oracle())
def llm_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram (singletons included) + per-size
    document share."""
    from crowdsorsa_etl_spark.queries._shared import _dedup_cluster_assign

    cl = _dedup_cluster_assign(spark, sf_dir)
    sizes = cl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    tot = cl.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
        )
        .join(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            F.round(
                F.col("n_docs") * F.lit(1.0) / F.col("n_total"), 6
            ).alias("doc_frac"),
        )
    )


# ===========================================================================
# llm_source_overlap — cross-source duplication matrix (which sources
# copy which): near-dup candidate pairs labeled with both endpoints'
# sources, counted per unordered source pair — the provenance view of
# the dedup tier (a mirror site shows up as one hot off-diagonal cell;
# the diagonal is within-source duplication). Two id-keyed joins against
# the doc->source map + one bounded aggregation over the shared
# candidate-pairs artifact; the source-pair key is normalized with
# least/greatest so neither engine depends on pair orientation.
# ===========================================================================


def _source_overlap_oracle() -> str:
    from crowdsorsa_etl_spark import lsh_oracles

    return f"""
    WITH pairs AS ({lsh_oracles.minhash_lsh_sql()}),
    lab AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM pairs p
      JOIN documents da ON p.id_a = da.doc_id
      JOIN documents db ON p.id_b = db.doc_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lab)
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(count(*) * 1.0 / t.n_total, 6) AS pair_frac
    FROM lab, tot t
    GROUP BY source_a, source_b, t.n_total
    """


@register("llm_source_overlap", _source_overlap_oracle())
def llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate-pair counts per unordered source pair."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    lab = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    tot = lab.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        lab.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .join(F.broadcast(tot))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.round(
                F.col("n_pairs") * F.lit(1.0) / F.col("n_total"), 6
            ).alias("pair_frac"),
        )
    )


# ===========================================================================
# llm_signal_correlation — do the quality signals agree? Spearman rank
# correlation between the KN LM score (llm_kneser_ney_logprob) and the
# linear classifier logit (llm_quality_classifier) per document — the
# meta-diagnostic run before ensembling filters (two signals that rank
# the corpus identically add nothing; anti-correlated ones need a look).
# Ranks come from the TWO-PHASE global row number over the unique
# (score, doc_id) order (operators/global_rank.py — no SinglePartition
# window for a global sort), the rank-difference sum is exact BIGINT,
# and rho = 1 - 6*Σd²/(n(n²-1)) is ONE double division. At corpus scale
# run it on a sampled stratum: n³ outgrows BIGINT near n ~ 2M, and a
# correlation estimate doesn't need the full corpus.
# ===========================================================================


def _signal_corr_oracle() -> str:
    from crowdsorsa_etl_spark.operators.ngramlm import kneser_ney_bigram_sql
    from crowdsorsa_etl_spark.queries.round8d_pack import _qc_oracle

    return f"""
    WITH lm AS (
      SELECT doc_id, avg_logprob FROM ({kneser_ney_bigram_sql()})
    ),
    qc AS (
      SELECT doc_id, logit FROM ({_qc_oracle()})
    ),
    joined AS (
      SELECT lm.doc_id, lm.avg_logprob, qc.logit
      FROM lm JOIN qc USING (doc_id)
    ),
    ranked AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY avg_logprob ASC, doc_id ASC)
                  AS BIGINT) AS r1,
             CAST(row_number() OVER (ORDER BY logit ASC, doc_id ASC)
                  AS BIGINT) AS r2
      FROM joined
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2,
           round(1.0 - 6.0 * sum((r1 - r2) * (r1 - r2))
                 / (count(*) * (count(*) * count(*) - 1)), 6)
             AS spearman_rho
    FROM ranked
    """


@register("llm_signal_correlation", _signal_corr_oracle())
def llm_signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho between the KN LM score and the classifier logit."""
    from crowdsorsa_etl_spark.operators.global_rank import (
        with_global_row_number,
    )
    from crowdsorsa_etl_spark.operators.ngramlm import (
        kneser_ney_bigram_scores,
    )
    from crowdsorsa_etl_spark.queries.round8d_pack import (
        llm_quality_classifier,
    )

    from crowdsorsa_etl_spark.queries._shared import _kn_token_scores

    docs = _t(spark, sf_dir, "documents")
    lm = kneser_ney_bigram_scores(
        docs, token_scores=_kn_token_scores(spark, sf_dir)
    ).select("doc_id", "avg_logprob")
    qc = llm_quality_classifier(spark, sf_dir).select("doc_id", "logit")
    # materialize the scored join ONCE (r16, guide §2.4): the two rank
    # passes each range-sort it independently, and without the checkpoint
    # each pass re-ran the KN-score read + the classifier's feature
    # extraction from scratch.
    joined = lm.join(qc, "doc_id").localCheckpoint()
    r1, _ = with_global_row_number(
        joined, [F.col("avg_logprob").asc(), F.col("doc_id").asc()],
        rn_col="r1",
    )
    r2, _ = with_global_row_number(
        joined, [F.col("logit").asc(), F.col("doc_id").asc()], rn_col="r2"
    )
    both = r1.select("doc_id", "r1").join(
        r2.select("doc_id", "r2"), "doc_id"
    )
    d2 = (F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2"))
    return both.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(d2).cast("bigint").alias("sum_d2"),
        F.round(
            F.lit(1.0)
            - F.lit(6.0)
            * F.sum(d2)
            / (
                F.count(F.lit(1))
                * (F.count(F.lit(1)) * F.count(F.lit(1)) - F.lit(1))
            ),
            6,
        ).alias("spearman_rho"),
    )


# ===========================================================================
# llm_dedup_savings — the dedup ROI datasheet row (what did each tier
# actually buy?): per tier (exact-hash, near-dup clusters), the documents
# and TOKENS kept vs dropped under the canonical keep-min-id rule, and
# the token-mass drop fraction. Exact BIGINT token sums from one shared
# token-count scan; each tier is one aggregation over its existing keep
# rule — the number that justifies (or kills) running the heavier tier.
# ===========================================================================


def _dedup_savings_oracle() -> str:
    from crowdsorsa_etl_spark import lsh_oracles

    clusters = lsh_oracles.dedup_clusters_sql()
    return f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(CASE WHEN nt = '' THEN 0
                  ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_tokens,
             md5(nt) AS fp
      FROM (SELECT doc_id,
                   lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt
            FROM documents)
    ),
    exact_keep AS (
      SELECT doc_id, n_tokens,
             (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS keep
      FROM toks
    ),
    cl AS ({clusters}),
    cluster_keep AS (
      SELECT t.doc_id, t.n_tokens, c.keep
      FROM toks t JOIN cl c USING (doc_id)
    ),
    rows_out AS (
      SELECT 'exact' AS tier, * FROM exact_keep
      UNION ALL
      SELECT 'near_dup_cluster' AS tier, * FROM cluster_keep
    )
    SELECT tier,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
             AS docs_dropped,
           CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CAST(sum(CASE WHEN keep THEN 0 ELSE n_tokens END) AS BIGINT)
             AS tokens_dropped,
           round(sum(CASE WHEN keep THEN 0 ELSE n_tokens END) * 1.0
                 / sum(n_tokens), 6) AS token_drop_frac
    FROM rows_out GROUP BY tier
    """


@register("llm_dedup_savings", _dedup_savings_oracle())
def llm_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs/tokens kept vs dropped per dedup tier (exact hash, near-dup
    clusters) under the keep-min-id rule."""
    from pyspark.sql import Window

    from crowdsorsa_etl_spark.functions.text import normalize_text
    from crowdsorsa_etl_spark.queries._shared import _dedup_cluster_assign

    docs = _t(spark, sf_dir, "documents")
    nt = normalize_text(F.col("text"))
    toks = docs.select(
        "doc_id",
        F.when(nt == "", F.lit(0))
        .otherwise(F.size(F.split(nt, " ")))
        .cast("bigint")
        .alias("n_tokens"),
        F.md5(nt).alias("fp"),
    ).localCheckpoint()
    w = Window.partitionBy("fp")
    exact = toks.select(
        F.lit("exact").alias("tier"),
        "n_tokens",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )
    cl = _dedup_cluster_assign(spark, sf_dir).select("doc_id", "keep")
    cluster = toks.join(cl, "doc_id").select(
        F.lit("near_dup_cluster").alias("tier"), "n_tokens", "keep"
    )
    both = exact.unionByName(cluster)
    return both.groupBy("tier").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("docs_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1))
        .cast("bigint")
        .alias("docs_dropped"),
        F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(F.col("n_tokens")))
        .cast("bigint")
        .alias("tokens_dropped"),
        F.round(
            F.sum(F.when(F.col("keep"), 0).otherwise(F.col("n_tokens")))
            * F.lit(1.0)
            / F.sum("n_tokens"),
            6,
        ).alias("token_drop_frac"),
    )
