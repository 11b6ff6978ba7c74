"""Round 8d: BPE tokenization (the apply side of the learned merge table),
bigram-LM quality scoring, and token-budget training-shard assignment with a
distributed global prefix sum.

Registration ORDER is load-bearing (the driver's correctness window samples
the first 50 registrations); this module is imported LAST by
queries/__init__.py, so its entries append after the round-8c tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.queries._shared import _t, register


# ===========================================================================
# llm_bpe_encode — learn-then-APPLY: the companion to llm_bpe_merges.
# Learning collects the n-row merge table (the artifact a tokenizer ships);
# application is pure narrow column expressions — zero Exchange over the
# corpus. The oracle re-learns AND re-applies independently in DuckDB, so a
# wrong learned merge and a wrong application both break the hash.
# ===========================================================================

_BPE_MERGES = 8


def _bpe_encode_oracle() -> str:
    from crowdsorsa_etl_spark.operators.bpe import bpe_encode_sql

    return bpe_encode_sql(n_merges=_BPE_MERGES)


@register("llm_bpe_encode", _bpe_encode_oracle())
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with the corpus-learned BPE merge table:
    train 8 merges over the word-count dictionary (vocabulary-sized shuffle,
    bounded 8-row driver round-trip), then encode each doc with the merges
    as literal expressions — the encode stage is fully narrow and stays in
    whole-stage codegen. Output carries the token count and an md5 of the
    full symbol stream per doc."""
    from crowdsorsa_etl_spark.operators.bpe import bpe_encode
    from crowdsorsa_etl_spark.queries.round10_pack import _learned_bpe

    docs = _t(spark, sf_dir, "documents")
    # the merge table IS the bounded artifact (n_merges rows, like a shipped
    # tokenizer.json) — collecting it is the contract, not a scale leak;
    # shared per fixture with the whole token chain (_BPE_ARTIFACTS memo)
    merges, _, _ = _learned_bpe(
        spark, sf_dir, _BPE_MERGES, with_vocab=False
    )
    return bpe_encode(docs, merges)


# ===========================================================================
# llm_bigram_logprob — corpus-trained bigram LM with add-one smoothing: the
# CCNet/KenLM perplexity-filter shape one order up from llm_unigram_logprob.
# P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V). Two corpus-keyed shuffles build
# the model (bigram counts, unigram counts); scoring is two joins whose
# build sides are Zipf-small at real scale (AQE broadcasts from observed
# size) plus one per-doc aggregate.
# ===========================================================================


@register(
    "llm_bigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS arr
      FROM documents
    ),
    uni AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(arr) AS tok FROM toks) GROUP BY tok
    ),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vsize FROM uni),
    big AS (
      SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
      FROM toks, UNNEST(range(1, len(arr))) AS t(i)
    ),
    bcnt AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS bc
      FROM big GROUP BY w1, w2
    )
    SELECT big.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(ln((bcnt.bc + 1.0) / (uni.cnt + v.vsize)))
                 / count(*), 6) AS avg_logprob
    FROM big
    JOIN bcnt ON big.w1 = bcnt.w1 AND big.w2 = bcnt.w2
    JOIN uni ON big.w1 = uni.tok
    CROSS JOIN v
    GROUP BY big.doc_id
    """,
)
def llm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram log-probability per document (conditional on
    the preceding token), trained on the corpus itself. Docs with fewer
    than two tokens drop out on both engines (no bigram to score)."""
    docs = _t(spark, sf_dir, "documents")
    arr = F.split(F.lower(F.trim("text")), " ")
    toks = docs.select("doc_id", arr.alias("arr"))
    uni = toks.select(F.explode("arr").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # vocab size as a lazy 1-row broadcast, never a driver collect
    v = uni.agg(F.count(F.lit(1)).cast("bigint").alias("vsize"))
    a = F.col("arr")
    pairs = F.when(
        F.size(a) >= 2,
        F.zip_with(
            F.slice(a, 1, F.size(a) - 1),
            F.slice(a, 2, F.size(a) - 1),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    bcnt = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("bc")
    )
    return (
        big.join(bcnt, ["w1", "w2"])
        .join(uni.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.log(
                        (F.col("bc") + 1.0) / (F.col("cnt") + F.col("vsize"))
                    )
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
    )


# ===========================================================================
# q108_shard_assignment — pack documents into training shards of at most
# ~SHARD_BUDGET tokens each (docs are atomic; a doc starts in the shard its
# running prefix sum lands in). The oracle is the textbook single window
# `sum() OVER (ORDER BY doc_id)`; the Spark side computes the SAME global
# prefix sum with the two-phase range-sort + per-partition-offsets pattern —
# no single-partition WindowExec anywhere in the plan (asserted in tests).
# This is the shard-writer math of every training-data export pipeline.
# ===========================================================================

_SHARD_BUDGET = 20_000  # tokens per shard; fixture corpus ≈ 40 shards


@register(
    "q108_shard_assignment",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens,
           CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens)
                      / {_SHARD_BUDGET}.0) AS INT) AS shard_id
    FROM d
    """,
)
def q108_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget shard assignment via a distributed global
    cumulative sum (range partition → local sort → per-partition sum offsets
    → partitioned window), so the 100 TB export never funnels through one
    window task."""
    from crowdsorsa_etl_spark.operators.global_rank import with_global_cumsum

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim("text")), " "))
        .cast("bigint")
        .alias("n_tokens"),
    )
    out = with_global_cumsum(
        d, [F.col("doc_id")], "n_tokens", cum_col="cum_tokens"
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "cum_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / float(_SHARD_BUDGET))
        .cast("int")
        .alias("shard_id"),
    )


# ===========================================================================
# llm_dedup_index — near-dup dedup against the SIGNATURE INDEX AT REST: the
# dedup analogue of llm_bm25_incremental. The corpus's banded MinHash rows
# are persisted partitioned by bucket prefix (half at write, half via
# append — so the oracle gates the incremental path too); the probe batch
# matches by reading only its own prefixes and broadcasting itself. The
# oracle is the full cross-corpus LSH + exact-Jaccard replay — identical
# results to computing everything from scratch, proven cross-engine.
# ===========================================================================


@register(
    "llm_dedup_index",
    None,  # oracle attached below (generator import kept local)
)
def llm_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming-batch near-dup detection (doc_id % 25 == 0 plays the batch)
    against the persisted corpus signature index, exact-Jaccard verified at
    0.3 — per-batch cost is batch-sized, the corpus never recomputes or
    shuffles a signature."""
    from crowdsorsa_etl_spark.operators.dedup import (
        jaccard_verify_pairs,
        lsh_append_index,
        lsh_match_index,
        lsh_write_index,
    )
    from crowdsorsa_etl_spark.queries._shared import _at_rest, _sf_cache_dir

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    probe = docs.filter(F.col("doc_id") % 25 == 0)

    def build(stage: str) -> None:
        # half the corpus at write time, half appended — the registered
        # result therefore gates incremental maintenance, not just build.
        # Staged by _at_rest: two concurrent builders must not both run
        # lsh_append_index against one dir (duplicated banded rows would
        # inflate n_bands_matched).
        lsh_write_index(
            corpus.filter(F.col("doc_id") % 2 == 0), stage, portable=True
        )
        lsh_append_index(
            corpus.filter(F.col("doc_id") % 2 == 1), stage, portable=True
        )

    path = _at_rest(
        _sf_cache_dir(sf_dir, "lshidx_v1_h16b8s3", "documents"), build
    )
    cand = lsh_match_index(spark, path, probe, portable=True)
    return jaccard_verify_pairs(cand, docs, threshold=0.3).select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("batch_id"),
        "n_bands_matched",
        "jaccard",
    )


def _dedup_index_oracle() -> str:
    from crowdsorsa_etl_spark import lsh_oracles

    sql = lsh_oracles.fuzzy_decontamination_sql(
        corpus_pred="id % 25 != 0", probe_pred="id % 25 = 0", threshold=0.3
    )
    return sql.replace("AS eval_id", "AS batch_id")


from crowdsorsa_etl_spark.queries._shared import ORACLES as _O  # noqa: E402

_O["llm_dedup_index"] = _dedup_index_oracle()


# ===========================================================================
# llm_dedup_canonical — canonical-document selection per near-dup cluster:
# after clustering, real pipelines keep ONE representative per cluster, and
# "the longest version" is the standard choice (truncated/mirrored copies
# lose). Composition of existing tiers: portable LSH pairs → connected
# components → per-cluster argmax(n_chars, tie → min doc_id). The window is
# partitioned by cluster_id — no global funnel; cluster sizes are bounded
# by construction (near-dup groups, not arbitrary joins).
# ===========================================================================


def _dedup_canonical_oracle() -> str:
    from crowdsorsa_etl_spark import lsh_oracles

    clusters = lsh_oracles.dedup_clusters_sql()
    return f"""
    WITH base AS ({clusters})
    SELECT b.doc_id, b.cluster_id, d.n_chars,
           (row_number() OVER (PARTITION BY b.cluster_id
                               ORDER BY d.n_chars DESC, b.doc_id ASC) = 1)
             AS keep
    FROM base b JOIN documents d ON b.doc_id = d.doc_id
    """


@register("llm_dedup_canonical", _dedup_canonical_oracle())
def llm_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the longest document of every near-dup cluster (ties broken by
    doc_id) — the representative-selection step between dedup clustering
    and the training-set export."""
    from pyspark.sql import Window

    from crowdsorsa_etl_spark.queries._shared import _dedup_cluster_assign

    docs = _t(spark, sf_dir, "documents")
    cl = _dedup_cluster_assign(spark, sf_dir).drop("keep")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        cl.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "n_chars", "keep")
    )


# ===========================================================================
# llm_embedding_covariance — the PCA/whitening fit statistic: the upper
# triangle of the embedding covariance, ONE aggregation pass (d(d+1)/2
# covar_samp states, map-side combined — the bounded-summary posture; no
# row ever reaches the driver). The eigen/projection steps live in
# operators/pca.py behind numpy gates (tests/test_round8d.py) — the
# covariance is the only corpus-sized computation and the one worth an
# oracle. 16-dim block here; the operator takes any dim.
# ===========================================================================

_COV_DIM = 16


def _cov_oracle() -> str:
    cells = ",\n    ".join(
        f"SELECT CAST({i} AS INT) AS i, CAST({j} AS INT) AS j,"
        f" round(covar_samp(embedding[{i + 1}], embedding[{j + 1}]), 4)"
        f" AS cov FROM embeddings"
        for i in range(_COV_DIM)
        for j in range(i, _COV_DIM)
    ).replace(",\n    SELECT", "\n    UNION ALL\n    SELECT")
    return cells


@register("llm_embedding_covariance", _cov_oracle())
def llm_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance of the first 16 embedding dims (i <= j), rounded
    to 4 dp on both engines (partial-agg order differs in the last ulp)."""
    from crowdsorsa_etl_spark.operators.pca import embedding_covariance

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, _COV_DIM)


# ===========================================================================
# llm_quality_classifier — model-based quality filtering, the fastText/
# logistic-regression shape of CCNet/GPT-3-style curation: a LINEAR scorer
# over the engine's quality features with shipped literal weights. Inference
# is pure narrow column expressions (broadcast-by-constant-folding — the
# same posture as bpe_encode's merge table); the oracle recomputes every
# feature AND the weighted sum in SQL from one shared weight table, so a
# drift in either breaks the hash. The score is the LOGIT (monotone in the
# probability; avoids cross-libm exp() in the parity contract).
# ===========================================================================

#: (feature, weight) — the single source of truth for BOTH engines.
#: LEARNED by the distributed logistic-regression trainer
#: (operators/logreg.py via tools/fit_quality_weights.py at sf0.01:
#: 30 GD iterations, step 1.0, L2 1e-3, distilling the n_chars >= 300
#: length heuristic — rerun the tool to reproduce these literals exactly).
#: digit/punct/upper ratios are constant 0 in the fixture, so their
#: gradients — and learned weights — are exactly 0.
_QC_WEIGHTS: list[tuple[str, float]] = [
    ("intercept", -0.8096872153191228),
    ("alpha_ratio", -0.6834024561898675),
    ("digit_ratio", 0.0),
    ("punct_ratio", 0.0),
    ("upper_ratio", 0.0),
    ("log_tokens", 3.2631655069143095),
    ("mean_token_len", -3.6036188126232087),
]


def _qc_feat_sql() -> dict[str, str]:
    """DuckDB expressions for the shared quality-feature pack, keyed like
    ``_QC_WEIGHTS`` — single SQL source for classifier AND trainer oracles."""
    nn = "CASE WHEN len(text) = 0 THEN 1 ELSE len(text) END"
    ntok = (
        "CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 "
        "THEN 0 ELSE len(regexp_split_to_array("
        "regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END"
    )
    alpha = "len(regexp_replace(text, '[^A-Za-zÀ-öø-ÿ]', '', 'g'))"
    return {
        "intercept": "1.0",
        "alpha_ratio": f"{alpha} / {nn}",
        "digit_ratio": f"len(regexp_replace(text, '[^0-9]', '', 'g')) / {nn}",
        "punct_ratio": f"len(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) / {nn}",
        "upper_ratio": f"len(regexp_replace(text, '[^A-ZÄÖÅ]', '', 'g')) / {nn}",
        "log_tokens": f"ln(({ntok}) + 1.0)",
        "mean_token_len": (
            f"CASE WHEN ({ntok}) = 0 THEN 0.0 "
            f"ELSE {alpha} * 1.0 / ({ntok}) END"
        ),
    }


def _qc_feature_exprs() -> dict[str, "F.Column"]:
    """Spark expressions for the shared quality-feature pack, keyed like
    ``_QC_WEIGHTS`` — single Spark source for classifier AND trainer."""
    from crowdsorsa_etl_spark.functions.text import quality_features

    f = quality_features(F.col("text"))
    ntok = f["n_tokens"].cast("double")
    return {
        "intercept": F.lit(1.0),
        "alpha_ratio": f["alpha_ratio"],
        "digit_ratio": f["digit_ratio"],
        "punct_ratio": f["punct_ratio"],
        "upper_ratio": f["upper_ratio"],
        "log_tokens": F.log(ntok + 1.0),
        "mean_token_len": F.coalesce(f["mean_token_len"], F.lit(0.0)),
    }


def _qc_oracle() -> str:
    feat_sql = _qc_feat_sql()
    # left-to-right sum in _QC_WEIGHTS order — same association both engines
    acc = " + ".join(f"({w}) * ({feat_sql[f]})" for f, w in _QC_WEIGHTS)
    return f"""
    SELECT doc_id, round({acc}, 6) AS logit,
           (({acc}) >= 0.0) AS keep
    FROM documents
    """


@register("llm_quality_classifier", _qc_oracle())
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier over the shared feature pack: logit +
    keep verdict per document, zero joins, zero Python."""
    docs = _t(spark, sf_dir, "documents")
    feats = _qc_feature_exprs()
    acc = None
    for name, w in _QC_WEIGHTS:
        term = F.lit(w) * feats[name]
        acc = term if acc is None else acc + term
    return docs.select(
        "doc_id",
        F.round(acc, 6).alias("logit"),
        (acc >= 0.0).alias("keep"),
    )


# ===========================================================================
# q109_cumulative_distinct — running COUNT(DISTINCT) per key, the window
# SQL can't express directly (no `count(distinct) OVER`): first-occurrence
# flag via a (user, event_type) window, then a running sum. Both windows
# are partitioned by user — no global funnel; this is the standard
# "distinct items seen so far" engagement metric.
# ===========================================================================


@register(
    "q109_cumulative_distinct",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
             AS distinct_types_so_far
    FROM flagged
    """,
)
def q109_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: how many DISTINCT event types the user had produced as of
    each event (ties broken by event_id — a unique ordering, the engine's
    window-determinism contract)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn(
            "first_seen",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
        )
        .select(
            "user_id",
            "event_id",
            F.sum("first_seen").over(w_run).cast("bigint")
            .alias("distinct_types_so_far"),
        )
    )


# ===========================================================================
# q110_interval_merge — gaps-and-islands interval coalescing: merge each
# user's overlapping/adjacent event intervals [ts, ts + value minutes]
# into maximal spans. The classic two-window form: a new island starts
# where the running max of prior ends leaves a gap; islands then aggregate.
# Everything is partitioned by user — the 100 TB cost is one hash Exchange.
# ===========================================================================


@register(
    "q110_interval_merge",
    """
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(round(value * 60000000, 0) AS BIGINT) AS e,
             event_id
      FROM events
    ),
    marked AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN max(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  >= s
                  THEN 0 ELSE 1 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             CAST(sum(new_island) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS island
      FROM marked
    )
    SELECT user_id, island,
           CAST(min(s) AS BIGINT) AS span_start_us,
           CAST(max(e) AS BIGINT) AS span_end_us,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM islands GROUP BY user_id, island
    """,
)
def q110_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user intervals [ts, ts + value minutes] into
    maximal spans (microsecond integer arithmetic on both engines)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    s = F.unix_micros("ts")
    e = s + F.round(F.col("value") * 60000000, 0).cast("bigint")
    iv = ev.select(
        "user_id", s.alias("s"), e.alias("e"), "event_id"
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "new_island",
        F.when(F.max("e").over(w_prev) >= F.col("s"), 0).otherwise(1),
    )
    # Unique ordering key (s, event_id) on BOTH engines: a ROWS frame over a
    # non-unique order is peer-order-nondeterministic and diverges from
    # DuckDB's default RANGE frame on ties (round-8 advice).
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.withColumn(
        "island", F.sum("new_island").over(w_run).cast("bigint")
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("s").cast("bigint").alias("span_start_us"),
        F.max("e").cast("bigint").alias("span_end_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
    )


# ===========================================================================
# llm_image_phash_dups — perceptual near-dup IMAGE detection through the
# real codec: render each doc into a genuine PNG (one gray pixel per UTF-8
# byte — the llm_image_decode fixture), decode it back, aHash the first
# 8×8 pixel block with integer-only math, and find pairs within hamming 7
# via the 8-band pigeonhole. The DuckDB oracle never touches a PNG: it
# re-derives the 64 sample bytes from hex(encode(text)), replays the
# integer threshold/packing, and brute-forces ALL pairs — so a decode bug,
# a threshold drift, a bit-order flip, or a pigeonhole recall miss (a
# dropped qualifying pair) each break the hash.
# ===========================================================================


def _phash_oracle() -> str:
    # v(i): byte i (1-based) of the first 64, absent -> 0
    return """
    WITH hx AS (
      SELECT doc_id, substr(hex(encode(coalesce(text, ''))), 1, 128) AS h
      FROM documents WHERE doc_id < 200
    ),
    bytes AS (
      SELECT doc_id, i,
             CASE WHEN length(h) >= 2*i THEN
               (strpos('0123456789ABCDEF', substr(h, CAST(2*i-1 AS INT), 1))
                - 1) * 16
               + strpos('0123456789ABCDEF', substr(h, CAST(2*i AS INT), 1))
               - 1
             ELSE 0 END AS v
      FROM hx, UNNEST(range(1, 65)) AS t(i)
    ),
    tot AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS s FROM bytes GROUP BY 1),
    bits AS (
      SELECT b.doc_id, b.i,
             CASE WHEN b.v * 64 >= t.s THEN 1 ELSE 0 END AS bit
      FROM bytes b JOIN tot t ON b.doc_id = t.doc_id
    ),
    bands AS (
      SELECT doc_id, CAST((i - 1) // 8 AS INT) AS band,
             CAST(sum(bit * (1 << (7 - CAST((i - 1) % 8 AS INT)))) AS BIGINT)
               AS v
      FROM bits GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id, list(v ORDER BY band) AS bands FROM bands GROUP BY 1
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.bands[1], b.bands[1]))
              + bit_count(xor(a.bands[2], b.bands[2]))
              + bit_count(xor(a.bands[3], b.bands[3]))
              + bit_count(xor(a.bands[4], b.bands[4]))
              + bit_count(xor(a.bands[5], b.bands[5]))
              + bit_count(xor(a.bands[6], b.bands[6]))
              + bit_count(xor(a.bands[7], b.bands[7]))
              + bit_count(xor(a.bands[8], b.bands[8])) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.bands[1], b.bands[1]))
        + bit_count(xor(a.bands[2], b.bands[2]))
        + bit_count(xor(a.bands[3], b.bands[3]))
        + bit_count(xor(a.bands[4], b.bands[4]))
        + bit_count(xor(a.bands[5], b.bands[5]))
        + bit_count(xor(a.bands[6], b.bands[6]))
        + bit_count(xor(a.bands[7], b.bands[7]))
        + bit_count(xor(a.bands[8], b.bands[8])) <= 7
    """


@register("llm_image_phash_dups", _phash_oracle())
def llm_image_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate images by perceptual aHash within hamming 7, through
    the real PNG encode/decode round-trip; pigeonhole candidates, integer
    xor/bit_count verify."""
    from crowdsorsa_etl_spark.operators.multimodal import (
        attach_png_payload,
        image_ahash_dups,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return image_ahash_dups(attach_png_payload(docs), max_hamming=7)
