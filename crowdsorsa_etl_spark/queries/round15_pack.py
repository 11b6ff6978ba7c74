"""Round-15 queries: the pre-training data-layout mile — everything between
a curated corpus and the bytes a training loader reads.

* ``llm_train_shuffle_shards`` — the global seeded permutation that breaks
  source/time locality before sharding (training loaders read shards
  sequentially, so corpus order IS training order). One range exchange via
  ``operators/global_rank.with_global_row_number`` — no SinglePartition
  window anywhere — and the oracle hash-verifies the EXACT per-shard
  document order, not just counts.
* ``llm_reservoir_sample_k`` — exactly-k uniform-without-replacement docs
  per stratum (the eval-holdout / human-review draw), as a seeded-hash
  top-k so the sample is a pure function of (seed, doc_id): reproducible
  across runs, engines, and cluster sizes, unlike an actual streamed
  reservoir. Complements q62_stratified_sample (rate-based Bernoulli, no
  exact-k guarantee).
* ``llm_source_temperature_mix`` — per-source sampling shares ``n_i^alpha``
  normalized (alpha = 0.5); weights DERIVED from corpus statistics where
  the earlier mixture queries take literals.
* ``llm_span_corruption`` / ``llm_fim_transform`` — denoising-objective
  exports (operators/denoising.py).
* ``llm_shuffle_incremental`` / ``llm_shuffle_quality`` — the shard store
  growing (operators/sharding.py) and the did-the-shuffle-work audit.
* ``llm_containment_pairs`` — asymmetric set containment (quote-farm
  detector, operators/dedup.shingle_containment_pairs).
* ``llm_langid_margin`` — language-ID confidence/routing signal.
* ``llm_curriculum_order`` — quality-phase-major training order.
* ``llm_soft_dedup_weights`` — 1/cluster_size loss re-weighting over the
  memoized cluster registry (the keep-every-copy alternative to removal).

ORDER is load-bearing (the driver's correctness window samples the first 50
registrations): append only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crowdsorsa_etl_spark import lsh_oracles
from crowdsorsa_etl_spark.queries._shared import _NORM_SQL, _t, register
from crowdsorsa_etl_spark.functions.portable_hash import hex60_sql, hex60_spark

# ===========================================================================
# llm_train_shuffle_shards — seeded deterministic global shuffle → shards.
# key = hex60(md5('shuf:v1:' || doc_id)) is an engine-portable pseudo-random
# total order (seed string versioned: bump to reshuffle); the global row
# number comes from the distributed two-phase rank (range exchange +
# partition-offset join — operators/global_rank.py), NEVER a bare
# Window.orderBy, so the plan holds at 100 TB where a SinglePartition
# window OOMs. Shards are contiguous rank blocks (training loaders stream
# shard files in order), and the per-shard md5 chain over the ORDERED
# doc_id sequence proves byte-exact order portability vs DuckDB's
# row_number replay — a counts-only gate would accept a wrong permutation.
# ===========================================================================

_SHUF_SEED = "shuf:v1:"
_SHUF_SHARD_DOCS = 64


def _shuffle_shards_sql() -> str:
    key = hex60_sql(f"'{_SHUF_SEED}' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH k AS (
      SELECT doc_id, n_chars, {key} AS key FROM documents
    ),
    r AS (
      SELECT doc_id, n_chars,
             CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT) AS rn
      FROM k
    )
    SELECT CAST((rn - 1) // {_SHUF_SHARD_DOCS} AS INT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn))
             AS id_chain_md5
    FROM r
    GROUP BY 1
    """


@register("llm_train_shuffle_shards", _shuffle_shards_sql())
def llm_train_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global training-order shuffle into contiguous 64-doc shards;
    per shard: doc count, char mass, md5 chain of the ordered doc_ids."""
    from crowdsorsa_etl_spark.operators.global_rank import (
        with_global_row_number,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    key = hex60_spark(
        F.concat(F.lit(_SHUF_SEED), F.col("doc_id").cast("string"))
    )
    ranked, _total = with_global_row_number(
        docs.select("doc_id", "n_chars", key.alias("_k")),
        [F.col("_k"), F.col("doc_id")],
        rn_col="_rn",
    )
    shard = (
        F.floor((F.col("_rn") - F.lit(1)) / F.lit(_SHUF_SHARD_DOCS))
        .cast("int")
        .alias("shard_id")
    )
    # the chain hash re-sorts the collected (rn, doc_id) structs per shard:
    # collect_list order is partition-arrival nondeterministic, array_sort
    # on the leading rn restores the unique global order JVM-side
    ordered_ids = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("_rn").alias("rn"), F.col("doc_id").alias("doc_id"))
            )
        ),
        lambda s: s["doc_id"].cast("string"),
    )
    return (
        ranked.select(shard, "_rn", "doc_id", "n_chars")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.md5(F.array_join(ordered_ids, ",")).alias("id_chain_md5"),
        )
    )


# ===========================================================================
# llm_reservoir_sample_k — exactly k uniform-without-replacement docs per
# (lang, source) stratum. The draw is the k smallest seeded-hash keys per
# stratum — distribution-identical to reservoir sampling but a pure
# function of the data, so it replays identically on any engine/cluster.
# Executes via operators/topk.topk_per_group: Spark plants a
# WindowGroupLimit partial top-k below the shuffle, so only k rows per
# stratum per input partition move — per-stratum skew never concentrates
# a full stratum in one task's sort buffer.
# ===========================================================================

_RSV_SEED = "rsv:v1:"
_RSV_K = 3


def _reservoir_sql() -> str:
    key = hex60_sql(f"'{_RSV_SEED}' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH k AS (
      SELECT lang, source, doc_id, {key} AS key FROM documents
    ),
    r AS (
      SELECT lang, source, doc_id,
             CAST(row_number() OVER (PARTITION BY lang, source
                                     ORDER BY key, doc_id) AS INT)
               AS sample_rank
      FROM k
    )
    SELECT lang, source, sample_rank, doc_id
    FROM r WHERE sample_rank <= {_RSV_K}
    """


@register("llm_reservoir_sample_k", _reservoir_sql())
def llm_reservoir_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k (k=3) seeded uniform sample per (lang, source) stratum."""
    from crowdsorsa_etl_spark.operators.topk import topk_per_group

    docs = _t(spark, sf_dir, "documents")
    key = hex60_spark(
        F.concat(F.lit(_RSV_SEED), F.col("doc_id").cast("string"))
    )
    keyed = docs.select("lang", "source", "doc_id", key.alias("_k"))
    return topk_per_group(
        keyed,
        ["lang", "source"],
        "_k",
        _RSV_K,
        descending=False,
        tiebreak="doc_id",
    ).select(
        "lang",
        "source",
        F.col("rank").cast("int").alias("sample_rank"),
        "doc_id",
    )


# ===========================================================================
# llm_source_temperature_mix — per-source shares under temperature sampling:
# share_i = n_i^alpha / sum_j n_j^alpha with alpha = 0.5 (sqrt — exactly
# the multilingual-corpus re-balancing exponent), plus the per-source
# epoch factor a budget equal to the corpus total implies. The sum of
# per-source sqrt values is a DOUBLE accumulated in source order via an
# explicit left-to-right fold on BOTH engines (Spark F.aggregate over the
# array_sort-ed struct list; DuckDB list_reduce over list(... ORDER BY
# source)) — partial-aggregation order can never flip the 6-dp rounding.
# Source count is bounded (GROUP BY source ≪ cluster), so the fold array
# is a single tiny row broadcast back over the per-source table.
# ===========================================================================


def _temperature_sql() -> str:
    return f"""
    WITH toks AS (
      SELECT source,
             CAST(CASE WHEN nt = '' THEN 0
                  ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_tok
      FROM (SELECT source, {_NORM_SQL} AS nt FROM documents)
    ),
    per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM toks GROUP BY source
    ),
    tot AS (
      SELECT list_reduce(list(sqrt(CAST(n_tokens AS DOUBLE))
                              ORDER BY source),
                         (a, b) -> a + b) AS denom,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM per
    )
    SELECT source, n_docs, n_tokens,
           round(n_tokens * 1.0 / total_tokens, 6) AS share_raw,
           round(sqrt(CAST(n_tokens AS DOUBLE)) / denom, 6) AS share_alpha,
           CASE WHEN n_tokens > 0
                THEN round(sqrt(CAST(n_tokens AS DOUBLE)) / denom
                           * total_tokens / n_tokens, 6)
                ELSE 0.0 END AS epoch_factor
    FROM per, tot
    """


@register("llm_source_temperature_mix", _temperature_sql())
def llm_source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpha=0.5 temperature-sampling shares per source, with the implied
    epoch factor at a budget equal to the corpus token total."""
    from crowdsorsa_etl_spark.functions.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    nt = normalize_text(F.col("text"))
    per = (
        docs.select(
            "source",
            F.when(nt == "", F.lit(0))
            .otherwise(F.size(F.split(nt, " ")))
            .cast("bigint")
            .alias("n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        # the per-source frame is O(sources) rows; cutting lineage here
        # means the corpus scan + tokenize runs ONCE, not once per use
        # (per feeds both the fold row and the final projection)
        .localCheckpoint()
    )
    tot = per.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("source").alias("source"),
                            F.col("n_tokens").alias("n_tokens"),
                        )
                    )
                ),
                lambda s: F.sqrt(s["n_tokens"].cast("double")),
            ),
            F.lit(0.0).cast("double"),
            lambda a, x: a + x,
        ).alias("denom"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    sq = F.sqrt(F.col("n_tokens").cast("double"))
    return per.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") * F.lit(1.0) / F.col("total_tokens"), 6)
        .alias("share_raw"),
        F.round(sq / F.col("denom"), 6).alias("share_alpha"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                sq / F.col("denom") * F.col("total_tokens")
                / F.col("n_tokens"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("epoch_factor"),
    )


# ===========================================================================
# llm_span_corruption / llm_fim_transform — the denoising-objective tier
# (operators/denoising.py): T5 span corruption (corrupted input + sentinel
# target, HF preprocessing shape) and FIM PSM reordering. Pure per-row
# higher-order-function programs — zero Python, zero exchange: at 100 TB
# these inherit the corpus partitioning and stream through. The oracles
# hash-verify the FULL output strings (a counts-only gate would accept a
# wrong mask pattern or a swapped region order).
# ===========================================================================


def _span_corruption_sql() -> str:
    from crowdsorsa_etl_spark.operators.denoising import span_corrupt_sql

    return span_corrupt_sql(_NORM_SQL)


@register("llm_span_corruption", _span_corruption_sql())
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span corruption: deterministic index-rule mask (3 of every 10
    tokens), <extra_id_k> sentinels, full (input, target) strings."""
    from crowdsorsa_etl_spark.operators.denoising import span_corrupt

    return span_corrupt(_t(spark, sf_dir, "documents"))


def _fim_sql() -> str:
    from crowdsorsa_etl_spark.operators.denoising import fim_transform_sql

    return fim_transform_sql(_NORM_SQL)


@register("llm_fim_transform", _fim_sql())
def llm_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIM PSM reordering at n//3 / (2n)//3 split points."""
    from crowdsorsa_etl_spark.operators.denoising import fim_transform

    return fim_transform(_t(spark, sf_dir, "documents"))


# ===========================================================================
# llm_shuffle_incremental — the shard store GROWING (operators/sharding.py):
# batch 0 (doc_id % 3 != 0) seeds the store — memoized per fixture, a shard
# store is AT REST between ingests by definition (the q100/registry
# posture) — and the LIVE work each run demonstrates is batch 2's
# tail-append (within-batch seeded shuffle, positions continue from the
# stored high-water mark) plus the manifest read. The oracle replays the
# batch-aware ranking end to end: batch-1 rank, COUNT offset, batch-2
# rank, shard floor-div, ordered id-chain md5 — proving the store's
# full position layout, not just counts.
# ===========================================================================

_INCR_SHARD_DOCS = 64


def _shuffle_incr_sql() -> str:
    key = hex60_sql(f"'{_SHUF_SEED}' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH r1 AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY key, doc_id) - 1 AS BIGINT)
               AS pos
      FROM (SELECT doc_id, {key} AS key FROM documents
            WHERE doc_id % 3 <> 0)
    ),
    r2 AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY key, doc_id) - 1
                  + (SELECT count(*) FROM r1) AS BIGINT) AS pos
      FROM (SELECT doc_id, {key} AS key FROM documents
            WHERE doc_id % 3 = 0)
    ),
    u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
    SELECT CAST(pos // {_INCR_SHARD_DOCS} AS INT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos))
             AS id_chain_md5
    FROM u GROUP BY 1
    """


@register("llm_shuffle_incremental", _shuffle_incr_sql())
def llm_shuffle_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard store fold: memoized batch-0 seed + live batch-2 tail-append,
    manifest hash-verified against the batch-aware rank replay."""
    from crowdsorsa_etl_spark.operators.sharding import (
        shard_manifest,
        shard_store_append,
        shard_store_init,
    )
    from crowdsorsa_etl_spark.queries._shared import (
        _at_rest,
        _scratch_copy,
        _sf_cache_dir,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    b1 = docs.filter(F.col("doc_id") % 3 != 0)
    b2 = docs.filter(F.col("doc_id") % 3 == 0)

    seed = _at_rest(
        _sf_cache_dir(sf_dir, "shardstore_b1_v1", "documents"),
        lambda stage: shard_store_init(
            b1, f"{stage}/s", shard_docs=_INCR_SHARD_DOCS, seed=_SHUF_SEED
        ),
    )
    with _scratch_copy(seed) as root:
        shard_store_append(
            b2, f"{root}/s", shard_docs=_INCR_SHARD_DOCS, seed=_SHUF_SEED
        )
        return shard_manifest(spark, f"{root}/s").localCheckpoint()


# ===========================================================================
# llm_shuffle_quality — did the shuffle actually break source locality?
# Per shard of the one-shot permutation: doc count, distinct sources, and
# the Gini-Simpson diversity 1 - Σc_i²/n² — chosen over entropy because it
# is RATIONAL: exact BIGINT squared counts and ONE division, so the 6-dp
# round can never diverge across engines (the log-free TF-IDF/PMI
# discipline). A perfectly collated corpus scores ~0 per shard; a good
# shuffle pushes every shard toward the corpus-level mix.
# ===========================================================================


def _shuffle_quality_sql() -> str:
    key = hex60_sql(f"'{_SHUF_SEED}' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT) AS rn
      FROM (SELECT doc_id, source, {key} AS key FROM documents)
    ),
    s AS (
      SELECT CAST((rn - 1) // {_SHUF_SHARD_DOCS} AS INT) AS shard_id,
             source, CAST(count(*) AS BIGINT) AS c
      FROM r GROUP BY 1, 2
    )
    SELECT shard_id,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_sources,
           round(1.0 - sum(c * c) * 1.0 / (sum(c) * sum(c)), 6)
             AS simpson_diversity
    FROM s GROUP BY shard_id
    """


@register("llm_shuffle_quality", _shuffle_quality_sql())
def llm_shuffle_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard source diversity (Gini-Simpson) of the seeded shuffle."""
    from crowdsorsa_etl_spark.operators.global_rank import (
        with_global_row_number,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    key = hex60_spark(
        F.concat(F.lit(_SHUF_SEED), F.col("doc_id").cast("string"))
    )
    ranked, _ = with_global_row_number(
        docs.select("doc_id", "source", key.alias("_k")),
        [F.col("_k"), F.col("doc_id")],
        rn_col="_rn",
    )
    per_src = (
        ranked.select(
            F.floor((F.col("_rn") - F.lit(1)) / F.lit(_SHUF_SHARD_DOCS))
            .cast("int")
            .alias("shard_id"),
            "source",
        )
        .groupBy("shard_id", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return per_src.groupBy("shard_id").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.round(
            F.lit(1.0)
            - F.sum(F.col("c") * F.col("c")) * F.lit(1.0)
            / (F.sum("c") * F.sum("c")),
            6,
        ).alias("simpson_diversity"),
    )


# ===========================================================================
# llm_containment_pairs — asymmetric set containment c(A→B) = |A∩B|/|A|,
# the quantity Jaccard structurally underestimates when a small doc is
# wholly quoted inside a much larger one (the quote-farm / boilerplate-
# wrapper shape). Same shingle universe and inverted-index AllPairs join
# as the exact-Jaccard tier — directly comparable on the same pairs; at
# corpus scale the max_df heat cap and the LSH candidate generator bound
# the join exactly as documented for shingle_jaccard_pairs.
# ===========================================================================

_CONTAIN_THRESHOLD = 0.5


@register(
    "llm_containment_pairs",
    lsh_oracles.containment_pairs_sql(threshold=_CONTAIN_THRESHOLD),
)
def llm_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs where either side's shingle set is >= 50% contained
    in the other: exact integers + both directional ratios."""
    from crowdsorsa_etl_spark.operators.dedup import (
        shingle_containment_pairs,
    )

    return shingle_containment_pairs(
        _t(spark, sf_dir, "documents"),
        portable=True,
        threshold=_CONTAIN_THRESHOLD,
    )


# ===========================================================================
# llm_langid_margin — language-ID CONFIDENCE, not just the argmax: per doc
# the winning marker score, the runner-up score (max over the non-winning
# languages, the winner resolved by the same stable priority as
# detect_language), their margin, and the ambiguity flag (margin <= 1 with
# any signal at all — the mixed-language / too-short shape a router sends
# to a heavier classifier). All exact integer marker counts — the margin
# is decision-grade, no float anywhere.
# ===========================================================================


def _langid_margin_sql() -> str:
    from crowdsorsa_etl_spark.functions.text import _LANG_MARKERS

    langs = list(_LANG_MARKERS)
    scores = ", ".join(
        " + ".join(
            f"(len(string_split(' ' || lower(text) || ' ', '{m}')) - 1)"
            for m in _LANG_MARKERS[lang]
        )
        + f" AS s_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    win_cases = " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} = {best} THEN '{lang}'"
        for lang in langs
    )
    second_cases = " ".join(
        "WHEN lang_pred = '{w}' THEN greatest({others})".format(
            w=w,
            others=", ".join(f"s_{o}" for o in langs if o != w),
        )
        for w in langs
    )
    return f"""
    WITH s AS (SELECT doc_id, {scores} FROM documents),
    p AS (
      SELECT CASE {win_cases} ELSE 'und' END AS lang_pred,
             CAST({best} AS BIGINT) AS best, s.*
      FROM s
    )
    SELECT doc_id, lang_pred, best,
           CAST(CASE {second_cases} ELSE 0 END AS BIGINT) AS second,
           best - CAST(CASE {second_cases} ELSE 0 END AS BIGINT) AS margin,
           best > 0 AND
             best - CAST(CASE {second_cases} ELSE 0 END AS BIGINT) <= 1
             AS ambiguous
    FROM p
    """


@register("llm_langid_margin", _langid_margin_sql())
def llm_langid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID margin: winner score, runner-up score, margin, and the
    route-to-heavier-classifier ambiguity flag."""
    from crowdsorsa_etl_spark.functions.text import (
        _LANG_MARKERS,
        detect_language,
        lang_score,
    )

    docs = _t(spark, sf_dir, "documents")
    langs = list(_LANG_MARKERS)
    scored = docs.select(
        "doc_id",
        detect_language(F.col("text")).alias("lang_pred"),
        *[
            lang_score(F.col("text"), lang).alias(f"s_{lang}")
            for lang in langs
        ],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in langs]).cast("bigint")
    second = F.lit(0).cast("bigint")
    for w in langs:
        second = F.when(
            F.col("lang_pred") == w,
            F.greatest(
                *[F.col(f"s_{o}") for o in langs if o != w]
            ).cast("bigint"),
        ).otherwise(second)
    return scored.select(
        "doc_id",
        "lang_pred",
        best.alias("best"),
        second.alias("second"),
        (best - second).alias("margin"),
        ((best > 0) & ((best - second) <= 1)).alias("ambiguous"),
    )


# ===========================================================================
# llm_curriculum_order — quality-curriculum training order: phase 0 = the
# high-quality band first (score >= 2/3), phase 1 the middle, phase 2 the
# tail; within a phase the seeded shuffle applies, and the whole order is
# ONE two-phase global rank over (phase, hash, doc_id) — a single range
# exchange, no SinglePartition window. Output chains are per 64-doc block
# (phase-major), so the verification column stays bounded like the
# shuffle-shards tier. Phase assignment compares the ROUNDED quality score
# (both engines' rounded values are hash-identical via llm_quality), so
# the band split cannot diverge cross-engine.
# ===========================================================================

_CURR_HI, _CURR_LO = 0.666666, 0.333333


def _curriculum_sql() -> str:
    from crowdsorsa_etl_spark.queries.llm_pack import QUALITY_SQL_EXPR

    key = hex60_sql(f"'{_SHUF_SEED}' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH q AS (
      SELECT doc_id, {QUALITY_SQL_EXPR} AS quality, {key} AS key
      FROM documents
    ),
    p AS (
      SELECT doc_id, quality, key,
             CASE WHEN quality >= {_CURR_HI} THEN 0
                  WHEN quality >= {_CURR_LO} THEN 1
                  ELSE 2 END AS phase
      FROM q
    ),
    r AS (
      SELECT doc_id, phase,
             CAST(row_number() OVER (ORDER BY phase, key, doc_id) AS BIGINT)
               AS rn
      FROM p
    )
    SELECT CAST(phase AS INT) AS phase,
           CAST((rn - 1) // {_SHUF_SHARD_DOCS} AS INT) AS block_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn))
             AS id_chain_md5
    FROM r GROUP BY 1, 2
    """


@register("llm_curriculum_order", _curriculum_sql())
def llm_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-phase curriculum order: phase-major seeded shuffle, per
    64-doc block doc counts and ordered id-chain hashes."""
    from crowdsorsa_etl_spark.functions.text import quality_score
    from crowdsorsa_etl_spark.operators.global_rank import (
        with_global_row_number,
    )

    docs = _t(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    phase = (
        F.when(q >= _CURR_HI, 0).when(q >= _CURR_LO, 1).otherwise(2)
    )
    key = hex60_spark(
        F.concat(F.lit(_SHUF_SEED), F.col("doc_id").cast("string"))
    )
    base = docs.select(
        "doc_id", phase.alias("_phase"), key.alias("_k")
    )
    ranked, _ = with_global_row_number(
        base,
        [F.col("_phase"), F.col("_k"), F.col("doc_id")],
        rn_col="_rn",
    )
    block = (
        F.floor((F.col("_rn") - F.lit(1)) / F.lit(_SHUF_SHARD_DOCS))
        .cast("int")
        .alias("block_id")
    )
    ordered_ids = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("_rn").alias("rn"), F.col("doc_id").alias("doc_id")
                )
            )
        ),
        lambda s: s["doc_id"].cast("string"),
    )
    return (
        ranked.select(
            F.col("_phase").cast("int").alias("phase"),
            block,
            "_rn",
            "doc_id",
        )
        .groupBy("phase", "block_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.md5(F.array_join(ordered_ids, ",")).alias("id_chain_md5"),
        )
    )


# ===========================================================================
# llm_soft_dedup_weights — soft deduplication (keep every copy, down-weight
# by duplication): weight = 1 / cluster_size, the loss-weighting
# alternative to hard removal when duplicates carry distinct provenance.
# Consumes the memoized cluster-assignment artifact (the r11 ER-chain
# posture); the only live work is one cluster-size agg + a broadcast-back
# join. Weight is a single division rounded 6 dp; Σ weight == number of
# clusters (the mass a hard-dedup corpus would have), pinned in pytest.
# ===========================================================================


def _soft_dedup_sql() -> str:
    clusters = lsh_oracles.dedup_clusters_sql()
    return f"""
    WITH assign AS ({clusters}),
    sz AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM assign GROUP BY cluster_id
    )
    SELECT a.doc_id, a.cluster_id, s.cluster_size,
           round(1.0 / s.cluster_size, 6) AS weight
    FROM assign a JOIN sz s USING (cluster_id)
    """


@register("llm_soft_dedup_weights", _soft_dedup_sql())
def llm_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc soft-dedup loss weight 1/cluster_size over the near-dup
    cluster registry."""
    from crowdsorsa_etl_spark.queries._shared import _dedup_cluster_assign

    assign = _dedup_cluster_assign(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    sz = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return assign.join(F.broadcast(sz), "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
    )
