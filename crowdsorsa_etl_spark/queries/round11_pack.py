"""Round 11: language-model curation tier (interpolated Kneser–Ney LM,
CCNet perplexity buckets), dictionary tagging (Aho–Corasick), information-
theoretic quality signals, and a SentencePiece-style unigram-LM tokenizer
with an exact enumeration oracle.

Registration ORDER is load-bearing (the driver's correctness window samples
the first 50 registrations); this module is imported LAST by
queries/__init__.py, so its entries append after the round-10 tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.queries._shared import _t, register


# ===========================================================================
# llm_kneser_ney_logprob — interpolated Kneser–Ney bigram LM scores, the
# CCNet/KenLM filter model one smoothing class above add-one
# (llm_bigram_logprob). One corpus-keyed shuffle builds the count table;
# every derived statistic aggregates over bigram TYPES, not occurrences.
# ===========================================================================

from crowdsorsa_etl_spark.operators.ngramlm import (
    kneser_ney_bigram_scores,
    kneser_ney_bigram_sql,
    perplexity_buckets,
    perplexity_buckets_sql,
)


@register("llm_kneser_ney_logprob", kneser_ney_bigram_sql())
def llm_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean interpolated-KN bigram log-probability, trained on the
    corpus itself (docs with <2 tokens drop out on both engines)."""
    from crowdsorsa_etl_spark.queries._shared import _kn_token_scores

    return kneser_ney_bigram_scores(
        _t(spark, sf_dir, "documents"),
        token_scores=_kn_token_scores(spark, sf_dir),
    )


# ===========================================================================
# llm_perplexity_buckets — CCNet head/middle/tail thirds per language by
# LM score, thresholds via integer histogram bins (the cumulative window
# runs over (lang, bin) histogram rows, never over documents — no
# per-language corpus sort, no SinglePartition).
# ===========================================================================


def _ppl_buckets_sql() -> str:
    return f"""
    WITH scores_raw AS ({kneser_ney_bigram_sql()}),
    scores AS (
      SELECT s.doc_id, d.lang, s.n_bigrams, s.avg_logprob
      FROM scores_raw s JOIN documents d USING (doc_id)
    ),
    {perplexity_buckets_sql(scores_cte="scores")}
    SELECT * FROM bucketed
    """


@register("llm_perplexity_buckets", _ppl_buckets_sql())
def llm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet bucket assignment: each document labeled head/middle/tail of
    its language's KN-perplexity distribution."""
    from crowdsorsa_etl_spark.queries._shared import _kn_token_scores

    docs = _t(spark, sf_dir, "documents")
    scores = kneser_ney_bigram_scores(
        docs, token_scores=_kn_token_scores(spark, sf_dir)
    ).join(
        docs.select("doc_id", "lang"), "doc_id"
    ).select("doc_id", "lang", "n_bigrams", "avg_logprob")
    return perplexity_buckets(scores)


# ===========================================================================
# llm_dictionary_tag — Aho–Corasick multi-pattern tagging: one narrow
# Arrow-batched pass over the corpus counts OVERLAPPING occurrences of
# every dictionary keyword (blocklist / gazetteer / lexicon shape). The
# dictionary deliberately nests ("tab" ⊂ "table", "at" ⊂ "data"/"batch",
# "a a" spans word boundaries) so the suffix-link machinery is exercised
# for real; the oracle counts matches by definition (enumerate every start
# position) — O(dict × corpus), fine at oracle scale.
# ===========================================================================

_TAG_KEYWORDS = [
    "a",
    "a a",
    "ab",
    "at",
    "tab",
    "table",
    "data",
    "order",
    "row",
    "rt",
]


def _dictionary_tag_sql() -> str:
    from crowdsorsa_etl_spark.operators.dicttag import dictionary_tag_sql
    from crowdsorsa_etl_spark.queries._shared import _NORM_SQL

    return dictionary_tag_sql(_TAG_KEYWORDS, norm_sql=_NORM_SQL)


@register("llm_dictionary_tag", _dictionary_tag_sql())
def llm_dictionary_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, keyword) overlapping match counts over the normalized
    text, via a worker-local Aho–Corasick automaton."""
    from crowdsorsa_etl_spark.operators.dicttag import dictionary_tag

    return dictionary_tag(_t(spark, sf_dir, "documents"), _TAG_KEYWORDS)


# ===========================================================================
# llm_char_entropy — information-density quality signal: Shannon entropy
# of each doc's normalized character distribution, computed entirely with
# higher-order functions (array_distinct × filter-count) — zero shuffle,
# zero Python, whole-stage codegen. The sibling zlib compression-ratio
# signal (operators/curation.compression_signals) is pytest-gated (no SQL
# zlib exists to oracle against).
# ===========================================================================


def _char_entropy_sql() -> str:
    from crowdsorsa_etl_spark.functions.text import char_entropy_sql

    return char_entropy_sql()


@register("llm_char_entropy", _char_entropy_sql())
def llm_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, entropy): per-doc character entropy in nats, 6 dp —
    the Arrow-batched form (the pure-HOF `functions/text.char_entropy`
    is semantically identical but runs interpreted, ~20× slower; a
    parity test pins the two to each other)."""
    from crowdsorsa_etl_spark.operators.curation import entropy_signals

    return entropy_signals(_t(spark, sf_dir, "documents"))


# ===========================================================================
# Unigram-LM tokenizer tier (operators/unigram.py) — the SentencePiece
# family next to BPE: seed vocab (substring counts over distinct words),
# Viterbi segmentation with integer µnat costs and a total-order
# tie-break, and a hard-EM count re-estimation step. The oracle picks the
# SAME segmentation by enumerating all 2^(L-1) masks per distinct word —
# the definition, not a second DP. Cost artifacts are memoized per
# fixture like the BPE merge table (_BPE_ARTIFACTS posture).
# ===========================================================================

_UNIGRAM_COSTS: dict = {}


def _unigram_costs(spark: SparkSession, sf_dir: str) -> dict:
    from crowdsorsa_etl_spark.operators.unigram import (
        piece_costs,
        unigram_seed_vocab,
    )
    from crowdsorsa_etl_spark.queries._shared import _sf_cache_dir

    import os

    from crowdsorsa_etl_spark.queries._shared import (
        _json_sidecar_read,
        _json_sidecar_write,
    )

    key = _sf_cache_dir(sf_dir, "unigram_vocab", "documents")
    if key not in _UNIGRAM_COSTS:
        # the vocabulary IS the bounded tokenizer artifact — collecting it
        # is the contract (BPE merge-table posture), not a scale leak.
        # JSON sidecar: fresh processes load the cost table instead of
        # re-running the seed-vocab collect chain (per-process memo).
        side = os.path.join(key, "costs.json")
        saved = _json_sidecar_read(side)
        if saved is not None:
            _UNIGRAM_COSTS[key] = saved
        else:
            rows = unigram_seed_vocab(
                _t(spark, sf_dir, "documents")
            ).collect()
            _UNIGRAM_COSTS[key] = piece_costs(rows)
            _json_sidecar_write(side, _UNIGRAM_COSTS[key])
    return _UNIGRAM_COSTS[key]


def _unigram_norm_sql() -> str:
    from crowdsorsa_etl_spark.queries._shared import _NORM_SQL

    return _NORM_SQL


def _uv_sql() -> str:
    from crowdsorsa_etl_spark.operators.unigram import unigram_vocab_sql

    return unigram_vocab_sql(norm_sql=_unigram_norm_sql())


@register("llm_unigram_vocab", _uv_sql())
def llm_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed vocabulary: substring pieces (len ≤ 4) with occurrence-weighted
    counts, pruned at min_count except single chars."""
    from crowdsorsa_etl_spark.operators.unigram import unigram_seed_vocab

    return unigram_seed_vocab(_t(spark, sf_dir, "documents"))


def _ut_sql() -> str:
    from crowdsorsa_etl_spark.operators.unigram import unigram_tokenize_sql

    return unigram_tokenize_sql(norm_sql=_unigram_norm_sql())


@register("llm_unigram_tokenize", _ut_sql())
def llm_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Viterbi piece stream (count + md5 fingerprint), unigram-LM
    scored with integer µnat costs."""
    from crowdsorsa_etl_spark.operators.unigram import unigram_tokenize

    docs = _t(spark, sf_dir, "documents")
    return unigram_tokenize(docs, _unigram_costs(spark, sf_dir))


def _ue_sql() -> str:
    from crowdsorsa_etl_spark.operators.unigram import unigram_em_sql

    return unigram_em_sql(norm_sql=_unigram_norm_sql())


@register("llm_unigram_em_step", _ue_sql())
def llm_unigram_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-EM re-estimated piece counts from the Viterbi segmentations."""
    from crowdsorsa_etl_spark.operators.unigram import unigram_em_counts

    docs = _t(spark, sf_dir, "documents")
    return unigram_em_counts(docs, _unigram_costs(spark, sf_dir))


def _uti_sql() -> str:
    from crowdsorsa_etl_spark.operators.unigram import unigram_token_ids_sql

    return unigram_token_ids_sql(norm_sql=_unigram_norm_sql())


@register("llm_unigram_token_ids", _uti_sql())
def llm_unigram_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-tokenizer token ids: Viterbi pieces mapped through the
    piece-sorted vocab id table, id stream fingerprinted per doc."""
    from crowdsorsa_etl_spark.operators.unigram import unigram_token_ids

    docs = _t(spark, sf_dir, "documents")
    return unigram_token_ids(docs, _unigram_costs(spark, sf_dir))


# ===========================================================================
# Eval-metrics tier (operators/evalmetrics.py): BLEU-2 and ROUGE-2 over
# (candidate, reference) pairs — even docs play candidates, odd docs
# references, paired by doc_id // 2 (deterministic, SQL-replayable).
# Two count-table shuffles + one keyed join per order; all counts exact
# BIGINTs, metrics closed-form doubles rounded once.
# ===========================================================================


def _eval_pair_ctes() -> str:
    from crowdsorsa_etl_spark.queries._shared import _NORM_SQL

    return f"""
    cand AS (
      SELECT doc_id // 2 AS pair_id, {_NORM_SQL} AS text
      FROM documents WHERE doc_id % 2 = 0
    ),
    ref AS (
      SELECT doc_id // 2 AS pair_id, {_NORM_SQL} AS text
      FROM documents WHERE doc_id % 2 = 1
    )
    """


def _eval_pair_frames(spark: SparkSession, sf_dir: str):
    docs = _t(spark, sf_dir, "documents")
    pair = F.floor(F.col("doc_id") / 2).cast("bigint").alias("pair_id")
    cand = docs.filter(F.col("doc_id") % 2 == 0).select(pair, "text")
    ref = docs.filter(F.col("doc_id") % 2 == 1).select(pair, "text")
    return cand, ref


def _eval_clipped(spark: SparkSession, sf_dir: str, n: int):
    """Per-fixture materialized clipped n-gram count table
    (pair_id, cand_ngrams, ref_ngrams, matched) over the standard
    even/odd pair frames — the corpus statistic BLEU (orders 1+2), ROUGE
    (order 2), and corpus-BLEU all re-derived independently (two count
    shuffles each). One artifact per order now serves all three (the
    _lsh_pairs / _kn_token_scores shared-artifact posture); deterministic
    exact integers, so the cache cannot drift from a recompute."""
    import os

    from crowdsorsa_etl_spark.operators.evalmetrics import _clipped
    from crowdsorsa_etl_spark.queries._shared import _at_rest, _sf_cache_dir

    def build(stage: str) -> None:
        cand, ref = _eval_pair_frames(spark, sf_dir)
        _clipped(
            cand, ref, n, pair_col="pair_id", text_col="text"
        ).write.parquet(stage)

    path = _at_rest(
        os.path.join(
            _sf_cache_dir(sf_dir, f"evalclipped{n}_v1", "documents"),
            "counts.parquet",
        ),
        build,
    )
    return spark.read.parquet(path)


def _bleu_sql() -> str:
    from crowdsorsa_etl_spark.operators.evalmetrics import clipped_sql

    return f"""
    WITH {_eval_pair_ctes()},
    u AS ({clipped_sql(1)}),
    b AS ({clipped_sql(2)})
    SELECT u.pair_id,
           u.cand_ngrams AS c_len, u.ref_ngrams AS r_len,
           round(CASE WHEN u.cand_ngrams > 0
                      THEN u.matched * 1.0 / u.cand_ngrams ELSE 0 END, 6)
             AS p1,
           round(CASE WHEN b.cand_ngrams > 0
                      THEN b.matched * 1.0 / b.cand_ngrams ELSE 0 END, 6)
             AS p2,
           round(CASE WHEN u.cand_ngrams > 0
                      THEN exp(least(0.0,
                                     1.0 - u.ref_ngrams * 1.0
                                           / u.cand_ngrams))
                      ELSE 0 END, 6) AS bp,
           round(CASE WHEN u.matched > 0 AND b.matched > 0
                       AND b.cand_ngrams > 0
                      THEN exp(least(0.0, 1.0 - u.ref_ngrams * 1.0
                                              / u.cand_ngrams))
                           * exp(0.5 * ln(u.matched * 1.0 / u.cand_ngrams)
                                 + 0.5 * ln(b.matched * 1.0
                                            / b.cand_ngrams))
                      ELSE 0 END, 6) AS bleu2
    FROM u JOIN b USING (pair_id)
    """


@register("llm_bleu_pairs", _bleu_sql())
def llm_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence BLEU-2 with brevity penalty per (even, odd) doc pair."""
    from crowdsorsa_etl_spark.operators.evalmetrics import bleu2_from_clipped

    return bleu2_from_clipped(
        _eval_clipped(spark, sf_dir, 1), _eval_clipped(spark, sf_dir, 2)
    )


def _rouge_sql() -> str:
    from crowdsorsa_etl_spark.operators.evalmetrics import clipped_sql

    return f"""
    WITH {_eval_pair_ctes()},
    c AS ({clipped_sql(2)})
    SELECT pair_id, matched, cand_ngrams, ref_ngrams,
           round(CASE WHEN ref_ngrams > 0
                      THEN matched * 1.0 / ref_ngrams ELSE 0 END, 6)
             AS recall,
           round(CASE WHEN cand_ngrams > 0
                      THEN matched * 1.0 / cand_ngrams ELSE 0 END, 6)
             AS precision,
           round(CASE WHEN matched > 0
                      THEN 2.0 * (matched * 1.0 / ref_ngrams)
                           * (matched * 1.0 / cand_ngrams)
                           / ((matched * 1.0 / ref_ngrams)
                              + (matched * 1.0 / cand_ngrams))
                      ELSE 0 END, 6) AS f1
    FROM c
    """


@register("llm_rouge_pairs", _rouge_sql())
def llm_rouge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 recall/precision/F1 per (even, odd) doc pair."""
    from crowdsorsa_etl_spark.operators.evalmetrics import rouge_from_clipped

    return rouge_from_clipped(_eval_clipped(spark, sf_dir, 2))


# ===========================================================================
# llm_record_linkage — probabilistic entity resolution (Fellegi–Sunter):
# a deterministic "dirty copy" of customer is derived in-query (char
# dropped from name at custkey%3, synthesized phone digit mangled at %4, segment
# blanked at %5), then linked back against the clean table via blocking
# (nationkey + last-2-digits-of-name — the one equi-join) and literal m/u
# agreement weights. Ground truth is known (same custkey), so the test
# suite can assert recall; the oracle replays blocking, perturbation, and
# the identical python-computed weight literals.
# ===========================================================================

_FS_WEIGHTS = {
    "name": (0.9, 0.001),
    "phone": (0.95, 0.01),
    "acct": (0.99, 0.0005),
    "mkt": (0.95, 0.2),
}
_FS_UPPER, _FS_LOWER = 15.0, 0.0


def _linkage_sql() -> str:
    from crowdsorsa_etl_spark.operators.linkage import fs_weights_sql

    feats = {
        "name": "d.d_name = c.c_name",
        "phone": "d.d_phone = c.c_phone",
        "acct": "d.d_acctbal = c.c_acctbal",
        "mkt": "d.d_mkt = c.c_mktsegment",
    }
    score = fs_weights_sql(feats, _FS_WEIGHTS)
    return f"""
    WITH dirty AS (
      SELECT c_custkey AS d_custkey, c_nationkey AS d_nationkey,
             CASE WHEN c_custkey % 3 = 0
                  THEN substr(c_name, 1, 2) || substr(c_name, 4)
                  ELSE c_name END AS d_name,
             CASE WHEN c_custkey % 4 = 0
                  THEN substr(printf('%02d-%07d', c_nationkey, c_custkey),
                              1, 9) || '9'
                  ELSE printf('%02d-%07d', c_nationkey, c_custkey)
                  END AS d_phone,
             c_acctbal AS d_acctbal,
             CASE WHEN c_custkey % 5 = 0
                  THEN 'UNKNOWN' ELSE c_mktsegment END AS d_mkt,
             substr(c_name, len(c_name) - 1, 2) AS d_blk
      FROM customer
    ),
    clean AS (
      SELECT c_custkey, c_nationkey, c_name,
             printf('%02d-%07d', c_nationkey, c_custkey) AS c_phone,
             c_acctbal, c_mktsegment,
             substr(c_name, len(c_name) - 1, 2) AS c_blk
      FROM customer
    ),
    scored AS (
      SELECT c.c_custkey, d.d_custkey, round({score}, 6) AS fs_score
      FROM clean c JOIN dirty d
        ON c.c_nationkey = d.d_nationkey AND c.c_blk = d.d_blk
    )
    SELECT c_custkey, d_custkey, fs_score,
           CASE WHEN fs_score >= {_FS_UPPER} THEN 'match'
                WHEN fs_score >= {_FS_LOWER} THEN 'possible'
                ELSE 'nonmatch' END AS fs_class
    FROM scored
    """


@register("llm_record_linkage", _linkage_sql())
def llm_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Fellegi–Sunter linkage of a derived dirty customer copy
    back to the clean table."""
    from crowdsorsa_etl_spark.operators.linkage import fs_link

    cust = _t(spark, sf_dir, "customer")
    blk = F.expr("substr(c_name, length(c_name) - 1, 2)")
    clean = cust.select(
        "c_custkey",
        F.col("c_nationkey").alias("blk_nation"),
        "c_name",
        F.format_string("%02d-%07d", "c_nationkey", "c_custkey").alias(
            "c_phone"
        ),
        "c_acctbal",
        "c_mktsegment",
        blk.alias("blk_tail"),
    )
    dirty = cust.select(
        F.col("c_custkey").alias("d_custkey"),
        F.col("c_nationkey").alias("blk_nation"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.expr("substr(c_name, 1, 2)"), F.expr("substr(c_name, 4)")
            ),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
        F.when(
            F.col("c_custkey") % 4 == 0,
            F.concat(
                F.substring(
                    F.format_string(
                        "%02d-%07d", "c_nationkey", "c_custkey"
                    ),
                    1,
                    9,
                ),
                F.lit("9"),
            ),
        )
        .otherwise(
            F.format_string("%02d-%07d", "c_nationkey", "c_custkey")
        )
        .alias("d_phone"),
        F.col("c_acctbal").alias("d_acctbal"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_mkt"),
        blk.alias("blk_tail"),
    )
    out = fs_link(
        clean,
        dirty,
        block_on=["blk_nation", "blk_tail"],
        features={
            "name": F.col("d_name") == F.col("c_name"),
            "phone": F.col("d_phone") == F.col("c_phone"),
            "acct": F.col("d_acctbal") == F.col("c_acctbal"),
            "mkt": F.col("d_mkt") == F.col("c_mktsegment"),
        },
        weights=_FS_WEIGHTS,
        upper=_FS_UPPER,
        lower=_FS_LOWER,
    )
    return out.select("c_custkey", "d_custkey", "fs_score", "fs_class")


# ===========================================================================
# llm_dsir_weights — DSIR importance weights (Xie et al. 2023) over hashed
# unigram+bigram features: target = English docs, raw pool = the rest.
# Model = one bounded ≤4096-row bucket artifact (ONE bucket-keyed shuffle);
# scoring = broadcast join + ONE doc-keyed exact-integer sum. Fixed-point
# BIGINT log-ratios make per-doc sums order-independent on both engines.
# ===========================================================================

_DSIR_BUCKETS = 4096


def _dsir_sql() -> str:
    from crowdsorsa_etl_spark.operators.dsir import (
        features_sql,
        scores_sql,
        stats_sql,
    )
    from crowdsorsa_etl_spark.queries._shared import _NORM_SQL

    src = (
        "(SELECT doc_id, text, coalesce(lang = 'en', FALSE) AS is_t "
        "FROM documents)"
    )
    return f"""
    WITH feats_all AS (
      {features_sql(src, _NORM_SQL, _DSIR_BUCKETS, select_extra=", is_t")}
    ),
    stats AS ({stats_sql("feats_all", _DSIR_BUCKETS)}),
    feats AS (SELECT doc_id, bucket FROM feats_all WHERE NOT is_t)
    {scores_sql("feats", "stats")}
    """


@register("llm_dsir_weights", _dsir_sql())
def llm_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR log-likelihood-ratio importance weights of the
    non-English pool against an English target model."""
    from crowdsorsa_etl_spark.operators.dsir import dsir_weights_onepass

    docs = _t(spark, sf_dir, "documents")
    is_t = F.coalesce(F.col("lang") == "en", F.lit(False))
    # fused model+score over one n-gram pass (r16, guide §2.4) — the
    # two-call form tokenized the corpus twice; arithmetic identical
    return dsir_weights_onepass(docs, is_t, buckets=_DSIR_BUCKETS)


def _corpus_bleu_sql() -> str:
    from crowdsorsa_etl_spark.operators.evalmetrics import clipped_sql

    return f"""
    WITH {_eval_pair_ctes()},
    u AS ({clipped_sql(1)}),
    b AS ({clipped_sql(2)}),
    ug AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(cand_ngrams) AS BIGINT) AS c_len,
             CAST(sum(ref_ngrams) AS BIGINT) AS r_len,
             CAST(sum(matched) AS BIGINT) AS m1
      FROM u
    ),
    bg AS (
      SELECT CAST(sum(cand_ngrams) AS BIGINT) AS c2,
             CAST(sum(matched) AS BIGINT) AS m2
      FROM b
    )
    SELECT n_pairs, c_len, r_len,
           round(CASE WHEN c_len > 0 THEN m1 * 1.0 / c_len ELSE 0 END, 6)
             AS p1,
           round(CASE WHEN c2 > 0 THEN m2 * 1.0 / c2 ELSE 0 END, 6) AS p2,
           round(CASE WHEN c_len > 0
                      THEN exp(least(0.0, 1.0 - r_len * 1.0 / c_len))
                      ELSE 0 END, 6) AS bp,
           round(CASE WHEN m1 > 0 AND m2 > 0 AND c2 > 0
                      THEN exp(least(0.0, 1.0 - r_len * 1.0 / c_len))
                           * exp(0.5 * ln(m1 * 1.0 / c_len)
                                 + 0.5 * ln(m2 * 1.0 / c2))
                      ELSE 0 END, 6) AS bleu2
    FROM ug, bg
    """


@register("llm_corpus_bleu", _corpus_bleu_sql())
def llm_corpus_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BLEU-2 (clipped counts folded across ALL pairs before
    the metric — Papineni's corpus statistic, not a mean of sentence
    scores)."""
    from crowdsorsa_etl_spark.operators.evalmetrics import (
        corpus_bleu2_from_clipped,
    )

    return corpus_bleu2_from_clipped(
        _eval_clipped(spark, sf_dir, 1), _eval_clipped(spark, sf_dir, 2)
    )


_CHRF_ORDERS = 3


def _chrf_sql() -> str:
    from crowdsorsa_etl_spark.operators.evalmetrics import chrf_order_sql

    orders = range(1, _CHRF_ORDERS + 1)
    ctes = ",\n".join(f"o{n} AS ({chrf_order_sql(n)})" for n in orders)
    joins = " ".join(f"FULL OUTER JOIN o{n} USING (pair_id)" for n in list(orders)[1:])
    fs = ", ".join(f"coalesce(f{n}, 0.0) AS f{n}" for n in orders)
    mean = " + ".join(f"coalesce(f{n}, 0.0)" for n in orders)
    return f"""
    WITH {_eval_pair_ctes()},
    {ctes}
    SELECT pair_id, {fs},
           round(({mean}) / {float(_CHRF_ORDERS)}, 6) AS chrf
    FROM o1 {joins}
    """


@register("llm_chrf_pairs", _chrf_sql())
def llm_chrf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF (char n-gram F-2, orders 1..3, whitespace stripped) per
    (even, odd) doc pair."""
    from crowdsorsa_etl_spark.operators.evalmetrics import chrf_pairs

    cand, ref = _eval_pair_frames(spark, sf_dir)
    return chrf_pairs(cand, ref, max_order=_CHRF_ORDERS)


# ===========================================================================
# llm_temperature_mix — UNIMAX/mT5-style temperature-scaled sampling
# weights per language: w_d ∝ n_tokens_d^alpha. COMPUTES the mixing
# recipe (complement of llm_domain_mix, which APPLIES given rates).
# Per-language pow() terms become fixed-point BIGINTs before the
# normalizing sum, so the ≤|langs|-row fold is exact on both engines.
# ===========================================================================

_MIX_ALPHA = 0.3


def _temperature_mix_sql() -> str:
    from crowdsorsa_etl_spark.operators.dsir import FX
    from crowdsorsa_etl_spark.queries._shared import _NORM_SQL

    return f"""
    WITH counts AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split({_NORM_SQL}, ' '))) AS BIGINT)
               AS n_tokens
      FROM documents
      GROUP BY lang
    ),
    fx AS (
      SELECT lang, n_docs, n_tokens,
             CAST(round(pow(n_tokens, {_MIX_ALPHA}) * {FX}, 0) AS BIGINT)
               AS term_fx
      FROM counts
    )
    SELECT lang, n_docs, n_tokens,
           round(CAST(term_fx AS DOUBLE)
                 / (SELECT sum(term_fx) FROM fx), 6) AS weight,
           round(CAST(term_fx AS DOUBLE)
                 / (SELECT sum(term_fx) FROM fx)
                 * (SELECT sum(n_tokens) FROM fx) / n_tokens, 6)
             AS oversample
    FROM fx
    """


@register("llm_temperature_mix", _temperature_mix_sql())
def llm_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.3) language sampling weights from
    observed token counts; ``oversample`` is the effective repeat factor
    vs natural sampling."""
    from crowdsorsa_etl_spark.functions.text import normalize_text
    from crowdsorsa_etl_spark.operators.dsir import FX

    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(normalize_text(F.col("text")), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    fx = counts.select(
        "*",
        F.round(F.pow(F.col("n_tokens"), F.lit(_MIX_ALPHA)) * F.lit(FX), 0)
        .cast("bigint")
        .alias("term_fx"),
    )
    totals = fx.agg(
        F.sum("term_fx").cast("bigint").alias("tot_fx"),
        F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
    )
    w = F.col("term_fx").cast("double") / F.col("tot_fx")
    return fx.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(w, 6).alias("weight"),
        F.round(w * F.col("tot_tokens") / F.col("n_tokens"), 6).alias(
            "oversample"
        ),
    )
