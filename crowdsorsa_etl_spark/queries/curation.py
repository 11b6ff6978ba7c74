"""Curation: quality/language/PII filters, composed curation funnels,
LM scoring (bigram, Kneser-Ney, unigram), the quality classifier and its
calibration, and corpus-profile signals (entropy, Heaps' law, PMI,
dataset card).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import (
    _LANG_MARKERS,
    char_entropy_sql,
    detect_language,
    lang_score,
    normalize_text,
    quality_features,
    quality_score,
    token_count,
)
from crowdsorsa_etl_spark.operators.curation import (
    assign_split,
    entropy_signals,
    pii_counts,
    quality_filter_signals,
    quality_filter_verdict,
    redact_pii,
    type_token_growth,
)
from crowdsorsa_etl_spark.operators.dedup import exact_dedup
from crowdsorsa_etl_spark.operators.dicttag import dictionary_tag, dictionary_tag_sql
from crowdsorsa_etl_spark.operators.global_rank import with_global_row_number
from crowdsorsa_etl_spark.operators.logreg import logreg_first_step
from crowdsorsa_etl_spark.operators.ngramlm import (
    kneser_ney_bigram_scores,
    kneser_ney_bigram_sql,
    perplexity_buckets,
    perplexity_buckets_sql,
)
from crowdsorsa_etl_spark.queries._shared import (
    _NORM_SQL,
    _kn_token_scores,
    _t,
    register,
)
from crowdsorsa_etl_spark.queries.dedup import llm_span_dedup


@register(
    "llm_text_stats",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
                    ELSE len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END) AS BIGINT)
             AS total_tokens,
           round(avg(n_chars), 2) AS avg_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


#: the quality_score scalar as a DuckDB expression over a `text` column —
#: shared by llm_quality's oracle and the curriculum tier (one fragment so
#: the score definition cannot drift between consumers)
QUALITY_SQL_EXPR = """round((
             CASE WHEN (CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
                        ELSE len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END)
                       BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END
             + CASE WHEN len(regexp_replace(text, '[^A-Za-zÀ-öø-ÿ]', '', 'g'))
                         / CASE WHEN len(text) = 0 THEN 1 ELSE len(text) END >= 0.6
                    THEN 1.0
                    ELSE (len(regexp_replace(text, '[^A-Za-zÀ-öø-ÿ]', '', 'g'))
                          / CASE WHEN len(text) = 0 THEN 1 ELSE len(text) END) / 0.6 END
             + CASE WHEN len(regexp_replace(text, '[^0-9]', '', 'g'))
                         / CASE WHEN len(text) = 0 THEN 1 ELSE len(text) END <= 0.2
                    THEN 1.0 ELSE 0.0 END
           ) / 3.0, 6)"""


@register(
    "llm_quality",
    f"""
    SELECT doc_id,
           CAST(CASE WHEN len(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
                ELSE len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS BIGINT)
             AS n_tokens,
           round(len(regexp_replace(text, '[^A-Za-zÀ-öø-ÿ]', '', 'g'))
                 / CASE WHEN len(text) = 0 THEN 1 ELSE len(text) END, 6) AS alpha_ratio,
           round(len(regexp_replace(text, '[^0-9]', '', 'g'))
                 / CASE WHEN len(text) = 0 THEN 1 ELSE len(text) END, 6) AS digit_ratio,
           {QUALITY_SQL_EXPR} AS quality
    FROM documents
    """,
)
def llm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(feats["digit_ratio"], 6).alias("digit_ratio"),
        quality_score(F.col("text")).alias("quality"),
    )


def _lang_detect_sql() -> str:
    """Generate the DuckDB oracle for detect_language from the same marker
    table the Spark expression uses — parity by construction."""
    score_exprs = {}
    for lang, markers in _LANG_MARKERS.items():
        parts = [
            f"(len(string_split(' ' || lower(text) || ' ', '{m}')) - 1)"
            for m in markers
        ]
        score_exprs[lang] = " + ".join(parts)
    greatest = "greatest(" + ", ".join(f"s_{lang}" for lang in _LANG_MARKERS) + ")"
    cases = " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} = {greatest} THEN '{lang}'"
        for lang in _LANG_MARKERS
    )
    scores = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score_exprs.items())
    return f"""
    SELECT doc_id, CASE {cases} ELSE 'und' END AS lang_pred
    FROM (SELECT doc_id, {scores} FROM documents)
    """


@register("llm_lang_detect", _lang_detect_sql())
def llm_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", detect_language(F.col("text")).alias("lang_pred"))


# ===========================================================================
# Curation pack: gap-fill, binned range join, PII, quality filter, splits,
# sequence packing (SURVEY §2.2 extension pack, round 2)
# ===========================================================================

_TRIMMED_SQL = "regexp_replace(text, '^\\s+|\\s+$', '', 'g')"
_NTOK_SQL = (
    "CAST(CASE WHEN len(" + _TRIMMED_SQL + ") = 0 THEN 0 "
    "ELSE len(regexp_split_to_array(" + _TRIMMED_SQL + ", '\\s+')) END AS BIGINT)"
)


_PII_AUG_SPARK = "contact user%d@mail.example.com call +358-40-%04d from 10.1.%d.7"


@register(
    "llm_pii_redact",
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' ' || printf('contact user%d@mail.example.com call +358-40-%04d from 10.1.%d.7',
                                   doc_id, doc_id % 10000, doc_id % 256) AS full_text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(full_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(full_text, '\\+[0-9]{1,3}-[0-9]{1,4}-[0-9]{3,10}')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(full_text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS INT) AS n_ipv4,
           regexp_replace(
             regexp_replace(
               regexp_replace(full_text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\+[0-9]{1,3}-[0-9]{1,4}-[0-9]{3,10}', '<PHONE>', 'g'),
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') AS redacted
    FROM aug
    """,
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over text columns: RE2-safe regex replace for emails /
    intl phone numbers / IPv4, plus per-category match counts as the audit
    trail. The fixture corpus is synthetic word-bags, so deterministic
    PII-shaped strings are appended (same printf on both engines) to prove
    the redaction on a non-trivial input. Pure regexp_replace column
    expressions — no shuffle, no Python, linear scan at any scale."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.format_string(
                _PII_AUG_SPARK,
                F.col("doc_id"),
                F.col("doc_id") % 10000,
                F.col("doc_id") % 256,
            ),
        ).alias("full_text"),
    )
    counts = pii_counts(F.col("full_text"))
    return aug.select(
        "doc_id",
        counts["email"].cast("int").alias("n_email"),
        counts["phone"].cast("int").alias("n_phone"),
        counts["ipv4"].cast("int").alias("n_ipv4"),
        redact_pii(F.col("full_text")).alias("redacted"),
    )


@register(
    "llm_quality_filter",
    """
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             """ + _NTOK_SQL + """ AS n_tokens,
             round(len(list_distinct(toks)) / greatest(len(toks), 1), 6) AS distinct_ratio,
             round(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is')))
                   / greatest(len(toks), 1), 6) AS stopword_ratio,
             round(list_sum(list_transform(toks, x -> len(x)))
                   / greatest(len(toks), 1), 6) AS mean_word_len
      FROM t
    )
    SELECT doc_id, n_tokens, distinct_ratio, stopword_ratio, mean_word_len,
           CASE WHEN n_tokens < 50 THEN 'too_short'
                WHEN n_tokens > 100000 THEN 'too_long'
                WHEN distinct_ratio < 0.05 THEN 'repetitive'
                WHEN stopword_ratio < 0.01 THEN 'no_stopwords'
                WHEN mean_word_len < 1.0 OR mean_word_len > 12.0 THEN 'word_len'
                ELSE 'ok' END AS reason,
           (CASE WHEN n_tokens < 50 THEN 'too_short'
                WHEN n_tokens > 100000 THEN 'too_long'
                WHEN distinct_ratio < 0.05 THEN 'repetitive'
                WHEN stopword_ratio < 0.01 THEN 'no_stopwords'
                WHEN mean_word_len < 1.0 OR mean_word_len > 12.0 THEN 'word_len'
                ELSE 'ok' END) = 'ok' AS keep
    FROM s
    """,
)
def llm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style composed quality filter: length, repetition
    (distinct-token ratio), stopword density, mean word length — first
    failing rule becomes the drop reason, so per-rule attrition is a plain
    groupBy downstream. All signals are JVM column expressions; the filter
    fuses into the scan (no shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    sig = quality_filter_signals(F.col("text"))
    keep, reason = quality_filter_verdict(sig)
    return docs.select(
        "doc_id",
        sig["n_tokens"].alias("n_tokens"),
        sig["distinct_ratio"].alias("distinct_ratio"),
        sig["stopword_ratio"].alias("stopword_ratio"),
        sig["mean_word_len"].alias("mean_word_len"),
        reason.alias("reason"),
        keep.alias("keep"),
    )


_QF_SIGNALS_SQL = """
      SELECT doc_id, text,
             """ + _NTOK_SQL + """ AS n_tokens,
             round(len(list_distinct(toks)) / greatest(len(toks), 1), 6) AS distinct_ratio,
             round(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is')))
                   / greatest(len(toks), 1), 6) AS stopword_ratio,
             round(list_sum(list_transform(toks, x -> len(x)))
                   / greatest(len(toks), 1), 6) AS mean_word_len
      FROM (SELECT doc_id, text,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents)
"""

_QF_OK_SQL = """(n_tokens >= 50 AND n_tokens <= 100000
                 AND distinct_ratio >= 0.05 AND stopword_ratio >= 0.01
                 AND mean_word_len BETWEEN 1.0 AND 12.0)"""


@register(
    "llm_curation_funnel",
    "WITH s AS (" + _QF_SIGNALS_SQL + """),
    kept AS (SELECT doc_id, text FROM s WHERE """ + _QF_OK_SQL + """),
    dedup AS (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id, md5(""" + _NORM_SQL + """) AS h FROM kept)
      GROUP BY h
    ),
    split AS (
      SELECT CASE WHEN bucket < 230 THEN 'train'
                  WHEN bucket < 243 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT CAST((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                        + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1
                        AS INT) AS bucket
            FROM dedup)
    )
    SELECT '00_total' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
    UNION ALL
    SELECT '10_quality_kept', CAST(count(*) AS BIGINT) FROM kept
    UNION ALL
    SELECT '20_after_dedup', CAST(count(*) AS BIGINT) FROM dedup
    UNION ALL
    SELECT '30_' || split, CAST(count(*) AS BIGINT) FROM split GROUP BY split
    """,
)
def llm_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE reporting query: raw corpus →
    quality filter → exact dedup → train/val/test split, with per-stage
    attrition counts (the numbers a data-recipe review meeting asks for).
    Every stage is the same operator the standalone queries use — filter
    signals (llm_quality_filter), md5 keep-first dedup (llm_exact_dedup),
    md5-bucket splits (llm_train_split) — so the funnel doubles as an
    integration test of their composition. Counts-only output: each stage
    is a partial-aggregated count, no stage materializes rows to the
    driver."""
    docs = _t(spark, sf_dir, "documents")
    sig = quality_filter_signals(F.col("text"))
    keep, _reason = quality_filter_verdict(sig)
    kept = docs.where(keep)
    dedup = exact_dedup(kept).select(F.col("keep_id").alias("doc_id"))

    # TWO corpus scans instead of four (r16 optimization; guide §2.4):
    # 00_total and 10_quality_kept ride ONE aggregate (count + count_if —
    # the quality signals evaluate once per row instead of once per
    # stage), and 20_after_dedup rides the split counts' ROLLUP (the
    # grand-total row IS the dedup count — same exact BIGINTs, same
    # labels, so the oracle hash is unchanged).
    head = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("_total"),
        F.count(F.when(keep, 1)).cast("bigint").alias("_kept"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("00_total").alias("stage"), F.col("_total").alias("n")
                ),
                F.struct(
                    F.lit("10_quality_kept").alias("stage"),
                    F.col("_kept").alias("n"),
                ),
            )
        ).alias("s")
    ).select("s.stage", "s.n")
    tail = (
        dedup.select(assign_split(F.col("doc_id")).alias("split"))
        .rollup("split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.when(F.col("split").isNull(), F.lit("20_after_dedup"))
            .otherwise(F.concat(F.lit("30_"), F.col("split")))
            .alias("stage"),
            "n",
        )
    )
    return head.unionByName(tail)


@register(
    "llm_repetition_filter",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    uni AS (
      SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2
    ),
    uni_stats AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_tok,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(cnt) AS BIGINT) AS top_cnt
      FROM uni GROUP BY doc_id
    ),
    bi AS (
      SELECT a.doc_id, a.tok || ' ' || b.tok AS bigram, count(*) AS cnt
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2
    ),
    bi_stats AS (
      SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bigram_cnt,
             CAST(sum(cnt) AS BIGINT) AS n_bigrams
      FROM bi GROUP BY doc_id
    )
    SELECT u.doc_id, u.n_tok,
           round(1.0 - CAST(u.n_distinct AS DOUBLE) / u.n_tok, 6)
             AS dup_word_frac,
           round(CAST(u.top_cnt AS DOUBLE) / u.n_tok, 6) AS top_word_frac,
           round(CAST(b.top_bigram_cnt AS DOUBLE) / b.n_bigrams, 6)
             AS top_bigram_frac,
           (round(CAST(u.top_cnt AS DOUBLE) / u.n_tok, 6) <= 0.2
            AND round(CAST(b.top_bigram_cnt AS DOUBLE) / b.n_bigrams, 6)
                <= 0.08) AS keep
    FROM uni_stats u JOIN bi_stats b ON u.doc_id = b.doc_id
    """,
)
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-word fraction, top-word
    fraction, top-bigram fraction, and the keep/drop verdict. One explode
    + two partial-aggregable groupBys sharing the doc_id shuffle key; the
    bigram stream comes from a lead() window over the same exploded rows
    (no self-join on the Spark side — the oracle's pos+1 self-join is the
    SQL spelling of the same thing)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    uni_stats = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tok"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.max("cnt").cast("bigint").alias("top_cnt"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi_stats = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").cast("bigint").alias("top_bigram_cnt"),
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
        )
    )
    dup = F.round(1.0 - F.col("n_distinct").cast("double") / F.col("n_tok"), 6)
    topw = F.round(F.col("top_cnt").cast("double") / F.col("n_tok"), 6)
    topb = F.round(
        F.col("top_bigram_cnt").cast("double") / F.col("n_bigrams"), 6
    )
    return uni_stats.join(bi_stats, "doc_id").select(
        "doc_id",
        "n_tok",
        dup.alias("dup_word_frac"),
        topw.alias("top_word_frac"),
        topb.alias("top_bigram_frac"),
        ((topw <= 0.2) & (topb <= 0.08)).alias("keep"),
    )


@register(
    "llm_unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vocab)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           round(sum(ln((v.cnt + 1.0) / (tot.n + 1.0))) / count(*), 6)
             AS avg_logprob
    FROM toks t JOIN vocab v ON t.tok = v.tok CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram log-probability scorer — the shape of a
    KenLM-style perplexity filter (CCNet/RedPajama) with the LM reduced to
    add-one-smoothed unigrams so both engines agree bit-for-bit. Two
    passes over the exploded tokens sharing one shuffle key (tok) for the
    vocab build, then a vocab join (at real scale: the vocab is Zipf-small
    and broadcastable — AQE decides from observed size) and a per-doc
    aggregate."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = vocab.agg(F.sum("cnt").cast("bigint").alias("n"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.round(
                F.sum(F.log((F.col("cnt") + 1.0) / (F.col("n") + 1.0)))
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
    )


@register(
    "llm_curation_funnel_v2",
    """
    WITH toks_r AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    uni AS (SELECT doc_id, tok, count(*) AS cnt FROM toks_r GROUP BY 1, 2),
    us AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok,
                  CAST(max(cnt) AS BIGINT) AS top FROM uni GROUP BY 1),
    bi AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bg, count(*) AS cnt
           FROM toks_r a JOIN toks_r b
             ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           GROUP BY 1, 2),
    bs AS (SELECT doc_id, CAST(max(cnt) AS BIGINT) AS topb,
                  CAST(sum(cnt) AS BIGINT) AS nb FROM bi GROUP BY 1),
    rep_kept AS (
      SELECT us.doc_id FROM us JOIN bs ON us.doc_id = bs.doc_id
      WHERE round(CAST(us.top AS DOUBLE) / us.n_tok, 6) <= 0.2
        AND round(CAST(bs.topb AS DOUBLE) / bs.nb, 6) <= 0.08
    ),
    toks_l AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
              FROM toks_l GROUP BY tok),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vocab),
    lp AS (
      SELECT t.doc_id,
             round(sum(ln((v.cnt + 1.0) / (tot.n + 1.0))) / count(*), 6)
               AS avg_logprob
      FROM toks_l t JOIN vocab v ON t.tok = v.tok CROSS JOIN tot
      GROUP BY t.doc_id
    ),
    lp_kept AS (
      SELECT r.doc_id FROM rep_kept r JOIN lp ON r.doc_id = lp.doc_id
      WHERE lp.avg_logprob >= -3.41
    ),
    toks_s AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS l
      FROM documents
    ),
    sp AS (
      SELECT doc_id, i, array_to_string(l[i:i+7], ' ') AS s
      FROM (SELECT doc_id, l,
                   unnest(generate_series(1, greatest(len(l) - 7, 1))) AS i
            FROM toks_s)
    ),
    xdoc AS (SELECT s FROM sp GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
    spanf AS (
      SELECT sp.doc_id,
             round(CAST(count(x.s) AS DOUBLE) / count(*), 6) AS f
      FROM sp LEFT JOIN xdoc x ON sp.s = x.s GROUP BY sp.doc_id
    ),
    span_kept AS (
      SELECT k.doc_id FROM lp_kept k JOIN spanf ON k.doc_id = spanf.doc_id
      WHERE spanf.f <= 0.5
    )
    SELECT '00_total' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
    UNION ALL
    SELECT '10_repetition_kept', CAST(count(*) AS BIGINT) FROM rep_kept
    UNION ALL
    SELECT '20_logprob_kept', CAST(count(*) AS BIGINT) FROM lp_kept
    UNION ALL
    SELECT '30_spandedup_kept', CAST(count(*) AS BIGINT) FROM span_kept
    """,
)
def llm_curation_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 curation funnel: repetition gate (Gopher signals) →
    unigram-LM perplexity gate → cross-doc span-dedup gate, reported as
    per-stage survivor counts. Composes the three standalone round-3
    operators by semi-joining their keep sets — each stage keeps its own
    shuffle shape (all partial-aggregable; the funnel adds only doc_id
    semi joins), and the oracle composes the same CTEs, so the composition
    itself is what the hash verifies."""
    docs = _t(spark, sf_dir, "documents")
    rep = llm_repetition_filter(spark, sf_dir).filter(F.col("keep"))
    rep_kept = rep.select("doc_id")
    lp_kept = (
        llm_unigram_logprob(spark, sf_dir)
        .filter(F.col("avg_logprob") >= -3.41)
        .join(rep_kept, "doc_id", "left_semi")
        .select("doc_id")
    )
    span_kept = (
        llm_span_dedup(spark, sf_dir)
        .filter(F.col("dup_span_frac") <= 0.5)
        .join(lp_kept, "doc_id", "left_semi")
        .select("doc_id")
    )

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
            F.lit(name).alias("stage"), "n"
        )

    return (
        stage("00_total", docs)
        .unionByName(stage("10_repetition_kept", rep_kept))
        .unionByName(stage("20_logprob_kept", lp_kept))
        .unionByName(stage("30_spandedup_kept", span_kept))
    )


@register(
    "llm_vocab_stats",
    """
    WITH toks AS (
      SELECT source, doc_id,
             unnest(string_split(lower(trim(text)), ' ')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(CASE WHEN cnt = 1 THEN 1 END) AS BIGINT) AS n_hapax,
           round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS type_token_ratio,
           CAST(max(cnt) AS BIGINT) AS top_freq
    FROM tf GROUP BY source
    """,
)
def llm_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics (corpus profiling: vocabulary
    size, hapax legomena, type-token ratio, modal frequency) — the
    Heaps/Zipf sanity report a tokenizer-training run starts from. Explode
    → two stacked partial-aggregable groupBys sharing the (source, tok)
    shuffle."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.trim("text")), " ")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.when(F.col("cnt") == 1, 1)).cast("bigint").alias("n_hapax"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("cnt"), 6
        ).alias("type_token_ratio"),
        F.max("cnt").cast("bigint").alias("top_freq"),
    )


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
# llm_logreg_step — the distributed-gradient machinery of the quality-
# classifier TRAINER, hash-gated: the first GD step from w = 0, where
# sigmoid(0) = 1/2 exactly, so the gradient is pure rational arithmetic
# (no libm exp) and DuckDB replays it bit-for-bit. The full 30-iteration
# fit involves exp() whose last ulp is libm-specific — it is gated by the
# numpy parity test (tests/test_logreg.py) and produced the LITERAL
# weights llm_quality_classifier now ships (tools/fit_quality_weights.py).
# ===========================================================================


#: the reproducible supervision rule the trainer distills (see
#: tools/fit_quality_weights.py): reference-vs-raw by document length
_QC_LABEL_SQL = "CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END"


def _logreg_step_oracle() -> str:
    feat_sql = _qc_feat_sql()
    names = [n for n, _ in _QC_WEIGHTS]
    sels = [
        f"SELECT CAST({i} AS INT) AS feature_idx, "
        f"round(-avg((0.5 - ({_QC_LABEL_SQL})) * ({feat_sql[n]})), 6) AS weight "
        "FROM documents"
        for i, n in enumerate(names)
    ]
    return "\nUNION ALL\n".join(sels)


@register("llm_logreg_step", _logreg_step_oracle())
def llm_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First GD step of the quality-classifier fit — one corpus pass,
    Catalyst partial aggregation as the map-side gradient combine."""
    docs = _t(spark, sf_dir, "documents")
    feats = _qc_feature_exprs()
    names = [n for n, _ in _QC_WEIGHTS if n != "intercept"]
    label = F.when(F.col("n_chars") >= 300, 1.0).otherwise(0.0)
    return logreg_first_step(docs, [feats[n] for n in names], label, step=1.0)


# ===========================================================================
# llm_kneser_ney_logprob — interpolated Kneser–Ney bigram LM scores, the
# CCNet/KenLM filter model one smoothing class above add-one
# (llm_bigram_logprob). One corpus-keyed shuffle builds the count table;
# every derived statistic aggregates over bigram TYPES, not occurrences.
# ===========================================================================



@register("llm_kneser_ney_logprob", kneser_ney_bigram_sql())
def llm_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean interpolated-KN bigram log-probability, trained on the
    corpus itself (docs with <2 tokens drop out on both engines)."""
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
    return dictionary_tag_sql(_TAG_KEYWORDS, norm_sql=_NORM_SQL)


@register("llm_dictionary_tag", _dictionary_tag_sql())
def llm_dictionary_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, keyword) overlapping match counts over the normalized
    text, via a worker-local Aho–Corasick automaton."""
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
    return char_entropy_sql()


@register("llm_char_entropy", _char_entropy_sql())
def llm_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, entropy): per-doc character entropy in nats, 6 dp —
    the Arrow-batched form (the pure-HOF `functions/text.char_entropy`
    is semantically identical but runs interpreted, ~20× slower; a
    parity test pins the two to each other)."""
    return entropy_signals(_t(spark, sf_dir, "documents"))


# ===========================================================================
# llm_heaps_law — type-token growth profile (Heaps' law V ≈ K·N^β): the
# vocabulary-saturation curve tokenizer and dedup design reads. New types
# are attributed to their FIRST document (one word-keyed min-id shuffle),
# so cumulative vocabulary needs no distinct-per-prefix rescans; the
# cumulative window runs over the 10 bucket rows, never the corpus. The
# oracle replays first-occurrence attribution, bucket arithmetic (id range
# via scalar subqueries = the lazy 1-row broadcast), and both cumsums.
# ===========================================================================

_HL_BUCKETS = 10


def _heaps_sql() -> str:
    b = _HL_BUCKETS
    return f"""
    WITH bounds AS (
      SELECT CAST(min(doc_id) AS BIGINT) AS lo,
             CAST(max(doc_id) + 1 AS BIGINT) AS hi
      FROM documents
    ),
    words AS (
      SELECT doc_id AS id, word FROM (
        SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS word
        FROM documents
      ) WHERE len(word) > 0
    ),
    toks AS (
      SELECT CAST(floor((id - lo) * {b} / (hi - lo)) AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM words, bounds GROUP BY 1
    ),
    firsts AS (
      SELECT CAST(floor((fid - lo) * {b} / (hi - lo)) AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_new
      FROM (SELECT word, min(id) AS fid FROM words GROUP BY word), bounds
      GROUP BY 1
    )
    SELECT bucket,
           CAST(sum(coalesce(n_tokens, 0)) OVER (ORDER BY bucket)
                AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY bucket)
                AS BIGINT) AS cum_vocab
    FROM toks FULL OUTER JOIN firsts USING (bucket)
    """


@register("llm_heaps_law", _heaps_sql())
def llm_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative tokens and vocabulary at 10 corpus prefixes."""
    return type_token_growth(
        _t(spark, sf_dir, "documents"), buckets=_HL_BUCKETS
    )


# ===========================================================================
# llm_dataset_card — the per-source summary a dataset release ships
# (HF dataset-card / Dolma datasheet numbers): docs, tokens, chars,
# language spread, exact-duplicate share, and each source's share of the
# corpus token mass. Two aggregations (md5-keyed dup counts, source
# rollup) + one corpus-total scalar joined back broadcast (NOT an
# unpartitioned window: even over the bounded ≤|sources| rows that plans
# a SinglePartition WindowExec, and the house invariant is zero of
# those). The ratios are single divisions of exact BIGINTs rounded 6 dp.
# ===========================================================================


@register(
    "llm_dataset_card",
    f"""
    WITH norm AS (
      SELECT doc_id, source, lang,
             {{norm}} AS nt
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source, lang,
             CAST(len(nt) AS BIGINT) AS n_chars,
             CAST(CASE WHEN nt = '' THEN 0
                  ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_tokens,
             md5(nt) AS fp
      FROM norm
    ),
    dupfp AS (
      SELECT fp FROM toks GROUP BY fp HAVING count(*) > 1
    ),
    per_source AS (
      SELECT t.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens,
             CAST(sum(t.n_chars) AS BIGINT) AS n_chars,
             CAST(count(DISTINCT t.lang) AS BIGINT) AS n_langs,
             CAST(count(d.fp) AS BIGINT) AS n_exact_dup_docs
      FROM toks t LEFT JOIN dupfp d ON t.fp = d.fp
      GROUP BY t.source
    )
    SELECT source, n_docs, n_tokens, n_chars, n_langs, n_exact_dup_docs,
           round(n_tokens * 1.0 / sum(n_tokens) OVER (), 6)
             AS token_share,
           round(n_exact_dup_docs * 1.0 / n_docs, 6) AS dup_rate
    FROM per_source
    """.replace(
        "{norm}", "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
    ),
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source release datasheet: docs/tokens/chars/languages,
    exact-dup share, token share of the corpus."""
    docs = _t(spark, sf_dir, "documents")
    nt = normalize_text(F.col("text"))
    toks = docs.select(
        "doc_id",
        "source",
        "lang",
        F.length(nt).cast("bigint").alias("n_chars"),
        F.when(nt == "", F.lit(0))
        .otherwise(F.size(F.split(nt, " ")))
        .cast("bigint")
        .alias("n_tokens"),
        F.md5(nt).alias("fp"),
    )
    dupfp = toks.groupBy("fp").count().filter(F.col("count") > 1).select("fp")
    per_source = (
        toks.alias("t")
        .join(dupfp.alias("d"), "fp", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.count(F.col("d.fp")).cast("bigint").alias("n_exact_dup_docs"),
        )
    )
    total = per_source.agg(
        F.sum("n_tokens").cast("bigint").alias("_corpus_tokens")
    )
    return per_source.join(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_langs",
        "n_exact_dup_docs",
        F.round(
            F.col("n_tokens") * F.lit(1.0) / F.col("_corpus_tokens"), 6
        ).alias("token_share"),
        F.round(
            F.col("n_exact_dup_docs") * F.lit(1.0) / F.col("n_docs"), 6
        ).alias("dup_rate"),
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
# llm_langid_margin — language-ID CONFIDENCE, not just the argmax: per doc
# the winning marker score, the runner-up score (max over the non-winning
# languages, the winner resolved by the same stable priority as
# detect_language), their margin, and the ambiguity flag (margin <= 1 with
# any signal at all — the mixed-language / too-short shape a router sends
# to a heavier classifier). All exact integer marker counts — the margin
# is decision-grade, no float anywhere.
# ===========================================================================


def _langid_margin_sql() -> str:
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
