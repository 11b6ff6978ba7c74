"""Curation pack: gap-fill, range join, PII, splits, packing, funnels.

Split from the original monolithic queries.py in round 5. Registration
ORDER is load-bearing (the driver's correctness window samples the first 50
registrations), so modules are imported in the original file order by
queries/__init__.py, which also asserts the canonical order afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import token_count
from crowdsorsa_etl_spark.operators.dedup import exact_dedup
from crowdsorsa_etl_spark.queries._shared import (  # noqa: F401
    _NORM_SQL,
    _at_rest,
    _sf_cache_dir,
    _t,
    register,
)

# ===========================================================================
# Curation pack: gap-fill, binned range join, PII, quality filter, splits,
# sequence packing (SURVEY §2.2 extension pack, round 2)
# ===========================================================================

_TRIMMED_SQL = "regexp_replace(text, '^\\s+|\\s+$', '', 'g')"
_NTOK_SQL = (
    "CAST(CASE WHEN len(" + _TRIMMED_SQL + ") = 0 THEN 0 "
    "ELSE len(regexp_split_to_array(" + _TRIMMED_SQL + ", '\\s+')) END AS BIGINT)"
)


@register(
    "q46_gapfill_resample",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             count(*) AS n, round(sum(value), 2) AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT s.hour AS hour, t.event_type AS event_type,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n,
           coalesce(h.total_value, 0.0) AS total_value
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN hourly h ON h.hour = s.hour AND h.event_type = t.event_type
    """,
)
def q46_gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill / resample: a generated hourly spine × the type
    dim, left-joined against the hourly rollup, missing buckets zero-filled.
    The reference has no time-series surface; this is the standard Spark
    idiom (sequence → explode → broadcast left join). Scale shape: the spine
    is O(hours) and the type dim is tiny — both broadcast; the only shuffle
    is the hourly aggregation of the facts, which any resample needs."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    grid = spine.crossJoin(ev.select("event_type").distinct())
    # grid LEFT JOIN hourly: for a left-outer join Spark builds on the right,
    # and the right side here is the post-aggregation rollup (O(hours×types))
    # — AQE converts it to a broadcast join at runtime. Never hint broadcast
    # on the stream side of an outer join (unsupported build side).
    return (
        grid.join(hourly, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
    )


@register(
    "q48_range_join_binned",
    """
    SELECT tier, count(*) AS n, round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    JOIN (VALUES (0.0, 10.0, 'small'), (10.0, 25.0, 'mid'), (25.0, 100.0, 'big'))
         AS tiers(lo, hi, tier)
      ON l_quantity >= lo AND l_quantity < hi
    GROUP BY tier
    """,
)
def q48_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for range joins: bucketize both sides to a fixed bin
    width, equi-join on the bin, then re-check the exact range predicate.
    Same oracle as q20 (the BNLJ form), but the plan is a BroadcastHashJoin
    — at 100 TB a nested-loop over the facts is O(|facts|·|tiers|) with no
    hash pruning, while the binned form stays a hash join whose expansion
    factor is bounded by ceil(range/bin_width) rows per tier. The identical
    trick turns big-big interval joins into shuffle hash joins (bin both
    sides, join on bin, filter)."""
    width = 5.0
    li = _t(spark, sf_dir, "lineitem")
    tiers = spark.createDataFrame(
        [(0.0, 10.0, "small"), (10.0, 25.0, "mid"), (25.0, 100.0, "big")],
        "lo double, hi double, tier string",
    )
    # each tier row expands to every bin its [lo, hi) range overlaps
    expanded = tiers.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / width).cast("int"),
                (F.ceil(F.col("hi") / width) - 1).cast("int"),
            )
        ),
    )
    binned = li.withColumn("bin", F.floor(F.col("l_quantity") / width).cast("int"))
    return (
        binned.join(F.broadcast(expanded), "bin")
        .where((F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
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
    from crowdsorsa_etl_spark.operators.curation import pii_counts, redact_pii

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
    from crowdsorsa_etl_spark.operators.curation import (
        quality_filter_signals,
        quality_filter_verdict,
    )

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


@register(
    "llm_train_split",
    """
    WITH b AS (
      SELECT doc_id,
             CAST((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                  + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1
                  AS INT) AS bucket
      FROM documents
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < 230 THEN 'train'
                WHEN bucket < 243 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def llm_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by md5 hash bucket of the
    doc key — engine- and run-stable (never Spark's hash(), whose seed/impl
    may drift), leak-free (same doc always lands in the same split), and
    joinless: a pure projection that fuses into the scan at any scale."""
    from crowdsorsa_etl_spark.operators.curation import assign_split, hash_bucket

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id")).alias("bucket"),
        assign_split(F.col("doc_id")).alias("split"),
    )


@register(
    "llm_seq_packing",
    """
    WITH t AS (
      SELECT doc_id, lang, """ + _NTOK_SQL + """ AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT lang, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT lang, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_bin,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM c
    GROUP BY lang, pack_bin
    """,
)
def llm_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pre-training batches: docs are packed into
    contiguous 2048-token bins per shard (lang) — a doc joins the bin where
    its first token falls (boundary overflow semantics, single streaming
    pass). Sharded windows, never a global single-partition sort; at 100 TB
    the shard key is the input split, matching how tokenizer pipelines pack
    per output shard."""
    from crowdsorsa_etl_spark.operators.curation import pack_sequences
    from crowdsorsa_etl_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    packed = pack_sequences(docs, "n_tokens", "doc_id", 2048, ["lang"])
    return packed.groupBy("lang", "pack_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
    )


_SHINGLE_SQL = """
    toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS l
      FROM documents
    ),
    sh AS (
      SELECT doc_id, i, array_to_string(l[i:i+4], ' ') AS s
      FROM (SELECT doc_id, l,
                   unnest(generate_series(1, greatest(len(l) - 4, 1))) AS i
            FROM toks)
    )
"""


@register(
    "llm_contamination",
    "WITH " + _SHINGLE_SQL + """,
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
    SELECT sh.doc_id AS doc_id,
           count(DISTINCT sh.s) AS n_shingles,
           count(DISTINCT CASE WHEN b.s IS NOT NULL THEN sh.s END) AS n_hits,
           round(count(DISTINCT CASE WHEN b.s IS NOT NULL THEN sh.s END)
                 / count(DISTINCT sh.s), 6) AS contamination
    FROM sh LEFT JOIN bench b ON sh.s = b.s
    WHERE sh.doc_id % 97 <> 0
    GROUP BY sh.doc_id
    """,
)
def llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: fraction of each training doc's distinct
    word 5-shingles that appear in the eval set (here the deterministic
    doc_id%97 subset stands in for a benchmark suite). Scale shape: a real
    eval suite's shingle set is small, and AQE broadcasts it at runtime
    from its OBSERVED size — no forced hint, so a mis-sized eval set
    degrades to a shuffle join instead of an executor OOM (this demo's
    bench side grows with the corpus, which is exactly the case a forced
    broadcast would get wrong); (doc_id, shingle) pairs are deduped FIRST
    so the per-doc aggregate is two plain counts, not countDistinct×2 — the
    distinct-first form avoids Catalyst's Expand (which would double the
    shuffled rows) and shuffles each pair exactly once. This is the
    standard n-gram-overlap contamination check (GPT-3 appendix C / PaLM
    style) run as one Spark job."""
    from crowdsorsa_etl_spark.functions.text import shingles

    docs = _t(spark, sf_dir, "documents")
    # ONE explode + ONE (doc_id, s) distinct for BOTH sides (r16, guide
    # §2.4): the bench and train branches previously each re-ran the
    # scan + interpreted-HOF shingle explode + their own distinct. The
    # distinct-pairs table is materialized once (localCheckpoint) and the
    # eval side derives from it (distinct-of-distinct and filter-on-doc_id
    # commute, so both sides are row-identical to the old plan).
    from crowdsorsa_etl_spark.operators.fanout import cpu_fanout

    # cpu_fanout before the explode: the one-split documents scan ran
    # the interpreted shingle HOF + the distinct's partial aggregation on
    # ONE task — 6.2 s of the query's cold 10.6 s profile (r16, guide
    # §2.2); round-robin is a no-op at cluster scale
    pairs = (
        cpu_fanout(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(shingles(F.col("text"), 5)).alias("s"))
        .distinct()
        .localCheckpoint()
    )
    bench = (
        pairs.where(F.col("doc_id") % 97 == 0)
        .select("s").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        pairs.where(F.col("doc_id") % 97 != 0)
        .join(bench, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_shingles"), 6).alias("contamination"),
        )
    )


#: deterministic per-source sampling rates for the domain-mix demo — the
#: "upsample wiki, downsample web-crawl" knob of training-data recipes.
DOMAIN_RATES: dict[str, float] = (
    {f"src{i}": 1.0 for i in range(5)}
    | {f"src{i}": 0.5 for i in range(5, 10)}
    | {f"src{i}": 0.25 for i in range(10, 15)}
    | {f"src{i}": 0.1 for i in range(15, 20)}
)


def _domain_mix_sql() -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {r}" for s, r in DOMAIN_RATES.items()
    )
    return f"""
    WITH b AS (
      SELECT doc_id, source,
             CAST((instr('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                  + instr('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1
                  AS INT) AS bucket,
             CASE {cases} ELSE 0.0 END AS rate
      FROM documents
    )
    SELECT doc_id, source, bucket, rate,
           bucket < CAST(rate * 256 AS INT) AS sampled
    FROM b
    """


@register("llm_domain_mix", _domain_mix_sql())
def llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing / weighted source sampling: each source gets a target
    rate and docs are kept by deterministic md5 bucket — reproducible across
    runs and engines (rerunning the pipeline yields the identical sample,
    unlike rand()-based sampling), joinless, and fused into the scan. The
    oracle CASE is generated from the same DOMAIN_RATES table the Spark
    expression uses — parity by construction."""
    from crowdsorsa_etl_spark.operators.curation import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    rate = F.lit(0.0)
    for s, r in DOMAIN_RATES.items():
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    bucket = hash_bucket(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    return docs.select(
        "doc_id",
        "source",
        bucket.alias("bucket"),
        rate.alias("rate"),
        (bucket < (rate * 256).cast("int")).alias("sampled"),
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
    from crowdsorsa_etl_spark.operators.curation import (
        assign_split,
        quality_filter_signals,
        quality_filter_verdict,
    )
    from crowdsorsa_etl_spark.operators.dedup import exact_dedup

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


def _zorder_sql() -> str:
    from crowdsorsa_etl_spark.operators.zorder import z_value_sql

    z = z_value_sql(
        "o_custkey", "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
    )
    return f"""
    SELECT o_orderkey, {z} AS z,
           CAST({z} >> 22 AS BIGINT) AS z_bucket
    FROM orders
    """


@register("q49_zorder_keys", _zorder_sql())
def q49_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over (customer, order-day) — the
    layout expression behind operators/zorder.zorder_write, which
    range-partitions + sorts by this value so parquet min/max stats prune
    scans for predicates on EITHER dimension (the Delta OPTIMIZE ZORDER
    analog, as a pure codegen'd column expression). The oracle SQL is
    generated from the same bit-interleave loop — parity by construction."""
    from crowdsorsa_etl_spark.operators.zorder import z_value

    orders = _t(spark, sf_dir, "orders")
    z = z_value(
        F.col("o_custkey"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")),
    )
    return orders.select(
        "o_orderkey",
        z.alias("z"),
        F.shiftright(z, 22).cast("bigint").alias("z_bucket"),
    )


@register(
    "q52_schema_evolution",
    """
    SELECT doc_id, text, lang, source, n_chars, CAST(NULL AS DOUBLE) AS quality
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, text, lang, source, CAST(NULL AS BIGINT) AS n_chars,
           round(n_chars / 1000.0, 6) AS quality
    FROM documents WHERE doc_id % 2 = 1
    """,
)
def q52_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end (SURVEY §1.3; the reference's real
    2023→2024 column drift, crowdsorsa-etl-2023.R:48-58 vs
    crowdsorsa-etl-2024.R:44-50): write two drifted "seasons" of the
    documents table into ONE parquet directory — season 1 with the original
    shape, season 2 with renamed id/text columns, the n_chars column
    dropped, and a new quality column — then read it back with
    ``read_evolved`` (mergeSchema + declared-target conform: rename
    coalesce, missing→typed NULL, extras dropped). The oracle reconstructs
    the same union directly from the documents view, so the hash gate
    checks the whole write→merge→conform path."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from crowdsorsa_etl_spark.sources.evolution import read_evolved

    docs = _t(spark, sf_dir, "documents")
    target = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("quality", T.DoubleType()),
        ]
    )
    season1 = docs.where(F.col("doc_id") % 2 == 0)
    season2 = docs.where(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("id"),
        F.col("text").alias("body"),
        "lang",
        "source",
        F.round(F.col("n_chars") / 1000.0, 6).alias("quality"),
    )
    # process-unique scratch, not the shared fixture cache: this dir is
    # REBUILT every run (the write path IS the thing under test), and two
    # concurrent processes overwrite+append-ing one shared directory would
    # corrupt each other's reads (the overwrite/append pair is not atomic)
    with tempfile.TemporaryDirectory(
        prefix="q52_evolution_", ignore_cleanup_errors=True
    ) as tmp:
        base = os.path.join(tmp, "seasons")
        season1.write.parquet(base)
        season2.write.mode("append").parquet(base)
        return read_evolved(
            spark, base, target, rename_map={"id": "doc_id", "body": "text"}
        ).localCheckpoint()


_Q50_SQL = """
    WITH regional AS (
      SELECT n.n_name,
             CAST(count(*) AS BIGINT) AS n_customers,
             round(sum(c.c_acctbal), 2) AS total_bal
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name, n_customers, total_bal,
           CAST(rank() OVER (ORDER BY total_bal DESC, n_name) AS BIGINT)
             AS bal_rank
    FROM regional
"""


@register("q50_sql_parity", _Q50_SQL)
def q50_sql_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point as a first-class surface (SURVEY §3): this query
    is expressed ENTIRELY as ``spark.sql`` over ``register_views`` — the
    exact same ANSI string is the DuckDB oracle, so the hash gate proves the
    engine's SQL surface end-to-end (CTE, join, agg, window rank). The
    companion tests/test_sql_surface.py runs all 30 engine-portable oracle
    strings through this same path and asserts frame equality with their
    DataFrame builders."""
    from crowdsorsa_etl_spark.sources.parquet import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q50_SQL)


_Q51_SQL = """
    WITH d AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity, 2) AS DECIMAL(12,2)) AS qty,
             CAST(round(l_extendedprice, 2) AS DECIMAL(12,2)) AS price,
             CAST(round(l_discount, 2) AS DECIMAL(12,2)) AS disc,
             CAST(round(l_tax, 2) AS DECIMAL(12,2)) AS tax
      FROM lineitem
    )
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(qty) AS DECIMAL(20,2)) AS STRING) AS sum_qty,
           CAST(CAST(sum(price) AS DECIMAL(20,2)) AS STRING) AS sum_base,
           CAST(CAST(sum(price * (1 - disc)) AS DECIMAL(24,4)) AS STRING)
             AS sum_disc_price,
           CAST(CAST(sum(price * (1 - disc) * (1 + tax)) AS DECIMAL(30,6))
                AS STRING) AS sum_charge
    FROM d
    GROUP BY l_returnflag, l_linestatus
"""


@register("q51_decimal_aggs", _Q51_SQL)
def q51_decimal_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalType parity pack (SURVEY §1.2): TPC-H Q1's money math in
    exact fixed-point instead of double. The double→DECIMAL(12,2) entry
    cast goes through round(x,2) on BOTH engines (the repo's pinned
    rounding convention), after which every sum/product is EXACT decimal
    arithmetic — the final casts only widen precision, never round — so
    the hash gate pins Spark's decimal type-promotion semantics
    (sum → +10 precision, product → scale addition) against DuckDB's.
    Expressed via the SQL surface: the identical ANSI string runs on both
    engines."""
    from crowdsorsa_etl_spark.sources.parquet import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q51_SQL)


@register(
    "q53_dpp_prune",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE year(CAST(o_orderdate AS DATE)) IN (1994, 1995)
    GROUP BY o_orderpriority
    """,
)
def q53_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning demonstration: orders written partitioned
    by order year, then joined to a tiny year dimension whose filter is only
    known at runtime — Catalyst injects a dynamicpruningexpression into the
    fact scan's PartitionFilters, so only the 2 matching year directories
    are read (at 100 TB: the difference between scanning 2 partitions and
    scanning 7). The plan gate lives in tests/test_plans.py; the oracle is
    the equivalent static IN filter."""
    orders = _t(spark, sf_dir, "orders")
    base = _at_rest(  # reuse the partitioned copy across calls
        _sf_cache_dir(sf_dir, "dpp", "orders"),
        lambda stage: orders.withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year")
        .parquet(stage),
    )
    fact = spark.read.parquet(base)
    dim = spark.createDataFrame(
        [(y, 1 if y in (1994, 1995) else 0) for y in range(1990, 2001)],
        "d_year int, pick int",
    )
    return (
        fact.join(dim.where(F.col("pick") == 1), fact.o_year == F.col("d_year"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


