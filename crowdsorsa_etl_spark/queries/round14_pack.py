"""Round 14: byte-level BPE (tokenizer family #4, GPT-2-style byte
fallback), plus the round's training-serving additions.

Registration ORDER is load-bearing (the driver's correctness window
samples the first 50 registrations); this module is imported LAST by
queries/__init__.py, so its entries append after the round-13 tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.queries._shared import _t, register

_BYTEBPE_MERGES = 12

# per-fixture memo of the learned byte-level merge table — the bounded
# artifact (n_merges rows, a shipped tokenizer.json) shared by the encode
# and OOV queries, the _learned_bpe posture from round10_pack
_BYTEBPE_ARTIFACTS: dict = {}


def _learned_bytebpe(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> list[tuple[str, str]]:
    import os

    from crowdsorsa_etl_spark.operators.bytebpe import bytebpe_learn
    from crowdsorsa_etl_spark.queries._shared import (
        _json_sidecar_read,
        _json_sidecar_write,
        _sf_cache_dir,
    )

    cache_dir = _sf_cache_dir(sf_dir, f"bytebpe{n_merges}", "documents")
    key = (cache_dir, n_merges)
    if key not in _BYTEBPE_ARTIFACTS:
        # JSON sidecar: a fresh process (per-process memo) loads the
        # learned table instead of re-running the learn collect chain
        side = os.path.join(cache_dir, "learn.json")
        saved = _json_sidecar_read(side)
        if saved is not None:
            _BYTEBPE_ARTIFACTS[key] = [tuple(p) for p in saved["merges"]]
        else:
            docs = _t(spark, sf_dir, "documents")
            _BYTEBPE_ARTIFACTS[key] = [
                tuple(r["pair"].split(" "))
                for r in bytebpe_learn(docs, n_merges=n_merges).collect()
            ]
            _json_sidecar_write(side, {"merges": _BYTEBPE_ARTIFACTS[key]})
    return _BYTEBPE_ARTIFACTS[key]


# ===========================================================================
# llm_bytebpe_merges — byte-level BPE learn (GPT-2 byte fallback,
# operators/bytebpe.py): the corpus word dictionary seeds as UTF-8 hex
# byte pairs instead of characters, then the standard frequency-argmax
# merge loop. Same scale shape as llm_bpe_merges (one corpus aggregation,
# bounded driver loop); the oracle replays every learn stage over the
# byte-spaced dictionary — hex(encode(word)) is uppercase in both engines.
# ===========================================================================


def _bytebpe_merges_oracle() -> str:
    from crowdsorsa_etl_spark.operators.bytebpe import bytebpe_merges_sql

    return bytebpe_merges_sql(_BYTEBPE_MERGES)


@register("llm_bytebpe_merges", _bytebpe_merges_oracle())
def llm_bytebpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 12 byte-level BPE merges over the documents corpus."""
    from crowdsorsa_etl_spark.operators.bytebpe import bytebpe_learn

    return bytebpe_learn(
        _t(spark, sf_dir, "documents"), n_merges=_BYTEBPE_MERGES
    )


# ===========================================================================
# llm_bytebpe_encode — the APPLY side: every document tokenized with the
# corpus-learned byte-level merge table inside one Arrow mapInPandas stage
# (per-unique-word memoization, sequential-once merge replay). Output is
# the llm_bpe_encode gate shape (n_tokens + md5 of the full hex-symbol
# stream); the oracle re-learns AND re-applies all stages via the word-
# dictionary join chain, so a wrong learned merge or a wrong application
# both break the hash.
# ===========================================================================


def _bytebpe_encode_oracle() -> str:
    from crowdsorsa_etl_spark.operators.bytebpe import bytebpe_encode_sql

    return bytebpe_encode_sql(_BYTEBPE_MERGES)


@register("llm_bytebpe_encode", _bytebpe_encode_oracle())
def llm_bytebpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with the learned byte-level merge table."""
    from crowdsorsa_etl_spark.operators.bytebpe import bytebpe_encode

    docs = _t(spark, sf_dir, "documents")
    merges = _learned_bytebpe(spark, sf_dir, _BYTEBPE_MERGES)
    return bytebpe_encode(docs, merges)


# ===========================================================================
# llm_bytebpe_oov — the byte-fallback guarantee, MEASURED: the documents-
# learned vocabulary encodes the part-name word dictionary (the same probe
# whose 'z'-bearing words drive llm_bpe_oov's and llm_wordpiece_oov's
# nonzero [UNK] counts) and every final symbol is membership-tested
# against the closed vocabulary (256 byte symbols + merge tokens). n_unk
# is genuinely counted through the same left-join machinery as the
# char-level gate — the byte design makes it 0, the query does not
# hardcode it.
# ===========================================================================


def _bytebpe_oov_oracle() -> str:
    from crowdsorsa_etl_spark.operators.bytebpe import bytebpe_oov_sql

    return bytebpe_oov_sql(_BYTEBPE_MERGES)


@register("llm_bytebpe_oov", _bytebpe_oov_oracle())
def llm_bytebpe_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-OOV coverage probe: documents-learned byte-level vocabulary
    applied to part-name words (measured n_unk, byte fallback)."""
    from crowdsorsa_etl_spark.operators.bytebpe import bytebpe_oov_stats

    part = _t(spark, sf_dir, "part")
    merges = _learned_bytebpe(spark, sf_dir, _BYTEBPE_MERGES)
    return bytebpe_oov_stats(part, merges, text_col="p_name")


# ===========================================================================
# q112_kafka_decode — the Kafka ingest decode path GATED (VERDICT r11
# missing #4): decode_kafka_events (streaming/pipeline.py) is pure column
# expressions, so the contract holds on a BATCH frame of the exact wire
# shape readStream.format("kafka") produces — (key binary, value binary,
# topic, partition, offset, timestamp, timestampType). The query builds
# that frame deterministically from the events fixture (value = JSON with
# ts in long nanos — the documented wire format; every 97th record
# truncated to 10 bytes to exercise the permissive corrupt-drop branch)
# and runs the REAL decoder over it. The oracle rebuilds the wire frame
# with DuckDB's own JSON serializer and genuinely re-parses it
# (json_valid filter = the permissive drop, json_extract + casts = the
# schema projection, make_timestamp(ns // 1000) = the nanos finalize) —
# each engine round-trips its OWN serialization, so the hash pins the
# decode semantics, not a float-rendering convention.
# ===========================================================================


@register(
    "q112_kafka_decode",
    """
    WITH wire AS (
      SELECT CASE WHEN event_id % 97 = 0 THEN substr(j, 1, 10) ELSE j END
               AS value
      FROM (
        SELECT event_id,
               CAST(to_json(struct_pack(
                 event_id := event_id,
                 ts := epoch_us(ts) * 1000,
                 user_id := user_id,
                 event_type := event_type,
                 value := value,
                 props := props)) AS VARCHAR) AS j
        FROM events
      )
    )
    SELECT CAST(vj->>'$.event_id' AS BIGINT) AS event_id,
           make_timestamp(CAST(vj->>'$.ts' AS BIGINT) // 1000) AS ts,
           CAST(vj->>'$.user_id' AS BIGINT) AS user_id,
           CAST(vj->>'$.event_type' AS VARCHAR) AS event_type,
           CAST(vj->>'$.value' AS DOUBLE) AS value,
           CAST(vj->>'$.props' AS VARCHAR) AS props
    -- TRY_CAST is the permissive-mode replay: corrupt wire bytes become
    -- NULL JSON (never an error) and drop on the required-field test,
    -- exactly Spark's permissive from_json + event_id filter
    FROM (SELECT TRY_CAST(value AS JSON) AS vj FROM wire)
    WHERE vj->>'$.event_id' IS NOT NULL
    """,
)
def q112_kafka_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka wire frame (built from the events fixture, corrupt records
    included) through the real decode_kafka_events column program."""
    from crowdsorsa_etl_spark.streaming.pipeline import decode_kafka_events

    ev = _t(spark, sf_dir, "events")
    j = F.to_json(
        F.struct(
            F.col("event_id"),
            (F.unix_micros(F.col("ts")) * 1000).alias("ts"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
            F.col("props"),
        )
    )
    wire = ev.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.when(F.col("event_id") % 97 == 0, F.substring(j, 1, 10))
        .otherwise(j)
        .cast("binary")
        .alias("value"),
        F.lit("events").alias("topic"),
        (F.col("event_id") % 8).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    return decode_kafka_events(wire)


# ===========================================================================
# llm_chunk_udtf — the Python UDTF surface (SURVEY §2.2's declared
# UDF/UDTF row, VERDICT r11 missing #5), exercised on the RAG chunking
# shape: LATERAL chunk_words(text) expands every document into
# overlapping 32-word windows (stride 24) with exact char offsets — the
# row-multiplying contract a table function exists for. Arrow-optimized
# (ArrowEvalPythonUDTF in the plan, pytest-pinned: no row-at-a-time
# Python), scan pruned to (doc_id, text). The oracle is the canonical
# SQL rendering of the same table function: a LATERAL unnest over the
# integer-exact span list ((n-32+23)//24 windows) with the identical
# cumulative-offset arithmetic.
# ===========================================================================


@register(
    "llm_chunk_udtf",
    f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ),
    spans AS (
      SELECT doc_id, arr,
             CAST(k AS INT) AS chunk_idx,
             CAST(k * 24 AS INT) AS start_word,
             CAST(least(k * 24 + 32, len(arr)) - k * 24 AS INT)
               AS n_chunk_words
      FROM w, LATERAL UNNEST(range(0,
             CASE WHEN len(arr) <= 32 THEN 1
                  ELSE (len(arr) - 32 + 23) // 24 + 1 END)) AS t(k)
    ),
    built AS (
      SELECT doc_id, chunk_idx, start_word, n_chunk_words,
             CAST(coalesce(list_sum(list_transform(arr[1:start_word],
                    x -> len(x) + 1)), 0) AS INT) AS start_off,
             array_to_string(arr[start_word + 1 :
                                 start_word + n_chunk_words], ' ')
               AS chunk
      FROM spans
    )
    SELECT doc_id, chunk_idx, start_word, n_chunk_words, start_off,
           CAST(start_off + len(chunk) AS INT) AS end_off, chunk
    FROM built
    """,
)
def llm_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunks with char offsets via the registered
    Arrow Python UDTF in a LATERAL join."""
    import os

    from crowdsorsa_etl_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    _t(spark, sf_dir, "documents").createOrReplaceTempView(
        "_chunk_udtf_docs"
    )
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.start_word, c.n_chunk_words, "
        "c.start_off, c.end_off, c.chunk "
        "FROM _chunk_udtf_docs d, LATERAL chunk_words(d.text) c"
    )


# ===========================================================================
# llm_ann_recall_curve — the recall-vs-probes OPERATING CURVE (VERDICT r11
# next-#7): llm_ann_recall_audit reports one point; a 100 TB operator
# picks nprobe from data, so this emits micro-recall@5 of the IVF index
# at every probe budget in {1,2,4,8,16} (n_lists=16) against exact cosine
# ground truth. ONE shared pass (operators/similarity.ivf_topk_curve):
# train once, assign once, score candidates once with their probe rank
# attached, then one bounded per-budget window — never five index
# rebuilds. Budget 16 probes every list, so its recall is exactly 1.0 —
# the curve's built-in sanity anchor (pytest-pinned along with
# monotonicity). The oracle replays the same shared design: one kmeans
# CTE chain + probe-ranked candidates + five rank filters.
# ===========================================================================

_CURVE_PROBES = (1, 2, 4, 8, 16)


def _ann_curve_oracle() -> str:
    from crowdsorsa_etl_spark import lsh_oracles
    from crowdsorsa_etl_spark.queries.llm_pack import COSINE_TOPK_ORACLE_SQL

    kmeans, cent = lsh_oracles._kmeans_ctes(16, 2048, 5)
    branches = []
    for p in _CURVE_PROBES:
        branches.append(f"""
    tk{p} AS (
      SELECT query_id, neighbor_id
      FROM (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM s WHERE probe_rank <= {p}) t
      WHERE rank <= 5
    ),
    agg{p} AS (
      SELECT CAST({p} AS INT) AS n_probe,
             CAST(count(*) AS BIGINT) AS n_exact,
             CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
             round(count(a.neighbor_id) * 1.0 / count(*), 6) AS recall
      FROM exact_tk e
      LEFT JOIN tk{p} a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM agg{p}" for p in _CURVE_PROBES
    )
    return f"""
    WITH {kmeans},
    prober AS (
      SELECT q.id AS qid, ct.c AS list_id,
             CAST(row_number() OVER (PARTITION BY q.id
               ORDER BY list_dot_product(q.xv, ct.cv) DESC, ct.c ASC)
               AS INT) AS probe_rank
      FROM (SELECT id, xv FROM xn WHERE id < 10) q, {cent} ct
    ),
    cand AS (
      SELECT p.qid AS query_id, a.id AS neighbor_id, p.probe_rank
      FROM assignF a JOIN prober p
        ON a.list_id = p.list_id AND a.id != p.qid
    ),
    s AS (
      SELECT query_id, neighbor_id, probe_rank,
             round(list_dot_product(eq.v, en.v)
                   / (sqrt(list_dot_product(eq.v, eq.v))
                      * sqrt(list_dot_product(en.v, en.v))), 6) AS cosine
      FROM cand
      JOIN e eq ON eq.id = cand.query_id
      JOIN e en ON en.id = cand.neighbor_id
    ),
    exact_tk AS ({COSINE_TOPK_ORACLE_SQL}),
    {",".join(branches)}
    {union}
    """


@register("llm_ann_recall_curve", _ann_curve_oracle())
def llm_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-recall@5 of the IVF index at probe budgets 1,2,4,8,16 from
    one shared train/assign/score pass."""
    from crowdsorsa_etl_spark.operators.similarity import ivf_topk_curve
    from crowdsorsa_etl_spark.queries._shared import _ann_exact_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    curve = ivf_topk_curve(
        emb, probes, k=5, n_lists=16, probe_list=_CURVE_PROBES
    ).select("n_probe", "query_id", F.col("neighbor_id").alias("_an"))
    # memoized per-fixture ground truth (the jactruth_v1 posture)
    exact = _ann_exact_topk(spark, sf_dir)
    budgets = emb.sparkSession.createDataFrame(
        [(int(p),) for p in _CURVE_PROBES], "n_probe int"
    )
    ex = exact.crossJoin(F.broadcast(budgets))
    joined = ex.join(
        curve,
        (ex.n_probe == curve.n_probe)
        & (ex.query_id == curve.query_id)
        & (F.col("neighbor_id") == F.col("_an")),
        "left",
    ).select(ex.n_probe.alias("_p"), "neighbor_id", "_an")
    return joined.groupBy(F.col("_p").alias("n_probe")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.count(F.col("_an")).cast("bigint").alias("n_hit"),
        F.round(
            F.count(F.col("_an")) * F.lit(1.0) / F.count(F.lit(1)), 6
        ).alias("recall"),
    )


# ===========================================================================
# llm_pq_ivfpq_recall — the PQ-vs-IVFPQ half of the operating-curve ask
# (VERDICT r11 next-#7 parenthetical): recall@5 against exact cosine for
# the two quantized tiers at their shipped configurations — full-corpus
# PQ/ADC (llm_pq_topk's m=8, k_codes=64, margin=32) vs the persisted
# partition-pruned IVF-PQ index (llm_ivfpq_topk's n_lists=16, n_probe=8,
# same codebook config). Read next to llm_ann_recall_curve, this is the
# accuracy column of the ANN ladder's cost/recall tradeoff: IVF-PQ scans
# ~n_probe/n_lists of the codes for whatever recall it gives up here.
# Both tiers reuse the engine's own oracled components (the ivfpq tier
# reads the per-fixture persisted index); the oracle joins both full SQL
# replays against the exact CTE.
# ===========================================================================


def _pq_ivfpq_recall_oracle() -> str:
    from crowdsorsa_etl_spark import lsh_oracles
    from crowdsorsa_etl_spark.queries.llm_pack import COSINE_TOPK_ORACLE_SQL

    pq = lsh_oracles.pq_topk_sql(
        dim=64, m=8, k_codes=64, k=5, candidate_margin=32,
        sample_size=2048, iterations=4, query_pred="id < 10",
    )
    ivfpq = lsh_oracles.ivfpq_topk_sql(
        dim=64, k=5, n_lists=16, n_probe=8, m=8, k_codes=64,
        candidate_margin=32, sample_size=2048,
        ivf_iterations=5, pq_iterations=4, query_pred="id < 10",
    )
    def agg(name: str, cte: str) -> str:
        return f"""
      SELECT '{name}' AS tier,
             CAST(count(*) AS BIGINT) AS n_exact,
             CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
             round(count(a.neighbor_id) * 1.0 / count(*), 6) AS recall
      FROM exact_tk e
      LEFT JOIN {cte} a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id"""
    return f"""
    WITH exact_tk AS ({COSINE_TOPK_ORACLE_SQL}),
    pq_tk AS ({pq}),
    ivfpq_tk AS ({ivfpq})
    {agg('ivfpq', 'ivfpq_tk')}
    UNION ALL
    {agg('pq', 'pq_tk')}
    """


@register("llm_pq_ivfpq_recall", _pq_ivfpq_recall_oracle())
def llm_pq_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 vs exact cosine for full-corpus PQ/ADC and the persisted
    IVF-PQ index at their shipped configurations."""
    from crowdsorsa_etl_spark.queries._shared import _ann_exact_topk
    from crowdsorsa_etl_spark.queries.round7_pack import llm_pq_topk
    from crowdsorsa_etl_spark.queries.round8_pack import llm_ivfpq_topk

    # memoized per-fixture ground truth (the jactruth_v1 posture); the
    # two quantized tiers under audit still run LIVE — their cost is the
    # thing the recall column prices
    exact = _ann_exact_topk(spark, sf_dir)

    def recall_of(approx: DataFrame, tier: str) -> DataFrame:
        a = approx.select(
            "query_id", F.col("neighbor_id").alias("_an")
        )
        joined = exact.join(
            a,
            (exact.query_id == a.query_id)
            & (F.col("neighbor_id") == F.col("_an")),
            "left",
        ).select("neighbor_id", "_an")
        return joined.agg(
            F.lit(tier).alias("tier"),
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.count(F.col("_an")).cast("bigint").alias("n_hit"),
            F.round(
                F.count(F.col("_an")) * F.lit(1.0) / F.count(F.lit(1)), 6
            ).alias("recall"),
        )

    return recall_of(llm_ivfpq_topk(spark, sf_dir), "ivfpq").unionAll(
        recall_of(llm_pq_topk(spark, sf_dir), "pq")
    )


# ===========================================================================
# llm_bytebpe_token_ids — tokenizer family #4's id-export step, completing
# the learn/encode/ids/oov contract families #1-#3 carry. GPT-2 id
# convention: ids 0..255 ARE the byte values, merge tokens follow at
# 256+rank-1 — structural and corpus-independent (the char-level sorted
# vocab shifts when the alphabet grows; the byte vocab never does). The
# Spark side guards merge-token collisions loudly; the oracle's LEFT-join
# -1 sentinel keeps an impossible out-of-vocab piece attributable.
# ===========================================================================


def _bytebpe_ids_oracle() -> str:
    from crowdsorsa_etl_spark.operators.bytebpe import bytebpe_token_ids_sql

    return bytebpe_token_ids_sql(_BYTEBPE_MERGES)


@register("llm_bytebpe_token_ids", _bytebpe_ids_oracle())
def llm_bytebpe_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc byte-BPE token-id stream (structural GPT-2 ids): count +
    md5 of the comma-joined id sequence."""
    from crowdsorsa_etl_spark.operators.bytebpe import bytebpe_token_ids

    docs = _t(spark, sf_dir, "documents")
    merges = _learned_bytebpe(spark, sf_dir, _BYTEBPE_MERGES)
    return bytebpe_token_ids(docs, merges)


# ===========================================================================
# llm_tokenizer_compression — the which-tokenizer datasheet number: corpus
# totals and compression (tokens/word, chars/token) for the char-level
# 8-merge BPE vs the byte-level 12-merge BPE on the SAME corpus — the
# tradeoff a vocabulary decision reads (byte-level guarantees zero OOV
# but pays more symbols per word at equal merge budget; chars/token uses
# the shared no-space char total). Both encode chains already replay in
# SQL; the oracle composes the two word-dictionary joins and aggregates
# the exact BIGINT totals, one division per ratio.
# ===========================================================================


def _tok_compression_oracle() -> str:
    from crowdsorsa_etl_spark.operators.bpe import _encode_chain_ctes
    from crowdsorsa_etl_spark.operators.bytebpe import _bytebpe_learn_ctes
    from crowdsorsa_etl_spark.queries._shared import _NORM_SQL

    char_ctes, char_final = _encode_chain_ctes(8)
    # DuckDB rejects duplicate CTE aliases even across nesting levels, so
    # the byte chain composes under a "by" name prefix
    byte_ctes = _bytebpe_learn_ctes(12, prefix="by")
    return f"""
    WITH {",".join(char_ctes)},
    {",".join(byte_ctes)},
    chartot AS (
      SELECT CAST(sum(len(string_split(rep, ' '))) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_words
      FROM docw JOIN {char_final} USING (word)
    ),
    bytetot AS (
      SELECT CAST(sum(len(string_split(w.rep, ' '))) AS BIGINT)
               AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_words
      FROM docw JOIN byw12 w USING (word)
    ),
    chars AS (
      SELECT CAST(sum(len(replace({_NORM_SQL}, ' ', ''))) AS BIGINT)
               AS n_chars
      FROM documents
    )
    SELECT 'bpe_char_8' AS family, t.n_tokens, t.n_words,
           round(t.n_tokens * 1.0 / t.n_words, 6) AS tokens_per_word,
           round(c.n_chars * 1.0 / t.n_tokens, 6) AS chars_per_token
    FROM chartot t, chars c
    UNION ALL
    SELECT 'bpe_byte_12' AS family, t.n_tokens, t.n_words,
           round(t.n_tokens * 1.0 / t.n_words, 6) AS tokens_per_word,
           round(c.n_chars * 1.0 / t.n_tokens, 6) AS chars_per_token
    FROM bytetot t, chars c
    """


@register("llm_tokenizer_compression", _tok_compression_oracle())
def llm_tokenizer_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus compression comparison: char-level BPE(8) vs byte-level
    BPE(12) — token totals, tokens/word, chars/token."""
    from crowdsorsa_etl_spark.functions.text import normalize_text
    from crowdsorsa_etl_spark.operators.bpe import bpe_encode
    from crowdsorsa_etl_spark.operators.bytebpe import bytebpe_encode
    from crowdsorsa_etl_spark.queries.round10_pack import _learned_bpe

    docs = _t(spark, sf_dir, "documents")
    nt = normalize_text(F.col("text"))
    words = F.filter(F.split(nt, " "), lambda w: F.length(w) > 0)
    totals = docs.select(
        F.size(words).cast("bigint").alias("_w"),
        F.length(F.replace(nt, F.lit(" "), F.lit(""))).cast("bigint").alias("_c"),
    ).agg(
        F.sum("_w").cast("bigint").alias("n_words_all"),
        F.sum("_c").cast("bigint").alias("n_chars"),
    )

    char_merges, _, _ = _learned_bpe(spark, sf_dir, 8, with_vocab=False)
    byte_merges = _learned_bytebpe(spark, sf_dir, _BYTEBPE_MERGES)

    def tot(enc: DataFrame, family: str) -> DataFrame:
        return (
            enc.agg(F.sum("n_tokens").cast("bigint").alias("n_tokens"))
            .join(F.broadcast(totals))
            .select(
                F.lit(family).alias("family"),
                "n_tokens",
                F.col("n_words_all").alias("n_words"),
                F.round(
                    F.col("n_tokens") * F.lit(1.0) / F.col("n_words_all"), 6
                ).alias("tokens_per_word"),
                F.round(
                    F.col("n_chars") * F.lit(1.0) / F.col("n_tokens"), 6
                ).alias("chars_per_token"),
            )
        )

    return tot(bpe_encode(docs, char_merges), "bpe_char_8").unionAll(
        tot(bytebpe_encode(docs, byte_merges), "bpe_byte_12")
    )


# ===========================================================================
# llm_l_diversity — the governance gate NEXT TO k-anonymity: a QI class
# can pass k-anonymity (enough rows) yet still leak the sensitive
# attribute when all its rows SHARE one value (the homogeneity attack,
# Machanavajjhala et al. 2007). QI = (lang, pow2 char-length bucket) —
# llm_k_anonymity's quasi-identifier minus the sensitive column — and
# `source` plays the sensitive attribute: classes whose distinct-source
# count < l=3 are at risk. Two aggregations (QI-keyed distinct count,
# 2-scalar summary broadcast back); exact BIGINTs, one ratio division.
# ===========================================================================

_LDIV_L = 3


@register(
    "llm_l_diversity",
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
      SELECT lang, len_bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM q GROUP BY lang, len_bucket
    ),
    summary AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
             CAST(coalesce(sum(CASE WHEN n_sources < {_LDIV_L}
                                    THEN n_docs ELSE 0 END), 0) AS BIGINT)
               AS at_risk_docs
      FROM classes
    )
    SELECT c.lang, c.len_bucket, c.n_docs, c.n_sources,
           round(s.at_risk_docs * 1.0 / s.total_docs, 6) AS at_risk_frac
    FROM classes c, summary s
    WHERE c.n_sources < {_LDIV_L}
    """,
)
def llm_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QI classes whose sensitive attribute (source) has fewer than l=3
    distinct values — the homogeneity-attack check k-anonymity misses."""
    from crowdsorsa_etl_spark.queries.round13_pack import _pow2_bucket

    docs = _t(spark, sf_dir, "documents")
    q = docs.select(
        "lang", "source", _pow2_bucket(F.col("n_chars")).alias("len_bucket")
    )
    classes = q.groupBy("lang", "len_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    summary = classes.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("n_sources") < _LDIV_L, F.col("n_docs")
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("at_risk_docs"),
    )
    return (
        classes.filter(F.col("n_sources") < _LDIV_L)
        .join(F.broadcast(summary))
        .select(
            "lang",
            "len_bucket",
            "n_docs",
            "n_sources",
            F.round(
                F.col("at_risk_docs") * F.lit(1.0) / F.col("total_docs"), 6
            ).alias("at_risk_frac"),
        )
    )


# ===========================================================================
# llm_contamination_curve — the n-gram-size sensitivity sweep behind the
# decontamination rule (GPT-3 used 13-grams, PaLM 8, many evals 5): the
# contaminated-doc share at k ∈ {3,5,8,13} against the same eval split as
# llm_contamination — pick k from MEASURED sensitivity, not folklore
# (small k over-flags via common phrases; large k misses paraphrase-edge
# overlap). The llm_ann_recall_curve posture applied to decontamination.
# ONE tokenize + ONE explode emits every k's shingles tagged (k, s)
# (text.tagged_shingles), so all four tiers ride a single corpus scan,
# one composite-key semi-join, and one distinct — not four of each (the
# pre-round-16 form; sf0.1 3.7 s → one-pass). Exact BIGINT counts, one
# division; a zero-hit k still emits its row via the bounded k-frame
# left join.
# ===========================================================================

_CONTAM_KS = (3, 5, 8, 13)


def _contamination_curve_oracle() -> str:
    branches = []
    for k in _CONTAM_KS:
        # ungrouped aggregate + scalar n_train_docs: a k with ZERO
        # contaminated docs must still emit its row (count over the
        # empty filter is 0, not absent)
        branches.append(f"""
    SELECT CAST({k} AS INT) AS k,
           (SELECT n_train_docs FROM tr) AS n_train_docs,
           CAST(count(DISTINCT sh.doc_id) AS BIGINT) AS n_contaminated,
           round(count(DISTINCT sh.doc_id) * 1.0
                 / (SELECT n_train_docs FROM tr), 6)
             AS contaminated_frac
    FROM (
      SELECT doc_id, array_to_string(l[i:i+{k - 1}], ' ') AS s
      FROM (SELECT doc_id, l,
                   unnest(generate_series(1, greatest(len(l) - {k - 1}, 1)))
                     AS i
            FROM toks)
    ) sh
    WHERE sh.doc_id % 97 <> 0
      AND sh.s IN (
        SELECT array_to_string(l[i:i+{k - 1}], ' ')
        FROM (SELECT doc_id, l,
                     unnest(generate_series(1,
                        greatest(len(l) - {k - 1}, 1))) AS i
              FROM toks)
        WHERE doc_id % 97 = 0
      )""")
    union = "\n    UNION ALL\n".join(branches)
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS l
      FROM documents
    ),
    tr AS (
      SELECT CAST(count(*) AS BIGINT) AS n_train_docs
      FROM documents WHERE doc_id % 97 <> 0
    )
    {union}
    """


@register("llm_contamination_curve", _contamination_curve_oracle())
def llm_contamination_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated-doc share at n-gram sizes 3/5/8/13 vs the doc_id%97
    eval split — the k-sensitivity behind the decontamination rule.
    One corpus pass: every k's shingles come tagged out of one explode."""
    from crowdsorsa_etl_spark.functions.text import tagged_shingles
    from crowdsorsa_etl_spark.operators.fanout import cpu_fanout

    docs = _t(spark, sf_dir, "documents")
    tr = docs.filter(F.col("doc_id") % 97 != 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train_docs")
    )
    # fan out BEFORE the explode: shingle building is interpreted-HOF CPU
    # (lambdas never enter whole-stage codegen), so a single-split local
    # fixture would serialize the whole sweep on one core
    sh = cpu_fanout(docs.select("doc_id", "text")).select(
        "doc_id",
        F.explode(tagged_shingles(F.col("text"), _CONTAM_KS)).alias("ks"),
    ).select("doc_id", F.col("ks.k").alias("k"), F.col("ks.s").alias("s"))
    bench = (
        sh.filter(F.col("doc_id") % 97 == 0).select("k", "s").distinct()
    )
    counts = (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(bench, ["k", "s"], "left_semi")
        .select("k", "doc_id")
        .distinct()
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    # bounded k-frame left join: a zero-hit k must still emit its row
    k_frame = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _CONTAM_KS])).alias("k0")
    ).select(F.col("k0").cast("int").alias("k"))
    return (
        k_frame.join(counts, "k", "left")
        .join(F.broadcast(tr))
        .select(
            "k",
            "n_train_docs",
            F.coalesce(F.col("hits"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0))
                * F.lit(1.0)
                / F.col("n_train_docs"),
                6,
            ).alias("contaminated_frac"),
        )
    )
