"""Retrieval: exact and LSH cosine top-k, IVF/PQ/IVF-PQ indexes (built,
persisted, appended), BM25 and hybrid fusion, SemDeDup, bitext mining,
chunking, JL projection and the ANN recall audits.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark import lsh_oracles
from crowdsorsa_etl_spark.functions.portable_hash import h64_spark, h64_sql
from crowdsorsa_etl_spark.functions.text import normalize_text
from crowdsorsa_etl_spark.functions.udtfs import register_udtfs
from crowdsorsa_etl_spark.operators.bm25 import (
    bm25_append_index,
    bm25_query_index,
    bm25_topk,
    bm25_write_index,
    rrf_fuse,
)
from crowdsorsa_etl_spark.operators.checkpointing import materialize
from crowdsorsa_etl_spark.operators.chunking import chunk_documents
from crowdsorsa_etl_spark.operators.pca import embedding_covariance
from crowdsorsa_etl_spark.operators.pq import (
    ivfpq_append_index,
    ivfpq_query_index,
    ivfpq_write_index,
    pq_topk,
)
from crowdsorsa_etl_spark.operators.quantize import (
    cosine_topk_quantized,
    quantize_embeddings,
)
from crowdsorsa_etl_spark.operators.similarity import (
    bitext_margin_pairs,
    bitext_margin_sql,
    cosine_topk,
    cosine_topk_vectorized,
    embedding_cosine_pairs,
    embedding_cosine_pairs_lsh,
    hard_negative_topk,
    ivf_topk,
    ivf_topk_curve,
    l2_norm,
    lsh_topk,
    merge_topk,
    semdedup,
)
from crowdsorsa_etl_spark.queries._shared import (
    _NORM_SQL,
    _ann_exact_topk,
    _at_rest,
    _scratch_copy,
    _sf_cache_dir,
    _t,
    register,
)

# shared with llm_cosine_topk_vectorized (same query shape; since round 7 the
# BLAS path re-scores its candidates with the expression path, so both are
# bit-identical to this oracle)
COSINE_TOPK_ORACLE_SQL = """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    s AS (SELECT query_id, neighbor_id,
                 round(list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(cv, cv))), 6) AS cosine
          FROM q JOIN c ON neighbor_id != query_id)
    SELECT query_id, neighbor_id, cosine, rank
    FROM (SELECT *, CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
          FROM s)
    WHERE rank <= 5
    """


@register("llm_cosine_topk", COSINE_TOPK_ORACLE_SQL)
def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k (the ANN baseline + oracle truth)."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register("llm_lsh_topk", lsh_oracles.lsh_topk_sql())
def llm_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k. Oracle since round 6: the hyperplanes are
    deterministic literals, so the DuckDB SQL re-derives the same buckets,
    candidate pairs, and sequential-cosine re-rank
    (lsh_oracles.lsh_topk_sql) — candidate-for-candidate hash parity."""
    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.filter(F.col("vec_id") < 10), dim=64, k=5)


@register(
    "llm_embedding_dups",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.35
    """,
)
def llm_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (the ground truth the LSH tier
    is recall-gated against; quadratic — verify-only at scale)."""
    return embedding_cosine_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.35)


@register("llm_embedding_dups_lsh", lsh_oracles.embedding_dups_lsh_sql())
def llm_embedding_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH embedding near-dup pairs — the 100 TB path. Oracle since
    round 6: the DuckDB SQL replays bucket assignment from the same plane
    literals and verifies the deduped candidates with the sequential
    expression-path cosine the operator rescores with after its BLAS
    prefilter; recall vs the exact pairs stays gated in
    tests/test_operators.py."""
    return embedding_cosine_pairs_lsh(
        _t(spark, sf_dir, "embeddings"), dim=64, threshold=0.35
    )


@register("llm_ivf_topk", lsh_oracles.ivf_topk_sql(n_lists=16, n_probe=8))
def llm_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k. Oracle since round 6: the sample trainer is fully
    deterministic (first-N init, first-occurrence argmax, stable argsort
    probes — all integer decisions, robust to summation-order ulp), so the
    DuckDB SQL replays the 5 unrolled Lloyd iterations, list assignment,
    probe selection, and raw-vector re-rank end to end
    (lsh_oracles.ivf_topk_sql). Recall gate vs exact cosine_topk stays in
    tests/test_operators.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_lists=16, n_probe=8
    )


@register(
    "llm_embedding_stats",
    """
    SELECT label,
           count(*) AS n_vectors,
           round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 6)
             AS avg_norm,
           round(max(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 6)
             AS max_norm
    FROM embeddings
    GROUP BY label
    """,
)
def llm_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    norm = l2_norm(F.col("embedding"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(norm), 6).alias("avg_norm"),
        F.round(F.max(norm), 6).alias("max_norm"),
    )


def _cosine_topk_oracle_sql() -> str:
    return COSINE_TOPK_ORACLE_SQL


@register("llm_cosine_topk_vectorized", _cosine_topk_oracle_sql())
def llm_cosine_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numpy/BLAS variant of llm_cosine_topk — hash-oracled since round 7:
    BLAS selects top-(k+margin) candidates at memory bandwidth, then the
    expression path re-scores them with the oracle's exact accumulation
    order and rounding, so the output is bit-identical to llm_cosine_topk
    (shared oracle SQL). The BLAS/expression agreement test remains in
    tests/test_operators.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_vectorized(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "llm_quantized_topk",
    """
    WITH e AS (
      SELECT vec_id,
             unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    s AS (
      SELECT vec_id,
             CASE WHEN max(abs(x)) > 0 THEN 127.0 / max(abs(x))
                  ELSE 0.0 END AS scale
      FROM e GROUP BY vec_id
    ),
    q AS (
      SELECT e.vec_id, e.i,
             CAST(round(e.x * s.scale) AS BIGINT) AS qx
      FROM e JOIN s ON e.vec_id = s.vec_id
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             CAST(sum(a.qx * b.qx) AS BIGINT) AS dot,
             CAST(sum(a.qx * a.qx) AS BIGINT) AS na,
             CAST(sum(b.qx * b.qx) AS BIGINT) AS nb
      FROM q a JOIN q b ON a.i = b.i AND b.vec_id <> a.vec_id
      WHERE a.vec_id < 5
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, vec_id,
             round(CAST(dot AS DOUBLE)
                   / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))),
                   6) AS cosine_q
      FROM pairs
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_q,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cosine_q DESC, vec_id
             ) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine_q, rank FROM ranked WHERE rank <= 10
    """,
)
def llm_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine over int8-quantized embeddings
    (``operators/quantize``): 4x narrower vectors, dot/norms computed
    entirely on integers JVM-side (the per-vector scale cancels in
    cosine), query set broadcast so the corpus never shuffles. The oracle
    re-derives the same symmetric quantization in SQL (unnest +
    per-vector scale + integer dot)."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus_q = quantize_embeddings(emb)
    queries_q = quantize_embeddings(emb.filter(F.col("vec_id") < 5))
    return cosine_topk_quantized(corpus_q, queries_q, k=10)


@register("llm_semdedup", lsh_oracles.semdedup_sql(n_clusters=16, epsilon=0.45))
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (embedding-space semantic dedup): cluster-bounded pairwise
    removal (``operators/similarity.semdedup``). Oracle since round 6: the
    sample trainer replay (lsh_oracles._kmeans_ctes) plus the per-cluster
    ranking and higher-ranked-neighbor removal rule, with centroid_sim at
    the same float32 centroid precision Spark uses. The keep-set-invariant
    test in tests/test_graph.py (planted near-duplicates, numpy-verified)
    stays as the semantic gate. The fixture embeddings are random (max
    pairwise cosine ~0.5) so epsilon 0.45 exercises the removal path at
    this scale."""
    emb = _t(spark, sf_dir, "embeddings")
    out = semdedup(emb, n_clusters=16, epsilon=0.45)
    return out.orderBy("vec_id")


# ===========================================================================
# Round 4: full-corpus distributed k-means tier (SemDeDup / IVF at scale)
# ===========================================================================


@register(
    "llm_semdedup_scaled",
    lsh_oracles.semdedup_sql(n_clusters=64, epsilon=0.45, sample_size=1_000_000_000),
)
def llm_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at 64 clusters trained on the FULL corpus with distributed
    Lloyd iterations (``operators/similarity.kmeans_train_distributed``) —
    the 100 TB configuration, where n_clusters must track corpus size to
    keep the in-cluster |c|^2 pair step bounded (the paper's ~1e5-cluster
    regime). Oracle since round 6: with the trainer's merge fold made
    deterministic (array_sort), the full-corpus sequential Lloyd replay
    (semdedup_sql with the sample = the whole corpus) produces the same
    integer clustering decisions — the distributed partial sums differ from
    the SQL's sequential sums only in the last ulp, far inside the argmax
    margins. Trainer-parity (1e-6), planted-duplicate keep-set, and
    keep-rate gates remain in tests/."""
    emb = _t(spark, sf_dir, "embeddings")
    out = semdedup(emb, n_clusters=64, epsilon=0.45, trainer="distributed")
    return out.orderBy("vec_id")


@register(
    "llm_ivf_topk_scaled",
    lsh_oracles.ivf_topk_sql(n_lists=64, n_probe=16, sample_size=1_000_000_000),
)
def llm_ivf_topk_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k with the coarse quantizer trained on the FULL corpus
    (distributed Lloyd) at n_lists=64 — the configuration a 100 TB corpus
    needs (n_lists ~ sqrt(N) exceeds any driver-side sample). Oracle since
    round 6 (same determinism argument as llm_semdedup_scaled: sorted
    partial-sum fold + ulp-robust integer decisions); recall >= 0.85 vs
    exact cosine_topk stays gated in tests/test_operators.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        n_lists=64,
        n_probe=16,
        trainer="distributed",
    )


# ===========================================================================
# llm_bm25_topk — Okapi BM25 lexical retrieval over the documents corpus.
#
# The standard lexical tier of a training-data pipeline: decontamination
# sweeps, eval-set retrieval, and quality-weighted sampling all need a
# scalable "top documents for this query" primitive that doesn't require
# embeddings. Formula: Lucene BM25 (k1 = 1.2, b = 0.75,
# idf = ln(1 + (N − df + 0.5)/(df + 0.5))).
#
# Shuffle shape (the one you'd want at 100 TB): tokenize → ONE shuffle for
# (doc, term) postings; doc lengths fold from postings with a partial agg;
# corpus stats (N, avgdl) are a lazy 1-row broadcast; the query-term table
# broadcasts, so df and scoring touch only postings rows whose term is in a
# query (predicate pushdown through the broadcast join). No corpus re-scan,
# no all-pairs anything.
#
# Float-parity design for the oracle: per-term contributions round to 6 dp
# BEFORE the per-(query,doc) sum, so both engines sum identical multiples of
# 1e-6 and the re-rounded total is engine-independent regardless of
# summation order; ln/÷ inputs are bit-identical doubles (glibc on both).
# ===========================================================================

_BM25_QUERIES: list[tuple[int, str]] = [
    (1, "hash join"),
    (2, "window agg stream"),
    (3, "slow scan filter"),
]
_BM25_K = 10

_BM25_TERMS = sorted({t for _, q in _BM25_QUERIES for t in q.split()})
_BM25_CONTRIB_SQL = (
    "round(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))"
    " * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6)"
)

_BM25_ORACLE_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS t
      FROM documents
    ),
    postings AS (
      SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, t
    ),
    dlen AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dlen
    ),
    q(query_id, t) AS (VALUES {", ".join(f"({i}, '{t}')" for i, s in _BM25_QUERIES for t in s.split())}),
    dft AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df
      FROM postings
      WHERE t IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
      GROUP BY t
    ),
    contrib AS (
      SELECT q.query_id, p.doc_id, {_BM25_CONTRIB_SQL} AS c
      FROM postings p
      JOIN q ON p.t = q.t
      JOIN dft ON p.t = dft.t
      JOIN dlen ON p.doc_id = dlen.doc_id
      CROSS JOIN stats
    ),
    scores AS (
      SELECT query_id, doc_id, round(sum(c), 6) AS bm25
      FROM contrib GROUP BY query_id, doc_id
    )
    SELECT CAST(query_id AS INT) AS query_id, doc_id, bm25, rank
    FROM (SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS INT)
               AS rank
          FROM scores)
    WHERE rank <= {_BM25_K}
"""


@register("llm_bm25_topk", _BM25_ORACLE_SQL)
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per query under Lucene-style BM25, full hash oracle
    (see the block comment above for the scale shape and float-parity
    conventions). Round 8: runs through the shared operators/bm25 core —
    the literal queries become a 3-row query TABLE (the generalized input
    contract; llm_bm25_querytable / llm_bm25_incremental exercise the
    derived-table and index-at-rest forms)."""
    docs = _t(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id int, text string")
    return bm25_topk(docs, qdf, k=_BM25_K)


# ===========================================================================
# llm_doc_chunking — fixed-window training-chunk materialization.
#
# The step between curation and tokenization: long documents become
# fixed-size token windows with overlap (here 64-token chunks, stride 48 →
# 16-token overlap), keeping the short tail chunk. Pure column expressions:
# split once, sequence() the starts, posexplode, slice — whole-stage
# codegen'd, no Python, one narrow stage (chunking is embarrassingly
# parallel; output rows ≈ tokens/stride per doc).
# ===========================================================================

_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48


@register(
    "llm_doc_chunking",
    f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks
      FROM documents WHERE length(trim(text)) > 0
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n,
             range(0, len(toks), {_CHUNK_STRIDE}) AS starts
      FROM base
    )
    SELECT doc_id,
           CAST(generate_subscripts(starts, 1) - 1 AS INT) AS chunk_idx,
           CAST(unnest(starts) AS INT) AS start_token,
           CAST(least({_CHUNK_SIZE}, n - unnest(starts)) AS INT) AS n_tokens,
           array_to_string(
             toks[unnest(starts) + 1 :
                  least(unnest(starts) + {_CHUNK_SIZE}, n)], ' ') AS chunk_text
    FROM sized
    """,
)
def llm_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunks per document (64/48), hash-oracled
    including the chunk text itself (shared grid: operators/chunking)."""
    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(
        docs, size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )


# ===========================================================================
# llm_pq_topk — product quantization ANN (see operators/pq.py docstring for
# the compression arithmetic and the determinism contract that makes the
# full k-means-replay oracle possible).
# ===========================================================================



@register(
    "llm_pq_topk",
    lsh_oracles.pq_topk_sql(
        dim=64, m=8, k_codes=64, k=5, candidate_margin=32,
        sample_size=2048, iterations=4, query_pred="id < 10",
    ),
)
def llm_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k with exact re-rank, fully hash-oracled:
    DuckDB replays the per-subspace k-means (long-format unrolled Lloyd
    iterations), the corpus encoding, the 6-dp distance tables, the ADC
    candidate ranking, and the sequential-cosine re-score."""
    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, emb.filter(F.col("vec_id") < 10),
        k=5, m=8, k_codes=64, candidate_margin=32,
        sample_size=2048, iterations=4,
    )


# ===========================================================================
# llm_ivfpq_topk — IVF-PQ: PQ codes persisted partitioned by IVF list;
# query = partition-pruned ADC + exact re-rank. The composed production
# shape of the ANN ladder (see operators/pq.ivfpq_write_index). The oracle
# replays BOTH trainers symbolically: the coarse spherical k-means
# (shared with llm_ivf_topk) and the per-subspace codebooks (shared with
# llm_pq_topk), then restricts ADC to probed lists exactly as the
# partition-pruned scan does.
# ===========================================================================


@register(
    "llm_ivfpq_topk",
    lsh_oracles.ivfpq_topk_sql(
        dim=64, k=5, n_lists=16, n_probe=8, m=8, k_codes=64,
        candidate_margin=32, sample_size=2048,
        ivf_iterations=5, pq_iterations=4, query_pred="id < 10",
    ),
)
def llm_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN through the PERSISTED index: build once per fixture
    (codes partitioned by list_id, centroids + codebooks alongside), then
    search via pruned partition read + codegen ADC + exact re-rank. The
    query plan has zero Python stages — encoding happened at write time."""
    emb = _t(spark, sf_dir, "embeddings")
    # tag carries the index parameters: changing them (or the encode
    # format — bump the v1) invalidates the cached layout instead of
    # serving an index the oracle no longer describes
    path = _at_rest(
        _sf_cache_dir(sf_dir, "ivfpq_v2_l16m8k64", "embeddings"),
        lambda stage: ivfpq_write_index(
            emb, stage,
            n_lists=16, m=8, k_codes=64, sample_size=2048, pq_iterations=4,
        ),
    )
    return ivfpq_query_index(
        spark, path, emb.filter(F.col("vec_id") < 10),
        k=5, n_probe=8, candidate_margin=32,
    )


# ===========================================================================
# llm_bm25_querytable / llm_bm25_incremental — the round-7 verdict's BM25
# gaps closed: queries as a DataFrame (here DERIVED from the corpus inside
# the plan — the decontamination-sweep shape: "for each eval doc, find the
# training docs it retrieves"), and the postings index as an append-only
# materialized view whose post-append results are proven IDENTICAL to a
# full rebuild by the cross-engine oracle (the same merged≡rebuilt gate as
# q67/q91). See operators/bm25.py for the MV algebra and scale shape.
# ===========================================================================


def _bm25_qt_sql(k: int = 10) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS t
      FROM documents
    ),
    postings AS (
      SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, t
    ),
    dlen AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dlen
    ),
    qt AS (
      SELECT CAST(doc_id AS INT) AS query_id,
             string_split({_NORM_SQL}, ' ') AS qtoks
      FROM documents WHERE doc_id < 3
    ),
    q AS (SELECT query_id, unnest(qtoks[1:4]) AS t FROM qt),
    dft AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df
      FROM postings
      WHERE t IN (SELECT DISTINCT t FROM q)
      GROUP BY t
    ),
    contrib AS (
      SELECT q.query_id, p.doc_id, {_BM25_CONTRIB_SQL} AS c
      FROM postings p
      JOIN q ON p.t = q.t
      JOIN dft ON p.t = dft.t
      JOIN dlen ON p.doc_id = dlen.doc_id
      CROSS JOIN stats
    ),
    scores AS (
      SELECT query_id, doc_id, round(sum(c), 6) AS bm25
      FROM contrib GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, bm25, rank
    FROM (SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS INT)
               AS rank
          FROM scores)
    WHERE rank <= {k}
"""


@register("llm_bm25_querytable", _bm25_qt_sql())
def llm_bm25_querytable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with a query TABLE built inside the plan: each of the first
    three documents' leading 4 tokens becomes a query — no literals
    anywhere, the full decontamination-sweep shape. Hash-oracled."""
    docs = _t(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").cast("int").alias("query_id"),
        F.array_join(
            F.slice(F.split(normalize_text(F.col("text")), " "), 1, 4), " "
        ).alias("text"),
    )
    return bm25_topk(docs, queries, k=10)


@register("llm_bm25_incremental", _BM25_ORACLE_SQL)
def llm_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 through the index AT REST after incremental maintenance: the
    90%-corpus base postings are MEMOIZED per fixture (an index is at rest
    between ingests by definition — the q100/shard-store posture), each
    run copies the seed aside and runs the LIVE work this query
    demonstrates: the 10% APPEND (pure file append — distributive MV,
    existing rows untouched) and the query. The oracle is the FULL-corpus
    BM25 (identical to llm_bm25_topk's), so the hash match proves
    merged ≡ rebuilt across engines."""
    docs = _t(spark, sf_dir, "documents")
    seed = _at_rest(
        _sf_cache_dir(sf_dir, "bm25base_v1", "documents"),
        lambda stage: bm25_write_index(
            docs.filter(F.col("doc_id") % 10 != 0), f"{stage}/i"
        ),
    )
    with _scratch_copy(seed) as root:
        path = f"{root}/i"
        bm25_append_index(docs.filter(F.col("doc_id") % 10 == 0), path)
        qdf = spark.createDataFrame(_BM25_QUERIES, "query_id int, text string")
        return materialize(bm25_query_index(spark, path, qdf, k=10))


# ===========================================================================
# llm_hybrid_retrieval — BM25 ⊕ dense-cosine reciprocal-rank fusion, the
# standard hybrid retrieval shape of a RAG / decontamination stack. Both
# retrievers are the engine's own oracled components; the fusion is
# operators/bm25.rrf_fuse, and the oracle composes both rankings' SQL and
# replays the 1/(60+rank) contributions exactly.
# ===========================================================================

_HYBRID_K_LIST = 20
_HYBRID_TOP = 10

_HYBRID_SQL = f"""
    WITH bm AS ({{bm}}),
    cosr AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT q.query_id, c.neighbor_id,
               CAST(row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv, c.cv)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                 c.neighbor_id ASC) AS INT) AS rank
        FROM (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 3) q
        JOIN (SELECT vec_id AS neighbor_id,
                     CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings) c ON c.neighbor_id != q.query_id
      ) WHERE rank <= {_HYBRID_K_LIST}
    ),
    bmc AS (
      SELECT CAST(query_id AS INT) AS query_id, doc_id AS item_id,
             round(1.0 / (60 + rank), 6) AS c0
      FROM bm
    ),
    cc AS (
      SELECT CAST(query_id AS INT) AS query_id, neighbor_id AS item_id,
             round(1.0 / (60 + rank), 6) AS c1
      FROM cosr
    ),
    m AS (
      SELECT coalesce(bmc.query_id, cc.query_id) AS query_id,
             coalesce(bmc.item_id, cc.item_id) AS item_id,
             round(coalesce(c0, 0.0) + coalesce(c1, 0.0), 6) AS rrf
      FROM bmc FULL OUTER JOIN cc
        ON bmc.query_id = cc.query_id AND bmc.item_id = cc.item_id
    )
    SELECT query_id, item_id, rrf, fused_rank
    FROM (SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY rrf DESC, item_id ASC) AS INT)
               AS fused_rank
          FROM m)
    WHERE fused_rank <= {_HYBRID_TOP}
"""


@register(
    "llm_hybrid_retrieval",
    _HYBRID_SQL.format(bm=_bm25_qt_sql(_HYBRID_K_LIST)),
)
def llm_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion of the corpus-derived BM25 ranking (documents) and the
    exact dense-cosine ranking (embeddings) for queries 0-2; fully
    hash-oracled by composing both rankings' SQL."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").cast("int").alias("query_id"),
        F.array_join(
            F.slice(F.split(normalize_text(F.col("text")), " "), 1, 4), " "
        ).alias("text"),
    )
    bm = bm25_topk(docs, queries, k=_HYBRID_K_LIST).select(
        "query_id", F.col("doc_id").alias("item_id"), "rank"
    )
    cos = cosine_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=_HYBRID_K_LIST
    ).select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias("item_id"),
        "rank",
    )
    return rrf_fuse([bm, cos], top_n=_HYBRID_TOP)


# ===========================================================================
# llm_ivfpq_residual_topk — IVF-PQ in the FAISS-DEFAULT residual form
# (by_residual=true): codes encode x − c_assigned, and the query builds a
# distance table per probed list over q − c_list. The oracle composes the
# coarse k-means chain, residual derivation (xnr/sampr), the codebook
# chain over residuals, and the per-(query, list) tables.
# ===========================================================================


@register(
    "llm_ivfpq_residual_topk",
    lsh_oracles.ivfpq_residual_topk_sql(
        dim=64, k=5, n_lists=16, n_probe=8, m=8, k_codes=64,
        candidate_margin=32, sample_size=2048,
        ivf_iterations=5, pq_iterations=4, query_pred="id < 10",
    ),
)
def llm_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ through the persisted index."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _at_rest(
        _sf_cache_dir(sf_dir, "ivfpqr_v1_l16m8k64", "embeddings"),
        lambda stage: ivfpq_write_index(
            emb, stage,
            n_lists=16, m=8, k_codes=64, sample_size=2048, pq_iterations=4,
            by_residual=True,
        ),
    )
    return ivfpq_query_index(
        spark, path, emb.filter(F.col("vec_id") < 10),
        k=5, n_probe=8, candidate_margin=32,
    )


# ===========================================================================
# llm_cosine_topk_incremental — similarity search maintained under corpus
# append: 90% of the corpus is the standing slice, 10% arrives as a delta;
# each slice is scored independently and the results MERGE (top-k is a
# monoid under the shared tie-break). The oracle is the full-corpus brute
# force — merged ≡ rescanned proven cross-engine, the q67/llm_bm25_
# incremental gate applied to ANN.
# ===========================================================================



@register("llm_cosine_topk_incremental", COSINE_TOPK_ORACLE_SQL)
def llm_cosine_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact top-k: slice scoring + monoid merge ≡ full scan."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    return merge_topk(
        [cosine_topk(base, q, k=5), cosine_topk(delta, q, k=5)], k=5
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
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, _COV_DIM)


# ===========================================================================
# llm_ivfpq_incremental — IVF-PQ index maintenance: build the index from a
# base corpus, APPEND a batch with FROZEN centroids/codebooks (pure file
# append into the list partitions — batch-sized cost, existing rows never
# touched), then search. The oracle replays the FULL-corpus IVF-PQ build
# symbolically (training sample = first 256 ids, which the base contains
# by construction), so the hash match proves append-then-search ≡ full
# rebuild cross-engine — the same merged≡rebuilt gate as
# llm_bm25_incremental and llm_dedup_index. The base-then-append index is
# built ONCE per fixture into the shared cache (the llm_substring_index /
# llm_dedup_index posture: published through _shared._at_rest); every
# invocation still gates the full append≡rebuild equivalence because the
# search reads the appended rows through the frozen artifacts.
# ===========================================================================



@register(
    "llm_ivfpq_incremental",
    lsh_oracles.ivfpq_topk_sql(
        dim=64, k=5, n_lists=16, n_probe=8, m=8, k_codes=64,
        candidate_margin=32, sample_size=256,
        ivf_iterations=5, pq_iterations=4, query_pred="id < 10",
    ),
)
def llm_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search through an index built base-then-append: the batch's
    codes are assigned/encoded with the stored artifacts and appended into
    the existing ``list_id=`` partitions."""
    emb = _t(spark, sf_dir, "embeddings")

    def build(stage: str) -> None:
        # base keeps every id < 256 — the deterministic training sample — so
        # frozen-artifact append is provably identical to the full rebuild
        base = emb.filter(
            (F.col("vec_id") < 256) | (F.col("vec_id") % 10 != 0)
        )
        batch = emb.filter(
            (F.col("vec_id") >= 256) & (F.col("vec_id") % 10 == 0)
        )
        ivfpq_write_index(
            base, stage,
            n_lists=16, m=8, k_codes=64, sample_size=256, pq_iterations=4,
        )
        ivfpq_append_index(batch, stage)

    path = _at_rest(_sf_cache_dir(sf_dir, "ivfpqinc_v1", "embeddings"), build)
    return ivfpq_query_index(
        spark, path, emb.filter(F.col("vec_id") < 10),
        k=5, n_probe=8, candidate_margin=32,
    )


# ===========================================================================
# llm_bitext_margin — margin-based bitext mining (Artetxe & Schwenk 2019),
# the LASER/CCMatrix method behind the largest public parallel corpora:
# raw cosine over-selects hub vectors, so candidate pairs score by cosine
# RELATIVE to both endpoints' k-NN neighborhood averages and each source
# keeps its best target by margin. Fixture: embeddings split into two
# "languages" by vec_id parity. Exactness: cosines round to 6 dp then move
# to BIGINT ×1e6 fixed point — neighborhood sums are integer sums and the
# margin is one correctly-rounded division of exact integers (no float
# summation order anywhere). Scale path: the demo's one bounded cross is
# replaced by the ANN ladder's candidate lists (IVF/SRP-LSH, same
# modules); the margin arithmetic is unchanged.
# ===========================================================================

_BM_K = 4


def _bitext_sql() -> str:
    return bitext_margin_sql(
        k=_BM_K,
        src_pred="vec_id % 2 = 0 AND vec_id < 500",
        tgt_pred="vec_id % 2 = 1 AND vec_id < 500",
    )


@register("llm_bitext_margin", _bitext_sql())
def llm_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best margin-scored target per source over the parity-split
    embedding fixture (k-NN neighborhood average in exact fixed point)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return bitext_margin_pairs(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=_BM_K,
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
    emb = _t(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb, emb.filter(F.col("vec_id") < 16), k=5)


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
# llm_ann_recall_audit — the ANN mirror of llm_lsh_audit (measure, don't
# guess): per-query recall@5 of the IVF index against exact brute-force
# cosine ground truth, at the exact llm_ivf_topk configuration. Both tiers
# already replay end-to-end in SQL (deterministic sample-trained k-means;
# sequential-double cosine), so the audit's oracle is a join of the two
# replays — a recall regression from a probe-selection or re-rank bug
# breaks the hash, not just a pytest gate.
# ===========================================================================


def _ann_audit_oracle() -> str:
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
# llm_jl_transform — Johnson–Lindenstrauss random projection 64 -> 16
# with its distortion MEASURED in-query (the fp_rate/suffix-audit
# posture: an approximation ships with its loss). The Rademacher sign
# matrix is a pure function of (seed, k, j) computed DRIVER-side and
# embedded as literals in BOTH plans (the pagerank-constants posture) —
# no per-row hashing; the projection itself is row-local arithmetic that
# stays in whole-stage codegen, which is what makes JL the cheap first
# stage of an embedding pipeline at 100 TB (16/64ths the bytes into
# every downstream shuffle). 120 probe pairs: exact cosine in original
# vs projected space, 6-dp rounded (the proven float-parity discipline).
# ===========================================================================

_JL_IN, _JL_OUT = 64, 16
_JL_PAIR_IDS = 16


def _jl_signs() -> list[list[int]]:
    return [
        [
            1
            - 2
            * (
                int(
                    hashlib.md5(f"jl:v1:{k}:{j}".encode()).hexdigest()[:15],
                    16,
                )
                % 2
            )
            for j in range(_JL_IN)
        ]
        for k in range(_JL_OUT)
    ]


def _jl_sql() -> str:
    signs = _jl_signs()
    inv = 1.0 / math.sqrt(_JL_OUT)
    comps = ", ".join(
        f"list_dot_product(v, CAST({signs[k]} AS DOUBLE[])) * {inv!r}"
        for k in range(_JL_OUT)
    )
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return f"""
    WITH e AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < {_JL_PAIR_IDS}
    ),
    p AS (SELECT id, v, [{comps}] AS y FROM e)
    SELECT a.id AS id_a, b.id AS id_b,
           {cos.format(a="a.v", b="b.v")} AS cos_orig,
           {cos.format(a="a.y", b="b.y")} AS cos_proj,
           round(abs({cos.format(a="a.v", b="b.v")}
                     - {cos.format(a="a.y", b="b.y")}), 6) AS abs_err
    FROM p a JOIN p b ON a.id < b.id
    """


@register("llm_jl_transform", _jl_sql())
def llm_jl_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL 64->16 Rademacher projection; per-pair cosine distortion."""
    signs = _jl_signs()
    inv = 1.0 / math.sqrt(_JL_OUT)
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _JL_PAIR_IDS)
        .select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    y = F.array(
        *[
            (
                dot(
                    F.col("v"),
                    F.array(*[F.lit(float(s)) for s in signs[k]]),
                )
                * F.lit(inv)
            )
            for k in range(_JL_OUT)
        ]
    )
    p = emb.select("id", "v", y.alias("y"))
    a = p.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("y").alias("ya")
    )
    b = p.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("y").alias("yb")
    )

    def cos(x, z):
        return F.round(
            dot(F.col(x), F.col(z))
            / (F.sqrt(dot(F.col(x), F.col(x))) * F.sqrt(dot(F.col(z), F.col(z)))),
            6,
        )

    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cos("va", "vb").alias("cos_orig"),
            cos("ya", "yb").alias("cos_proj"),
            F.round(F.abs(cos("va", "vb") - cos("ya", "yb")), 6).alias(
                "abs_err"
            ),
        )
    )
