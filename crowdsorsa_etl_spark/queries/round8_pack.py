"""Round 8: IVF-PQ index-at-rest (the FAISS production tier capstone),
query-table BM25 with incremental postings, and polygon-polygon spatial
join.

Registration ORDER is load-bearing (the driver's correctness window samples
the first 50 registrations); this module is imported LAST by
queries/__init__.py, so its entries append after q99.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crowdsorsa_etl_spark import lsh_oracles
from crowdsorsa_etl_spark import parity_oracles as _po
from crowdsorsa_etl_spark.queries._shared import (
    _at_rest,
    _sf_cache_dir,
    _t,
    register,
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
    from crowdsorsa_etl_spark.operators.pq import (
        ivfpq_query_index,
        ivfpq_write_index,
    )

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

from crowdsorsa_etl_spark.queries._shared import _NORM_SQL
from crowdsorsa_etl_spark.queries.round7_pack import (
    _BM25_CONTRIB_SQL,
    _BM25_ORACLE_SQL,
    _BM25_QUERIES,
)

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
    from crowdsorsa_etl_spark.functions.text import normalize_text
    from crowdsorsa_etl_spark.operators.bm25 import bm25_topk

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
    from crowdsorsa_etl_spark.operators.bm25 import (
        bm25_append_index,
        bm25_query_index,
        bm25_write_index,
    )
    from crowdsorsa_etl_spark.queries._shared import _scratch_copy

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
        return bm25_query_index(spark, path, qdf, k=10).localCheckpoint()


# ===========================================================================
# geo_polygon_join — polygon-polygon grid spatial join (round-7 verdict gap
# #4): fixture polygons vs their half-extent-shifted copies through
# operators/spatial.grid_polygon_join. The oracle is the ALL-PAIRS ground
# truth (segment-pair orientation tests + mutual vertex containment
# replayed in SQL), so the hash gate proves the grid prefilter, the
# reference-cell-ownership dedup, and the exact verify together.
# ===========================================================================


@register("geo_polygon_join", _po.polygon_join_sql())
def geo_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersecting (original, shifted) polygon pairs via the grid join."""
    from crowdsorsa_etl_spark import parity_oracles
    from crowdsorsa_etl_spark.functions.geo import st_envelope, st_translate
    from crowdsorsa_etl_spark.operators.spatial import grid_polygon_join
    from crowdsorsa_etl_spark.schemas import OBSERVATIONS_2024

    d = parity_oracles.ensure_observation_fixtures()
    polys = (
        spark.read.schema(OBSERVATIONS_2024)
        .parquet(f"{d}/observations_2024.parquet")
        .select(F.col("tunniste").alias("a_id"), F.col("geometry_wkb").alias("a_wkb"))
    )
    env = polys.select(
        "a_id", "a_wkb", st_envelope(F.col("a_wkb")).alias("e")
    )
    shifted = env.select(
        F.col("a_id").alias("b_id"),
        st_translate(
            F.col("a_wkb"),
            (F.col("e.xmax") - F.col("e.xmin")) / 2.0,
            (F.col("e.ymax") - F.col("e.ymin")) / 2.0,
        ).alias("b_wkb"),
    )
    return grid_polygon_join(polys, shifted, cell_size=1000.0)


# ===========================================================================
# q100_scd2_buffered — the bounded-disorder SCD2 path (operators/scd
# scd2_apply_batch_buffered) proven cross-engine: the events log is split
# into two arrival batches with a deterministic subset of mid-timeline
# events DELAYED into the second batch (disorder within the watermark
# bound), applied through the buffer, and flushed. The oracle is q97's
# fully-ordered full rebuild — a hash match proves buffered == ordered.
# ===========================================================================


def _q97_oracle() -> str:
    from crowdsorsa_etl_spark.queries._shared import ORACLES

    return ORACLES["q97_scd2_versions"]


@register("q100_scd2_buffered", _q97_oracle())
def q100_scd2_buffered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 via the watermark buffer under bounded disorder ≡ q97's
    ordered rebuild (shared oracle).

    The post-batch-1 store (versions + held buffer + watermark) memoizes
    per fixture — an SCD2 table is AT REST between CDC batches by
    definition, the llm_incremental_components registry posture — and
    each run copies it aside (the apply mutates the store) before the
    LIVE work this query demonstrates: batch 2's buffered apply plus the
    end-of-stream flush, disorder and all."""
    from crowdsorsa_etl_spark.operators.scd import (
        scd2_apply_batch_buffered,
        scd2_flush_buffer,
    )
    from crowdsorsa_etl_spark.queries._shared import (
        _json_sidecar_read,
        _json_sidecar_write,
        _scratch_copy,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    # (lo, hi) is a pure function of the fixture — memoize it in the seed's
    # bounds sidecar so warm runs skip the full events scan (one job per
    # bench run)
    seed = _sf_cache_dir(sf_dir, "scd2buf_b1_v1", "events")
    bounds = _json_sidecar_read(os.path.join(seed, "bounds.json"))
    if isinstance(bounds, dict) and "lo" in bounds:
        from datetime import datetime

        lo = datetime.fromisoformat(bounds["lo"])
        hi = datetime.fromisoformat(bounds["hi"])
    else:
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    span_s = (hi - lo).total_seconds()
    delay_s = max(span_s / 4.0, 1.0)
    mid = F.lit(lo) + F.expr(f"INTERVAL {span_s / 2.0} SECONDS")
    # deterministically delay ~20% of the events just before the midpoint
    # into batch 2 — late, but within delay_s of batch 1's max
    held_back = (
        (F.col("event_id") % 5 == 0)
        & (F.col("ts") > mid - F.expr(f"INTERVAL {delay_s / 2.0} SECONDS"))
        & (F.col("ts") <= mid)
    )
    b1 = ev.filter((F.col("ts") <= mid) & ~held_back)
    b2 = ev.filter((F.col("ts") > mid) | held_back)

    kw = dict(
        key_cols=["user_id"], ts_col="ts", tracked_cols=["event_type"],
        tie_break_cols=["event_id"],
    )

    def build(stage: str) -> None:
        scd2_apply_batch_buffered(
            spark, f"{stage}/v", f"{stage}/b", b1,
            max_delay_seconds=delay_s, **kw
        )
        _json_sidecar_write(
            os.path.join(stage, "bounds.json"),
            {"lo": lo.isoformat(), "hi": hi.isoformat()},
        )

    with _scratch_copy(_at_rest(seed, build)) as root:
        vd, bd = f"{root}/v", f"{root}/b"
        scd2_apply_batch_buffered(
            spark, vd, bd, b2, max_delay_seconds=delay_s, **kw
        )
        scd2_flush_buffer(spark, vd, bd, **kw)
        return (
            spark.read.parquet(vd)
            .select(
                "user_id", "event_type", "valid_from", "valid_to",
                "version", "is_current",
            )
            .localCheckpoint()
        )


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
    from crowdsorsa_etl_spark.functions.text import normalize_text
    from crowdsorsa_etl_spark.operators.bm25 import bm25_topk, rrf_fuse
    from crowdsorsa_etl_spark.operators.similarity import cosine_topk

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
# q101_triangle_count — triangle counting over the part co-purchase graph
# (parts appearing in the same order), completing the graph tier next to
# PageRank and connected components. Oriented-edge enumeration: each
# triangle is produced exactly once as a < b < c; per-node counts explode
# the corners. The oracle replays the same joins in DuckDB.
# ===========================================================================


@register(
    "q101_triangle_count",
    """
    WITH lp AS (
      SELECT DISTINCT l_orderkey, l_partkey
      FROM lineitem WHERE l_partkey < 300
    ),
    e AS (
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM lp x JOIN lp y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (SELECT unnest([a, b, c]) AS node FROM tri)
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 20
    """,
)
def q101_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by triangle participation in the co-purchase graph."""
    from crowdsorsa_etl_spark.operators.graph import triangle_counts

    lp = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 300)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        lp.alias("x")
        .join(lp.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
        )
    )
    return (
        triangle_counts(pairs)
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(20)
    )


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
    from crowdsorsa_etl_spark.operators.pq import (
        ivfpq_query_index,
        ivfpq_write_index,
    )

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
# q102_recursive_cte — WITH RECURSIVE (Spark 4's recursive CTE support):
# bounded-depth BFS hop distance over the undirected part co-purchase
# graph. The SAME SQL text runs on both engines (SQL-entry parity, the
# q50 pattern lifted to iteration): seeds = parts < 5, edges = co-purchase
# pairs, min hop distance within 2 hops.
# ===========================================================================

_RECURSIVE_SQL = """
    WITH RECURSIVE lp AS (
      SELECT DISTINCT l_orderkey, l_partkey
      FROM lineitem WHERE l_partkey < 100
    ),
    e0 AS (
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM lp x JOIN lp y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
    reach(node, d) AS (
      SELECT DISTINCT a AS node, 0 AS d FROM e WHERE a < 5
      UNION ALL
      SELECT e.b, r.d + 1 FROM reach r JOIN e ON e.a = r.node WHERE r.d < 2
    )
    SELECT node, CAST(min(d) AS INT) AS dist
    FROM reach GROUP BY node ORDER BY node
"""


@register("q102_recursive_cte", _RECURSIVE_SQL)
def q102_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE BFS, one SQL text for both engines."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_RECURSIVE_SQL)


# ===========================================================================
# llm_cosine_topk_incremental — similarity search maintained under corpus
# append: 90% of the corpus is the standing slice, 10% arrives as a delta;
# each slice is scored independently and the results MERGE (top-k is a
# monoid under the shared tie-break). The oracle is the full-corpus brute
# force — merged ≡ rescanned proven cross-engine, the q67/llm_bm25_
# incremental gate applied to ANN.
# ===========================================================================

from crowdsorsa_etl_spark.queries.llm_pack import COSINE_TOPK_ORACLE_SQL


@register("llm_cosine_topk_incremental", COSINE_TOPK_ORACLE_SQL)
def llm_cosine_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact top-k: slice scoring + monoid merge ≡ full scan."""
    from crowdsorsa_etl_spark.operators.similarity import (
        cosine_topk,
        merge_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    return merge_topk(
        [cosine_topk(base, q, k=5), cosine_topk(delta, q, k=5)], k=5
    )


# ===========================================================================
# q103_heavy_hitters — Misra–Gries frequent tokens with O(k) memory: a
# per-partition bounded summary (mapInPandas fold) proposes candidates,
# an exact candidate-restricted second pass confirms. Because MG cannot
# miss an item above n/(capacity+1) and the query threshold sits above
# that bound, the OUTPUT is deterministically the exact ≥2%-share token
# set — the oracle is a plain HAVING over exact counts, and any sketch
# false-negative shows up as a missing row (hash mismatch).
# ===========================================================================

_HEAVY_HITTERS_SQL = f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM_SQL}, ' ')) AS token FROM documents
    ),
    t AS (SELECT token FROM toks WHERE token <> ''),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t)
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM t CROSS JOIN n
    GROUP BY token, n.total
    HAVING count(*) >= greatest(CAST(ceil(0.02 * n.total) AS BIGINT), 1)
"""


@register("q103_heavy_hitters", _HEAVY_HITTERS_SQL)
def q103_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens with ≥2% corpus share, found via the bounded MG sketch +
    exact confirm (operators/heavyhitters.py) — never a |vocab| groupBy."""
    from crowdsorsa_etl_spark.operators.heavyhitters import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    return heavy_hitters(docs, "text", capacity=64, min_share=0.02)


# ===========================================================================
# q104_ewma — bounded-span EWMA per key (operators/timeseries.py): the
# sequential recurrence recast as a trailing-window weighted fold — one
# window Exchange, O(span) state, no per-key sequential dependency. The
# oracle replays the identical most-recent-first fold with list_reduce
# over the frame-ordered array_agg; α=0.5 makes every weight an exact
# power of two, so the pre-rounding doubles agree bit-for-bit.
# ===========================================================================

_EWMA_SQL = """
    SELECT user_id, event_id,
           round(
             list_reduce(list_transform(list_reverse(w),
                          (x, j) -> x * power(0.5, CAST(j - 1 AS DOUBLE))),
                         (a, b) -> a + b)
             / list_reduce(list_transform(list_reverse(w),
                            (x, j) -> power(0.5, CAST(j - 1 AS DOUBLE))),
                           (a, b) -> a + b),
             6) AS ewma
    FROM (
      SELECT user_id, event_id,
             array_agg(CAST(value AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS w
      FROM events
    )
"""


@register("q104_ewma", _EWMA_SQL)
def q104_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-10 EWMA of event values per user, ordered by (ts, event_id)."""
    from crowdsorsa_etl_spark.operators.timeseries import ewma

    events = _t(spark, sf_dir, "events")
    return ewma(
        events, "value", key_cols=["user_id"], order_cols=["ts", "event_id"],
        alpha=0.5, span=10,
    ).select("user_id", "event_id", "ewma")


# ===========================================================================
# llm_url_canonical_cap — URL canonicalization + registered-domain
# extraction + per-domain quota (functions/url.py): the curation trio
# that keys web corpora. Raw URLs are assembled deterministically from
# document columns (messy on purpose: casing, www, default port,
# tracking params, trailing slash, fragment); BOTH engines canonicalize
# with the same rule set — the oracle replays it via
# functions/url.canonical_url_sql so the two stay in one source of
# truth. Quota = top-5 docs per domain by (n_chars DESC, doc_id).
# ===========================================================================

_RAW_URL_SQL = """
    SELECT doc_id, n_chars,
      (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
      (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END) || source ||
      (CASE WHEN doc_id % 5 = 0 THEN '.Example.CO.UK' ELSE '.COM' END) ||
      (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END) ||
      '/docs/' || CAST(doc_id AS VARCHAR) ||
      (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      '?utm_source=feed&b=' || CAST(doc_id % 7 AS VARCHAR) ||
      '&a=' || CAST(doc_id % 5 AS VARCHAR) ||
      (CASE WHEN doc_id % 2 = 0 THEN '&fbclid=abc' ELSE '' END) ||
      (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS raw_url
    FROM documents
"""


def _url_cap_sql() -> str:
    from crowdsorsa_etl_spark.functions.url import canonical_url_sql

    return f"""
    SELECT doc_id, url_canon, domain, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT doc_id, url_canon, domain,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id) AS rnk
      FROM ({canonical_url_sql(_RAW_URL_SQL)})
    )
    WHERE rnk <= 5
    """


@register("llm_url_canonical_cap", _url_cap_sql())
def llm_url_canonical_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize messy URLs, key on registered domain, keep 5 per
    domain — all narrow expressions plus one window shuffle on domain."""
    from pyspark.sql import Window

    from crowdsorsa_etl_spark.functions.url import (
        canonicalize_url,
        registered_domain,
        url_host,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = F.concat(
        F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(did % 4 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(did % 5 == 0, F.lit(".Example.CO.UK")).otherwise(
            F.lit(".COM")
        ),
        F.when(did % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        did.cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&b="),
        (did % 7).cast("string"),
        F.lit("&a="),
        (did % 5).cast("string"),
        F.when(did % 2 == 0, F.lit("&fbclid=abc")).otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    enriched = docs.select(
        "doc_id",
        "n_chars",
        canonicalize_url(raw).alias("url_canon"),
        registered_domain(url_host(raw)).alias("domain"),
    )
    w = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        enriched.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "url_canon", "domain", "rnk")
    )


# ===========================================================================
# q105_hilbert_layout — Hilbert-curve clustering keys over (customer,
# order-day): the stronger space-filling curve next to q49's Z-order
# (consecutive curve positions are always grid neighbors — no Morton
# seams), behind operators/zorder.hilbert_write. Spark runs the xy2d bit
# loop as a runtime F.aggregate fold; the oracle replays the IDENTICAL
# loop as a bounded-depth recursive CTE generated from the same
# constants (zorder.hilbert_cte_sql) — integer-exact, no float parity
# concerns.
# ===========================================================================


def _hilbert_sql() -> str:
    from crowdsorsa_etl_spark.operators.zorder import hilbert_cte_sql

    inner = hilbert_cte_sql(
        "SELECT o_orderkey, o_custkey, o_orderdate FROM orders",
        "o_orderkey",
        "o_custkey & 65535",
        "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 65535",
        bits=16,
    )
    return f"SELECT id AS o_orderkey, h FROM ({inner})"


@register("q105_hilbert_layout", _hilbert_sql())
def q105_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert index per order over (custkey, order-day), 2^16 grid."""
    from crowdsorsa_etl_spark.operators.zorder import hilbert_value

    from crowdsorsa_etl_spark.operators.fanout import cpu_fanout

    orders = _t(spark, sf_dir, "orders")
    x = F.col("o_custkey").bitwiseAND(F.lit(65535))
    y = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).bitwiseAND(F.lit(65535))
    # the 16-level aggregate() fold is an interpreted HOF (lambdas never
    # enter whole-stage codegen) — widen the narrow scan first so the
    # per-row curve walk runs at session parallelism (no-op at cluster
    # scale; the r16 batch-6 pattern)
    return cpu_fanout(
        orders.select("o_orderkey", "o_custkey", "o_orderdate")
    ).select("o_orderkey", hilbert_value(x, y, bits=16).alias("h"))


# ===========================================================================
# llm_audio_frame_energy — the audio modality leg, fully hash-oracled
# like llm_image_decode: synthesize PCM16 waveforms from document bytes,
# wrap in REAL RIFF/WAVE containers (functions/audiocodec.py), decode
# through the real wave-module path, and emit integer frame features
# (Σs² per (64,32) frame, max frame energy, zero crossings). The oracle
# never parses a WAV: it re-derives samples straight from the text's
# UTF-8 bytes and replays the framing arithmetic — a header-parse bug,
# byte-order flip, or framing off-by-one breaks the hash.
# ===========================================================================

_AUDIO_SQL = """
    WITH hx AS (
      SELECT doc_id, substr(hex(encode(coalesce(text, ''))), 1, 512) AS h
      FROM documents WHERE doc_id < 200
    ),
    b AS (
      SELECT doc_id, CASE WHEN length(h) = 0 THEN '00' ELSE h END AS h
      FROM hx
    ),
    sized AS (SELECT doc_id, h, CAST(length(h) / 2 AS BIGINT) AS n FROM b),
    idx AS (
      SELECT doc_id, h, n, unnest(generate_series(1, n)) AS i FROM sized
    ),
    smp AS (
      SELECT doc_id, n, i,
             CAST(((strpos('0123456789ABCDEF', substr(h, CAST(2*i-1 AS INT), 1))
                    - 1) * 16
                   + strpos('0123456789ABCDEF', substr(h, CAST(2*i AS INT), 1))
                   - 1 - 128) * 256 AS BIGINT) AS s
      FROM idx
    ),
    docs AS (SELECT DISTINCT doc_id, n FROM smp),
    nf AS (
      SELECT doc_id, n,
             CASE WHEN n < 64 THEN 1 ELSE (n - 64) // 32 + 1 END AS n_frames
      FROM docs
    ),
    fr AS (
      SELECT doc_id, n, unnest(generate_series(1, n_frames)) AS f FROM nf
    ),
    fe AS (
      SELECT fr.doc_id, fr.f, sum(smp.s * smp.s) AS fe
      FROM fr JOIN smp ON smp.doc_id = fr.doc_id
        AND smp.i >= (fr.f - 1) * 32 + 1
        AND smp.i <= CASE WHEN fr.n < 64 THEN fr.n
                          ELSE (fr.f - 1) * 32 + 64 END
      GROUP BY 1, 2
    ),
    agg_e AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
             CAST(sum(fe) AS BIGINT) AS energy_sum,
             CAST(max(fe) AS BIGINT) AS max_frame_energy
      FROM fe GROUP BY 1
    ),
    zc AS (
      SELECT a.doc_id,
             CAST(count(*) FILTER (WHERE (a.s < 0) <> (b2.s < 0)) AS BIGINT)
               AS zero_crossings
      FROM smp a JOIN smp b2
        ON a.doc_id = b2.doc_id AND b2.i = a.i + 1
      GROUP BY 1
    )
    SELECT d.doc_id, CAST(d.n AS INT) AS n_samples,
           CAST(16000 AS INT) AS sample_rate,
           agg_e.n_frames, agg_e.energy_sum, agg_e.max_frame_energy,
           coalesce(zc.zero_crossings, 0) AS zero_crossings
    FROM docs d
    JOIN agg_e ON d.doc_id = agg_e.doc_id
    LEFT JOIN zc ON d.doc_id = zc.doc_id
"""


@register("llm_audio_frame_energy", _AUDIO_SQL)
def llm_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV decode → integer frame-energy features per document."""
    from crowdsorsa_etl_spark.operators.multimodal import (
        attach_wav_payload,
        audio_frame_features,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")  # prune the scan: Arrow stages eat rows whole
    )
    return audio_frame_features(attach_wav_payload(docs))
