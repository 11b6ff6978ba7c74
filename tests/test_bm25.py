"""BM25 shared core: query-table input, append-only index maintenance
(merged ≡ full rebuild), and the broadcast-shaped plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.bm25 import (
    bm25_append_index,
    bm25_query_index,
    bm25_topk,
    bm25_write_index,
)
from crowdsorsa_etl_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"


def _queries(spark):
    return spark.createDataFrame(
        [(1, "hash join"), (2, "window agg stream")],
        "query_id int, text string",
    )


class TestBM25Index:
    def test_incremental_append_equals_rebuild(self, spark, tmp_path):
        """The MV contract: score-after-N-appends ≡ score-after-rebuild,
        exactly (same rounded contributions, same ranks)."""
        docs = load_table(spark, "documents", SF_DIR)
        q = _queries(spark)

        full = sorted(map(tuple, bm25_topk(docs, q, k=10).collect()))

        path = str(tmp_path / "idx")
        bm25_write_index(docs.filter(F.col("doc_id") % 3 == 0), path)
        bm25_append_index(docs.filter(F.col("doc_id") % 3 == 1), path)
        bm25_append_index(docs.filter(F.col("doc_id") % 3 == 2), path)
        merged = sorted(
            map(tuple, bm25_query_index(spark, path, q, k=10).collect())
        )
        assert merged == full

    def test_query_table_derived_from_corpus(self, spark):
        """Query table built from the corpus itself (no literals) returns
        each query's own document as its top hit (it trivially contains
        all its terms)."""
        from crowdsorsa_etl_spark.functions.text import normalize_text

        docs = load_table(spark, "documents", SF_DIR)
        queries = docs.filter(F.col("doc_id") < 3).select(
            F.col("doc_id").cast("int").alias("query_id"),
            F.array_join(
                F.slice(F.split(normalize_text(F.col("text")), " "), 1, 6), " "
            ).alias("text"),
        )
        top = {
            r.query_id: r.doc_id
            for r in bm25_topk(docs, queries, k=1).collect()
        }
        assert set(top) == {0, 1, 2}

    def test_plan_broadcasts_query_side(self, spark):
        """Scale shape: query terms / df / stats are broadcast; the only
        shuffles are the postings build and the final per-query agg —
        nothing corpus-sized is broadcast."""
        docs = load_table(spark, "documents", SF_DIR)
        plan = (
            bm25_topk(docs, _queries(spark), k=10)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" in plan
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan


class TestRRFFusion:
    def test_fusion_math_and_missing_items(self, spark):
        """Items in one list only get the other list's contribution as 0;
        fused order follows sum of 1/(60+rank)."""
        from crowdsorsa_etl_spark.operators.bm25 import rrf_fuse

        a = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2)], "query_id int, item_id long, rank int"
        )
        b = spark.createDataFrame(
            [(1, 11, 1), (1, 12, 2)], "query_id int, item_id long, rank int"
        )
        rows = {r.item_id: (r.rrf, r.fused_rank)
                for r in rrf_fuse([a, b], top_n=10).collect()}
        c1, c2 = round(1 / 61, 6), round(1 / 62, 6)
        assert rows[11][0] == round(c1 + c2, 6)  # in both lists
        assert rows[10][0] == round(c1 + 0.0, 6)
        assert rows[12][0] == round(c2 + 0.0, 6)
        assert rows[11][1] == 1  # best fused
        import pytest

        with pytest.raises(ValueError, match="at least one"):
            rrf_fuse([])


class TestTriangleCounts:
    def test_known_graph(self, spark):
        """K4 minus one edge has 2 triangles; counts per corner are exact;
        duplicate/reversed/self edges are absorbed."""
        from crowdsorsa_etl_spark.operators.graph import triangle_counts

        edges = spark.createDataFrame(
            [
                (1, 2), (2, 3), (1, 3),          # triangle 123
                (2, 4), (3, 4),                  # triangle 234
                (2, 1), (3, 3), (1, 2),          # reversed, self, dup
            ],
            "src long, dst long",
        )
        got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
        assert got == {1: 1, 2: 2, 3: 2, 4: 1}
