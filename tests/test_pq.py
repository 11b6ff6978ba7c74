"""Product quantization: codebook shape/determinism, encode contract, and
recall of the ADC-candidates + exact-re-rank pipeline vs brute force."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.pq import (
    pq_encode,
    pq_topk,
    pq_train_codebooks,
)
from crowdsorsa_etl_spark.operators.similarity import cosine_topk
from crowdsorsa_etl_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"


class TestCodebooks:
    def test_shape_and_determinism(self, spark):
        emb = load_table(spark, "embeddings", SF_DIR)
        a = pq_train_codebooks(emb, m=8, k_codes=16, iterations=2)
        b = pq_train_codebooks(emb, m=8, k_codes=16, iterations=2)
        assert a.shape == (8, 16, 8)
        assert np.array_equal(a, b)  # fixed sample + init → bit-identical

    def test_dim_divisibility_guard(self, spark):
        import pytest

        emb = load_table(spark, "embeddings", SF_DIR)
        with pytest.raises(ValueError, match="not divisible"):
            pq_train_codebooks(emb, m=7, k_codes=8)


class TestEncode:
    def test_codes_in_range_one_row_per_vector(self, spark):
        emb = load_table(spark, "embeddings", SF_DIR)
        books = pq_train_codebooks(emb, m=8, k_codes=16, iterations=2)
        enc = pq_encode(emb, books).collect()
        assert len(enc) == emb.count()
        for r in enc:
            assert len(r.codes) == 8
            assert all(0 <= c < 16 for c in r.codes)


class TestPQTopK:
    def test_recall_vs_exact(self, spark):
        """ADC top-(k+margin) + exact re-rank must recover most of the true
        top-5 (0.92 measured at sf0.01 with these params; gate leaves
        headroom for fixture regeneration)."""
        emb = load_table(spark, "embeddings", SF_DIR)
        q = emb.filter(F.col("vec_id") < 10)
        exact = {
            (r.query_id, r.neighbor_id) for r in cosine_topk(emb, q, k=5).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in pq_topk(
                emb, q, k=5, m=8, k_codes=64, candidate_margin=32
            ).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.75

    def test_exact_cosine_values_on_returned_rows(self, spark):
        """Returned cosines are the expression-path values: every returned
        (query, neighbor) pair carries the same rounded cosine the exact
        brute force computes for that pair."""
        emb = load_table(spark, "embeddings", SF_DIR)
        q = emb.filter(F.col("vec_id") < 5)
        exact = {
            (r.query_id, r.neighbor_id): r.cosine
            for r in cosine_topk(emb, q, k=50).collect()
        }
        for r in pq_topk(emb, q, k=5, m=8, k_codes=64).collect():
            key = (r.query_id, r.neighbor_id)
            if key in exact:  # top-50 covers any plausible PQ pick
                assert r.cosine == exact[key]

    def test_query_collect_bounded(self, spark):
        import pytest

        emb = load_table(spark, "embeddings", SF_DIR)
        with pytest.raises(ValueError, match="more than 3 rows"):
            pq_topk(emb, emb, k=5, max_queries=3).collect()


class TestIVFPQ:
    def _index(self, spark, tmp_path, **kw):
        from crowdsorsa_etl_spark.operators.pq import ivfpq_write_index

        emb = load_table(spark, "embeddings", SF_DIR)
        path = str(tmp_path / "ivfpq")
        kw.setdefault("n_lists", 8)
        kw.setdefault("m", 8)
        kw.setdefault("k_codes", 16)
        ivfpq_write_index(emb, path, **kw)
        return emb, path

    def test_layout_partitioned_by_list(self, spark, tmp_path):
        import os

        _, path = self._index(spark, tmp_path)
        lists = {d for d in os.listdir(path) if d.startswith("list_id=")}
        assert lists  # inverted lists as directories
        assert os.path.isdir(os.path.join(path, "_centroids"))
        assert os.path.isdir(os.path.join(path, "_codebooks"))

    def test_recall_vs_exact(self, spark, tmp_path):
        """Probing all lists (n_probe = n_lists) makes IVF lossless, so
        recall equals plain PQ's; the gated setting probes half."""
        from crowdsorsa_etl_spark.operators.pq import ivfpq_query_index

        emb, path = self._index(spark, tmp_path, k_codes=64)
        q = emb.filter(F.col("vec_id") < 10)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(emb, q, k=5).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_query_index(
                spark, path, q, k=5, n_probe=4, candidate_margin=32
            ).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.6  # half the lists

    def test_exact_cosine_values_and_determinism(self, spark, tmp_path):
        from crowdsorsa_etl_spark.operators.pq import ivfpq_query_index

        emb, path = self._index(spark, tmp_path)
        q = emb.filter(F.col("vec_id") < 5)
        exact = {
            (r.query_id, r.neighbor_id): r.cosine
            for r in cosine_topk(emb, q, k=50).collect()
        }
        first = ivfpq_query_index(spark, path, q, k=5, n_probe=8).collect()
        again = ivfpq_query_index(spark, path, q, k=5, n_probe=8).collect()
        assert sorted(map(tuple, first)) == sorted(map(tuple, again))
        for r in first:
            key = (r.query_id, r.neighbor_id)
            if key in exact:
                assert r.cosine == exact[key]

    def test_query_plan_prunes_partitions_no_python(self, spark, tmp_path):
        """The production contract: the search scans ONLY probed list
        directories (PartitionFilters on list_id) and runs zero Python
        stages (encoding happened at write time)."""
        from crowdsorsa_etl_spark.operators.pq import ivfpq_query_index

        emb, path = self._index(spark, tmp_path)
        q = emb.filter(F.col("vec_id") < 3)
        plan = ivfpq_query_index(
            spark, path, q, k=5, n_probe=2
        )._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [list_id" in plan.replace(
            "PartitionFilters: [isnotnull(list_id", "PartitionFilters: [list_id"
        ) or "list_id IN" in plan
        for node in ("BatchEvalPython", "MapInPandas", "ArrowEvalPython"):
            assert node not in plan, f"unexpected Python stage {node}"


class TestIVFPQResidual:
    def test_residual_recall_and_determinism(self, spark, tmp_path):
        """by_residual=True (the FAISS default): codes encode x − c_list;
        recall at the gated setting must at least match the flat gate, and
        repeated searches are deterministic."""
        from crowdsorsa_etl_spark.operators.pq import (
            ivfpq_query_index,
            ivfpq_write_index,
        )

        emb = load_table(spark, "embeddings", SF_DIR)
        path = str(tmp_path / "ivfpqr")
        ivfpq_write_index(
            emb, path, n_lists=8, m=8, k_codes=64, by_residual=True
        )
        q = emb.filter(F.col("vec_id") < 10)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(emb, q, k=5).collect()
        }
        first = ivfpq_query_index(
            spark, path, q, k=5, n_probe=4, candidate_margin=32
        ).collect()
        again = ivfpq_query_index(
            spark, path, q, k=5, n_probe=4, candidate_margin=32
        ).collect()
        assert sorted(map(tuple, first)) == sorted(map(tuple, again))
        approx = {(r.query_id, r.neighbor_id) for r in first}
        assert len(exact & approx) / len(exact) >= 0.6

    def test_meta_flag_roundtrip(self, spark, tmp_path):
        from crowdsorsa_etl_spark.operators.pq import ivfpq_write_index

        emb = load_table(spark, "embeddings", SF_DIR)
        for flag, name in ((True, "r"), (False, "f")):
            path = str(tmp_path / name)
            ivfpq_write_index(
                emb, path, n_lists=4, m=8, k_codes=16, by_residual=flag
            )
            got = spark.read.parquet(f"{path}/_meta").collect()[0].by_residual
            assert got is flag


class TestIVFPQIncremental:
    """Frozen-artifact append: batch append-then-search must be IDENTICAL
    to a full rebuild whose training sample lies inside the base corpus."""

    def _split(self, spark):
        emb = load_table(spark, "embeddings", SF_DIR)
        base = emb.filter((F.col("vec_id") < 32) | (F.col("vec_id") % 5 != 0))
        batch = emb.filter((F.col("vec_id") >= 32) & (F.col("vec_id") % 5 == 0))
        return emb, base, batch

    def test_append_equals_rebuild(self, spark, tmp_path):
        from crowdsorsa_etl_spark.operators.pq import (
            ivfpq_append_index,
            ivfpq_query_index,
            ivfpq_write_index,
        )

        emb, base, batch = self._split(spark)
        kw = dict(n_lists=8, m=8, k_codes=16, sample_size=32)
        inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
        ivfpq_write_index(base, inc, **kw)
        ivfpq_append_index(batch, inc)
        ivfpq_write_index(emb, full, **kw)
        q = emb.filter(F.col("vec_id") < 5)
        got = ivfpq_query_index(spark, inc, q, k=5, n_probe=4).collect()
        want = ivfpq_query_index(spark, full, q, k=5, n_probe=4).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert len(got) > 0

    def test_append_equals_rebuild_residual(self, spark, tmp_path):
        from crowdsorsa_etl_spark.operators.pq import (
            ivfpq_append_index,
            ivfpq_query_index,
            ivfpq_write_index,
        )

        emb, base, batch = self._split(spark)
        kw = dict(n_lists=8, m=8, k_codes=16, sample_size=32, by_residual=True)
        inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
        ivfpq_write_index(base, inc, **kw)
        ivfpq_append_index(batch, inc)  # must pick residual mode from _meta
        ivfpq_write_index(emb, full, **kw)
        q = emb.filter(F.col("vec_id") < 5)
        got = ivfpq_query_index(spark, inc, q, k=5, n_probe=4).collect()
        want = ivfpq_query_index(spark, full, q, k=5, n_probe=4).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    def test_partition_pruning_survives_append(self, spark, tmp_path):
        from crowdsorsa_etl_spark.operators.pq import (
            ivfpq_append_index,
            ivfpq_query_index,
            ivfpq_write_index,
        )

        emb, base, batch = self._split(spark)
        path = str(tmp_path / "inc")
        ivfpq_write_index(base, path, n_lists=8, m=8, k_codes=16, sample_size=32)
        ivfpq_append_index(batch, path)
        q = emb.filter(F.col("vec_id") < 3)
        plan = ivfpq_query_index(
            spark, path, q, k=5, n_probe=2
        )._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [list_id" in plan.replace(
            "PartitionFilters: [isnotnull(list_id", "PartitionFilters: [list_id"
        ) or "list_id IN" in plan
        for node in ("BatchEvalPython", "MapInPandas", "ArrowEvalPython"):
            assert node not in plan, f"unexpected Python stage {node}"
