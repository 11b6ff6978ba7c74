"""Zone-map skipping index: soundness, completeness vs full scan, and the
zorder synergy (clustered layout → fewer surviving files)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.skipping import (
    collect_file_stats,
    prune_files,
    read_pruned,
)


@pytest.fixture(scope="module")
def layouts(spark):
    base = tempfile.mkdtemp(prefix="skiptest_")
    df = spark.range(0, 20000).select(
        F.col("id"),
        (F.col("id") % 97).alias("k"),
        (F.col("id") * 31 % 1000).alias("v"),
    )
    clustered = os.path.join(base, "clustered")
    random = os.path.join(base, "random")
    # range-sorted on k -> tight per-file k ranges; 8 files each
    df.repartitionByRange(8, "k").sortWithinPartitions("k").write.parquet(
        clustered
    )
    df.repartition(8).write.parquet(random)
    return clustered, random


class TestSkipping:
    def test_stats_cover_all_rows(self, spark, layouts):
        clustered, _ = layouts
        stats = collect_file_stats(spark, clustered, ["k", "v"])
        rows = stats.collect()
        assert sum(r.n_rows for r in rows) == 20000
        assert all(r.k_min <= r.k_max for r in rows)

    def test_pruned_read_equals_full_filter(self, spark, layouts):
        for path in layouts:
            stats = collect_file_stats(spark, path, ["k"])
            pred = {"k": (10, 20)}
            got = read_pruned(spark, stats, pred)
            want = (
                spark.read.parquet(path)
                .filter((F.col("k") >= 10) & (F.col("k") <= 20))
            )
            assert sorted(r.id for r in got.collect()) == sorted(
                r.id for r in want.collect()
            )

    def test_clustered_layout_prunes_more(self, spark, layouts):
        clustered, random = layouts
        surv = {}
        for name, path in (("clustered", clustered), ("random", random)):
            stats = collect_file_stats(spark, path, ["k"])
            surv[name] = prune_files(stats, {"k": (10, 20)}).count()
        # every random file spans ~all of k; the sorted layout isolates
        # the range to 1-2 files
        assert surv["random"] == 8
        assert surv["clustered"] <= 2

    def test_empty_prune_keeps_schema(self, spark, layouts):
        clustered, _ = layouts
        stats = collect_file_stats(spark, clustered, ["k"])
        got = read_pruned(spark, stats, {"k": (5000, 6000)})
        assert got.count() == 0
        assert set(got.columns) == {"id", "k", "v"}

    def test_open_ended_bounds(self, spark, layouts):
        clustered, _ = layouts
        stats = collect_file_stats(spark, clustered, ["k"])
        got = read_pruned(spark, stats, {"k": (90, None)})
        want = spark.read.parquet(clustered).filter(F.col("k") >= 90)
        assert got.count() == want.count() > 0


class TestBloomIndex:
    """Per-file bloom skipping: the equality-probe complement to zone maps
    (unclustered high-cardinality column in a time-clustered layout)."""

    def _layout(self, spark, tmp_path):
        from pyspark.sql import functions as F

        # 64 "customers" spread uniformly through a time-ordered layout of
        # 16 files: every file holds ~every 4th customer — zone maps on
        # custkey are useless (each file's range ~ the full domain)
        df = spark.range(4096).select(
            F.col("id").alias("order_id"),
            (F.xxhash64("id") % 64).alias("cust"),
            F.col("id").alias("ts"),
        )
        path = str(tmp_path / "facts")
        df.repartitionByRange(16, "ts").write.mode("overwrite").parquet(path)
        return path

    def test_bloom_prunes_and_loses_nothing(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.operators.skipping import (
            bloom_prune,
            collect_bloom_stats,
            read_bloom_pruned,
        )

        path = self._layout(spark, tmp_path)
        stats = collect_bloom_stats(spark, path, "cust").localCheckpoint()
        n_files = stats.count()
        full = spark.read.parquet(path)

        probe = full.select("cust").first().cust
        exact = sorted(
            r.order_id
            for r in full.filter(F.col("cust") == probe).collect()
        )
        got = sorted(
            r.order_id
            for r in read_bloom_pruned(spark, stats, "cust", probe).collect()
        )
        assert got == exact  # sound: nothing lost, nothing invented
        # the probe customer appears in a minority of files; the index must
        # actually skip (false positives allowed, full-scan is a failure)
        survivors = bloom_prune(spark, stats, probe).count()
        assert survivors < n_files

    def test_absent_value_scans_nothing_but_keeps_schema(self, spark, tmp_path):
        from crowdsorsa_etl_spark.operators.skipping import (
            bloom_prune,
            collect_bloom_stats,
            read_bloom_pruned,
        )

        path = self._layout(spark, tmp_path)
        stats = collect_bloom_stats(spark, path, "cust").localCheckpoint()
        # custs are xxhash64 % 64 ∈ (-64, 64); 10_000 cannot occur
        assert bloom_prune(spark, stats, 10_000).count() == 0
        out = read_bloom_pruned(spark, stats, "cust", 10_000)
        assert out.count() == 0
        assert set(out.columns) == {"order_id", "cust", "ts"}

    def test_int32_column_probe_finds_files(self, spark, tmp_path):
        """Build/probe hash-type symmetry: xxhash64(INT) != xxhash64(BIGINT),
        so an int32-typed parquet column indexed at its natural type but
        probed at the bigint default would prune EVERY file — silent false
        negatives. The build side must cast to the probe's value_type."""
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.operators.skipping import (
            collect_bloom_stats,
            read_bloom_pruned,
        )

        df = spark.range(2048).select(
            F.col("id").alias("order_id"),
            (F.xxhash64("id") % 64).cast("int").alias("cust32"),  # int32!
            F.col("id").alias("ts"),
        )
        path = str(tmp_path / "facts32")
        df.repartitionByRange(8, "ts").write.mode("overwrite").parquet(path)

        stats = collect_bloom_stats(spark, path, "cust32").localCheckpoint()
        full = spark.read.parquet(path)
        probe = int(full.select("cust32").first().cust32)
        exact = sorted(
            r.order_id for r in full.filter(F.col("cust32") == probe).collect()
        )
        got = sorted(
            r.order_id
            for r in read_bloom_pruned(spark, stats, "cust32", probe).collect()
        )
        assert got == exact and len(got) > 0

    def test_string_column_probe_finds_files(self, spark, tmp_path):
        """Default value_type derivation must handle non-numeric columns:
        a string column indexed and probed with the old bigint default cast
        'F' → NULL on both sides and silently returned empty results."""
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.operators.skipping import (
            collect_bloom_stats,
            read_bloom_pruned,
        )

        df = spark.range(1024).select(
            F.col("id").alias("order_id"),
            F.concat(F.lit("C"), (F.xxhash64("id") % 32).cast("string")).alias(
                "code"
            ),
            F.col("id").alias("ts"),
        )
        path = str(tmp_path / "factsstr")
        df.repartitionByRange(8, "ts").write.mode("overwrite").parquet(path)

        stats = collect_bloom_stats(spark, path, "code").localCheckpoint()
        full = spark.read.parquet(path)
        probe = full.select("code").first().code
        exact = sorted(
            r.order_id for r in full.filter(F.col("code") == probe).collect()
        )
        got = sorted(
            r.order_id
            for r in read_bloom_pruned(spark, stats, "code", probe).collect()
        )
        assert got == exact and len(got) > 0
