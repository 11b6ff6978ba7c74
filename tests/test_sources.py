"""Parquet sink maintenance (compaction, upsert) and the malformed-record
policy of Spark's text readers."""

from __future__ import annotations

import pytest


class TestCompaction:
    def test_compact_reduces_file_count(self, spark, tmp_path):
        from crowdsorsa_etl_spark.sinks.writers import compact_parquet

        path = str(tmp_path / "shattered")
        # simulate incremental ingest: 40 tiny files
        spark.range(4000).repartition(40).write.parquet(path)
        import glob

        before = len(glob.glob(f"{path}/part-*.parquet"))
        assert before >= 40
        n = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
        after = len(glob.glob(f"{path}/part-*.parquet"))
        assert n == 1 and after < before
        assert spark.read.parquet(path).count() == 4000


class TestUpsert:
    def test_latest_per_key_wins(self, spark, tmp_path):
        from crowdsorsa_etl_spark.sinks.writers import upsert_parquet

        path = str(tmp_path / "tbl")
        base = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "id long, v string, ver long"
        )
        upsert_parquet(spark, path, base, key_cols=["id"], order_col="ver")
        updates = spark.createDataFrame(
            [(2, "B", 20), (4, "d", 5)], "id long, v string, ver long"
        )
        upsert_parquet(spark, path, updates, key_cols=["id"], order_col="ver")
        got = {r.id: (r.v, r.ver) for r in spark.read.parquet(path).collect()}
        assert got == {1: ("a", 10), 2: ("B", 20), 3: ("c", 10), 4: ("d", 5)}

    def test_replay_is_idempotent(self, spark, tmp_path):
        from crowdsorsa_etl_spark.sinks.writers import upsert_parquet

        path = str(tmp_path / "tbl2")
        batch = spark.createDataFrame([(1, "a", 10)], "id long, v string, ver long")
        upsert_parquet(spark, path, batch, key_cols=["id"], order_col="ver")
        upsert_parquet(spark, path, batch, key_cols=["id"], order_col="ver")  # replay
        assert spark.read.parquet(path).count() == 1


class TestCorruptRecords:
    """Malformed-input policy for the text sources: PERMISSIVE keeps bad
    rows in a _corrupt_record column (audit path), DROPMALFORMED silently
    drops, FAILFAST raises — the three ANSI-ish contracts a pipeline picks
    from per source."""

    @staticmethod
    def _write_mixed(tmp_path):
        p = tmp_path / "mixed.jsonl"
        lines = ['{"a": 1, "b": "x"}', "{not json at all", '{"a": 2, "b": "y"}']
        p.write_text("\n".join(lines) + "\n")
        return str(p)

    def test_permissive_keeps_corrupt_column(self, spark, tmp_path):
        from pyspark.sql import types as T

        path = self._write_mixed(tmp_path)
        schema = T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StringType()),
                T.StructField("_corrupt_record", T.StringType()),
            ]
        )
        df = spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
        rows = df.collect()
        assert len(rows) == 3
        bad = [r for r in rows if r._corrupt_record is not None]
        assert len(bad) == 1 and "not json" in bad[0]._corrupt_record

    def test_dropmalformed_drops(self, spark, tmp_path):
        from pyspark.sql import types as T

        path = self._write_mixed(tmp_path)
        schema = T.StructType(
            [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
        )
        df = (
            spark.read.schema(schema)
            .option("mode", "DROPMALFORMED")
            .json(path)
        )
        assert sorted(r.a for r in df.collect()) == [1, 2]

    def test_failfast_raises(self, spark, tmp_path):
        from pyspark.sql import types as T

        path = self._write_mixed(tmp_path)
        schema = T.StructType(
            [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
        )
        with pytest.raises(Exception, match="FAILFAST|Malformed"):
            spark.read.schema(schema).option("mode", "FAILFAST").json(
                path
            ).collect()
