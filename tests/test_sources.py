"""The fixture loader's schema memo and the malformed-record policy of
Spark's text readers."""

from __future__ import annotations

import pytest


class TestLoadTableSchemaMemo:
    def test_unchanged_file_is_inferred_once(self, spark, tmp_path, count_jobs):
        """The first read of a fixture infers its schema (one job); a second
        read of the same files launches none; rewriting the file changes its
        content fingerprint, so the new layout is inferred again."""
        from crowdsorsa_etl_spark.sources.parquet import load_table

        sf = str(tmp_path)
        path = str(tmp_path / "memo_t.parquet")
        spark.range(10).write.parquet(path)
        df, first = count_jobs(lambda: load_table(spark, "memo_t", sf))
        _, second = count_jobs(lambda: load_table(spark, "memo_t", sf))
        assert (first, second) == (1, 0)
        assert df.columns == ["id"]

        spark.range(10).selectExpr("id", "id * 2 AS twice").write.mode(
            "overwrite"
        ).parquet(path)
        df, rewritten = count_jobs(lambda: load_table(spark, "memo_t", sf))
        assert rewritten == 1
        assert df.columns == ["id", "twice"]
        assert df.agg({"twice": "sum"}).collect()[0][0] == 90


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
