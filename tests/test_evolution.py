"""Schema-evolution drift matrix: conform/read_evolved against
every drift class the 2023→2024 reference inputs exhibit (rename, added
column, type widening, extras), plus real mixed-schema parquet reads."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from crowdsorsa_etl_spark.sources.evolution import (
    OBSERVATIONS_UNIFIED,
    RENAME_2023,
    RENAME_2024,
    conform,
    read_evolved,
)

TARGET = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("quality", T.DoubleType()),
    ]
)


class TestConformMatrix:
    def test_identity(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 0.5)], "doc_id long, text string, quality double"
        )
        out = conform(df, TARGET)
        assert out.schema == TARGET
        assert out.collect() == df.collect()

    def test_missing_column_backfills_typed_null(self, spark):
        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        out = conform(df, TARGET)
        row = out.first()
        assert row.quality is None
        assert dict(out.dtypes)["quality"] == "double"

    def test_rename_map(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 0.5)], "id long, body string, quality double"
        )
        out = conform(df, TARGET, rename_map={"id": "doc_id", "body": "text"})
        assert out.first().text == "a"
        assert out.columns == ["doc_id", "text", "quality"]

    def test_safe_widening_casts(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 0.5)], "doc_id int, text string, quality float"
        )
        out = conform(df, TARGET)
        assert dict(out.dtypes) == {
            "doc_id": "bigint", "text": "string", "quality": "double"
        }
        assert out.first().doc_id == 1

    def test_lossy_drift_raises(self, spark):
        df = spark.createDataFrame(
            [(1.5, "a", 0.5)], "doc_id double, text string, quality double"
        )
        with pytest.raises(TypeError, match="cannot safely widen"):
            conform(df, TARGET)
        df2 = spark.createDataFrame([("x", "a")], "doc_id string, text string")
        with pytest.raises(TypeError):
            conform(df2, TARGET)

    def test_extra_column_dropped_by_default(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 0.5, "drifted")],
            "doc_id long, text string, quality double, surprise string",
        )
        out = conform(df, TARGET)
        assert out.columns == ["doc_id", "text", "quality"]

    def test_extra_column_error_mode(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 0.5, "drifted")],
            "doc_id long, text string, quality double, surprise string",
        )
        with pytest.raises(ValueError, match="surprise"):
            conform(df, TARGET, on_extra="error")


class TestMixedSchemaRead:
    def test_merge_schema_dir(self, spark, tmp_path):
        path = str(tmp_path / "docs")
        old = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
        new = spark.createDataFrame(
            [(2, "beta", 0.9)], "doc_id long, text string, quality double"
        )
        old.write.parquet(path)
        new.write.mode("append").parquet(path)

        out = read_evolved(spark, path, TARGET)
        rows = {r.doc_id: r for r in out.collect()}
        assert rows[1].quality is None  # pre-evolution file backfills
        assert rows[2].quality == pytest.approx(0.9)
        assert out.schema == TARGET

    def test_renamed_column_coalesces_across_files(self, spark, tmp_path):
        # old files say `id`, new files say `doc_id`; a mergeSchema read
        # surfaces BOTH columns with nulls — conform must coalesce them
        path = str(tmp_path / "renamed")
        spark.createDataFrame([(1, "old-row")], "id long, text string") \
            .write.parquet(path)
        spark.createDataFrame([(2, "new-row")], "doc_id long, text string") \
            .write.mode("append").parquet(path)
        out = read_evolved(spark, path, TARGET, rename_map={"id": "doc_id"})
        rows = {r.text: r.doc_id for r in out.collect()}
        assert rows == {"old-row": 1, "new-row": 2}

    def test_without_merge_schema_still_conforms(self, spark, tmp_path):
        path = str(tmp_path / "docs2")
        spark.createDataFrame([(1, "alpha")], "doc_id long, text string") \
            .write.parquet(path)
        out = read_evolved(spark, path, TARGET, merge_schema=False)
        assert out.schema == TARGET
        assert out.first().quality is None


class TestReferenceDrift:
    """The real 2023→2024 drift (crowdsorsa-etl-2023.R:48-58 vs
    crowdsorsa-etl-2024.R:44-50) through one unified schema."""

    def test_both_seasons_conform_and_union(self, spark):
        from crowdsorsa_etl_spark.schemas import OBSERVATIONS_2024
        from crowdsorsa_etl_spark.sources.observations import (
            observation_rows_2024,
            observations_2023,
        )

        s23 = conform(
            observations_2023(spark, n=50),
            OBSERVATIONS_UNIFIED,
            rename_map=RENAME_2023,
        )
        s24 = conform(
            spark.createDataFrame(observation_rows_2024(50), OBSERVATIONS_2024),
            OBSERVATIONS_UNIFIED,
            rename_map=RENAME_2024,
        )
        def shape(schema):
            return [(f.name, f.dataType) for f in schema.fields]

        # names/types/order conform; nullability rides along from the source
        assert shape(s23.schema) == shape(s24.schema) == shape(OBSERVATIONS_UNIFIED)
        both = s23.unionByName(s24)
        assert both.count() == 100
        # tiheys exists only since 2024 → every 2023 row is NULL, 2024 not
        assert s23.where("tiheys IS NOT NULL").count() == 0
        assert s24.where("tiheys IS NULL").count() == 0
        # ids flowed through the rename map
        ids = [r.tunniste for r in both.select("tunniste").collect()]
        assert any(i.startswith("OBS23-") for i in ids)
        assert any(i.startswith("OBS24-") for i in ids)
