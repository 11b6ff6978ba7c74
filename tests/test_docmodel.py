"""Golden-document tests for the nested laji-etl assembly — covers the
SURVEY.md §2.3 correctness traps one by one."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.geo import polygons_to_wkb
from crowdsorsa_etl_spark.pipelines.crowdsorsa import documents_2023, documents_2024
from crowdsorsa_etl_spark.schemas import OBSERVATIONS_2023, OBSERVATIONS_2024
from crowdsorsa_etl_spark.sources.observations import municipality_dim

SQUARE = polygons_to_wkb(
    [[[(25.0, 60.0), (25.001, 60.0), (25.001, 60.001), (25.0, 60.001), (25.0, 60.0)]]]
)
SQUARE_EUREF = polygons_to_wkb(
    [[[(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]]]
)
POINTLIKE = polygons_to_wkb([[[(25.0, 60.0), (25.0, 60.0), (25.0, 60.0), (25.0, 60.0)]]])


def _doc_2023(spark, row_overrides=None):
    row = {
        "id": "ABC-1",
        "kuntakoodi": "91",
        "havaittu": "2023-06-15T13:45:30",
        "laji": "jÃ¤ttipalsami",  # mojibake for jättipalsami
        "torjunta": None,
        "geometry_wkb": SQUARE,
        "area_m2": None,
    }
    row.update(row_overrides or {})
    obs = spark.createDataFrame([tuple(row.values())], OBSERVATIONS_2023)
    out = documents_2023(obs, municipality_dim(spark))
    return json.loads(out.select("document_json").first()[0])


def _doc_2024(spark, row_overrides=None):
    row = {
        "tunniste": "XYZ-9",
        "kunta": "Espoo",
        "havaittu": "2026-07-01",  # year typo → repaired to 2024
        "torjuttu": None,
        "laji": "Lupiini",
        "tiheys": 2.0,
        "geometry_wkb": SQUARE_EUREF,
        "area_m2": None,
    }
    row.update(row_overrides or {})
    obs = spark.createDataFrame([tuple(row.values())], OBSERVATIONS_2024)
    out = documents_2024(obs)
    return json.loads(out.select("document_json").first()[0])


class TestDocument2023:
    def test_full_shape(self, spark):
        doc = _doc_2023(spark)
        assert doc["schema"] == "laji-etl"
        assert doc["sourceId"] == "http://tun.fi/KE.1501"
        assert doc["collectionId"] == "http://tun.fi/HR.5835"
        assert doc["documentId"] == "http://tun.fi/HR.5835/ABC-1"
        pd = doc["publicDocument"]
        assert pd["concealment"] == "PUBLIC"
        assert pd["keywords"] == ["ABC-1", "crowdsorsa-Helsinki"]
        g = pd["gatherings"][0]
        assert g["gatheringId"] == "http://tun.fi/HR.5835/ABC-1_G"
        # trap 9: begin == end
        assert g["eventDate"] == {"begin": "2023-06-15", "end": "2023-06-15"}
        # trap 7: 2023 emits hour/minute
        assert g["hourBegin"] == g["hourEnd"] == 13
        assert g["minuteBegin"] == g["minuteEnd"] == 45
        assert g["municipality"] == "Helsinki"
        assert g["geo"]["type"] == "FeatureCollection"
        assert g["geo"]["crs"] == "WGS84"  # trap 8: crs literal, no reproject
        assert g["geo"]["features"][0]["geometry"]["type"] == "MultiPolygon"
        u = g["units"][0]
        assert u["unitId"] == "http://tun.fi/HR.5835/ABC-1_U"
        # mojibake repaired + decoded
        assert u["taxonVerbatim"] == "jättipalsami"
        assert u["reportedTaxonId"] == "http://tun.fi/MX.39158"
        # trap 3: no control date → empty array PRESENT
        assert u["sourceTags"] == []
        assert "notes" not in pd
        # ~110m x ~55m square → area in facts, all three renderings equal
        f = u["facts"][0]
        assert f["fact"] == "http://tun.fi/MY.areaInSquareMeters"
        assert f["decimalValue"] == f["integerValue"] == int(f["value"])
        assert f["decimalValue"] >= 1

    def test_unknown_taxon_null(self, spark):
        doc = _doc_2023(spark, {"laji": "tuntematon"})
        u = doc["publicDocument"]["gatherings"][0]["units"][0]
        # trap 1: unknown taxon → key absent, not an error
        assert "reportedTaxonId" not in u
        assert u["taxonVerbatim"] == "tuntematon"

    def test_facts_omitted_below_1m2(self, spark):
        doc = _doc_2023(spark, {"geometry_wkb": POINTLIKE})
        u = doc["publicDocument"]["gatherings"][0]["units"][0]
        # trap 2: area < 1 → facts key deleted (2023 only)
        assert "facts" not in u

    def test_control_date_tags_and_notes(self, spark):
        doc = _doc_2023(spark, {"torjunta": "2023-09-12"})
        pd = doc["publicDocument"]
        assert pd["notes"] == "Controlled: 2023-09-12"
        assert pd["gatherings"][0]["units"][0]["sourceTags"] == ["INVASIVE_PARTIAL"]

    def test_municipality_recode_864(self, spark):
        # trap 5: 864 → 20 BEFORE the dim lookup; 20 = Akaa
        doc = _doc_2023(spark, {"kuntakoodi": "864"})
        assert doc["publicDocument"]["gatherings"][0]["municipality"] == "Akaa"
        assert doc["publicDocument"]["keywords"][1] == "crowdsorsa-Akaa"

    def test_dim_miss_yields_null_municipality(self, spark):
        doc = _doc_2023(spark, {"kuntakoodi": "999"})
        g = doc["publicDocument"]["gatherings"][0]
        assert "municipality" not in g  # NULL dropped from JSON


class TestDocument2024:
    def test_full_shape(self, spark):
        doc = _doc_2024(spark)
        pd = doc["publicDocument"]
        g = pd["gatherings"][0]
        # trap 6: year typo repaired BEFORE parse
        assert g["eventDate"] == {"begin": "2024-07-01", "end": "2024-07-01"}
        # trap 7: no hour/minute in the 2024 shape
        assert "hourBegin" not in g and "minuteBegin" not in g
        assert g["municipality"] == "Espoo"  # name inline, no join
        assert g["geo"]["crs"] == "EUREF"
        u = g["units"][0]
        # lowercase before decode
        assert u["taxonVerbatim"] == "lupiini"
        assert u["reportedTaxonId"] == "http://tun.fi/MX.38947"
        # nsmall=1 rendering: 2.0 keeps one decimal
        assert u["abundanceString"] == "2.0"
        assert u["abundanceUnit"] == "RELATIVE_DENSITY"
        # 10x10 planar square = 100 m²; facts ALWAYS present in 2024
        assert u["facts"][0]["integerValue"] == 100
        assert u["facts"][0]["value"] == "100"

    def test_abundance_keeps_extra_decimals(self, spark):
        doc = _doc_2024(spark, {"tiheys": 2.35})
        u = doc["publicDocument"]["gatherings"][0]["units"][0]
        assert u["abundanceString"] == "2.35"

    def test_facts_present_even_for_zero_area(self, spark):
        # trap 2 inverse: 2024 keeps facts unconditionally
        tiny = polygons_to_wkb([[[(0.0, 0.0), (0.0, 0.0), (0.0, 0.0), (0.0, 0.0)]]])
        doc = _doc_2024(spark, {"geometry_wkb": tiny})
        u = doc["publicDocument"]["gatherings"][0]["units"][0]
        assert u["facts"][0]["integerValue"] == 0

    def test_control_date_year_typo_repaired(self, spark):
        doc = _doc_2024(spark, {"torjuttu": "2026-09-01"})
        assert doc["publicDocument"]["notes"] == "Controlled: 2024-09-01"


class TestPipelineBulk:
    def test_2023_runs_on_generated_fixture(self, spark):
        from crowdsorsa_etl_spark.sources.observations import observations_2023

        out = documents_2023(observations_2023(spark, n=50), municipality_dim(spark))
        rows = out.collect()
        assert len(rows) == 50
        docs = [json.loads(r.document_json) for r in rows]
        assert all(d["schema"] == "laji-etl" for d in docs)
        assert all(len(d["publicDocument"]["keywords"]) == 2 for d in docs)

    def test_2024_runs_on_generated_fixture(self, spark):
        from crowdsorsa_etl_spark.schemas import OBSERVATIONS_2024
        from crowdsorsa_etl_spark.sources.observations import observation_rows_2024

        obs = spark.createDataFrame(observation_rows_2024(50), OBSERVATIONS_2024)
        out = documents_2024(obs)
        rows = out.collect()
        assert len(rows) == 50
        for r in rows:
            d = json.loads(r.document_json)
            g = d["publicDocument"]["gatherings"][0]
            assert g["eventDate"]["begin"].startswith("2024")  # all typos repaired
