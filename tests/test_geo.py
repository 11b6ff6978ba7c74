"""WKB parsing, planar/geodesic area, validity repair, GeoJSON encoding."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.geo import (
    _make_valid_py,
    _multipolygon_area,
    _parse_wkb,
    _ring_area_geodesic,
    _ring_area_planar,
    area_m2,
    polygons_to_wkb,
    st_as_geojson_struct,
)

UNIT_SQUARE = [[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]]
SQUARE_WITH_HOLE = [
    [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)],
    [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0)],
]


class TestWkbRoundtrip:
    def test_roundtrip(self):
        wkb = polygons_to_wkb([UNIT_SQUARE])
        assert _parse_wkb(wkb) == [UNIT_SQUARE]

    def test_multi(self):
        polys = [UNIT_SQUARE, SQUARE_WITH_HOLE]
        assert _parse_wkb(polygons_to_wkb(polys)) == polys


class TestArea:
    def test_planar_square(self):
        assert _multipolygon_area(polygons_to_wkb([UNIT_SQUARE]), _ring_area_planar) == 1.0

    def test_planar_hole_subtracts(self):
        area = _multipolygon_area(polygons_to_wkb([SQUARE_WITH_HOLE]), _ring_area_planar)
        assert area == 100.0 - 4.0

    def test_geodesic_matches_known_value(self):
        # 0.001° square at 60°N: ~111.2m × ~55.7m ≈ 6190 m² (±2%)
        sq = [
            [
                (25.0, 60.0),
                (25.001, 60.0),
                (25.001, 60.001),
                (25.0, 60.001),
                (25.0, 60.0),
            ]
        ]
        area = _multipolygon_area(polygons_to_wkb([sq]), _ring_area_geodesic)
        expected = 111195.0 * 0.001 * 111195.0 * 0.001 * math.cos(math.radians(60.0))
        assert abs(area - expected) / expected < 0.02

    def test_spark_area_ceiling(self, spark):
        df = spark.createDataFrame(
            [(polygons_to_wkb([SQUARE_WITH_HOLE]),)], "g binary"
        )
        row = df.select(area_m2(F.col("g"), "EUREF").alias("a")).first()
        assert row.a == 96.0


class TestMakeValid:
    def test_closes_open_ring(self):
        open_ring = [[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]]
        fixed = _make_valid_py(polygons_to_wkb([open_ring]))
        rings = _parse_wkb(fixed)[0]
        assert rings[0][0] == rings[0][-1]
        assert len(rings[0]) == 5

    def test_drops_degenerate_ring(self):
        degenerate = [[(0.0, 0.0), (1.0, 1.0)]]
        fixed = _make_valid_py(polygons_to_wkb([UNIT_SQUARE, degenerate]))
        assert _parse_wkb(fixed) == [UNIT_SQUARE]


class TestGeoJson:
    def test_struct_shape(self, spark):
        df = spark.createDataFrame([(polygons_to_wkb([UNIT_SQUARE]),)], "g binary")
        row = df.select(st_as_geojson_struct(F.col("g")).alias("gj")).first()
        assert row.gj.type == "MultiPolygon"
        assert row.gj.coordinates[0][0][0] == [0.0, 0.0]
        assert len(row.gj.coordinates[0][0]) == 5


class TestMakeValidSelfIntersection:
    """GEOS-parity repair of proper self-crossings (crowdsorsa-etl-2023.R:36
    st_make_valid): a bowtie shell splits into two simple polygons."""

    BOWTIE = [[(0.0, 0.0), (1.0, 1.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]]

    def test_bowtie_splits_into_two_triangles(self):
        fixed = _parse_wkb(_make_valid_py(polygons_to_wkb([self.BOWTIE])))
        assert len(fixed) == 2  # two polygons, one triangle each
        for rings in fixed:
            assert len(rings) == 1
            assert len(rings[0]) == 4  # closed triangle
            assert rings[0][0] == rings[0][-1]
        # each triangle has area 1/4; crossing point is (0.5, 0.5)
        areas = sorted(abs(_ring_area_planar(r[0])) for r in fixed)
        assert areas == pytest.approx([0.25, 0.25])
        assert any((0.5, 0.5) in r[0] for r in fixed)

    def test_total_area_via_spark_udf(self, spark):
        df = spark.createDataFrame(
            [(polygons_to_wkb([self.BOWTIE]),)], "g binary"
        )
        from crowdsorsa_etl_spark.functions.geo import st_area_planar, st_make_valid_multi

        row = df.select(st_area_planar(st_make_valid_multi(F.col("g"))).alias("a")).first()
        assert row.a == pytest.approx(0.5)

    def test_simple_ring_is_byte_stable(self):
        # valid input must round-trip IDENTICALLY (goldens depend on it)
        wkb = polygons_to_wkb([UNIT_SQUARE])
        assert _make_valid_py(wkb) == wkb

    def test_hole_follows_its_shell(self):
        # bowtie with a small hole inside the left triangle
        hole = [(0.1, 0.45), (0.2, 0.45), (0.2, 0.55), (0.1, 0.55), (0.1, 0.45)]
        fixed = _parse_wkb(_make_valid_py(polygons_to_wkb([self.BOWTIE + [hole]])))
        with_hole = [rings for rings in fixed if len(rings) == 2]
        assert len(with_hole) == 1
        assert (0.1, 0.45) in with_hole[0][1]
