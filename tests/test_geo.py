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
    geometry_2023,
    geometry_2024,
    polygons_to_wkb,
    st_as_geojson_struct,
    st_make_valid_multi,
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


def _lonlat_square(lon: float, lat: float, side: float, close: bool = True):
    ring = [
        (lon, lat),
        (lon + side, lat),
        (lon + side, lat + side),
        (lon, lat + side),
    ]
    return [ring + [ring[0]] if close else ring]


def _near_integer_sides(area_of, lo: float, hi: float) -> list[float]:
    """The two adjacent sides whose ``area_of`` straddles the first integer
    above ``area_of(lo)``: bisect until the bracket is a single ulp."""
    target = math.floor(area_of(lo)) + 1
    while True:
        mid = (lo + hi) / 2
        if mid in (lo, hi):
            return [lo, hi]
        if area_of(mid) < target:
            lo = mid
        else:
            hi = mid


class TestSeasonGeometry:
    """The one-pass season UDFs equal the composition of the public UDFs
    they replace in the pipelines: ``coalesce(area_m2, area_m2(..))`` of
    the repaired (2023) or raw (2024) rings, and the GeoJSON of the
    repaired rings when that area is > 0, else of the raw ones."""

    BOWTIE = [[(25.0, 60.0), (25.001, 60.001), (25.001, 60.0), (25.0, 60.001), (25.0, 60.0)]]

    @staticmethod
    def _composed(wkb, area, crs):
        if crs == "EUREF":
            a = F.coalesce(area, area_m2(wkb, crs))
            return F.struct(a.alias("area"), st_as_geojson_struct(wkb).alias("geojson"))
        valid = st_make_valid_multi(wkb)
        a = F.coalesce(area, area_m2(valid, crs))
        out = F.when(a > 0, valid).otherwise(wkb)
        return F.struct(a.alias("area"), st_as_geojson_struct(out).alias("geojson"))

    def _assert_equal(self, spark, cases, crs):
        df = spark.createDataFrame(cases, "g binary, a double")
        fused = geometry_2023 if crs == "WGS84" else geometry_2024
        rows = df.select(
            fused(F.col("g"), F.col("a")).alias("fused"),
            self._composed(F.col("g"), F.col("a"), crs).alias("composed"),
        ).collect()
        assert len(rows) == len(cases)
        for r in rows:  # repr: a NaN coordinate equals itself
            assert repr(r.fused.asDict(recursive=True)) == repr(
                r.composed.asDict(recursive=True)
            )
        return [r.fused for r in rows]

    def test_areas_within_1e9_of_an_integer(self, spark):
        """``ceil`` turns a last-ulp difference into a whole square metre.
        The rings sit at the origin, where the kernels' rounding steps are
        far below 1e-9 m², so bisection finds areas on both sides of an
        integer; at realistic EUREF coordinates an integer square is exact."""
        for crs, kernel, lo, hi in (
            ("WGS84", _ring_area_geodesic, 0.001, 0.0011),
            ("EUREF", _ring_area_planar, 7.0, 7.2),
        ):
            def area_of(side):
                wkb = polygons_to_wkb([_lonlat_square(0.0, 0.0, side)])
                return _multipolygon_area(wkb, kernel)

            sides = _near_integer_sides(area_of, lo, hi)
            target = math.floor(area_of(sides[0])) + 1
            assert all(abs(area_of(s) - target) < 1e-9 for s in sides)
            cases = [(polygons_to_wkb([_lonlat_square(0.0, 0.0, s)]), None) for s in sides]
            if crs == "EUREF":
                cases.append((polygons_to_wkb([_lonlat_square(312345.0, 6801234.0, 7.0)]), None))
            got = self._assert_equal(spark, cases, crs)
            assert [g.area for g in got[:2]] == [float(math.ceil(area_of(s))) for s in sides]
            assert crs == "WGS84" or got[2].area == 49.0

    def test_zero_area_shell_keeps_the_raw_geometry(self, spark):
        flat = _lonlat_square(25.0, 60.0, 0.0, close=False)  # unclosed, zero area
        [got] = self._assert_equal(spark, [(polygons_to_wkb([flat]), None)], "WGS84")
        assert got.area == 0.0
        assert len(got.geojson.coordinates[0][0]) == 4  # the raw, unclosed ring

    def test_bowtie_area_comes_from_the_repaired_rings(self, spark):
        [got] = self._assert_equal(spark, [(polygons_to_wkb([self.BOWTIE]), None)], "WGS84")
        assert got.area > 0
        assert len(got.geojson.coordinates) == 2  # two triangles

    def test_null_wkb(self, spark):
        for crs in ("WGS84", "EUREF"):
            got = self._assert_equal(spark, [(None, None), (None, 5.0)], crs)
            assert [g.area for g in got] == [None, 5.0]

    def test_incoming_area_at_most_zero_keeps_the_raw_geometry(self, spark):
        wkb = polygons_to_wkb([_lonlat_square(25.0, 60.0, 0.001, close=False)])
        got = self._assert_equal(spark, [(wkb, 0.0), (wkb, -3.0), (wkb, 7.0)], "WGS84")
        assert [g.area for g in got] == [0.0, -3.0, 7.0]
        assert [len(g.geojson.coordinates[0][0]) for g in got] == [4, 4, 5]
        self._assert_equal(spark, [(wkb, 0.0), (wkb, -3.0)], "EUREF")

    def test_non_finite_and_overflowing_areas(self, spark):
        """A NaN area reaches Spark as null (so 2023 keeps the raw rings);
        Spark's ceil casts to long, so an infinite or >= 2**63 one clamps
        to 2**63."""
        nan = float("nan")
        cases = [
            (polygons_to_wkb([_lonlat_square(nan, 60.0, 0.001)]), None),
            (polygons_to_wkb([_lonlat_square(0.0, 0.0, 1e200)]), None),
            (polygons_to_wkb([_lonlat_square(0.0, 0.0, 1e12)]), None),
        ]
        got = self._assert_equal(spark, cases, "EUREF")
        assert [g.area for g in got] == [None, 2.0**63, 2.0**63]
        got = self._assert_equal(spark, cases, "WGS84")
        assert got[0].area is None
