"""Geometry column pack — WKB in a BinaryType column, vectorized pandas UDFs.

The reference's geometry ops run through sf → GDAL/GEOS/s2 FFI
(crowdsorsa-etl-2023.R:34-40: ``st_make_valid``/``st_cast``/``st_area``;
:82-86: GeoJSON encoding). This engine keeps geometry as WKB bytes in an
ordinary ``BinaryType`` column (the 100 TB-friendly representation: parquet
pages of raw bytes; any partitioning works) and implements the math in
Arrow-batched pandas UDFs with numpy — no native geo library is present in
this image. Apache Sedona would slot in behind the same column when its jars
are on the classpath (SURVEY.md §7 step 4); these UDFs are the dependency-free
fallback with identical semantics.

Supported: POLYGON (3) and MULTIPOLYGON (6), 2-D, both byte orders.
"""

from __future__ import annotations

import math
import struct as _struct

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# GeoJSON MultiPolygon coordinates: [polygon][ring][point][xy]
MULTIPOLYGON_COORDS = T.ArrayType(
    T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))
)
GEOJSON_GEOMETRY = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("coordinates", MULTIPOLYGON_COORDS),
    ]
)

#: mean Earth radius used by s2 (and therefore by sf::st_area on WGS84)
_EARTH_RADIUS_M = 6371010.0


def _parse_wkb(buf: bytes) -> list[list[list[tuple[float, float]]]]:
    """Parse WKB POLYGON/MULTIPOLYGON → [polygon][ring][(x, y)]."""
    pos = 0

    def read(fmt: str, size: int):
        nonlocal pos
        out = _struct.unpack_from(fmt, buf, pos)
        pos += size
        return out

    def read_header() -> tuple[str, int]:
        nonlocal pos
        (byte_order,) = read("B", 1)
        endian = "<" if byte_order == 1 else ">"
        (gtype,) = read(endian + "I", 4)
        return endian, gtype & 0xFF  # mask Z/M/SRID flags

    def read_polygon(endian: str) -> list[list[tuple[float, float]]]:
        (n_rings,) = read(endian + "I", 4)
        rings = []
        for _ in range(n_rings):
            (n_pts,) = read(endian + "I", 4)
            pts = read(endian + "d" * (2 * n_pts), 16 * n_pts)
            rings.append([(pts[2 * i], pts[2 * i + 1]) for i in range(n_pts)])
        return rings

    endian, gtype = read_header()
    if gtype == 3:  # Polygon
        return [read_polygon(endian)]
    if gtype == 6:  # MultiPolygon
        (n_polys,) = read(endian + "I", 4)
        polys = []
        for _ in range(n_polys):
            endian_i, gtype_i = read_header()
            if gtype_i != 3:
                raise ValueError(f"expected Polygon inside MultiPolygon, got {gtype_i}")
            polys.append(read_polygon(endian_i))
        return polys
    raise ValueError(f"unsupported WKB geometry type: {gtype}")


def polygons_to_wkb(polys: list[list[list[tuple[float, float]]]]) -> bytes:
    """Serialize [polygon][ring][(x,y)] back to little-endian WKB MULTIPOLYGON."""
    out = bytearray()
    out += _struct.pack("<BI", 1, 6)
    out += _struct.pack("<I", len(polys))
    for rings in polys:
        out += _struct.pack("<BI", 1, 3)
        out += _struct.pack("<I", len(rings))
        for ring in rings:
            out += _struct.pack("<I", len(ring))
            for x, y in ring:
                out += _struct.pack("<dd", x, y)
    return bytes(out)


def _ring_area_planar(ring: list[tuple[float, float]]) -> float:
    """Signed shoelace area (planar CRS units², e.g. m² for EUREF/TM35FIN)."""
    s = 0.0
    n = len(ring)
    for i in range(n - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        s += x1 * y2 - x2 * y1
    return s / 2.0


def _ring_excess(ring: list[tuple[float, float]]) -> float:
    """Signed spherical excess (steradians) of a lon/lat ring."""
    if len(ring) < 4:
        return 0.0
    total = 0.0
    for i in range(len(ring) - 1):
        lon1, lat1 = ring[i]
        lon2, lat2 = ring[i + 1]
        phi1 = math.radians(lat1)
        phi2 = math.radians(lat2)
        dlon = math.radians(lon2 - lon1)
        total += 2.0 * math.atan2(
            math.tan(dlon / 2.0) * (math.tan(phi1 / 2.0) + math.tan(phi2 / 2.0)),
            1.0 + math.tan(phi1 / 2.0) * math.tan(phi2 / 2.0),
        )
    return total


def _ring_area_geodesic(ring: list[tuple[float, float]]) -> float:
    """Signed spherical-excess area (m²) for lon/lat rings (WGS84).

    L'Huilier-style accumulation equivalent to s2's spherical area — matches
    sf::st_area's s2 path (sf's default since 1.0) to well within the
    reference's ceiling() rounding. (sf with s2 disabled would compute an
    ellipsoidal area instead, ~0.6% apart at the reference data's 60-65°N,
    enough to flip most fixture polygons' ceil(); the reference runs sf's
    default, so this model is the contract.)
    """
    return _ring_excess(ring) * _EARTH_RADIUS_M * _EARTH_RADIUS_M


def _polys_area(polys: list[list[list[tuple[float, float]]]], area_fn) -> float:
    """Area of parsed (multi)polygon rings under one ring kernel, holes
    subtracted."""
    total = 0.0
    for rings in polys:
        for j, ring in enumerate(rings):
            a = abs(area_fn(ring))
            total += a if j == 0 else -a  # holes subtract
    return abs(total)


def _multipolygon_area(buf: bytes | None, area_fn) -> float | None:
    """Area of a WKB (multi)polygon under one ring kernel, holes subtracted."""
    if buf is None:
        return None
    return _polys_area(_parse_wkb(bytes(buf)), area_fn)


@F.pandas_udf(T.DoubleType())
def st_area_planar(wkb: pd.Series) -> pd.Series:
    return wkb.map(lambda b: _multipolygon_area(b, _ring_area_planar))


@F.pandas_udf(T.DoubleType())
def st_area_geodesic(wkb: pd.Series) -> pd.Series:
    return wkb.map(lambda b: _multipolygon_area(b, _ring_area_geodesic))


def area_m2(wkb: Column, crs_label: str) -> Column:
    """``ceiling(st_area(geom))`` (crowdsorsa-etl-2023.R:40) — geodesic for
    WGS84 (2023), planar for EUREF (2024). Returns double like the reference
    (R ``ceiling`` keeps numeric). The WGS84 model is s2's sphere, sf's
    default since 1.0 and therefore the reference's numbers.
    """
    raw = st_area_geodesic(wkb) if crs_label == "WGS84" else st_area_planar(wkb)
    return F.ceil(raw).cast("double")


def _proper_crossing(p1, p2, p3, p4):
    """Parametric proper-crossing test for segments p1p2 / p3p4: returns
    (t, u, point) with t,u strictly inside (0,1), else None."""
    x1, y1 = p1
    x2, y2 = p2
    x3, y3 = p3
    x4, y4 = p4
    d = (x2 - x1) * (y4 - y3) - (y2 - y1) * (x4 - x3)
    if abs(d) < 1e-18:
        return None  # parallel/collinear
    t = ((x3 - x1) * (y4 - y3) - (y3 - y1) * (x4 - x3)) / d
    u = ((x3 - x1) * (y2 - y1) - (y3 - y1) * (x2 - x1)) / d
    eps = 1e-12
    if eps < t < 1 - eps and eps < u < 1 - eps:
        return t, u, (x1 + t * (x2 - x1), y1 + t * (y2 - y1))
    return None


def _pt_key(p) -> tuple[float, float]:
    return (round(p[0], 9), round(p[1], 9))


def _repair_ring(ring: list[tuple[float, float]]) -> list[list[tuple[float, float]]]:
    """Split a closed ring with proper self-crossings (bowties,
    figure-eights) into simple closed rings — the even-odd linework rebuild
    GEOS's ST_MakeValid performs, in pure python.

    1. Node: insert every proper crossing point into both segments.
    2. Walk the noded vertex cycle with a stack; when a vertex repeats, the
       loop between its two occurrences is popped as one simple ring.

    Rings with no self-crossing are returned UNCHANGED (byte-stable fast
    path). Vertex-on-segment touches are left as-is (valid by even-odd).
    O(n²) crossing detection — fine for game-drawn rings of tens of points.
    """
    pts = list(ring[:-1])  # open cycle
    n = len(pts)
    inserts: list[list[tuple[float, tuple[float, float]]]] = [[] for _ in range(n)]
    found = False
    for i in range(n):
        for j in range(i + 1, n):
            if j == i + 1 or (i == 0 and j == n - 1):
                continue  # adjacent segments share a vertex, not a crossing
            hit = _proper_crossing(pts[i], pts[(i + 1) % n], pts[j], pts[(j + 1) % n])
            if hit is not None:
                t, u, pt = hit
                inserts[i].append((t, pt))
                inserts[j].append((u, pt))
                found = True
    if not found:
        return [list(ring)]

    noded: list[tuple[float, float]] = []
    for i in range(n):
        noded.append(pts[i])
        noded.extend(pt for _, pt in sorted(inserts[i], key=lambda x: x[0]))

    out: list[list[tuple[float, float]]] = []
    stack: list[tuple[float, float]] = []
    pos: dict[tuple[float, float], int] = {}
    for p in noded + [noded[0]]:
        k = _pt_key(p)
        if k in pos:
            j = pos[k]
            sub = stack[j:] + [p]
            if len(sub) >= 4 and abs(_ring_area_planar(sub)) > 0.0:
                out.append(sub)
            for q in stack[j + 1 :]:
                pos.pop(_pt_key(q), None)
            stack = stack[: j + 1]
        else:
            pos[k] = len(stack)
            stack.append(p)
    return out


def _point_in_ring(p: tuple[float, float], ring: list[tuple[float, float]]) -> bool:
    """Even-odd ray cast (point strictly inside)."""
    x, y = p
    inside = False
    for i in range(len(ring) - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        if (y1 > y) != (y2 > y) and x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
            inside = not inside
    return inside


def _make_valid_polys(
    polys: list[list[list[tuple[float, float]]]],
) -> list[list[list[tuple[float, float]]]]:
    """``st_make_valid`` + ``st_cast(.., "MULTIPOLYGON")``
    (crowdsorsa-etl-2023.R:36-38) on parsed rings: close unclosed rings,
    drop degenerate rings (<4 points after closing), split self-crossing
    rings into simple ones (a bowtie shell becomes two polygons, exactly as
    GEOS does). Holes are repaired the same way and assigned to the output
    shell that contains them."""
    fixed: list[list[list[tuple[float, float]]]] = []
    for rings in polys:
        closed = []
        for ring in rings:
            r = list(ring)
            if r and r[0] != r[-1]:
                r.append(r[0])
            if len(r) >= 4:
                closed.append(r)
        if not closed:
            continue
        shells = [s for s in _repair_ring(closed[0]) if len(s) >= 4]
        if not shells:
            # zero-area/degenerate shell: keep the closed original so the
            # area path still sees it (matches the pre-repair behavior)
            fixed.append(closed)
            continue
        holes_by_shell: list[list[list[tuple[float, float]]]] = [[] for _ in shells]
        for hole in closed[1:]:
            for piece in _repair_ring(hole):
                for si, shell in enumerate(shells):
                    if _point_in_ring(piece[0], shell):
                        holes_by_shell[si].append(piece)
                        break  # unlocatable pieces are dropped
        fixed.extend([shell] + holes_by_shell[si] for si, shell in enumerate(shells))
    return fixed


def _make_valid_py(buf: bytes | None) -> bytes | None:
    """``_make_valid_polys`` on a WKB value, normalized to MULTIPOLYGON."""
    if buf is None:
        return None
    return polygons_to_wkb(_make_valid_polys(_parse_wkb(bytes(buf))))


@F.pandas_udf(T.BinaryType())
def st_make_valid_multi(wkb: pd.Series) -> pd.Series:
    return wkb.map(_make_valid_py)


ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)


@F.pandas_udf(ENVELOPE_SCHEMA)
def st_envelope(wkb: pd.Series) -> pd.DataFrame:
    """Bounding box of a WKB (multi)polygon — the index key for grid-cell
    spatial joins (operators/spatial.py)."""

    def env(buf):
        if buf is None:
            return (None, None, None, None)
        xs, ys = [], []
        for rings in _parse_wkb(bytes(buf)):
            for ring in rings:
                xs.extend(p[0] for p in ring)
                ys.extend(p[1] for p in ring)
        if not xs:
            return (None, None, None, None)
        return (min(xs), min(ys), max(xs), max(ys))

    parsed = wkb.map(env)
    return pd.DataFrame(
        {
            "xmin": parsed.map(lambda e: e[0]),
            "ymin": parsed.map(lambda e: e[1]),
            "xmax": parsed.map(lambda e: e[2]),
            "ymax": parsed.map(lambda e: e[3]),
        }
    )


def _contains_py(buf: bytes | None, x: float, y: float) -> bool | None:
    """Even-odd point-in-multipolygon: inside any shell minus its holes
    (ring 0 = shell, rings 1+ = holes, per _make_valid_py's output
    convention). Boundary points follow the ray-cast's half-open edge rule
    — callers needing boundary guarantees must buffer."""
    if buf is None or x is None or y is None:
        return None
    for rings in _parse_wkb(bytes(buf)):
        if rings and _point_in_ring((x, y), rings[0]):
            if not any(_point_in_ring((x, y), hole) for hole in rings[1:]):
                return True
    return False


@F.pandas_udf(T.BooleanType())
def st_contains_point(wkb: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series(
        [_contains_py(b, xx, yy) for b, xx, yy in zip(wkb, x, y)]
    )


def _geojson(polys: list[list[list[tuple[float, float]]]] | None) -> dict:
    """GEOJSON_GEOMETRY of parsed rings; a null geometry is a struct whose
    fields are null, not a null struct."""
    if polys is None:
        return {"type": None, "coordinates": None}
    coords = [[[list(pt) for pt in ring] for ring in rings] for rings in polys]
    return {"type": "MultiPolygon", "coordinates": coords}


@F.pandas_udf(GEOJSON_GEOMETRY)
def st_as_geojson_struct(wkb: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        [_geojson(None if b is None else _parse_wkb(bytes(b))) for b in wkb],
        columns=["type", "coordinates"],
    )


# --- one geometry pass per season ------------------------------------------
# Each season pipeline reads its geometry through ONE pandas UDF that parses
# the WKB once and returns struct(area, geojson): one ArrowEvalPython node
# per plan, where the per-step UDFs above cost a Python stage each. They
# run the same kernels, so a season UDF equals the composition of the
# public UDFs (tests/test_geo.py checks it). An incoming NaN ``area_m2``
# reads as null here: pandas has one missing value for doubles.

SEASON_GEOMETRY = T.StructType(
    [
        T.StructField("area", T.DoubleType()),
        T.StructField("geojson", GEOJSON_GEOMETRY),
    ]
)


def _ceil_area(polys: list[list[list[tuple[float, float]]]], area_fn) -> float:
    """``area_m2``'s ``F.ceil(..).cast("double")`` on one value. A NaN area
    (NaN coordinates in the .shp) stays NaN, which Arrow hands Spark as
    null, as it did from ``st_area_*``. Spark's ceil of a double is a Java
    ``(long)`` cast, so an area at or beyond 2**63 (an overflowing planar
    product) clamps to the long range."""
    a = _polys_area(polys, area_fn)
    if math.isnan(a):
        return a
    if abs(a) >= 2.0**63:
        return math.copysign(2.0**63, a)
    return float(math.ceil(a))


def _season_2023(buf: bytes | None, area: float | None):
    """documents_2023's geometry rule (crowdsorsa-etl-2023.R:34-40, 63-80):
    ``area = coalesce(area_m2, ceil(geodesic area of the repaired rings))``,
    and the GeoJSON is of the repaired rings when ``area > 0``, else of the
    raw ones."""
    if buf is None:
        return area, None
    raw = _parse_wkb(bytes(buf))
    valid = _make_valid_polys(raw)
    if area is None:
        area = _ceil_area(valid, _ring_area_geodesic)
    return area, (valid if area > 0 else raw)


def _season_2024(buf: bytes | None, area: float | None):
    """documents_2024's geometry rule: ``area = coalesce(area_m2, ceil(planar
    EUREF area))`` and the GeoJSON of the raw rings."""
    if buf is None:
        return area, None
    polys = _parse_wkb(bytes(buf))
    if area is None:
        area = _ceil_area(polys, _ring_area_planar)
    return area, polys


def _season_frame(wkb: pd.Series, area_m2: pd.Series, rule) -> pd.DataFrame:
    areas, geojson = [], []
    for buf, a in zip(wkb, area_m2):
        area, polys = rule(buf, None if pd.isna(a) else float(a))
        areas.append(area)
        geojson.append(_geojson(polys))
    return pd.DataFrame(
        {"area": pd.Series(areas, dtype="float64"), "geojson": geojson}
    )


@F.pandas_udf(SEASON_GEOMETRY)
def geometry_2023(wkb: pd.Series, area_m2: pd.Series) -> pd.DataFrame:
    return _season_frame(wkb, area_m2, _season_2023)


@F.pandas_udf(SEASON_GEOMETRY)
def geometry_2024(wkb: pd.Series, area_m2: pd.Series) -> pd.DataFrame:
    return _season_frame(wkb, area_m2, _season_2024)


def _cross3(q1, q2, p) -> float:
    """Orientation of p relative to directed segment q1→q2. The EXACT
    expression order is load-bearing: parity_oracles.polygon_join_sql emits
    the same (q2x−q1x)·(py−q1y) − (q2y−q1y)·(px−q1x) so both engines make
    identical sign/zero decisions on identical doubles."""
    return (q2[0] - q1[0]) * (p[1] - q1[1]) - (q2[1] - q1[1]) * (p[0] - q1[0])


def _in_bbox(a, b, p) -> bool:
    return (
        min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
    )


def _segments_intersect(p1, p2, q1, q2) -> bool:
    """Inclusive segment intersection (shared endpoints / collinear overlap
    / touching count as intersecting): the classic four-orientation test
    plus collinear bbox checks."""
    d1 = _cross3(q1, q2, p1)
    d2 = _cross3(q1, q2, p2)
    d3 = _cross3(p1, p2, q1)
    d4 = _cross3(p1, p2, q2)
    if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
        (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
    ):
        return True
    if d1 == 0 and _in_bbox(q1, q2, p1):
        return True
    if d2 == 0 and _in_bbox(q1, q2, p2):
        return True
    if d3 == 0 and _in_bbox(p1, p2, q1):
        return True
    if d4 == 0 and _in_bbox(p1, p2, q2):
        return True
    return False


def _edges(buf: bytes):
    """All boundary edges of a WKB multipolygon (shells AND holes — holes
    are boundary too for the intersects predicate)."""
    for rings in _parse_wkb(buf):
        for ring in rings:
            for i in range(len(ring) - 1):
                yield ring[i], ring[i + 1]


def _intersects_py(a: bytes | None, b: bytes | None) -> bool | None:
    """Exact polygon-polygon intersection: two closed regions intersect iff
    their boundaries intersect (any edge pair) or one contains the other
    (tested via one vertex — if no boundaries cross, containment of any
    vertex is containment of the whole polygon). Even-odd hole semantics
    come free from _contains_py (a polygon sitting inside the other's hole
    is correctly NOT contained)."""
    if a is None or b is None:
        return None
    a, b = bytes(a), bytes(b)
    b_edges = list(_edges(b))
    for p1, p2 in _edges(a):
        for q1, q2 in b_edges:
            if _segments_intersect(p1, p2, q1, q2):
                return True
    pa = _parse_wkb(a)
    pb = _parse_wkb(b)
    if not pa or not pb:
        return False
    av = pa[0][0][0]  # first vertex of first shell
    bv = pb[0][0][0]
    return bool(_contains_py(a, bv[0], bv[1]) or _contains_py(b, av[0], av[1]))


@F.pandas_udf(T.BooleanType())
def st_intersects(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    """Exact WKB-vs-WKB polygon intersection test (Arrow-batched)."""
    return pd.Series([_intersects_py(a, b) for a, b in zip(wkb_a, wkb_b)])


@F.pandas_udf(T.BinaryType())
def st_translate(wkb: pd.Series, dx: pd.Series, dy: pd.Series) -> pd.Series:
    """Shift a WKB multipolygon by (dx, dy) — re-encoded via
    polygons_to_wkb, so coordinates stay exact float64 sums."""

    def move(buf, ddx, ddy):
        if buf is None:
            return None
        moved = [
            [[(x + ddx, y + ddy) for x, y in ring] for ring in rings]
            for rings in _parse_wkb(bytes(buf))
        ]
        return polygons_to_wkb(moved)

    return pd.Series([move(b, x, y) for b, x, y in zip(wkb, dx, dy)])
