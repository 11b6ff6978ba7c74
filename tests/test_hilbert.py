"""Hilbert curve keys: parity with the reference xy2d loop and
space-filling-curve properties (bijectivity, unit-step adjacency — the
property Z-order lacks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.zorder import (
    hilbert_cte_sql,
    hilbert_value,
)


def _xy2d(order: int, x: int, y: int) -> int:
    d = 0
    s = order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = order - 1 - x
                y = order - 1 - y
            x, y = y, x
        s //= 2
    return d


def _full_grid(spark, bits):
    n = 1 << bits
    pts = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(pts, "x long, y long")
    return {
        (r["x"], r["y"]): r["h"]
        for r in df.select(
            "x", "y", hilbert_value(F.col("x"), F.col("y"), bits).alias("h")
        ).collect()
    }


class TestHilbertValue:
    def test_matches_reference_loop(self, spark):
        got = _full_grid(spark, 3)
        for (x, y), h in got.items():
            assert h == _xy2d(8, x, y)

    def test_bijective_on_full_grid(self, spark):
        got = _full_grid(spark, 4)
        assert sorted(got.values()) == list(range(256))

    def test_consecutive_positions_are_grid_neighbors(self, spark):
        # THE Hilbert property (false for Z-order): |d2-d1|=1 implies
        # manhattan distance 1 on the grid
        got = _full_grid(spark, 4)
        by_d = {h: xy for xy, h in got.items()}
        for d in range(255):
            (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1

    def test_bits_guard(self, spark):
        df = spark.createDataFrame([(1, 1)], "x long, y long")
        with pytest.raises(ValueError, match="bits"):
            df.select(hilbert_value(F.col("x"), F.col("y"), 0))
        with pytest.raises(ValueError, match="bits"):
            hilbert_cte_sql("SELECT 1", "1", "1", "1", bits=40)

    def test_cte_sql_matches_spark(self, spark):
        import duckdb

        inner = hilbert_cte_sql(
            "SELECT * FROM (VALUES (0, 3, 5), (1, 7, 0), (2, 6, 6)) t(i, x, y)",
            "i",
            "x",
            "y",
            bits=3,
        )
        con = duckdb.connect()
        oracle = {r[0]: r[1] for r in con.sql(inner).fetchall()}
        df = spark.createDataFrame(
            [(0, 3, 5), (1, 7, 0), (2, 6, 6)], "i long, x long, y long"
        )
        got = {
            r["i"]: r["h"]
            for r in df.select(
                "i", hilbert_value(F.col("x"), F.col("y"), 3).alias("h")
            ).collect()
        }
        assert got == oracle
