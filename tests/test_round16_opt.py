"""Round-16 optimization gates.

The optimization round must not change what any query computes — these
tests pin the q121 rewrite (two-phase grid cumsum, VERDICT r15 next-#4)
to the window-cumsum semantics and to its DuckDB oracle, and assert the
plan-shape claim (no unpartitioned window) the rewrite exists for.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


class TestGlobalCumsumMulti:
    def test_matches_window_cumsum(self, spark):
        from pyspark.sql import Window

        from crowdsorsa_etl_spark.operators.global_rank import (
            with_global_cumsum_multi,
        )

        df = spark.range(0, 500).select(
            (F.col("id") * 37 % 499).alias("v"),
            (F.col("id") % 7).alias("a"),
            F.when(F.col("id") % 11 == 0, None)
            .otherwise(F.col("id") % 5)
            .alias("b"),
        )
        out, totals = with_global_cumsum_multi(
            df, [F.col("v")], ["a", "b"], cum_cols=["ca", "cb"]
        )
        got = {r["v"]: (r["ca"], r["cb"]) for r in out.collect()}
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        want_rows = df.select(
            "v",
            F.sum(F.coalesce("a", F.lit(0))).over(w).alias("ca"),
            F.sum(F.coalesce("b", F.lit(0))).over(w).alias("cb"),
        ).collect()
        want = {r["v"]: (r["ca"], r["cb"]) for r in want_rows}
        assert got == want
        # totals come from the same offset fold — they must equal the
        # grand sums
        sums = df.agg(
            F.sum(F.coalesce("a", F.lit(0))),
            F.sum(F.coalesce("b", F.lit(0))),
        ).collect()[0]
        assert totals == [sums[0], sums[1]]

    def test_q121_twophase_has_no_partitionless_window(self, spark):
        """The DEFAULT q121 plan (no conf set) must carry NO unpartitioned
        window — the grid cumsum runs through the two-phase range-sort
        machinery (VERDICT r16 next-#4: twophase is now the default)."""
        df = QUERIES["q121_ks_drift"](spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan()

        def walk(node):
            name = node.getClass().getSimpleName()
            if name == "Window" and node.partitionSpec().isEmpty():
                yield name
            for i in range(node.children().size()):
                yield from walk(node.children().apply(i))

        assert list(walk(plan)) == []

    def test_q121_hash_contract_both_paths(self, spark):
        """BOTH plan paths must produce the oracle's exact output (the
        sweep pins the default path; this pins the scale path too)."""
        import duckdb

        from crowdsorsa_etl_spark.queries import ORACLES
        from crowdsorsa_etl_spark.queries.drift import _KS_GRID_CONF

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF_DIR}/documents.parquet'"
        )
        want = sorted(con.execute(ORACLES["q121_ks_drift"]).fetchall())
        # default path (twophase since r17)
        got_twophase = sorted(
            tuple(r)
            for r in QUERIES["q121_ks_drift"](spark, SF_DIR).collect()
        )
        # escape-hatch path (bounded-grid single window)
        spark.conf.set(_KS_GRID_CONF, "window")
        try:
            got_window = sorted(
                tuple(r)
                for r in QUERIES["q121_ks_drift"](spark, SF_DIR).collect()
            )
        finally:
            spark.conf.unset(_KS_GRID_CONF)
        assert got_window == want
        assert got_twophase == want


class TestCpuFanout:
    """operators/fanout.cpu_fanout (r16 batch 6): the scan-parallelism
    repair must widen a narrow input to defaultParallelism, leave an
    already-parallel input untouched, and never change row contents —
    the invariants the q111/contamination/flagship call sites rely on."""

    def test_widens_narrow_input(self, spark):
        from crowdsorsa_etl_spark.operators.fanout import cpu_fanout

        df = spark.range(0, 1000).coalesce(1).select(
            F.col("id"), (F.col("id") % 13).alias("k")
        )
        out = cpu_fanout(df)
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
        assert sorted(tuple(r) for r in out.collect()) == sorted(
            tuple(r) for r in df.collect()
        )

    def test_noop_when_already_parallel(self, spark):
        from crowdsorsa_etl_spark.operators.fanout import cpu_fanout

        target = spark.sparkContext.defaultParallelism
        df = spark.range(0, 1000, 1, target + 4)
        out = cpu_fanout(df)
        # must not coalesce and must not insert a repartition
        assert out is df
