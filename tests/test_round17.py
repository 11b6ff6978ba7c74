"""Round-17 gates: the KLL carried-sketch fold — exact weight
conservation, the merge-degraded rank bound and the q117 fold against
its DuckDB merge-replay oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _cells_of(rows) -> list[tuple[int, int, int, int]]:
    return sorted(
        (r["level"], r["pos"], r["value"], r["weight"]) for r in rows
    )


class TestKllStream:
    def _lineitem_cents(self, spark):
        from crowdsorsa_etl_spark.queries._shared import _t

        return _t(spark, SF_DIR, "lineitem").select(
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
            "l_orderkey",
            "l_linenumber",
        )

    def _batch_fold(self, spark, li, n_batches=3):
        from crowdsorsa_etl_spark.operators.kll import (
            kll_cells_sorted,
            kll_merge,
        )

        acc = None
        for i in range(n_batches):
            cells = [
                (r["level"], r["pos"], r["value"], r["weight"])
                for r in kll_cells_sorted(
                    li.filter(F.col("l_orderkey") % n_batches == i),
                    "cents",
                    ["l_orderkey", "l_linenumber"],
                ).collect()
            ]
            acc = cells if acc is None else kll_merge(acc, cells)
        return acc

    def test_fold_rank_bound_and_summary(self, spark, tmp_path):
        """Merged-state quantile estimates stay within the merge-degraded
        deterministic bound (2x the largest cell weight) of true ranks;
        the per-epoch summary carries the exact running n."""
        import bisect

        from crowdsorsa_etl_spark.operators.kll import kll_quantile

        li = self._lineitem_cents(spark)
        cells = self._batch_fold(spark, li)
        exact = sorted(r["cents"] for r in li.collect())
        n = len(exact)
        assert sum(w for *_x, w in cells) == n
        bound = max(w for *_x, w in cells)
        for phi in (0.1, 0.5, 0.9, 0.99):
            est = kll_quantile(cells, phi)
            true_rank = bisect.bisect_right(exact, est)
            assert abs(true_rank - phi * n) <= 2 * bound + 1, phi

    def test_q117_matches_oracle(self, spark):
        """Cell-exact differential: the registered fold vs the DuckDB
        merge-replay oracle (kll_sql per batch + kll_merge_sql_parts chain)."""
        import duckdb

        from crowdsorsa_etl_spark.queries import ORACLES, QUERIES

        got = _cells_of(QUERIES["q117_kll_stream_fold"](spark, SF_DIR).collect())
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW lineitem AS SELECT * FROM '{SF_DIR}/lineitem.parquet'"
        )
        ref = sorted(
            tuple(r) for r in con.sql(ORACLES["q117_kll_stream_fold"]).fetchall()
        )
        assert got == ref
        n = self._lineitem_cents(spark).count()
        assert sum(w for *_x, w in got) == n


class TestSketchConsumers:
    def test_group_quantiles_within_sketch_bound(self, spark):
        """Every sketch-read quantile's true within-group rank is within
        the deterministic bound (largest cell weight) of the target."""
        import bisect

        from crowdsorsa_etl_spark.queries import QUERIES
        from crowdsorsa_etl_spark.queries._shared import _t

        rows = QUERIES["q118_kll_group_quantiles"](spark, SF_DIR).collect()
        li = _t(spark, SF_DIR, "lineitem").select(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        ).collect()
        by_g: dict[str, list[int]] = {}
        for r in li:
            by_g.setdefault(r["l_returnflag"], []).append(r["cents"])
        assert {r["l_returnflag"] for r in rows} == set(by_g)
        for r in rows:
            exact = sorted(by_g[r["l_returnflag"]])
            n = len(exact)
            assert r["n"] == n  # weight conservation through the sketch
            true_rank = bisect.bisect_right(exact, r["est_cents"])
            # bound: one max-weight cell; at sf0.001 group sizes the
            # sketch tops out at low levels, so the bound is tight
            max_w = max(1, n // 16)
            assert abs(true_rank - r["phi_pct"] * n / 100) <= max_w + 1, r

    def test_equidepth_buckets_cover_and_balance(self, spark):
        """Buckets partition the table exactly (counts sum to n) and each
        bucket's depth deviates from ideal n/B by at most the sketch rank
        error on both boundaries."""
        from crowdsorsa_etl_spark.queries import QUERIES
        from crowdsorsa_etl_spark.queries._shared import _t

        from crowdsorsa_etl_spark.operators.kll import kll_plan

        rows = QUERIES["llm_kll_equidepth"](spark, SF_DIR).collect()
        n = _t(spark, SF_DIR, "lineitem").count()
        assert sum(r["n_rows"] for r in rows) == n
        assert {r["bucket"] for r in rows} <= set(range(8))
        # each boundary's rank is off by at most the largest cell weight
        # (2^max_level, derived from the level plan), so a bucket's depth
        # deviates by at most twice that
        max_w = 1 << (len(kll_plan(n, 32)) - 1)
        bound = 2 * max_w / (n / 8)
        for r in rows:
            assert abs(r["rel_dev"]) <= bound + 0.01, (r, bound)


class TestKmvThetaSketch:
    def test_exact_branch_under_k(self, spark):
        """Sets with fewer than k distinct hashes are retained whole
        (θ = 2^60): every estimate is exactly the true count."""
        from crowdsorsa_etl_spark.operators.kmv import (
            kmv_sketch,
            theta_estimates,
        )

        a = spark.createDataFrame([(i,) for i in range(40)], "u long")
        b = spark.createDataFrame([(i,) for i in range(25, 60)], "u long")
        est = theta_estimates(kmv_sketch(a, "u"), kmv_sketch(b, "u"))
        assert est["est_a"] == 40.0
        assert est["est_b"] == 35.0
        assert est["est_union"] == 60.0
        assert est["est_inter"] == 15.0  # exact — the HLL tier cannot do this

    def test_estimation_branch_bounds(self, spark):
        """Planted overlap well past k: every estimate within 5σ of its
        KMV bound (σ ≈ n/√(k−2)); intersection error must NOT blow up
        the way inclusion-exclusion does at small J."""
        from crowdsorsa_etl_spark.operators.kmv import (
            KMV_K,
            kmv_sketch,
            theta_estimates,
        )

        n_a, n_b, n_i = 20000, 15000, 2500
        a = spark.createDataFrame(
            [(i,) for i in range(n_a)], "u long"
        )
        b = spark.createDataFrame(
            [(i,) for i in range(n_a - n_i, n_a - n_i + n_b)], "u long"
        )
        est = theta_estimates(kmv_sketch(a, "u"), kmv_sketch(b, "u"))
        sig = 1.0 / (KMV_K - 2) ** 0.5
        assert abs(est["est_a"] - n_a) <= 5 * sig * n_a
        assert abs(est["est_b"] - n_b) <= 5 * sig * n_b
        n_u = n_a + n_b - n_i
        assert abs(est["est_union"] - n_u) <= 5 * sig * n_u
        # intersection: sample-based, error ~ est_union * sqrt(J)/sqrt(k)
        assert abs(est["est_inter"] - n_i) <= 5 * sig * n_u

    def test_registered_query_row(self, spark):
        from crowdsorsa_etl_spark.queries import QUERIES

        r = QUERIES["q119_kmv_setops"](spark, SF_DIR).collect()[0]
        assert r["n_inter"] == r["n_a"] + r["n_b"] - r["n_union"]
        assert r["est_union"] >= max(r["est_a"], r["est_b"]) - 1e-6
        assert r["est_inter"] <= min(r["est_a"], r["est_b"]) + 1e-6
