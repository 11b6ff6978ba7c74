"""Misra–Gries heavy hitters: the no-false-negative guarantee, adversarial
orderings, summary mergeability, and the guard rails."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.heavyhitters import (
    _mg_fold,
    heavy_hitters,
    mg_partition_summaries,
)


def _docs(spark, texts, partitions=4):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(partitions)


class TestMGFold:
    def test_exact_when_under_capacity(self):
        got = _mg_fold(iter(["a", "b", "a", "c", "a", "b"]), 8)
        assert got == {"a": 3, "b": 2, "c": 1}

    def test_never_misses_majority_item(self):
        # 60×"hot" + 40 distinct cold tokens, hot arriving LAST —
        # the order that maximally stresses eviction
        stream = [f"cold{i}" for i in range(40)] + ["hot"] * 60
        got = _mg_fold(iter(stream), 4)
        assert "hot" in got
        # MG estimate lower bound: est >= true - n/(k+1)
        assert got["hot"] >= 60 - 100 / 5

    def test_decrement_evicts_zeros(self):
        got = _mg_fold(iter(["a", "b", "c", "d"]), 2)
        assert len(got) <= 2


class TestHeavyHitters:
    def test_exact_frequent_set(self, spark):
        # "the" in every doc (share 1/3), fillers unique per doc
        texts = [f"the filler{i} extra{i}" for i in range(30)]
        got = heavy_hitters(
            _docs(spark, texts), "text", capacity=16, min_share=0.2
        ).collect()
        assert {r["token"] for r in got} == {"the"}
        assert got[0]["cnt"] == 30

    def test_matches_exact_groupby(self, spark):
        texts = [
            ("alpha beta " * (1 + i % 3)) + f"uniq{i}" for i in range(50)
        ]
        df = _docs(spark, texts)
        got = heavy_hitters(df, "text", capacity=32, min_share=0.05)
        exact = (
            df.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        n = exact.agg(F.sum("cnt")).collect()[0][0]
        import math

        thr = max(math.ceil(0.05 * n), 1)
        want = {(r["token"], r["cnt"]) for r in exact.collect() if r["cnt"] >= thr}
        assert {(r["token"], r["cnt"]) for r in got.collect()} == want

    def test_adversarial_partition_order(self, spark):
        # heavy token concentrated in ONE doc placed among many
        # cold-token docs: per-partition eviction pressure everywhere
        texts = [" ".join(f"c{i}_{j}" for j in range(20)) for i in range(20)]
        texts.append("hot " * 50)
        got = heavy_hitters(
            _docs(spark, texts, partitions=8), "text", capacity=16, min_share=0.1
        ).collect()
        assert {r["token"] for r in got} == {"hot"}

    def test_guard_rejects_threshold_inside_bound(self, spark):
        df = _docs(spark, ["a b c"])
        with pytest.raises(ValueError, match="error bound"):
            heavy_hitters(df, "text", capacity=9, min_share=0.1)

    def test_empty_corpus(self, spark):
        got = heavy_hitters(
            _docs(spark, ["", "   "]), "text", capacity=8, min_share=0.5
        )
        assert got.count() == 0
        assert got.columns == ["token", "cnt"]


class TestSummaries:
    def test_sentinel_totals_sum_to_token_count(self, spark):
        df = _docs(spark, ["a b c d", "a a b"], partitions=2)
        rows = mg_partition_summaries(df, "text", capacity=8).collect()
        total = sum(r["est"] for r in rows if r["token"] is None)
        assert total == 7

    def test_capacity_guard(self, spark):
        with pytest.raises(ValueError, match="capacity"):
            mg_partition_summaries(_docs(spark, ["a"]), "text", capacity=0)


class TestGroupedHeavyHitters:
    def test_exact_per_group_set(self, spark):
        """Grouped MG output == the exact per-group >=min_share token set
        computed the brute-force way (groupBy all) — the deterministic
        contract that makes the plain-SQL oracle valid."""
        import math

        from crowdsorsa_etl_spark.functions.text import normalize_text
        from crowdsorsa_etl_spark.operators.heavyhitters import (
            heavy_hitters_grouped,
        )
        from crowdsorsa_etl_spark.queries._shared import _t

        docs = _t(spark, "/root/testdata/sf0.001", "documents")
        got = {
            (r["g"], r["token"], r["cnt"])
            for r in heavy_hitters_grouped(
                docs, "source", "text", capacity=64, min_share=0.02
            ).collect()
        }
        toks = docs.select(
            F.col("source").alias("g"),
            F.explode(F.split(normalize_text(F.col("text")), " ")).alias(
                "token"
            ),
        ).filter(F.col("token") != "")
        counts = {}
        totals = {}
        for r in toks.collect():
            counts[(r["g"], r["token"])] = (
                counts.get((r["g"], r["token"]), 0) + 1
            )
            totals[r["g"]] = totals.get(r["g"], 0) + 1
        want = {
            (g, t, c)
            for (g, t), c in counts.items()
            if c >= max(int(math.ceil(0.02 * totals[g])), 1)
        }
        assert got == want

    def test_capacity_below_threshold_refused(self, spark):
        import pytest as _pytest

        from crowdsorsa_etl_spark.operators.heavyhitters import (
            heavy_hitters_grouped,
        )
        from crowdsorsa_etl_spark.queries._shared import _t

        docs = _t(spark, "/root/testdata/sf0.001", "documents")
        with _pytest.raises(ValueError, match="error bound"):
            heavy_hitters_grouped(
                docs, "source", "text", capacity=10, min_share=0.02
            )

    def test_tiny_capacity_still_exact_above_bound(self, spark):
        """capacity=9 with min_share=0.2: per-group guarantee holds at a
        capacity far below the vocabulary size (the point of MG)."""
        import math

        from crowdsorsa_etl_spark.operators.heavyhitters import (
            heavy_hitters_grouped,
        )

        rows = [
            ("s1", "a a a a b b c d e f g h i j"),
            ("s2", "x x x x x y z w v u t s r q"),
        ]
        df = spark.createDataFrame(rows, "source string, text string")
        got = {
            (r["g"], r["token"])
            for r in heavy_hitters_grouped(
                df, "source", "text", capacity=9, min_share=0.2
            ).collect()
        }
        # 14 tokens per group -> threshold ceil(0.2*14)=3
        assert got == {("s1", "a"), ("s2", "x")}
