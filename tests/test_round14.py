"""Round-14 operator gates: ANN recall curve properties, bytebpe query
registry wiring, Kafka decode query shape."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


class TestAnnRecallCurve:
    def test_monotone_and_anchored(self, spark):
        """Recall must be non-decreasing in the probe budget, and probing
        every list (n_probe = n_lists = 16) IS brute force — recall
        exactly 1.0, the curve's built-in sanity anchor."""
        from crowdsorsa_etl_spark.queries.retrieval import (
            llm_ann_recall_curve,
        )

        rows = {
            r["n_probe"]: r
            for r in llm_ann_recall_curve(spark, SF_DIR).collect()
        }
        assert sorted(rows) == [1, 2, 4, 8, 16]
        recalls = [rows[p]["recall"] for p in (1, 2, 4, 8, 16)]
        assert all(a <= b for a, b in zip(recalls, recalls[1:]))
        assert recalls[-1] == 1.0
        assert rows[16]["n_hit"] == rows[16]["n_exact"]

    def test_curve_budget_matches_single_point_operator(self, spark):
        """ivf_topk_curve at budget p must equal ivf_topk(n_probe=p) —
        the shared-pass design is an optimization, not a semantics
        change."""
        from crowdsorsa_etl_spark.operators.similarity import (
            ivf_topk,
            ivf_topk_curve,
        )
        from crowdsorsa_etl_spark.sources.parquet import load_table

        emb = load_table(spark, "embeddings", SF_DIR)
        probes = emb.filter(F.col("vec_id") < 4)
        curve = {
            (r["n_probe"], r["query_id"], r["neighbor_id"], r["rank"])
            for r in ivf_topk_curve(
                emb, probes, k=5, n_lists=16, probe_list=(2, 8)
            ).collect()
        }
        for p in (2, 8):
            single = {
                (p, r["query_id"], r["neighbor_id"], r["rank"])
                for r in ivf_topk(
                    emb, probes, k=5, n_lists=16, n_probe=p
                ).collect()
            }
            assert single == {c for c in curve if c[0] == p}

    def test_probe_list_validation(self, spark):
        import pytest

        from crowdsorsa_etl_spark.operators.similarity import ivf_topk_curve
        from crowdsorsa_etl_spark.sources.parquet import load_table

        emb = load_table(spark, "embeddings", SF_DIR)
        with pytest.raises(ValueError, match="probe_list"):
            ivf_topk_curve(emb, emb.limit(1), n_lists=16, probe_list=(0, 4))
        with pytest.raises(ValueError, match="probe_list"):
            ivf_topk_curve(emb, emb.limit(1), n_lists=16, probe_list=(32,))


class TestLDiversity:
    def test_homogeneous_class_flagged(self, spark):
        """A class that is k-anonymous by size but single-source must be
        flagged; a 3-source class must not."""
        from crowdsorsa_etl_spark.queries import QUERIES

        rows = QUERIES["llm_l_diversity"](spark, SF_DIR).collect()
        assert all(r["n_sources"] < 3 for r in rows)
        assert all(0.0 <= r["at_risk_frac"] <= 1.0 for r in rows)


class TestTokenizerCompression:
    def test_byte_tier_pays_more_tokens_at_equal_corpus(self, spark):
        """On an ASCII-ish corpus, byte-level BPE at 12 merges cannot
        compress below 1 token/word and both families share the same
        word/char totals — the datasheet's invariants."""
        from crowdsorsa_etl_spark.queries import QUERIES

        rows = {
            r["family"]: r
            for r in QUERIES["llm_tokenizer_compression"](
                spark, SF_DIR
            ).collect()
        }
        assert set(rows) == {"bpe_char_8", "bpe_byte_12"}
        a, b = rows["bpe_char_8"], rows["bpe_byte_12"]
        assert a["n_words"] == b["n_words"]
        for r in rows.values():
            assert r["tokens_per_word"] >= 1.0
            assert r["chars_per_token"] > 0.0
