"""Round-13 gates: exact shingle-Jaccard ground truth (the LSH audit's
truth tier), including the max_df stop-shingle cap the audit query itself
never exercises."""

from __future__ import annotations

from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.dedup import (
    minhash_lsh_candidates,
    shingle_jaccard_pairs,
)


def _pairs_dict(df):
    return {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}


class TestShingleJaccard:
    def _docs(self, spark):
        # doc 0 and 1 share a long run; doc 2 is disjoint vocabulary
        return spark.createDataFrame(
            [
                (0, "a b c d e f g h"),
                (1, "a b c d e f x y"),
                (2, "p q r s t u v w"),
            ],
            ["doc_id", "text"],
        )

    def test_matches_python_reference(self, spark):
        got = _pairs_dict(shingle_jaccard_pairs(self._docs(spark)))

        def shingle_set(words):
            # trailing shingles included (k=3, then 2, then 1 at the tail),
            # mirroring the null-skipping lead() combine
            out = set()
            for i in range(len(words)):
                out.add(tuple(words[i : i + 3]))
            return out

        docs = {
            0: "a b c d e f g h".split(),
            1: "a b c d e f x y".split(),
            2: "p q r s t u v w".split(),
        }
        for (ia, ib), jac in got.items():
            sa, sb = shingle_set(docs[ia]), shingle_set(docs[ib])
            want = round(len(sa & sb) / len(sa | sb), 6)
            assert jac == want
        # the disjoint doc never pairs
        assert all(2 not in p for p in got)
        assert (0, 1) in got

    def test_pairs_require_shared_shingle(self, spark):
        got = _pairs_dict(shingle_jaccard_pairs(self._docs(spark)))
        assert set(got) == {(0, 1)}

    def test_max_df_removes_hot_shingles_from_universe(self, spark):
        # the '(z,z,z)' boilerplate shingle appears in every doc -> df=3 >
        # cap=2, so with the cap the otherwise-disjoint pairs 0/2 and 1/2
        # stop pairing entirely, and 0/1 is rescored over the capped
        # universe: uncapped 4/10, capped 3/9 (zzz leaves both the
        # intersection and the union)
        docs = spark.createDataFrame(
            [
                (0, "z z z z a b c d"),
                (1, "z z z z a b c x"),
                (2, "z z z z p q r s"),
            ],
            ["doc_id", "text"],
        )
        uncapped = _pairs_dict(shingle_jaccard_pairs(docs))
        capped = _pairs_dict(shingle_jaccard_pairs(docs, max_df=2))
        assert set(uncapped) == {(0, 1), (0, 2), (1, 2)}
        assert uncapped[(0, 1)] == 0.4
        assert set(capped) == {(0, 1)}
        assert capped[(0, 1)] == round(3 / 9, 6)

    def test_lsh_candidates_are_subset_of_truth_support(self, spark):
        # every band collision implies >= 1 shared shingle on this fixture
        docs = self._docs(spark)
        cand = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_candidates(docs).collect()
        }
        truth = set(_pairs_dict(shingle_jaccard_pairs(docs)))
        assert cand <= truth


class TestWordPiece:
    def _docs(self, spark):
        return spark.createDataFrame(
            [(0, "hug hug hug pug pug hugs")], ["doc_id", "text"]
        )

    def test_learn_scores_likelihood_ratio(self, spark):
        from crowdsorsa_etl_spark.operators.wordpiece import wordpiece_learn

        rows = wordpiece_learn(self._docs(spark), n_merges=1).collect()
        assert len(rows) == 1
        r = rows[0]
        # symbol counts: h=4, ##u=6, ##g=6, p=2, ##s=1
        # pair counts: (h,##u)=4, (##u,##g)=6, (p,##u)=2, (##g,##s)=1
        # scores: 4/24=.1667, 6/36=.1667, 2/12=.1667, 1/6=.1667 — all tie!
        # tie-break pair ASC: '##g ##s' < '##u ##g' < 'h ##u' < 'p ##u'
        assert r["pair"] == "##g ##s"
        assert r["merged"] == "##gs"
        assert r["total"] == 1
        assert r["score"] == 1 / 6

    def test_merged_symbol_strips_right_hashes_only(self, spark):
        from crowdsorsa_etl_spark.operators.wordpiece import wordpiece_learn

        rows = wordpiece_learn(
            self._docs(spark), n_merges=3
        ).collect()
        for r in rows:
            a, b = r["pair"].split(" ")
            want = a + (b[2:] if b.startswith("##") else b)
            assert r["merged"] == want

    def test_encode_greedy_longest_match(self, spark):
        from crowdsorsa_etl_spark.operators.wordpiece import (
            wordpiece_encode_words,
        )

        docs = spark.createDataFrame([(0, "hugs hug ugh")], ["doc_id", "text"])
        vocab = spark.createDataFrame(
            [("h",), ("u",), ("g",), ("s",), ("hug",), ("##u",), ("##g",),
             ("##s",), ("##gs",), ("##ugh",)],
            ["tok"],
        )
        got = {
            r["word"]: r["wp_tokens"]
            for r in wordpiece_encode_words(docs, vocab).collect()
        }
        # 'hugs': longest initial match 'hug', then '##s' (not '##gs' —
        # greedy already consumed the g)
        assert got["hugs"] == "hug ##s"
        assert got["hug"] == "hug"
        # 'ugh': 'u' then longest continuation... '##gh' absent -> '##g'
        # then '##h' absent -> whole word UNK
        assert got["ugh"] == "[UNK]"

    def test_encode_unk_on_unknown_alphabet(self, spark):
        from crowdsorsa_etl_spark.operators.wordpiece import (
            wordpiece_encode_words,
        )

        docs = spark.createDataFrame([(0, "ab zq")], ["doc_id", "text"])
        vocab = spark.createDataFrame(
            [("a",), ("##b",), ("z",)], ["tok"]
        )
        got = {
            r["word"]: (r["n_wp_tokens"], r["wp_tokens"])
            for r in wordpiece_encode_words(docs, vocab).collect()
        }
        assert got["ab"] == (2, "a ##b")
        assert got["zq"] == (1, "[UNK]")

    def test_uncapped_oversized_dictionary_raises(self, spark):
        from crowdsorsa_etl_spark.operators.wordpiece import wordpiece_learn

        docs = spark.createDataFrame(
            [(0, "one two three four five")], ["doc_id", "text"]
        )
        import pytest

        with pytest.raises(ValueError, match="max_vocab_words"):
            wordpiece_learn(docs, n_merges=1, max_driver_words=3)

    def test_vocab_contains_alphabet_and_merges(self, spark):
        from crowdsorsa_etl_spark.operators.wordpiece import (
            wordpiece_learn,
            wordpiece_vocab,
        )

        docs = self._docs(spark)
        merges = wordpiece_learn(docs, n_merges=2)
        toks = {r["tok"] for r in wordpiece_vocab(docs, merges).collect()}
        for ch in "hugps":
            assert ch in toks and f"##{ch}" in toks
        for r in merges.collect():
            assert r["merged"] in toks


class TestHardNegatives:
    def test_excludes_same_label_and_self(self, spark):
        from crowdsorsa_etl_spark.operators.similarity import (
            hard_negative_topk,
        )

        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0], 0),
                (1, [0.9, 0.1], 0),   # same label as 0 — never a negative
                (2, [0.8, 0.2], 1),
                (3, [0.0, 1.0], 1),
            ],
            "vec_id long, embedding array<double>, label int",
        )
        got = hard_negative_topk(
            emb, emb.filter(F.col("vec_id") == 0), k=2
        ).collect()
        ids = [r["neighbor_id"] for r in got]
        assert ids == [2, 3]  # most-similar wrong-label first
        assert all(r["neighbor_label"] != r["query_label"] for r in got)
        assert [r["rank"] for r in got] == [1, 2]

    def test_all_same_label_yields_empty(self, spark):
        from crowdsorsa_etl_spark.operators.similarity import (
            hard_negative_topk,
        )

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0], 7), (1, [0.0, 1.0], 7)],
            "vec_id long, embedding array<double>, label int",
        )
        assert (
            hard_negative_topk(emb, emb, k=3).count() == 0
        )

    def test_disjoint_query_id_domain_keeps_colliding_corpus_id(self, spark):
        """ADVICE r11: with query_id_col pointing at a NON-corpus key, a
        corpus id that merely collides with a query id is a legitimate
        hard negative and must not be self-excluded."""
        from crowdsorsa_etl_spark.operators.similarity import (
            hard_negative_topk,
        )

        corpus = spark.createDataFrame(
            [(7, [1.0, 0.0], 0), (8, [0.0, 1.0], 0)],
            "vec_id long, embedding array<double>, label int",
        )
        # query id 7 collides with corpus vec_id 7 but lives in q_id space
        queries = spark.createDataFrame(
            [(7, [1.0, 0.0], 1)],
            "q_id long, embedding array<double>, label int",
        )
        got = hard_negative_topk(
            corpus, queries, k=2, query_id_col="q_id"
        ).collect()
        assert [r["neighbor_id"] for r in got] == [7, 8]


class TestRound13Plans:
    SF_DIR = "/root/testdata/sf0.001"

    @staticmethod
    def _plan(df):
        from tests.test_plans import plan_of

        return plan_of(df)

    def test_bucket_pack_no_single_partition_window(self, spark):
        # the per-bucket rank must be the two-phase global row number —
        # a Window.partitionBy(bucket_len) over ~4 hot keys would show
        # an Exchange on the bucket key (one reducer per bucket at scale)
        from crowdsorsa_etl_spark.queries import QUERIES

        plan = self._plan(QUERIES["llm_bucket_pack_assign"](spark, self.SF_DIR))
        assert "SinglePartition" not in plan
        assert "Window" not in plan

    def test_dataset_card_no_single_partition_window(self, spark):
        # corpus-total token share comes from a broadcast scalar join,
        # never an unpartitioned window (round-13 fix). The remaining
        # SinglePartition exchanges are the bounded 1-row folds of global
        # scalar aggregates (<= n_partitions rows) — the invariant is no
        # WindowExec without a partition key, i.e. no Window at all here.
        from crowdsorsa_etl_spark.queries import QUERIES

        plan = self._plan(QUERIES["llm_dataset_card"](spark, self.SF_DIR))
        assert "Window" not in plan

    @staticmethod
    def _single_partition_feeds_only_aggregates(plan: str) -> bool:
        """True iff every SinglePartition exchange's PARENT is an
        aggregate (the bounded 1-row fold of a global scalar aggregate)
        — i.e. no unpartitioned Sort/Window rides a SinglePartition
        exchange anywhere in the plan."""
        import re

        sp_ids = set()
        for sec in plan.split("\n\n"):
            m = re.match(r"\((\d+)\) Exchange", sec)
            if m and "Arguments: SinglePartition" in sec:
                sp_ids.add(m.group(1))
        tree = plan.split("\n\n")[0]
        lines = tree.split("\n")
        for i, ln in enumerate(lines):
            m = re.search(r"Exchange(?:\w*)? \((\d+)\)", ln)
            if not m or m.group(1) not in sp_ids:
                continue
            indent = len(ln) - len(ln.lstrip(" :+-"))
            parent = None
            for j in range(i - 1, -1, -1):
                pj = lines[j]
                pind = len(pj) - len(pj.lstrip(" :+-"))
                if pind < indent:
                    parent = pj
                    break
            if parent is None or "Aggregate" not in parent:
                return False
        return True

    def test_lsh_audit_reduces_to_broadcast_scalars(self, spark):
        # truth/candidate tiers are joins + aggregations with per-doc
        # partitioned shingle windows; the only SinglePartition exchanges
        # allowed are the bounded 1-row folds of global scalar aggregates
        from crowdsorsa_etl_spark.queries import QUERIES

        plan = self._plan(QUERIES["llm_lsh_audit"](spark, self.SF_DIR))
        assert self._single_partition_feeds_only_aggregates(plan)

    def test_hard_negatives_broadcasts_probe_side(self, spark):
        from crowdsorsa_etl_spark.queries import QUERIES

        plan = self._plan(QUERIES["llm_hard_negatives"](spark, self.SF_DIR))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        # probe filter reaches the scan
        assert "PushedFilters" in plan


class TestIncrementalComponents:
    def _cc(self, spark, edges):
        from crowdsorsa_etl_spark.operators.clusters import (
            connected_components,
        )

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {
            (r["id"], r["component"])
            for r in connected_components(df).collect()
        }

    def test_multi_batch_equals_full_recompute(self, spark):
        from crowdsorsa_etl_spark.operators.clusters import (
            connected_components,
            incremental_components,
        )

        b0 = [(1, 2), (3, 4), (10, 11)]
        b1 = [(2, 3), (20, 21)]          # merges {1,2} with {3,4}; new {20,21}
        b2 = [(0, 21), (11, 12)]         # 0 becomes the min of {20,21}; grow
        reg = connected_components(
            spark.createDataFrame(b0, "id_a long, id_b long")
        )
        for batch in (b1, b2):
            reg = incremental_components(
                reg, spark.createDataFrame(batch, "id_a long, id_b long")
            )
        got = {(r["id"], r["component"]) for r in reg.collect()}
        want = self._cc(spark, b0 + b1 + b2)
        assert got == want
        # spot-check the hard cases: cross-registry merge and the
        # new-node-is-the-new-min relabel
        as_map = dict(got)
        assert as_map[4] == 1
        assert as_map[20] == 0 and as_map[21] == 0
        assert as_map[12] == 10

    def test_same_component_edge_is_noop(self, spark):
        from crowdsorsa_etl_spark.operators.clusters import (
            connected_components,
            incremental_components,
        )

        reg0 = connected_components(
            spark.createDataFrame([(5, 6), (6, 7)], "id_a long, id_b long")
        )
        reg1 = incremental_components(
            reg0, spark.createDataFrame([(5, 7)], "id_a long, id_b long")
        )
        assert {(r["id"], r["component"]) for r in reg0.collect()} == {
            (r["id"], r["component"]) for r in reg1.collect()
        }


class TestPow2BucketParity:
    """ADVICE r11: Spark's log2 is log(x)/log(2) and lands one ulp above
    the integer at some exact powers of two (29.000000000000004 at 2**29),
    so a raw ceil(log2(n)) bucket key overshoots while DuckDB's exact libm
    log2 does not. _pow2_bucket's integer post-correction must pin the
    bucket to n itself at every power of two."""

    def test_exact_powers_of_two_bucket_to_themselves(self, spark):
        from crowdsorsa_etl_spark.queries.training_mix import _pow2_bucket

        ns = [2**k for k in (1, 2, 10, 29, 30, 31, 39)] + [1]
        df = spark.createDataFrame([(n,) for n in ns], "n long")
        got = {
            r["n"]: r["b"]
            for r in df.select(
                "n", _pow2_bucket(F.col("n")).alias("b")
            ).collect()
        }
        assert got == {n: n for n in ns}

    def test_non_powers_bucket_to_next_power(self, spark):
        from crowdsorsa_etl_spark.queries.training_mix import _pow2_bucket

        cases = {0: 1, 3: 4, 5: 8, 2**29 + 1: 2**30, 2**29 - 1: 2**29}
        df = spark.createDataFrame([(n,) for n in cases], "n long")
        got = {
            r["n"]: r["b"]
            for r in df.select(
                "n", _pow2_bucket(F.col("n")).alias("b")
            ).collect()
        }
        assert got == cases
