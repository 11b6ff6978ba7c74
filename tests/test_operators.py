"""Operator semantics: as-of join vs pandas merge_asof, top-k, sessionize,
dedup family, similarity."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.asof import asof_join
from crowdsorsa_etl_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_keep_first,
    minhash_lsh_candidates,
    simhash_buckets,
    token_jaccard_pairs,
)
from crowdsorsa_etl_spark.operators.similarity import cosine_topk, lsh_topk
from crowdsorsa_etl_spark.operators.topk import sessionize, topk_per_group


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


class TestAsofJoin:
    def test_matches_merge_asof(self, spark):
        left_rows = [
            (1, 100, _ts("2024-01-05 10:00:00")),
            (2, 100, _ts("2024-01-01 00:00:00")),
            (3, 200, _ts("2024-01-03 00:00:00")),
            (4, 300, _ts("2024-01-09 00:00:00")),  # no right rows for key 300
        ]
        right_rows = [
            (100, _ts("2024-01-01 00:00:00"), 11),
            (100, _ts("2024-01-04 00:00:00"), 12),
            (100, _ts("2024-01-06 00:00:00"), 13),
            (200, _ts("2024-01-02 12:00:00"), 21),
        ]
        left = spark.createDataFrame(left_rows, "event_id long, key long, t timestamp")
        right = spark.createDataFrame(right_rows, "key long, rt timestamp, val long")

        got = (
            asof_join(
                left, right,
                on="key", left_time="t", right_time="rt",
                right_payload=["val"], tiebreak="val",
            )
            .select("event_id", "val")
            .collect()
        )
        by_event = {r.event_id: r.val for r in got}
        # pandas ground truth
        lpdf = pd.DataFrame(left_rows, columns=["event_id", "key", "t"]).sort_values("t")
        rpdf = pd.DataFrame(right_rows, columns=["key", "rt", "val"]).sort_values("rt")
        expected = pd.merge_asof(lpdf, rpdf, left_on="t", right_on="rt", by="key")
        for _, row in expected.iterrows():
            want = None if pd.isna(row.val) else int(row.val)
            assert by_event[row.event_id] == want

    def test_inclusive_at_equal_timestamp(self, spark):
        left = spark.createDataFrame(
            [(1, 5, _ts("2024-01-01 00:00:00"))], "id long, key long, t timestamp"
        )
        right = spark.createDataFrame(
            [(5, _ts("2024-01-01 00:00:00"), 99)], "key long, rt timestamp, val long"
        )
        got = asof_join(
            left, right, on="key", left_time="t", right_time="rt",
            right_payload=["val"],
        ).first()
        assert got.val == 99

    def test_tie_takes_max_tiebreak(self, spark):
        left = spark.createDataFrame(
            [(1, 5, _ts("2024-01-02 00:00:00"))], "id long, key long, t timestamp"
        )
        right = spark.createDataFrame(
            [
                (5, _ts("2024-01-01 00:00:00"), 7),
                (5, _ts("2024-01-01 00:00:00"), 9),
            ],
            "key long, rt timestamp, val long",
        )
        got = asof_join(
            left, right, on="key", left_time="t", right_time="rt",
            right_payload=["val"], tiebreak="val",
        ).first()
        assert got.val == 9


class TestTopK:
    def test_topk(self, spark):
        df = spark.createDataFrame(
            [("a", i) for i in range(10)] + [("b", i) for i in range(3)],
            "grp string, v long",
        )
        out = topk_per_group(df, ["grp"], "v", 2, tiebreak="v")
        got = {(r.grp, r.v) for r in out.collect()}
        assert got == {("a", 9), ("a", 8), ("b", 2), ("b", 1)}


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        rows = [
            (1, _ts("2024-01-01 10:00:00")),
            (1, _ts("2024-01-01 10:10:00")),
            (1, _ts("2024-01-01 11:00:00")),  # 50 min gap → new session
            (2, _ts("2024-01-01 09:00:00")),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = sessionize(df, gap_minutes=30)
        sessions = {
            (r.user_id, r.ts.isoformat()): r.session_seq for r in out.collect()
        }
        assert sessions[(1, "2024-01-01T10:00:00")] == 1
        assert sessions[(1, "2024-01-01T10:10:00")] == 1
        assert sessions[(1, "2024-01-01T11:00:00")] == 2
        assert sessions[(2, "2024-01-01T09:00:00")] == 1


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "en"),
    (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
    (3, "the quick brown fox jumped over the lazy dog", "en"),  # near dup
    (4, "completely different text about spark engines", "en"),
    (5, "der schnelle braune fuchs springt", "de"),
]


class TestDedup:
    def test_exact(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string, lang string")
        out = {r.keep_id: r.n_copies for r in exact_dedup(df).collect()}
        assert out[1] == 2  # docs 1+2 collapse
        assert out[3] == 1

    def test_keep_first(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string, lang string")
        kept = {r.doc_id for r in exact_dedup_keep_first(df).collect()}
        assert kept == {1, 3, 4, 5}

    def test_jaccard_finds_near_dup(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string, lang string")
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in token_jaccard_pairs(df, threshold=0.5).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs and pairs[(1, 3)] >= 0.7
        assert (1, 4) not in pairs

    def test_minhash_candidates_include_exact_dup(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string, lang string")
        cand = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(df).collect()}
        assert (1, 2) in cand
        assert (1, 4) not in cand

    def test_simhash_identical_texts_collide(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string, lang string")
        buckets = simhash_buckets(df).collect()
        assert any(b.ids == "1,2" for b in buckets)


class TestSimilarity:
    def test_exact_topk_self_search(self, spark):
        vecs = [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 1.0]),
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        out = cosine_topk(df, df.filter(F.col("vec_id") == 1), k=2)
        got = [(r.neighbor_id, r.rank) for r in out.orderBy("rank").collect()]
        assert got[0] == (2, 1)  # closest to [1,0,0]

    def test_lsh_recall_on_identical_vector(self, spark):
        vecs = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
        vecs.append((100, [1.0] + [0.0] * 7))  # identical direction to vec 0
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        out = lsh_topk(df, df.filter(F.col("vec_id") == 100), dim=8, k=3)
        neighbors = {r.neighbor_id for r in out.collect()}
        assert 0 in neighbors  # same bucket in every table → always recalled


class TestVectorizedCosine:
    def test_agrees_with_expression_path(self, spark):
        from crowdsorsa_etl_spark.operators.similarity import cosine_topk_vectorized
        from crowdsorsa_etl_spark.sources.parquet import load_table

        emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
        q = emb.filter(F.col("vec_id") < 5)
        a = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
             for r in cosine_topk(emb, q, k=5).collect()}
        b = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
             for r in cosine_topk_vectorized(emb, q, k=5).collect()}
        assert a == b

    def test_query_side_collect_is_bounded(self, spark):
        """A fact-scale DataFrame on the query side must raise, not OOM the
        driver (round-6 advice). Covers every _collect_bounded call site
        through the vectorized path."""
        import pytest as _pytest

        from crowdsorsa_etl_spark.operators.similarity import (
            cosine_topk_vectorized,
            ivf_topk,
        )
        from crowdsorsa_etl_spark.sources.parquet import load_table

        emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
        with _pytest.raises(ValueError, match="more than 3 rows"):
            cosine_topk_vectorized(emb, emb, k=5, max_queries=3).collect()
        with _pytest.raises(ValueError, match="more than 3 rows"):
            ivf_topk(emb, emb, k=5, max_queries=3).collect()


class TestConnectedComponents:
    def test_chain_and_triangle(self, spark):
        from crowdsorsa_etl_spark.operators.clusters import connected_components

        # components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
            "id_a long, id_b long",
        )
        got = {r.id: r.component for r in connected_components(edges).collect()}
        assert {got[i] for i in (1, 2, 3, 4)} == {1}
        assert {got[i] for i in (10, 11, 12)} == {10}
        assert {got[i] for i in (20, 21)} == {20}

    def test_dedup_clusters_keep_flags(self, spark):
        from crowdsorsa_etl_spark.operators.clusters import dedup_clusters

        docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
        pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
        got = {r.doc_id: (r.cluster_id, r.keep) for r in dedup_clusters(docs, pairs).collect()}
        assert got[0] == (0, True)
        assert got[3] == (0, False)
        assert got[5] == (0, False)
        assert got[1] == (1, True)  # isolated docs keep themselves
        assert got[2] == (2, True)
        assert got[4] == (4, True)


class TestGlobalRank:
    """operators/global_rank.py must agree exactly with the naive
    single-partition window it replaces — including SQL's uneven-bucket
    ntile rule when total % n != 0."""

    def _naive(self, df, spark):
        from pyspark.sql import Window

        w = Window.orderBy(F.col("v").asc(), F.col("k").asc())
        return {
            r.k: (r.quartile, r.pct_rank, r.cdist, r.rnk, r.drnk)
            for r in df.select(
                "k",
                F.ntile(4).over(w).alias("quartile"),
                F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
                F.round(F.cume_dist().over(w), 6).alias("cdist"),
                F.rank().over(w).cast("int").alias("rnk"),
                F.dense_rank().over(w).cast("int").alias("drnk"),
            ).collect()
        }

    def test_matches_naive_window_uneven_total(self, spark):
        from crowdsorsa_etl_spark.operators.global_rank import rank_distributions

        # 103 rows: 103 % 4 == 3 exercises the uneven ntile buckets; values
        # repeat so the unique-key contract rests on the k tie-breaker
        rows = [(k, float(k % 17)) for k in range(103)]
        df = spark.createDataFrame(rows, "k long, v double")
        got = {
            r.k: (r.quartile, r.pct_rank, r.cdist, r.rnk, r.drnk)
            for r in rank_distributions(
                df, [F.col("v").asc(), F.col("k").asc()], ntile=4, num_partitions=7
            ).collect()
        }
        assert got == self._naive(df, spark)

    def test_row_number_total(self, spark):
        from crowdsorsa_etl_spark.operators.global_rank import with_global_row_number

        df = spark.createDataFrame([(k, -k) for k in range(50)], "k long, v long")
        out, total = with_global_row_number(df, [F.col("v").asc()], num_partitions=5)
        assert total == 50
        got = {r.k: r.global_rn for r in out.collect()}
        assert got[49] == 1 and got[0] == 50  # v = -k sorts descending in k


class TestConnectedComponentsConvergence:
    def test_long_chain_converges_in_log_rounds(self, spark):
        from crowdsorsa_etl_spark.operators.clusters import connected_components

        # 64-vertex path: one-hop propagation needs ~63 rounds; pointer
        # doubling must finish well inside 10
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], "id_a long, id_b long"
        )
        got = {r.id: r.component for r in connected_components(
            edges, max_iterations=10
        ).collect()}
        assert set(got.values()) == {0}

    def test_warns_when_not_converged(self, spark):
        import warnings

        from crowdsorsa_etl_spark.operators.clusters import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], "id_a long, id_b long"
        )
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            connected_components(edges, max_iterations=1).collect()
        assert any("did not converge" in str(x.message) for x in w)


class TestLSHRecallGates:
    """Quantitative gates for the approximate dedup tiers, measured against
    exact ground truth on the fixture corpus."""

    def test_minhash_lsh_recall_vs_exact_jaccard(self, spark):
        from crowdsorsa_etl_spark.sources.parquet import load_table

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        # unigram ground truth ↔ shingle_k=1 signatures: same similarity space
        truth = {
            (r.id_a, r.id_b)
            for r in token_jaccard_pairs(docs, threshold=0.8).collect()
        }
        assert truth, "fixture must contain jaccard>=0.8 pairs"
        cand = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_candidates(docs, shingle_k=1).collect()
        }
        recall = len(truth & cand) / len(truth)
        assert recall >= 0.95, f"minhash-LSH recall {recall:.3f} < 0.95"

    def test_simhash_hamming_equals_bruteforce(self, spark):
        """Pigeonhole-banding exactness: hamming candidates equal the
        brute-force pairs over the same signatures."""
        from crowdsorsa_etl_spark.operators.dedup import (
            simhash_hamming_candidates,
            simhash_signatures,
        )
        from crowdsorsa_etl_spark.sources.parquet import load_table

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        sigs = {
            r.id: r.simhash
            for r in simhash_signatures(docs).collect()
        }
        ids = sorted(sigs)
        for radius in (4, 8):
            brute = {
                (a, b)
                for i, a in enumerate(ids)
                for b in ids[i + 1 :]
                if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= radius
            }
            cand = {
                (r.id_a, r.id_b)
                for r in simhash_hamming_candidates(docs, radius=radius).collect()
            }
            # pigeonhole banding guarantees EVERY pair within radius collides
            # in at least one band — candidates must equal brute force exactly
            assert cand == brute

    def test_portable_minhash_recall_and_winnow_guarantee(self, spark):
        """The md5 + Carter-Wegman hash family preserves the operators'
        semantic gates: minhash-LSH recall vs exact Jaccard, and winnowing's
        shared-run guarantee (a pair sharing ≥ k+window-1 tokens must share
        a fingerprint)."""
        from crowdsorsa_etl_spark.operators.dedup import winnow_overlap_pairs
        from crowdsorsa_etl_spark.sources.parquet import load_table

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        truth = {
            (r.id_a, r.id_b)
            for r in token_jaccard_pairs(docs, threshold=0.8).collect()
        }
        cand = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_candidates(docs, shingle_k=1).collect()
        }
        recall = len(truth & cand) / len(truth)
        assert recall >= 0.95, f"minhash-LSH recall {recall:.3f} < 0.95"

        # winnowing shared-run guarantee: two docs sharing
        # a run of ≥ k + window - 1 = 7 tokens MUST share a fingerprint
        shared = "alpha bravo charlie delta echo foxtrot golf"
        synth = spark.createDataFrame(
            [
                (1, f"start one two {shared} tail piece here"),
                (2, f"{shared} completely different ending words now"),
                (3, "nothing in common with the others at all whatsoever"),
            ],
            "doc_id long, text string",
        )
        pairs = {
            (r.id_a, r.id_b)
            for r in winnow_overlap_pairs(synth, min_shared=1).collect()
        }
        assert (1, 2) in pairs, "winnow missed the shared-run pair"
        assert not any(3 in p for p in pairs)


class TestEmbeddingDedupAndIVF:
    def test_embedding_lsh_recall_vs_exact(self, spark):
        from crowdsorsa_etl_spark.operators.similarity import (
            embedding_cosine_pairs,
            embedding_cosine_pairs_lsh,
        )
        from crowdsorsa_etl_spark.sources.parquet import load_table

        emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
        exact = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs(emb, threshold=0.35).collect()
        }
        assert exact, "fixture must contain cosine>=0.35 pairs"
        lsh = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs_lsh(
                emb, dim=64, threshold=0.35
            ).collect()
        }
        assert lsh <= exact  # verification step admits no false positives
        recall = len(exact & lsh) / len(exact)
        assert recall >= 0.9, f"embedding-LSH recall {recall:.3f} < 0.9"

    def test_ivf_recall_vs_exact_topk(self, spark):
        from crowdsorsa_etl_spark.operators.similarity import ivf_topk
        from crowdsorsa_etl_spark.sources.parquet import load_table

        emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
        q = emb.filter(F.col("vec_id") < 10)
        truth = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(emb, q, k=10).collect()
        }
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, q, k=10, n_lists=16, n_probe=8).collect()
        }
        recall = len(truth & got) / len(truth)
        assert recall >= 0.85, f"IVF recall {recall:.3f} < 0.85"

    def test_distributed_trainer_matches_driver_kmeans(self, spark):
        # same deterministic init + same assignment rule → the distributed
        # Lloyd trainer must reproduce the driver-side trainer run on the
        # WHOLE corpus, up to float summation order
        import numpy as np

        from crowdsorsa_etl_spark.operators.similarity import (
            ivf_train_centroids,
            kmeans_train_distributed,
        )
        from crowdsorsa_etl_spark.sources.parquet import load_table

        emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
        n = emb.count()
        driver = ivf_train_centroids(emb, n_lists=8, sample_size=n)
        dist = kmeans_train_distributed(emb, n_clusters=8)
        assert dist.shape == driver.shape
        diff = float(np.abs(dist - driver).max())
        assert diff < 1e-6, f"trainer divergence {diff:.2e} >= 1e-6"

    def test_ivf_distributed_trainer_recall_64_lists(self, spark):
        # n_lists=64 exceeds what a tiny sample could meaningfully train;
        # the distributed trainer must keep the recall gate at that k
        from crowdsorsa_etl_spark.operators.similarity import ivf_topk
        from crowdsorsa_etl_spark.sources.parquet import load_table

        emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
        q = emb.filter(F.col("vec_id") < 10)
        truth = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(emb, q, k=10).collect()
        }
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(
                emb, q, k=10, n_lists=64, n_probe=16, trainer="distributed"
            ).collect()
        }
        recall = len(truth & got) / len(truth)
        assert recall >= 0.85, f"IVF(distributed, 64 lists) recall {recall:.3f} < 0.85"

    def test_semdedup_distributed_trainer_keeps_planted_dups_out(self, spark):
        # planted near-identical pair: exactly one of the two survives,
        # whichever trainer produced the clustering
        import numpy as np

        from crowdsorsa_etl_spark.operators.similarity import semdedup

        rng = np.random.default_rng(7)
        base = rng.normal(size=(40, 16))
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
        dup = base[3] + rng.normal(scale=1e-3, size=16)
        rows.append((100, [float(x) for x in dup]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = semdedup(df, n_clusters=4, epsilon=0.95, trainer="distributed").collect()
        kept = {r.vec_id for r in out if r.keep}
        assert len(out) == 41
        assert (3 in kept) != (100 in kept), "exactly one of the planted pair survives"

    def test_semdedup_keep_rate_stable_across_cluster_counts(self, spark):
        # the keep decision is a property of the DATA (how many semantic
        # near-dups exist), not of the clustering granularity: quadrupling
        # n_clusters with the full-corpus trainer must not swing the keep
        # rate — clusters only bound WHERE pairs are compared
        from crowdsorsa_etl_spark.operators.similarity import semdedup
        from crowdsorsa_etl_spark.sources.parquet import load_table

        emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
        n = emb.count()

        def keep_rate(out):
            return sum(1 for r in out.collect() if r.keep) / n

        base = keep_rate(semdedup(emb, n_clusters=16, epsilon=0.45))
        scaled = keep_rate(
            semdedup(emb, n_clusters=64, epsilon=0.45, trainer="distributed")
        )
        assert abs(base - scaled) <= 0.10, (
            f"keep-rate moved {base:.3f} -> {scaled:.3f} across cluster counts"
        )

    def test_ivf_probes_fraction_of_corpus(self, spark):
        # the probed candidate set must be a strict subset of the corpus —
        # scoring everything would defeat the index
        from crowdsorsa_etl_spark.operators.similarity import (
            ivf_assign,
            ivf_train_centroids,
        )
        from crowdsorsa_etl_spark.sources.parquet import load_table

        emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
        cents = ivf_train_centroids(emb, n_lists=8)
        counts = (
            ivf_assign(emb, cents).groupBy("list_id").count().collect()
        )
        assert len(counts) > 1  # vectors spread across lists, not one cell


class TestWinnowing:
    def test_shared_run_yields_shared_fingerprint(self, spark):
        from crowdsorsa_etl_spark.operators.dedup import (
            winnow_fingerprints,
            winnow_overlap_pairs,
        )

        shared = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [
                (1, f"intro words here {shared} and a unique tail one"),
                (2, f"totally different opening {shared} closing remarks two"),
                (3, "nothing in common with the others at all whatsoever"),
            ],
            "doc_id long, text string",
        )
        # k=4, window=4: the 8-token shared run (>= k+window-1=7) must
        # produce at least one common fingerprint regardless of position
        fps = winnow_fingerprints(docs, k=4, window=4)
        by_doc = {
            i: {r.fp for r in fps.filter(F.col("id") == i).collect()}
            for i in (1, 2, 3)
        }
        assert by_doc[1] & by_doc[2]
        pairs = {
            (r.id_a, r.id_b)
            for r in winnow_overlap_pairs(docs, k=4, window=4, min_shared=1).collect()
        }
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_fingerprint_density(self, spark):
        from crowdsorsa_etl_spark.operators.dedup import winnow_fingerprints

        text = " ".join(f"tok{i}" for i in range(100))
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        n = winnow_fingerprints(docs, k=4, window=4).count()
        # winnowing selects ~1 fingerprint per window of 4 positions;
        # distinct-per-doc can only lower that
        assert 10 <= n <= 40


class TestSkewStress:
    """The salting recipes under DELIBERATE skew: one hot key carrying
    ~1000x the median key's rows — the shape that serializes a plain
    shuffle join onto one reducer at 100 TB."""

    def _skewed(self, spark):
        from pyspark.sql import functions as F

        hot = spark.range(50_000).select(
            F.lit(7).alias("k"), (F.col("id") % 97).alias("payload")
        )
        cold = spark.range(500).select(
            (F.col("id") % 50).alias("k"), (F.col("id") % 89).alias("payload")
        )
        return hot.unionByName(cold)

    def test_salted_join_matches_plain_join_under_skew(self, spark):
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.operators.skew import salted_join

        fact = self._skewed(spark)
        dim = spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("attr")
        )
        plain = (
            fact.join(dim, "k")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("attr").alias("s"))
        )
        salted = (
            salted_join(fact, dim, fact_key="k", dim_key="k", salt_buckets=8)
            .groupBy(fact["k"].alias("k"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("attr").alias("s"))
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )

    def test_salt_actually_spreads_the_hot_key(self, spark):
        """The deterministic salt must split the hot key's rows across
        most buckets — otherwise the helper is a no-op renamed."""
        from pyspark.sql import functions as F

        fact = self._skewed(spark)
        buckets = (
            fact.filter(F.col("k") == 7)
            .select(
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(8)
                ).alias("_salt")
            )
            .distinct()
            .count()
        )
        assert buckets == 8

    def test_salted_distinct_count_under_skew(self, spark):
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.operators.skew import salted_distinct_count

        df = self._skewed(spark)
        exact = {
            (r.k, r.n)
            for r in df.groupBy("k")
            .agg(F.countDistinct("payload").alias("n"))
            .collect()
        }
        salted = {
            (r[0], r[1])
            for r in salted_distinct_count(
                df, group_col="k", distinct_col="payload", salt_buckets=8
            ).collect()
        }
        assert exact == salted


class TestIncrementalJoinView:
    def test_multi_batch_maintenance_equals_full_recompute(self, spark):
        """Three sequential delta batches folded into the state one at a
        time must finish exactly where a full recompute lands — the
        incremental-MV contract over a joined view."""
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.operators.incremental import (
            finalize,
            incremental_join_state,
            merge_states,
            partial_state,
        )
        from crowdsorsa_etl_spark.sources.parquet import load_table

        sf = "/root/testdata/sf0.001"
        orders = load_table(spark, "orders", sf)
        customer = load_table(spark, "customer", sf)
        nation = load_table(spark, "nation", sf)
        dim = customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        ).select(F.col("c_custkey").alias("o_custkey"), "n_name")

        state = partial_state(
            orders.filter(F.col("o_orderkey") % 4 == 0).join(dim, "o_custkey"),
            ["n_name"],
            "o_totalprice",
        )
        for r in (1, 2, 3):
            delta = orders.filter(F.col("o_orderkey") % 4 == r)
            state = merge_states(
                state,
                incremental_join_state(
                    delta,
                    dim,
                    join_key="o_custkey",
                    keys=["n_name"],
                    value_col="o_totalprice",
                ),
            )
        got = {
            (r.n_name, r.total, r.n, r.vmin, r.vmax)
            for r in finalize(state).collect()
        }
        full = {
            (r.n_name, r.total, r.n, r.vmin, r.vmax)
            for r in finalize(
                partial_state(
                    orders.join(dim, "o_custkey"), ["n_name"], "o_totalprice"
                )
            ).collect()
        }
        assert got == full


class TestCountMinSketch:
    def test_estimate_never_underestimates_and_merge_is_rebuild(self, spark):
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.functions.text import normalized_tokens
        from crowdsorsa_etl_spark.operators.cmsketch import (
            count_min_estimate,
            count_min_sketch,
        )
        from crowdsorsa_etl_spark.sources.parquet import load_table

        sf = "/root/testdata/sf0.001"
        docs = load_table(spark, "documents", sf)
        sketch = count_min_sketch(docs).localCheckpoint()

        exact = (
            normalized_tokens(docs, "text")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("exact"))
        )
        probes = exact.orderBy(F.col("exact").desc(), "token").limit(50)
        est = count_min_estimate(sketch, probes.select("token"))
        joined = probes.join(est, "token").collect()
        assert len(joined) == probes.count()  # fixture vocab may be < 50
        # CM guarantee: never an underestimate
        assert all(r.cm_est >= r.exact for r in joined)
        # at 4x1024 cells over this corpus, heavy hitters estimate tightly
        heavy = [r for r in joined if r.exact >= 50]
        assert heavy and all(r.cm_est <= 2 * r.exact for r in heavy)

        # mergeability: sketch(half A) + sketch(half B) == sketch(all),
        # where a merge sums the cell counts
        a = count_min_sketch(docs.filter(F.col("doc_id") % 2 == 0))
        b = count_min_sketch(docs.filter(F.col("doc_id") % 2 == 1))
        merged = {
            (r.i, r.bucket, r.cnt)
            for r in a.unionByName(b)
            .groupBy("i", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        }
        whole = {(r.i, r.bucket, r.cnt) for r in sketch.collect()}
        assert merged == whole

    def test_absent_token_estimates_small(self, spark):
        from crowdsorsa_etl_spark.operators.cmsketch import (
            count_min_estimate,
            count_min_sketch,
        )
        from crowdsorsa_etl_spark.sources.parquet import load_table

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        sketch = count_min_sketch(docs)
        probes = docs.sparkSession.createDataFrame(
            [("zzz-not-a-token-zzz",)], "token string"
        )
        est = count_min_estimate(sketch, probes).first()
        # absent tokens only collide into other tokens' cells: the estimate
        # is bounded by sketch collision noise, far below real heavy hitters
        assert est.cm_est < 50


class TestCrossCorpusLsh:
    def test_planted_near_dup_found_across_split(self, spark):
        from crowdsorsa_etl_spark.operators.dedup import (
            minhash_lsh_candidates_cross,
        )

        base = (
            "the quick brown fox jumps over the lazy dog near the river "
            "bank every sunny morning in july with friends"
        )
        corpus = spark.createDataFrame(
            [(1, base), (2, "completely different words about spark plans "
                            "and shuffle exchanges in a cluster")],
            "doc_id long, text string",
        )
        probe = spark.createDataFrame(
            [(100, base + " indeed"), (101, "unrelated benchmark question "
                                            "about arithmetic and logic")],
            "doc_id long, text string",
        )
        got = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_candidates_cross(corpus, probe).collect()
        }
        assert (1, 100) in got  # near-verbatim pair collides
        assert (2, 101) not in got

    def test_probe_side_broadcasts(self, spark):
        from crowdsorsa_etl_spark.operators.dedup import (
            minhash_lsh_candidates_cross,
        )
        from crowdsorsa_etl_spark.sources.parquet import load_table

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        out = minhash_lsh_candidates_cross(
            docs.filter(F.col("doc_id") % 20 != 0),
            docs.filter(F.col("doc_id") % 20 == 0),
        )
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple"
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestSkewReport:
    def test_hot_key_detected_with_exact_shares(self, spark):
        from crowdsorsa_etl_spark.operators.diagnostics import key_skew_report

        rows = [("hot", i) for i in range(60)] + [
            (f"k{i}", i) for i in range(40)
        ]  # 'hot' owns 60% of 100 rows; 41 keys total
        df = spark.createDataFrame(rows, "k string, v long")
        rep = {r.k: r for r in key_skew_report(
            df, ["k"], top_n=5, reducer_share_threshold=0.25
        ).collect()}
        assert rep["hot"].n_rows == 60
        assert rep["hot"].share == 0.6
        assert rep["hot"].hot is True
        assert rep["hot"].skew_factor == round(60 / (100 / 41), 2)
        assert all(not r.hot for k, r in rep.items() if k != "hot")
        assert len(rep) == 5  # top_n bound

    def test_threshold_defaults_to_shuffle_partitions(self, spark):
        from crowdsorsa_etl_spark.operators.diagnostics import key_skew_report

        df = spark.createDataFrame([("a", 1)], "k string, v long")
        # single key owns 100% > 1/32 default → hot
        assert key_skew_report(df, ["k"]).first().hot is True


class TestProfileTable:
    def test_stats_per_column(self, spark):
        from crowdsorsa_etl_spark.operators.diagnostics import profile_table

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (2, "b")], "k long, s string"
        )
        got = {r.column: r for r in profile_table(df).collect()}
        assert got["k"].n_rows == 3 and got["k"].n_nulls == 0
        assert got["k"].n_distinct == 2
        assert (got["k"].min_value, got["k"].max_value) == ("1", "2")
        assert got["s"].n_nulls == 1 and got["s"].n_distinct == 2
        assert (got["s"].min_value, got["s"].max_value) == ("a", "b")

    def test_approx_tier_and_guards(self, spark):
        import pytest

        from crowdsorsa_etl_spark.operators.diagnostics import profile_table

        df = spark.createDataFrame([(i,) for i in range(100)], "k long")
        got = profile_table(df, exact_distinct=False).collect()[0]
        # HLL at this cardinality is within a few percent
        assert abs(got.n_distinct - 100) <= 5
        with pytest.raises(ValueError, match="at least one column"):
            profile_table(df, [])

    def test_one_shuffle_plan(self, spark):
        from crowdsorsa_etl_spark.operators.diagnostics import profile_table

        df = spark.createDataFrame(
            [(1, "a", 2.0)], "k long, s string, v double"
        )
        plan = (
            profile_table(df, exact_distinct=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") <= 1  # one shuffle, any column count


class TestProfileTableEscaping:
    def test_quoted_and_backticked_names(self, spark):
        from crowdsorsa_etl_spark.operators.diagnostics import profile_table

        df = spark.range(3).selectExpr(
            "id AS `it's`", "CAST(id AS STRING) AS `tick``ed`"
        )
        got = {r.column: r for r in profile_table(df).collect()}
        assert set(got) == {"it's", "tick`ed"}
        assert got["it's"].n_distinct == 3
