"""PageRank vs a dense numpy power-iteration reference (same formulation)."""

from __future__ import annotations

import numpy as np
import pytest

from crowdsorsa_etl_spark.operators.graph import pagerank


def _numpy_pagerank(edges, n, iterations=10, damping=0.85):
    """Dense reference with uniform dangling redistribution."""
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[s] += 1
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        dangling = rank[out_deg == 0].sum()
        incoming = np.zeros(n)
        for s, d in edges:
            incoming[d] += rank[s] / out_deg[s]
        rank = (1 - damping) / n + damping * (incoming + dangling / n)
    return rank


EDGES = [
    (0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 2), (4, 0),
    (5, 4), (6, 4), (7, 4), (2, 5),
    # node 8 is dangling (appears only as dst)
    (5, 8),
]


class TestPageRank:
    def test_matches_numpy_reference(self, spark):
        df = spark.createDataFrame(EDGES, "src long, dst long")
        got = {
            r.node: r.rank
            for r in pagerank(df, iterations=10, damping=0.85).collect()
        }
        want = _numpy_pagerank(EDGES, 9, iterations=10, damping=0.85)
        assert set(got) == set(range(9))
        for v in range(9):
            assert got[v] == pytest.approx(want[v], abs=1e-9)

    def test_ranks_sum_to_one(self, spark):
        df = spark.createDataFrame(EDGES, "src long, dst long")
        total = sum(r.rank for r in pagerank(df, iterations=6).collect())
        assert total == pytest.approx(1.0, abs=1e-9)

    def test_reliable_checkpoint_path(self, spark, tmp_path):
        """Cluster-durable lineage truncation follows the session: with a
        checkpoint dir set, pagerank and connected_components cut lineage
        with reliable checkpoint() files (no per-call flag) and return the
        same ranks and components."""
        from crowdsorsa_etl_spark.operators.clusters import connected_components

        df = spark.createDataFrame(EDGES, "src long, dst long")
        ckpt = tmp_path / "ckpt"
        spark.sparkContext.setCheckpointDir(str(ckpt))
        try:
            got = {
                r.node: r.rank
                for r in pagerank(df, iterations=10).collect()
            }
            want = _numpy_pagerank(EDGES, 9, iterations=10)
            for v in range(9):
                assert got[v] == pytest.approx(want[v], abs=1e-9)

            comp = {
                r.id: r.component
                for r in connected_components(
                    spark.createDataFrame(
                        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
                    )
                ).collect()
            }
            assert {comp[1], comp[2], comp[3]} == {1} and comp[10] == comp[11] == 10
        finally:
            spark.sparkContext.setCheckpointDir(None)
        assert any(p.name.startswith("part-") for p in ckpt.rglob("*"))

    def test_star_graph_center_dominates(self, spark):
        star = [(i, 0) for i in range(1, 8)]
        df = spark.createDataFrame(star, "src long, dst long")
        got = {r.node: r.rank for r in pagerank(df, iterations=10).collect()}
        assert got[0] == max(got.values())
        leaf_ranks = [got[i] for i in range(1, 8)]
        assert max(leaf_ranks) - min(leaf_ranks) < 1e-12


class TestSemDedup:
    """SemDeDup keep-set invariants, checked against numpy on a corpus with
    planted near-duplicates (the fixture embeddings are random — max cosine
    ~0.5 — so duplicates must be planted to exercise removal)."""

    @staticmethod
    def _corpus(spark):
        import numpy as np

        rng = np.random.default_rng(7)
        base = rng.normal(size=(40, 8))
        rows = []
        for i, v in enumerate(base):
            rows.append((i, [float(x) for x in v]))
            if i % 4 == 0:  # plant a near-duplicate of every 4th vector
                dup = v + rng.normal(scale=0.01, size=8)
                rows.append((1000 + i, [float(x) for x in dup]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def test_keep_set_invariants(self, spark):
        import numpy as np

        from crowdsorsa_etl_spark.operators.similarity import semdedup

        df = self._corpus(spark)
        out = semdedup(df, n_clusters=4, epsilon=0.95).collect()
        vecs = {r.vec_id: np.array(r.embedding) for r in df.collect()}
        info = {r.vec_id: r for r in out}
        assert set(info) == set(vecs)
        removed = [i for i, r in info.items() if not r.keep]
        assert removed, "planted near-duplicates must trigger removals"

        def cos(x, y):
            return float(
                np.dot(x, y) / (np.linalg.norm(x) * np.linalg.norm(y))
            )

        rank = {
            i: (-info[i].centroid_sim, i) for i in info
        }  # higher centroid_sim = earlier rank
        # 1. every removed vector has a higher-ranked same-cluster witness
        for i in removed:
            assert any(
                info[j].list_id == info[i].list_id
                and rank[j] < rank[i]
                and cos(vecs[j], vecs[i]) > 0.95
                for j in info
            ), i
        # 2. no two KEPT vectors in one cluster are eps-close
        kept = [i for i in info if info[i].keep]
        for x in kept:
            for y in kept:
                if x < y and info[x].list_id == info[y].list_id:
                    assert cos(vecs[x], vecs[y]) <= 0.95 + 1e-9
