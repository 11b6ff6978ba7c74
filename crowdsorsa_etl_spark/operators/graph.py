"""Iterative graph algorithms as DataFrame programs (the Pregel-on-Spark
pattern): PageRank here, connected components in ``operators/clusters.py``.

Reference analogue: none — the reference engine has no graph surface; this
is part of the engine-general tier (link-graph quality weighting is a
standard ingredient of web-corpus curation, cf. Common Crawl harmonic
centrality ranks).

Scale shape: each iteration is ONE shuffle (join ranks->edges on src, then
group by dst). Ranks and edges are co-partitioned on the join key so AQE
reuses the exchange; ``materialize`` after every iteration truncates the
lineage that otherwise grows linearly and stalls the scheduler around
iteration ~20. The only driver-side values are N (one count) and the
per-iteration dangling-mass sum (a 1-row aggregate) — both bounded
scalars, never row collections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.checkpointing import materialize


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    Semantics (the classic Brin-Page formulation with uniform dangling
    redistribution): ``r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/deg(u)
    + dangling_mass/N)``. Deterministic: fixed iteration count, pure
    double arithmetic, no sampling.

    Output: (node, rank) — ranks sum to 1 (up to fp rounding).
    """
    # materialize the (deduped) edge list once: every iteration's join
    # re-traverses its lineage otherwise, turning k iterations into k
    # re-scans of the source
    e = materialize(edges.select(F.col("src"), F.col("dst")).distinct())
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # out-degree stapled onto each node once; dangling nodes keep deg NULL
    ranked = nodes.join(
        deg, nodes.node == deg.src, "left"
    ).select("node", "deg", F.lit(1.0 / n).alias("rank"))
    ranked = materialize(ranked)

    for _ in range(iterations):
        # dangling mass as a LAZY 1-row broadcast (not a driver collect):
        # nothing materializes until a checkpoint / the final action, so k
        # iterations cost O(1) jobs instead of k
        dang = ranked.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
        )
        contribs = (
            ranked.filter(F.col("deg").isNotNull())
            .join(e, F.col("node") == e.src)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("incoming"))
        )
        new_rank = (
            F.lit((1.0 - damping) / n)
            + F.lit(damping)
            * (
                F.coalesce(F.col("incoming"), F.lit(0.0))
                + F.col("_dangling") / n
            )
        )
        ranked = materialize(
            ranked.select("node", "deg")
            .join(contribs, F.col("node") == contribs.dst, "left")
            .crossJoin(F.broadcast(dang))
            .select("node", "deg", new_rank.alias("rank"))
        )

    return ranked.select("node", F.col("rank").cast("double"))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    The classic oriented-edge formulation: orient every edge low→high
    (kills duplicates and self-loops), then one path join
    (a→b→c) and one closing join (a→c) enumerate each triangle exactly
    once as a < b < c. Per-node counts explode the corner list.

    Scale shape: two equi-join shuffles over the oriented edge list; the
    skew-prone step is the path join on hub nodes' b — at cluster scale
    route hot b's through operators/skew.py salting (AQE skew-join
    handles moderate cases). Never materializes anything bigger than the
    wedge set that the closing join immediately filters.
    """
    e = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    e_ab = e
    e_bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e_ac = e.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = (
        e_ab.join(e_bc, "b")
        .join(
            e_ac,
            (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
            "left_semi",
        )
        .select("a", "b", "c")
    )
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
