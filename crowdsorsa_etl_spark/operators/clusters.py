"""Connected components over candidate-pair edges (dedup clustering).

After MinHash-LSH/SimHash produce near-duplicate *pairs*, deduplication needs
*clusters* (keep one doc per component). This is the alternating-algorithm
(large-star / small-star, Kiveris et al.) expressed in DataFrame ops:

    state:  label(v) = current minimum-known component id per vertex
    step:   (a) propagate min(label) across edges one hop, then
            (b) pointer-double: relabel through the label's own label
                (label(v) ← label(label(v))), which halves the remaining
                path length each round → O(log diameter) convergence even
                on long chains (plain one-hop propagation is O(diameter))
    stop:   no label changed (count of updates == 0); if ``max_iterations``
            is exhausted first a warning is emitted — labels may be split.

Scale properties: every iteration is a bounded number of shuffles (edge
join + groupBy min + pointer join) on uniform vertex-id keys; the per-round
convergence check is a driver-side ``count()`` of an O(1)-sized result.
``materialize`` truncates the lineage each round so plans don't grow
exponentially (the classic iterative-Spark trap).

Not SQL-expressible in one query (DuckDB's RECURSIVE could do it, but the
driver contract's hash compare needs deterministic output anyway — component
ids are min doc ids, which ARE deterministic; the rows-only check plus unit
tests cover it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.checkpointing import materialize


def connected_components(
    edges: DataFrame,
    *,
    max_iterations: int = 20,
) -> DataFrame:
    """Return (id, component) where component = min vertex id in the
    component. Edges are undirected; isolated vertices don't appear (join
    the corpus afterwards with a coalesce(component, id) for those).
    """
    e = edges.select(
        F.col("id_a").cast("long").alias("src"), F.col("id_b").cast("long").alias("dst")
    )
    # undirected → both directions once
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = materialize(sym.filter(F.col("src") != F.col("dst")).distinct())

    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )

    converged = False
    for _ in range(max_iterations):
        # (a) candidate label per vertex: min over neighbors' labels and own
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("neighbor_component"))
        )
        hopped = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("neighbor_component"), F.col("component")),
                ).alias("component"),
            )
        )
        # (b) pointer doubling: a label is itself a vertex id, so follow it
        # one more level — label(v) ← label(label(v)). Halves the remaining
        # chain each round, giving O(log diameter) total rounds.
        parent = hopped.select(
            F.col("id").alias("_pid"), F.col("component").alias("_pcomp")
        )
        doubled = (
            hopped.join(parent, hopped.component == parent._pid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("_pcomp"), F.col("component"))
                ).alias("new_component"),
            )
        )
        # checkpoint FIRST, then count changes against the previous labels
        # from the checkpointed result: the old order ran the whole
        # hop+double join chain twice per round (once for the convergence
        # count, once for the eager checkpoint) — r16 optimization, guide
        # §1.2/§2.4. Both sides of the change-count join are checkpointed,
        # so the extra job is a cheap bounded join, not a recompute.
        new_labels = materialize(  # truncate lineage every round
            doubled.select("id", F.col("new_component").alias("component"))
        )
        n_changed = (
            new_labels.join(
                labels.withColumnRenamed("component", "_old"), "id"
            )
            .filter(F.col("component") != F.col("_old"))
            .count()
        )
        labels = new_labels
        if n_changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iterations} "
            "iterations; returned labels may split long chains into "
            "multiple clusters. Raise max_iterations.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def dedup_clusters(docs: DataFrame, candidate_pairs: DataFrame) -> DataFrame:
    """Full-corpus cluster assignment: every doc gets a cluster id (its own
    id when it has no near-duplicates) plus a keep/drop flag (keep = the
    minimum id in the cluster)."""
    comp = connected_components(candidate_pairs)
    out = docs.select(F.col("doc_id")).join(
        comp, docs["doc_id"] == comp.id, "left"
    )
    return out.select(
        F.col("doc_id"),
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
    ).withColumn("keep", F.col("doc_id") == F.col("cluster_id"))


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
) -> DataFrame:
    """Fold a batch of NEW edges into an existing (id, component)
    registry WITHOUT recomputing components over the full edge history —
    the incremental form of :func:`connected_components` an entity
    registry / dedup-cluster store needs at ingest (history edges are
    petabyte-scale; a new batch touches a bounded set of components).

    Algorithm (label condensation):

    1. resolve the batch's endpoints to their CURRENT labels (missing
       node -> itself) — one registry join keyed on the node id;
    2. run pointer-doubling CC on the CONDENSED label graph (one vertex
       per touched label — bounded by the batch, never by the registry);
    3. the resulting old-label -> new-label mapping relabels the registry
       with ONE label-keyed join (broadcastable: the mapping is
       batch-bounded; with the registry written partitioned by a label
       prefix the relabel is also partition-pruned), and the batch's
       previously-unseen nodes append with their new labels.

    Component ids stay the canonical min-node-id, so after ANY sequence
    of batches the registry is bit-identical to a full recompute over
    the union of all edges — the parity gate llm_incremental_components
    hashes against the one-shot transitive-closure oracle.
    """
    e = new_edges.select(
        F.col("id_a").cast("long").alias("src"),
        F.col("id_b").cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    lab = materialize(labels.select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"),
    ))

    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    resolved = materialize(nodes.join(lab, "id", "left").select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("lbl")
    ))

    r1 = resolved.withColumnRenamed("id", "src").withColumnRenamed(
        "lbl", "la"
    )
    r2 = resolved.withColumnRenamed("id", "dst").withColumnRenamed(
        "lbl", "lb"
    )
    condensed = (
        e.join(r1, "src")
        .join(r2, "dst")
        .select(F.col("la").alias("id_a"), F.col("lb").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    merged = connected_components(
        condensed
    )  # (id = old label, component = new label) for MERGING labels only
    mapping = merged.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("_old"), F.col("component").alias("_new")
    )

    relabeled = lab.join(
        F.broadcast(mapping), lab.component == F.col("_old"), "left"
    ).select(
        "id", F.coalesce(F.col("_new"), F.col("component")).alias("component")
    )
    fresh = (
        resolved.join(lab.select("id"), "id", "left_anti")
        .join(F.broadcast(mapping), resolved.lbl == F.col("_old"), "left")
        .select(
            "id", F.coalesce(F.col("_new"), F.col("lbl")).alias("component")
        )
    )
    return relabeled.unionByName(fresh)


def lpa_communities(edges: DataFrame, *, rounds: int = 4) -> DataFrame:
    """Seeded synchronous label propagation (Raghavan et al. 2007) over
    the dup graph: finer communities than connected components on dense
    near-dup graphs (CC merges everything reachable; LPA keeps weakly
    linked cliques apart).

    Deterministic by construction — the engine-portable contract:

    * synchronous rounds (every vertex updates from the PREVIOUS round's
      labels, never a mix), so there is no update-order dependence;
    * a FIXED round count, so oscillating configurations (bipartite
      2-cycles under synchronous LPA) still yield one defined answer
      that a SQL oracle can replay as unrolled CTE stages;
    * argmax tie-break = (neighbor-label count DESC, label ASC), taken
      with one map-side-combinable ``max(struct(c, -label))`` aggregate
      per round — no per-vertex window sort.

    Returns (id, label): final community label per vertex that appears
    in the edge set. Isolated vertices don't appear (coalesce with the
    corpus id downstream, the connected_components convention).

    Scale: each round is exactly two uniform-key shuffles (label join on
    dst + count/argmax groupBy on src) — O(rounds * |E|) total work, no
    transitive materialization; ``materialize`` per round keeps the plan
    linear (the iterative-Spark trap, same discipline as
    connected_components above).
    """
    e = edges.select(
        F.col("id_a").cast("long").alias("src"),
        F.col("id_b").cast("long").alias("dst"),
    )
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = materialize(sym.filter(F.col("src") != F.col("dst")).distinct())
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(rounds):
        # (count DESC, label ASC) argmax as max(struct(c, -label)) over the
        # per-(vertex, label) counts: two map-side-combinable aggregates,
        # no per-vertex window sort
        cnt = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .groupBy("src")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("neg_label"))
                ).alias("best")
            )
            .select(
                F.col("src").alias("id"),
                (-F.col("best.neg_label")).cast("long").alias("label"),
            )
        )
        labels = materialize(cnt)
    return labels


def kcore_filter(
    edges: DataFrame,
    *,
    k: int = 2,
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round k-core peel over the dup graph (Seidman 1983): drop
    vertices with degree < ``k``, recompute degrees over the surviving
    edge set, repeat ``rounds`` times — the density gate BETWEEN
    connected components ("reachable at all") and LPA ("densely tied"):
    a doc chained into a cluster through one bridge edge is NOT k-core
    for k ≥ 2, which is exactly the spam-ring / template-farm membership
    test (boilerplate families are dense; incidental near-dups are not).

    Deterministic by construction (the LPA contract): synchronous
    rounds over the PREVIOUS round's edge set, a FIXED round count so a
    SQL oracle replays the peel as unrolled CTE stages, and a
    ``converged`` flag (round R's edge count == round R−1's) so a
    not-yet-fixed-point answer is visibly provisional rather than
    silently wrong.

    Returns (id, core_deg, in_core, converged) for every vertex of the
    edge set. Scale: each round is one degree groupBy + two semi-joins
    — O(rounds · |E|), no transitive state; ``materialize`` per round
    keeps the plan linear (the iterative-Spark trap, same discipline as
    connected_components/lpa_communities above).
    """
    e = edges.select(
        F.col("id_a").cast("long").alias("src"),
        F.col("id_b").cast("long").alias("dst"),
    )
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = materialize(sym.filter(F.col("src") != F.col("dst")).distinct())
    cur = sym
    prev_cnt = None
    for _ in range(rounds):
        keep = (
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select("src")
        )
        prev_cnt = cur
        cur = materialize(
            # keep is vertex-count-sized (corpus-proportional) — the
            # join stays planner-chosen, never force-broadcast (the
            # LPA r14 lesson)
            cur.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
    converged = (
        cur.agg(F.count(F.lit(1)).alias("c_cur"))
        .crossJoin(prev_cnt.agg(F.count(F.lit(1)).alias("c_prev")))
        .select((F.col("c_cur") == F.col("c_prev")).alias("converged"))
    )
    vids = sym.select(F.col("src").alias("id")).distinct()
    fdeg = (
        cur.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_fd"))
        .withColumnRenamed("src", "id")
    )
    return (
        vids.join(fdeg, "id", "left")
        .crossJoin(F.broadcast(converged))
        .select(
            "id",
            F.coalesce(F.col("_fd"), F.lit(0)).cast("bigint").alias(
                "core_deg"
            ),
            F.col("_fd").isNotNull().alias("in_core"),
            "converged",
        )
    )
