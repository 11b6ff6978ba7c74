"""Embedding covariance — the distributed pass of PCA over an embedding
column (whitening, dimensionality reduction before ANN or clustering).

Reference analogue: none (engine-general LLM-data tier; the standard
dimensionality-reduction recipe, e.g. FAISS's OPQ/PCA pre-transforms).

ONE aggregation pass produces the d(d+1)/2 upper triangle as `covar_samp`
aggregates (map-side partial state, a single reduce of a bounded vector;
nothing row-shaped ever reaches the driver), so a d×d eigendecomposition
on the driver stays bounded at any corpus size.

Float caveat: covariance aggregates are rounded (4 dp) before the
cross-engine compare — partial-aggregation order makes raw double sums
differ in the last ulp (the q73_stats_aggs convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["embedding_covariance"]


def embedding_covariance(
    emb: DataFrame,
    dim: int,
) -> DataFrame:
    """Upper-triangle sample covariance of the first ``dim`` vector slots:
    (i int, j int, cov double) with i <= j, rounded to 4 dp.

    One aggregation job: d(d+1)/2 ``covar_samp`` expressions share a single
    scan and a single map-side-combined reduce. The result is d²-sized —
    driver-safe by construction at any corpus size.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    # Keep the GENERATED CODE small, not just the plan: d(d+1)/2 separate
    # covar_samp aggregates (and equally a hand-built 136-struct array
    # with per-cell element_at) generate enormous Janino sources whose
    # fresh expr-ids defeat the codegen cache — measured 3.3-4.2s
    # steady-state on 2000 rows, ALL of it compilation. Instead: the
    # (i, j) index pairs are a pure-literal array (constant-folded to ONE
    # Literal node), a single transform lambda gathers (i, j, xi, xj) per
    # row, and one covar_samp aggregates the exploded pair stream over a
    # bounded d²-key exchange. Cell values round to 4 dp either
    # way — partial-aggregation order was already absorbed by rounding.
    pairs_lit = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("i"),
                F.lit(j).cast("int").alias("j"),
            )
            for i in range(dim)
            for j in range(i, dim)
        ]
    )
    cells = F.transform(
        pairs_lit,
        lambda p: F.struct(
            p["i"].alias("i"),
            p["j"].alias("j"),
            F.element_at(F.col("embedding"), p["i"] + 1).cast("double")
            .alias("xi"),
            F.element_at(F.col("embedding"), p["j"] + 1).cast("double")
            .alias("xj"),
        ),
    )
    return (
        emb.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.j").alias("j"))
        .agg(F.round(F.covar_samp("c.xi", "c.xj"), 4).alias("cov"))
    )
