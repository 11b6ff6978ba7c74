"""Distributed PCA over an embedding column — the feature-preprocessing step
of embedding pipelines (whitening, dimensionality reduction before ANN or
clustering).

Reference analogue: none (engine-general LLM-data tier; the standard
dimensionality-reduction recipe, e.g. FAISS's OPQ/PCA pre-transforms).

The distributed shape is the textbook one:

1. **Covariance** — ONE aggregation pass producing the d(d+1)/2 upper
   triangle as `covar_samp` aggregates (map-side partial state, a single
   reduce of a bounded vector; nothing row-shaped ever reaches the driver).
2. **Eigendecomposition** — on the DRIVER over the d×d matrix (bounded:
   d ≤ a few hundred for embedding models; 100 TB of rows changes nothing
   about this step's size).
3. **Projection** — components broadcast as LITERALS into narrow
   multiply-add column expressions (`element_at` chains) — zero Exchange,
   whole-stage codegen, the same posture as bpe_encode's merge table.

Float caveat: covariance aggregates are rounded (default 4 dp) before the
cross-engine compare — partial-aggregation order makes raw double sums
differ in the last ulp (the q73_stats_aggs convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["embedding_covariance", "pca_fit", "pca_project"]


def embedding_covariance(
    emb: DataFrame,
    dim: int,
    *,
    round_dp: int = 4,
) -> DataFrame:
    """Upper-triangle sample covariance of the first ``dim`` vector slots:
    (i int, j int, cov double) with i <= j, rounded to ``round_dp``.

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
    # bounded d²-key exchange. Cell values round to ``round_dp`` either
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
        .agg(F.round(F.covar_samp("c.xi", "c.xj"), round_dp).alias("cov"))
    )


def pca_fit(emb: DataFrame, dim: int, k: int):
    """Fit: returns (mean list[d], components list[k][d], eigenvalues
    list[k]) — components are unit-norm eigenvectors of the sample
    covariance, sorted by descending eigenvalue, sign-fixed so each
    component's largest-|coefficient| entry is positive (determinism).

    Driver round-trips are bounded: one d-vector of means + the d×d
    covariance (both aggregates of the full corpus, never rows).
    """
    import numpy as np

    if not (1 <= k <= dim):
        raise ValueError(f"need 1 <= k <= dim, got k={k} dim={dim}")
    x = lambda i: F.element_at(F.col("embedding"), i + 1).cast("double")  # noqa: E731
    mean_row = emb.agg(
        *[F.avg(x(i)).alias(f"m{i}") for i in range(dim)]
    ).collect()[0]
    mean = [float(mean_row[f"m{i}"]) for i in range(dim)]
    cov_rows = embedding_covariance(emb, dim, round_dp=12).collect()
    c = np.zeros((dim, dim))
    for r in cov_rows:
        c[r["i"], r["j"]] = r["cov"]
        c[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(c)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(t) for t in v])
    return mean, comps, [float(vals[i]) for i in order]


def pca_project(
    emb: DataFrame,
    mean: list[float],
    components: list[list[float]],
) -> DataFrame:
    """Append ``proj``: array<double> of length k, the centered input
    projected onto the fitted components. Pure literal multiply-add
    expressions — narrow, zero Exchange, no Python in the plan."""
    x = lambda i: F.element_at(F.col("embedding"), i + 1).cast("double")  # noqa: E731
    cols = []
    for comp in components:
        terms = [
            (x(i) - F.lit(mean[i])) * F.lit(w)
            for i, w in enumerate(comp)
            if w != 0.0
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        cols.append(acc)
    return emb.withColumn("proj", F.array(*cols))
