"""Distributed logistic-regression fitting — the model-TRAINING tier of the
quality classifier (CCNet / GPT-3-style curation trains a linear scorer
over document features; llm_quality_classifier ships the weights for
inference).

Shape (the kmeans_train_distributed pattern at operators/similarity.py):
full-batch gradient descent where each iteration is

1. broadcast the current weight vector (d+1 doubles — trivially sized);
2. ``mapInPandas`` streams the corpus in Arrow batches and keeps ONE
   gradient partial-sum vector per PARTITION (map-side combine: the
   partition yields a single row of d+1 doubles no matter how many
   documents it holds);
3. the ≤ n_partitions partial rows fold JVM-side (``array_sort`` before
   the ``zip_with`` fold makes the float summation order — and thus the
   trainer's last-ulp output — deterministic for a fixed partitioning,
   the same contract as the distributed k-means trainer);
4. the driver takes one bounded row (d+1 doubles + a count) and applies
   the step.

Per-iteration cluster cost is one corpus scan + a (num_partitions)-row
fold — never corpus-sized driver traffic; iterations are bounded by
construction. Deterministic: zero init, fixed step, fixed iteration
count, ties impossible (no argmax). A numpy reference implementation
must match to 1e-6 (gated in tests).

The FIRST step from w = 0 is special: sigmoid(0) = 1/2 exactly, so the
gradient is pure rational arithmetic — no libm ``exp`` anywhere — and a
DuckDB oracle can replay it bit-for-bit (llm_logreg_step). Later
iterations involve ``exp`` whose last ulp is libm-specific, so the full
fit is gated by the numpy parity test instead of a cross-engine hash
(the documented non-SQL-expressible tier).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.checkpointing import materialize

__all__ = ["logreg_fit_distributed", "logreg_first_step"]


def _assemble(
    df: DataFrame, feature_cols: list[Column], label_col: Column
) -> DataFrame:
    """(x array<double>, y double) with an implicit leading intercept 1."""
    feats = [F.lit(1.0).cast("double")] + [c.cast("double") for c in feature_cols]
    return df.select(
        F.array(*feats).alias("x"), label_col.cast("double").alias("y")
    )


def _gradient(xy: DataFrame, w: np.ndarray) -> tuple[np.ndarray, int]:
    """One distributed pass: (Σ (σ(x·w) − y)·x, n) with per-partition
    map-side combine and a deterministic JVM-side fold."""
    spark = xy.sparkSession
    d = len(w)
    bc = spark.sparkContext.broadcast(w)

    def partials(batches):
        wv = bc.value
        gsum = np.zeros(len(wv))
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["x"].to_numpy()).astype(np.float64)
            y = pdf["y"].to_numpy().astype(np.float64)
            z = x @ wv
            p = 1.0 / (1.0 + np.exp(-z))
            gsum += (p - y) @ x
            n += len(x)
        if n:
            yield pd.DataFrame({"grad": [gsum], "n": [n]})

    part = xy.mapInPandas(partials, "grad array<double>, n long")
    row = part.agg(
        F.aggregate(
            F.array_sort(F.collect_list("grad")),
            F.array_repeat(F.lit(0.0), d),
            lambda acc, g: F.zip_with(acc, g, lambda a, b: a + b),
        ).alias("grad"),
        F.sum("n").alias("n"),
    ).collect()[0]
    n = int(row["n"]) if row["n"] is not None else 0
    if n == 0:
        return np.zeros(d), 0
    return np.array(row["grad"], dtype=np.float64), n


def logreg_fit_distributed(
    df: DataFrame,
    feature_cols: list[Column],
    label_col: Column,
    *,
    iterations: int = 30,
    step: float = 1.0,
    l2: float = 0.0,
) -> np.ndarray:
    """Fit logistic regression by full-batch GD; returns the (d+1,) weight
    vector, intercept FIRST. ``l2`` penalizes every weight except the
    intercept (standard). Deterministic — see module docstring."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    xy = materialize(_assemble(df, feature_cols, label_col))
    d = len(feature_cols) + 1
    w = np.zeros(d)
    for _ in range(iterations):
        grad, n = _gradient(xy, w)
        if n == 0:
            raise ValueError("empty training set")
        reg = l2 * w
        reg[0] = 0.0
        w = w - step * (grad / n + reg)
    return w


def logreg_first_step(
    df: DataFrame,
    feature_cols: list[Column],
    label_col: Column,
    *,
    step: float = 1.0,
) -> DataFrame:
    """The first GD step from w = 0 as a pure DataFrame aggregation —
    σ(0) = 1/2 exactly, so ``w₁ = −step · mean((1/2 − y)·x)`` is rational
    arithmetic with NO libm call, which is what makes the cross-engine
    oracle exact. Output: (feature_idx int, weight double) — the
    distributed-gradient machinery's hash gate.

    This is a plain column aggregation (no mapInPandas): Catalyst's
    partial aggregation IS the per-partition combine here, proving the
    same data movement the full trainer implements by hand in Arrow.
    """
    feats = [F.lit(1.0).cast("double")] + [c.cast("double") for c in feature_cols]
    y = label_col.cast("double")
    aggs = [
        F.round(
            (-step) * F.avg((F.lit(0.5) - y) * f),
            6,
        ).alias(f"w{i}")
        for i, f in enumerate(feats)
    ]
    row = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("feature_idx"),
                F.col(f"w{i}").alias("weight"),
            )
            for i in range(len(feats))
        ]
    )
    return row.select(F.explode(pairs).alias("p")).select("p.*")
