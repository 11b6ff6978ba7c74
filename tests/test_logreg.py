"""Distributed logistic-regression trainer gates: numpy-reference parity
(1e-6, the VERDICT criterion), exact first-step arithmetic, determinism,
and actual learning on separable data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.logreg import (
    logreg_first_step,
    logreg_fit_distributed,
)


def _numpy_fit(x, y, iterations, step, l2):
    """Reference full-batch GD, intercept column prepended."""
    xb = np.hstack([np.ones((len(x), 1)), np.asarray(x, dtype=np.float64)])
    y = np.asarray(y, dtype=np.float64)
    w = np.zeros(xb.shape[1])
    for _ in range(iterations):
        p = 1.0 / (1.0 + np.exp(-(xb @ w)))
        grad = (p - y) @ xb / len(xb)
        reg = l2 * w
        reg[0] = 0.0
        w = w - step * (grad + reg)
    return w


def _toy(spark, n=200):
    """Deterministic 2-feature set, linearly separable on f1 + f2 > 1."""
    rows = []
    for i in range(n):
        f1 = (i % 17) / 17.0
        f2 = ((i * 7) % 23) / 23.0
        rows.append((i, f1, f2, 1.0 if f1 + f2 > 1.0 else 0.0))
    return spark.createDataFrame(rows, ["id", "f1", "f2", "y"])


class TestLogregFit:
    def test_numpy_parity_on_toy(self, spark):
        df = _toy(spark)
        w = logreg_fit_distributed(
            df, [F.col("f1"), F.col("f2")], F.col("y"),
            iterations=30, step=1.0, l2=1e-3,
        )
        pdf = df.orderBy("id").toPandas()
        want = _numpy_fit(
            pdf[["f1", "f2"]].to_numpy(), pdf["y"].to_numpy(), 30, 1.0, 1e-3
        )
        assert np.abs(w - want).max() < 1e-6

    def test_numpy_parity_on_fixture_features(self, spark):
        from crowdsorsa_etl_spark.queries.curation import _qc_feature_exprs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        feats = _qc_feature_exprs()
        names = ["alpha_ratio", "log_tokens", "mean_token_len"]
        label = F.when(F.col("n_chars") >= 300, 1.0).otherwise(0.0)
        w = logreg_fit_distributed(
            docs, [feats[n] for n in names], label,
            iterations=30, step=1.0, l2=1e-3,
        )
        pdf = (
            docs.select(
                *[feats[n].alias(n) for n in names], label.alias("y")
            )
            .toPandas()
        )
        want = _numpy_fit(
            pdf[names].to_numpy(), pdf["y"].to_numpy(), 30, 1.0, 1e-3
        )
        assert np.abs(w - want).max() < 1e-6

    def test_learns_separable_boundary(self, spark):
        df = _toy(spark)
        w = logreg_fit_distributed(
            df, [F.col("f1"), F.col("f2")], F.col("y"),
            iterations=200, step=2.0,
        )
        pdf = df.toPandas()
        xb = np.hstack(
            [np.ones((len(pdf), 1)), pdf[["f1", "f2"]].to_numpy()]
        )
        pred = (xb @ w) > 0
        assert (pred == (pdf["y"].to_numpy() > 0.5)).mean() >= 0.97

    def test_deterministic(self, spark):
        df = _toy(spark, n=100)
        a = logreg_fit_distributed(
            df, [F.col("f1"), F.col("f2")], F.col("y"), iterations=10
        )
        b = logreg_fit_distributed(
            df, [F.col("f1"), F.col("f2")], F.col("y"), iterations=10
        )
        assert (a == b).all()

    def test_l2_skips_intercept(self, spark):
        # with a constant label 1 and zero features, the intercept must
        # keep climbing toward +inf; a penalized intercept would stall
        df = spark.createDataFrame(
            [(i, 0.0, 1.0) for i in range(50)], ["id", "f1", "y"]
        )
        w_few = logreg_fit_distributed(
            df, [F.col("f1")], F.col("y"), iterations=5, l2=0.5
        )
        w_more = logreg_fit_distributed(
            df, [F.col("f1")], F.col("y"), iterations=20, l2=0.5
        )
        assert w_more[0] > w_few[0] > 0

    def test_rejects_bad_iterations(self, spark):
        df = _toy(spark, n=10)
        with pytest.raises(ValueError):
            logreg_fit_distributed(
                df, [F.col("f1")], F.col("y"), iterations=0
            )

    def test_empty_training_set_raises(self, spark):
        df = _toy(spark, n=10).filter(F.col("id") < 0)
        with pytest.raises(ValueError, match="empty"):
            logreg_fit_distributed(df, [F.col("f1")], F.col("y"))


class TestLogregFirstStep:
    def test_matches_closed_form(self, spark):
        df = _toy(spark, n=60)
        got = {
            r.feature_idx: r.weight
            for r in logreg_first_step(
                df, [F.col("f1"), F.col("f2")], F.col("y")
            ).collect()
        }
        pdf = df.toPandas()
        xb = np.hstack(
            [np.ones((len(pdf), 1)), pdf[["f1", "f2"]].to_numpy()]
        )
        want = -((0.5 - pdf["y"].to_numpy()) @ xb) / len(pdf)
        for i in range(3):
            assert got[i] == pytest.approx(round(want[i], 6), abs=1e-9)

    def test_equals_full_trainer_single_iteration(self, spark):
        df = _toy(spark, n=60)
        step_w = {
            r.feature_idx: r.weight
            for r in logreg_first_step(
                df, [F.col("f1"), F.col("f2")], F.col("y")
            ).collect()
        }
        fit_w = logreg_fit_distributed(
            df, [F.col("f1"), F.col("f2")], F.col("y"), iterations=1
        )
        for i in range(3):
            assert step_w[i] == pytest.approx(round(fit_w[i], 6), abs=1e-9)
