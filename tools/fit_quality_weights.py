"""Re-derive llm_quality_classifier's shipped weights with the distributed
logistic-regression trainer (operators/logreg.py).

Usage: python tools/fit_quality_weights.py [sf_dir]

Distills the length heuristic (n_chars >= 300 — the GPT-3-style
"reference-vs-raw" supervision signal, here a deterministic rule so the
label is reproducible) into the linear feature scorer by full-batch GD
over the documents table, then prints the ``_QC_WEIGHTS`` literal block to
paste into queries/curation.py. Deterministic: zero init, fixed
step/iterations, sorted-fold gradient aggregation — rerunning on the same
fixture reproduces the same literals.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.logreg import logreg_fit_distributed
from crowdsorsa_etl_spark.queries.curation import _QC_WEIGHTS, _qc_feature_exprs
from crowdsorsa_etl_spark.session import get_spark
from crowdsorsa_etl_spark.sources.parquet import load_table

ITERATIONS = 30
STEP = 1.0
L2 = 1e-3


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="fit_quality_weights")
    docs = load_table(spark, "documents", sf_dir)
    feats = _qc_feature_exprs()
    names = [n for n, _ in _QC_WEIGHTS if n != "intercept"]
    label = F.when(F.col("n_chars") >= 300, 1.0).otherwise(0.0)
    w = logreg_fit_distributed(
        docs,
        [feats[n] for n in names],
        label,
        iterations=ITERATIONS,
        step=STEP,
        l2=L2,
    )
    print("_QC_WEIGHTS: list[tuple[str, float]] = [")
    for name, wi in zip(["intercept"] + names, w):
        print(f'    ("{name}", {float(wi)!r}),')
    print("]")


if __name__ == "__main__":
    main()
