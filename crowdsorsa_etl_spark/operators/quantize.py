"""int8 embedding quantization for the similarity tier.

At 100 TB the embedding column dominates storage and shuffle width: float32
×dim per row. Symmetric per-vector int8 quantization (the FAISS SQ8 idea)
cuts that 4× with negligible cosine error — the standard first step before
any large-scale ANN build. Everything here is JVM-side column expressions
(transform / zip_with / aggregate higher-order functions): no Python in the
hot path, and cosine on quantized vectors is scale-free (the per-vector
scale cancels in dot/(|a||b|)), so the re-rank can run on int8 directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """float vectors → (id, qvec array<tinyint>, scale float).

    Symmetric per-vector quantization: ``scale = 127 / max|x|``,
    ``q_i = round(x_i * scale)`` ∈ [-127, 127]. Zero vectors quantize to
    zeros with scale 0. Dequantize with ``x ≈ q / scale``.
    """
    vec = F.col("embedding")
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    qvec = F.transform(vec, lambda x: F.round(x * scale).cast("tinyint"))
    return df.select(
        F.col("vec_id"),
        qvec.alias("qvec"),
        scale.cast("float").alias("scale"),
    )


def _int_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_topk_quantized(
    corpus_q: DataFrame,
    queries_q: DataFrame,
    *,
    k: int = 10,
) -> DataFrame:
    """Top-k cosine neighbors computed ENTIRELY on int8 vectors.

    cos(a, b) ≈ dot(qa, qb) / (|qa|·|qb|) — per-vector scales cancel, so no
    dequantization happens anywhere. Same plan shape as
    ``similarity.cosine_topk``: the (small, bounded) query set is broadcast,
    the corpus never shuffles; ranking is a per-query-key window over k·|Q|
    candidate rows.

    Output: (query_id, vec_id, cosine_q, rank).
    """
    q = queries_q.select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("q_qvec"),
    )
    c = corpus_q.select("vec_id", "qvec")
    norm = lambda v: F.sqrt(_int_dot(v, v).cast("double"))  # noqa: E731
    scored = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine_q",
            F.round(
                _int_dot(F.col("qvec"), F.col("q_qvec")).cast("double")
                / (norm(F.col("qvec")) * norm(F.col("q_qvec"))),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_q").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_q", "rank")
    )
