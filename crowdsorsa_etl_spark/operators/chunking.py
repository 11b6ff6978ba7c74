"""Fixed-window training-chunk materialization — THE chunk grid.

The grid behind llm_doc_chunking: documents split once, chunk starts via
sequence(), posexplode, slice — a fully narrow whole-stage-codegen plan
(no joins, no exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import normalize_text


def chunk_documents(
    df: DataFrame,
    *,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """(id, chunk_idx, start_token, n_tokens, chunk_text): overlapping
    ``size``-token windows every ``stride`` tokens, short tail kept, blank
    documents dropped. ``stride`` must be in (0, size] — a larger stride
    would silently drop tokens from the training corpus."""
    if not 0 < stride <= size:
        raise ValueError(
            f"stride must be in (0, size]; got stride={stride}, size={size} "
            "(stride > size silently loses tokens)"
        )
    base = df.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("_toks")
    )
    sized = base.withColumn("_n", F.size("_toks")).withColumn(
        "_starts", F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
    )
    return sized.select(
        "doc_id",
        F.posexplode("_starts").alias("chunk_idx", "start_token"),
        "_toks",
        "_n",
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start_token").cast("int").alias("start_token"),
        F.least(F.lit(size), F.col("_n") - F.col("start_token"))
        .cast("int")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("_toks"), F.col("start_token") + 1, F.lit(size)), " "
        ).alias("chunk_text"),
    )
