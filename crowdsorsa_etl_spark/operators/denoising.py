"""Denoising-objective transforms: T5 span corruption and FIM splits.

The last mile of a pre-training data pipeline is often not the identity:
encoder-decoder denoisers (T5, UL2) train on (corrupted input, span target)
pairs, and code models train on fill-in-the-middle (FIM) reorderings
(Bavarian et al. 2022). Both are pure per-row string/array programs, so
they run entirely JVM-side — higher-order array functions over the token
array, zero Python, zero shuffle: the transform inherits whatever
partitioning the corpus already has and scales embarrassingly.

Determinism note: the production T5 sampler draws span positions/lengths
from a noise distribution. A data ENGINE wants the reproducible form — the
mask pattern here is a fixed function of the token index (every position
``i ≡ SPAN_START (mod PERIOD)`` starts a ``SPAN_LEN``-token span), which
(a) hits the same ~corruption rate (SPAN_LEN/PERIOD = 30%-ish of tokens at
defaults), (b) replays bit-identically across engines/runs/cluster sizes,
and (c) is SQL-expressible, so the DuckDB oracle hash-verifies the full
(input, target) strings. A seeded-hash variant would also be portable;
index arithmetic keeps the oracle legible.

Sentinel convention (T5): the k-th masked span becomes ``<extra_id_k>`` in
the input; the target is ``<extra_id_0> span0… <extra_id_1> span1… …
<extra_id_K>`` with the FINAL sentinel appended (K = span count), exactly
the HuggingFace T5 preprocessing shape.

FIM convention (PSM): ``<fim_prefix> p… <fim_suffix> s… <fim_middle> m…``
with split points at n//3 and (2n)//3 of the token array — the
prefix-suffix-middle ordering that lets a causal LM infill.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import normalize_text

__all__ = ["span_corrupt", "fim_transform"]

#: every PERIOD-th position starting at SPAN_START opens a SPAN_LEN span
SPAN_PERIOD = 10
SPAN_START = 4
SPAN_LEN = 3


def _sentinel(k: Column) -> Column:
    return F.concat(F.lit("<extra_id_"), k.cast("string"), F.lit(">"))


def span_corrupt(df: DataFrame) -> DataFrame:
    """T5 span corruption over the shared normalized token stream.

    Output: (doc_id, n_tokens, n_spans, n_masked, input_text,
    target_text). A token at index i is masked iff
    ``i mod SPAN_PERIOD ∈ [SPAN_START, SPAN_START+SPAN_LEN)``; the span id
    is ``i // SPAN_PERIOD``. Empty docs are dropped (no tokens to corrupt).
    All work is per-row higher-order-function arithmetic — no exchange.
    """
    nt = normalize_text(F.col("text"))
    base = df.select(F.col("doc_id"), F.split(nt, " ").alias("_arr")).filter(
        nt != ""
    )
    arr = F.col("_arr")
    n = F.size(arr)
    idx = F.sequence(F.lit(0), n - 1)
    mod = lambda i: i % SPAN_PERIOD  # noqa: E731
    span_k = lambda i: F.floor(i / SPAN_PERIOD)  # noqa: E731
    is_start = lambda i: mod(i) == SPAN_START  # noqa: E731
    is_cont = lambda i: (mod(i) > SPAN_START) & (  # noqa: E731
        mod(i) < SPAN_START + SPAN_LEN
    )

    inp_items = F.filter(
        F.transform(
            idx,
            lambda i: F.when(is_start(i), _sentinel(span_k(i)))
            .when(is_cont(i), F.lit(None))
            .otherwise(F.element_at(arr, (i + 1).cast("int"))),
        ),
        lambda x: x.isNotNull(),
    )
    tgt_items = F.filter(
        F.transform(
            idx,
            lambda i: F.when(
                is_start(i),
                F.concat(
                    _sentinel(span_k(i)),
                    F.lit(" "),
                    F.element_at(arr, (i + 1).cast("int")),
                ),
            ).when(is_cont(i), F.element_at(arr, (i + 1).cast("int"))),
        ),
        lambda x: x.isNotNull(),
    )
    n_spans = F.size(F.filter(idx, is_start)).cast("bigint")
    body = F.array_join(tgt_items, " ")
    return base.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        n_spans.alias("n_spans"),
        F.size(tgt_items).cast("bigint").alias("n_masked"),
        F.array_join(inp_items, " ").alias("input_text"),
        F.concat(
            F.when(n_spans > 0, F.concat(body, F.lit(" "))).otherwise(
                F.lit("")
            ),
            _sentinel(n_spans),
        ).alias("target_text"),
    )


def span_corrupt_sql(norm_sql: str) -> str:
    """DuckDB replay of :func:`span_corrupt` (same constants, same
    sentinel strings, ORDER BY token index inside the per-doc rebuild)."""
    lo, hi = SPAN_START, SPAN_START + SPAN_LEN
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(nt, ' ') AS arr
      FROM (SELECT doc_id, {norm_sql} AS nt FROM documents)
      WHERE nt != ''
    ),
    tok AS (
      SELECT doc_id, CAST(t.i AS BIGINT) - 1 AS i,
             arr[CAST(t.i AS INT)] AS tok, len(arr) AS n
      FROM toks, UNNEST(range(1, len(arr) + 1)) AS t(i)
    ),
    cls AS (
      SELECT doc_id, i, tok, n,
             i % {SPAN_PERIOD} AS m, i // {SPAN_PERIOD} AS k
      FROM tok
    ),
    agg AS (
      SELECT doc_id,
             CAST(max(n) AS BIGINT) AS n_tokens,
             CAST(count(*) FILTER (WHERE m = {lo}) AS BIGINT) AS n_spans,
             CAST(count(*) FILTER (WHERE m >= {lo} AND m < {hi}) AS BIGINT)
               AS n_masked,
             string_agg(
               CASE WHEN m = {lo}
                    THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
                    WHEN m > {lo} AND m < {hi} THEN NULL
                    ELSE tok END, ' ' ORDER BY i) AS input_text,
             string_agg(
               CASE WHEN m = {lo}
                    THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || tok
                    WHEN m > {lo} AND m < {hi} THEN tok
                    ELSE NULL END, ' ' ORDER BY i) AS target_body
      FROM cls GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_spans, n_masked, input_text,
           CASE WHEN n_spans > 0 THEN target_body || ' ' ELSE '' END
             || '<extra_id_' || CAST(n_spans AS VARCHAR) || '>'
             AS target_text
    FROM agg
    """


def fim_transform(df: DataFrame, *, min_tokens: int = 3) -> DataFrame:
    """Fill-in-the-middle PSM reordering (Bavarian et al. 2022).

    Split points are n//3 and (2n)//3 over the normalized token array;
    docs shorter than ``min_tokens`` are dropped (every region must be
    non-empty). Output: (doc_id, n_tokens, fim_text). Pure per-row array
    slicing — no exchange, no Python."""
    if min_tokens < 3:
        raise ValueError(f"min_tokens must be >= 3, got {min_tokens}")
    nt = normalize_text(F.col("text"))
    base = df.select(F.col("doc_id"), F.split(nt, " ").alias("_arr")).filter(
        nt != ""
    )
    arr = F.col("_arr")
    n = F.size(arr)
    # floor of an exact-integer double division: exact while 2n < 2^51
    p1 = F.floor(n / F.lit(3)).cast("int")
    p2 = F.floor(n * 2 / F.lit(3)).cast("int")
    join = lambda c: F.array_join(c, " ")  # noqa: E731
    fim = F.concat(
        F.lit("<fim_prefix> "),
        join(F.slice(arr, F.lit(1), p1)),
        F.lit(" <fim_suffix> "),
        join(F.slice(arr, p2 + 1, n - p2)),
        F.lit(" <fim_middle> "),
        join(F.slice(arr, p1 + 1, p2 - p1)),
    )
    return base.filter(n >= min_tokens).select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        fim.alias("fim_text"),
    )


def fim_transform_sql(norm_sql: str) -> str:
    """DuckDB replay of :func:`fim_transform` (1-based inclusive list
    slices mirror Spark's slice(start, length))."""
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(nt, ' ') AS arr, len(string_split(nt, ' ')) AS n
      FROM (SELECT doc_id, {norm_sql} AS nt FROM documents)
      WHERE nt != ''
    ),
    cut AS (
      SELECT doc_id, arr, CAST(n AS BIGINT) AS n,
             CAST(n // 3 AS INT) AS p1, CAST((2 * n) // 3 AS INT) AS p2
      FROM toks WHERE n >= 3
    )
    SELECT doc_id, n AS n_tokens,
           '<fim_prefix> ' || array_to_string(arr[1:p1], ' ')
           || ' <fim_suffix> ' || array_to_string(arr[p2 + 1:n], ' ')
           || ' <fim_middle> ' || array_to_string(arr[p1 + 1:p2], ' ')
             AS fim_text
    FROM cut
    """
