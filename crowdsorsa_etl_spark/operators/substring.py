"""Exact substring deduplication — the Lee et al. (2022) tier.

"Deduplicating Training Data Makes Language Models Better" (ACL'22) removes
every substring of >= N tokens that occurs more than once across the corpus
(their EXACTSUBSTR, built single-node on a suffix array). The distributed
re-expression used here is the k-shingle-run formulation:

1. **Shingle index** — every k-token window of every document, keyed by a
   128-bit content hash (md5 of the space-joined window; both engines
   replay the same hash, so the oracle is exact cross-engine). One corpus
   scan, fully column-side (``transform`` over ``sequence`` — no Python).
2. **Duplicated windows** — a window position is flagged iff its shingle
   occurs >= 2 times corpus-wide. One hash exchange on the shingle key
   (a count window over ``partitionBy(shingle)``), the only data-sized
   shuffle in the operator.
3. **Maximal runs** — flagged start positions coalesce per document into
   maximal token spans (gaps-and-islands over the per-doc position order:
   starts p and p' overlap-or-touch iff p' - p <= k, because both cover k
   tokens). Per-doc windows only — no global funnel.

Every span this emits has >= k duplicated tokens, and any substring that
literally occurs twice (length >= k) is fully covered by emitted spans —
the k-shingle formulation is a guaranteed superset of EXACTSUBSTR's
removal set (every k-window of a repeated substring repeats too), which is
the conservative direction for training-data hygiene. A suffix array is a
single-machine data structure; the shingle-run form is how the same
contract distributes (cf. the BigQuery/Spark reimplementations of C4's
three-sentence span dedup).

Scale: the shingle index is corpus-token-sized (one row per token, ~k
bytes hashed per row) — the same order as the BM25 postings build or the
MinHash shingle stage, both proven at the 100x spot-bench. Boilerplate
shingles skew the count exchange; AQE's skew handling plus the 128-bit
key's uniformity bound the hot partitions.

Reference parity note: the crowdsorsa reference (R scripts) has no
substring dedup — this is a north-star LLM-pipeline operator
(SURVEY.md "beyond the reference" tier).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import normalize_text as _norm

_MIN_RUN = 8

__all__ = [
    "duplicated_substring_spans",
    "substring_decontamination_spans",
    "remove_duplicated_substrings",
    "substring_spans_sql",
    "substring_clean_sql",
    "substring_decontamination_sql",
]


def _token_array(text_col: str) -> Column:
    return F.split(_norm(F.coalesce(F.col(text_col), F.lit(""))), " ")


def _shingle_positions(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, pos, sh): 0-based start position and md5 of each k-token window.

    ``sequence`` is guarded for docs shorter than k tokens (Spark's
    sequence(1, stop) DESCENDS when stop < 1 instead of returning empty).
    """
    arr = _token_array(text_col)
    n = F.size(arr)
    shingles = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(arr, i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col), F.posexplode(shingles).alias("pos", "sh")
    ).withColumn("pos", F.col("pos").cast("int"))


def duplicated_substring_spans(
    df: DataFrame,
    *,
    min_run: int = 8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Maximal duplicated token spans of >= ``min_run`` tokens per document.

    Output: (doc_id, span_start int, span_end int, n_tokens int) — 0-based
    inclusive token positions; ``n_tokens = span_end - span_start + 1``.
    A span is the union of duplicated windows: every token in it is covered
    by some ``min_run``-token window that occurs at least twice somewhere
    in the corpus (including elsewhere in the same doc). Interior windows
    of a span merged from touching-but-not-overlapping duplicated windows
    need not themselves repeat — the span is exactly what removal wants
    (all duplicated material), not a per-window guarantee.
    """
    if min_run < 2:
        raise ValueError(f"min_run must be >= 2, got {min_run}")
    k = min_run
    # ``shingles`` injects a precomputed (id, pos, sh) table — the
    # per-fixture materialized artifact (queries/_shared._doc_shingles),
    # the same injection contract as substring_decontamination_spans
    sh = (
        shingles
        if shingles is not None
        else _shingle_positions(df, "doc_id", "text", k)
    )

    # flagged = corpus-wide shingle count >= 2, as groupBy-count + semi
    # join rather than a count window over partitionBy(sh): the partial
    # (map-side) aggregation collapses a hot boilerplate shingle to one
    # partial per input partition BEFORE the exchange, so the count side
    # is skew-immune by construction; the probe join broadcasts when the
    # duplicated-shingle set is small and falls to an AQE-skew-splittable
    # shuffle join otherwise. A window over sh would funnel every
    # occurrence of the hot key through one sort partition with no
    # partial-agg relief — the shape tests/test_substring.py's skew
    # stress gate rules out.
    dup_sh = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("sh")
    )
    flagged = sh.join(dup_sh, "sh", "left_semi").select("doc_id", "pos")

    # gaps-and-islands per doc: start positions <= k apart cover
    # overlapping-or-touching k-token windows (unique order key: pos)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    w_run = w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = flagged.withColumn(
        "_ni",
        F.when(F.col("pos") - F.lag("pos").over(w_doc) <= k, 0).otherwise(1),
    )
    islands = marked.withColumn("_isl", F.sum("_ni").over(w_run))
    return islands.groupBy("doc_id", "_isl").agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).cast("int").alias("span_end"),
        (F.max("pos") - F.min("pos") + F.lit(k)).cast("int").alias("n_tokens"),
    ).drop("_isl")


def substring_decontamination_spans(
    corpus: DataFrame,
    eval_df: DataFrame,
    *,
    min_run: int = 8,
    corpus_shingles: DataFrame | None = None,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """Substring-level train/eval decontamination (the Llama/PaLM n-gram
    overlap rule): maximal spans of >= ``min_run`` tokens in CORPUS
    documents that are the union of ``min_run``-token windows also found
    in the EVAL set (every token in a span is covered by some eval-matching
    window; interior windows of a merged span need not match individually)
    — the text a training pipeline must drop so benchmark answers don't
    leak into the model verbatim.

    Same machinery as :func:`duplicated_substring_spans` with the flagging
    side swapped: corpus windows LEFT-SEMI join the eval set's distinct
    window hashes (an eval set is benchmark-sized — Catalyst broadcasts it
    from observed size, so the corpus scan stays shuffle-free in the
    common case), then per-doc gaps-and-islands coalescing. Output:
    (doc_id, span_start int, span_end int, n_tokens int).
    """
    if min_run < 2:
        raise ValueError(f"min_run must be >= 2, got {min_run}")
    k = min_run
    # corpus_shingles/eval_shingles inject a precomputed (id, pos, sh)
    # table — the per-fixture materialized shingle artifact
    # (queries/_shared._doc_shingles); derived here when absent
    sh = (
        corpus_shingles
        if corpus_shingles is not None
        else _shingle_positions(corpus, "doc_id", "text", k)
    )
    ev = (
        eval_shingles
        if eval_shingles is not None
        else _shingle_positions(eval_df, "doc_id", "text", k)
    ).select("sh").distinct()
    flagged = sh.join(ev, "sh", "left_semi").select("doc_id", "pos")

    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    w_run = w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = flagged.withColumn(
        "_ni",
        F.when(F.col("pos") - F.lag("pos").over(w_doc) <= k, 0).otherwise(1),
    )
    islands = marked.withColumn("_isl", F.sum("_ni").over(w_run))
    return islands.groupBy("doc_id", "_isl").agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).cast("int").alias("span_end"),
        (F.max("pos") - F.min("pos") + F.lit(k)).cast("int").alias("n_tokens"),
    ).drop("_isl")


def remove_duplicated_substrings(
    df: DataFrame,
    *,
    min_run: int = 8,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Drop every token covered by a duplicated >= ``min_run``-token run
    (the EXACTSUBSTR removal step) and return per-doc clean stats.

    Output: (doc_id, n_kept bigint, clean_md5 string) — md5 of the
    space-joined surviving tokens in original order ('' when everything
    was removed), so any off-by-one in span coverage breaks the hash.
    Documents whose normalized text is empty are dropped (both engines).

    Spans are collected per doc (bounded: spans per doc <= tokens/min_run)
    and the removal itself is column-side: one broadcast-eligible shuffle
    join of docs against their span lists, then a pure ``filter`` lambda
    over the token array — no Python, no second corpus shuffle.

    ``spans`` lets the caller pass a precomputed (or materialized)
    ``duplicated_substring_spans`` result — the shared-artifact posture
    the token chain uses; when None, spans are derived here.
    """
    if spans is None:
        spans = duplicated_substring_spans(df, min_run=min_run)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    arr = _token_array("text")
    toks = df.select(F.col("doc_id"), arr.alias("_arr")).filter(
        F.size(F.col("_arr")) > F.lit(0)
    )
    # split('') yields [''] — the empty doc; drop it like the oracle does
    toks = toks.filter(~((F.size("_arr") == 1) & (F.element_at("_arr", 1) == "")))
    joined = toks.join(per_doc, "doc_id", "left").withColumn(
        "_spans",
        F.coalesce(
            F.col("_spans"),
            F.array().cast("array<struct<span_start:int,span_end:int>>"),
        ),
    )
    idx = F.transform(
        F.sequence(F.lit(0), F.size("_arr") - 1),
        lambda i: F.struct(
            i.alias("i"), F.element_at(F.col("_arr"), i + 1).alias("w")
        ),
    )
    kept = F.filter(
        idx,
        lambda x: ~F.exists(
            F.col("_spans"),
            lambda s: (x["i"] >= s["span_start"]) & (x["i"] <= s["span_end"]),
        ),
    )
    clean = F.concat_ws(" ", F.transform(kept, lambda x: x["w"]))
    return joined.select(
        "doc_id",
        F.size(kept).cast("bigint").alias("n_kept"),
        F.md5(clean).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
# Shingle index at rest — the decontamination list persisted once and
# probed per ingest batch (the lsh_*_index / bm25_*_index maintenance
# story applied to substring overlap): an eval/benchmark set's window
# hashes are written partitioned by a 2-hex-char prefix of the hash; each
# training batch reads ONLY its own prefixes (bounded driver list →
# partition-pruned scan) and broadcasts itself. Per-batch cost is
# batch-sized and flat in index age; eval-set growth is a pure file append.
# --------------------------------------------------------------------------

_PFX_LEN = 2


def substring_write_index(eval_df: DataFrame, path: str) -> None:
    """Persist the eval set's distinct ``_MIN_RUN``-token window hashes,
    partitioned by the first ``_PFX_LEN`` hex chars (256 partitions —
    uniform by md5 construction)."""
    sh = (
        _shingle_positions(eval_df, "doc_id", "text", _MIN_RUN).select("sh")
        .distinct()
        .withColumn("pfx", F.substring("sh", 1, _PFX_LEN))
    )
    sh.write.mode("overwrite").partitionBy("pfx").parquet(path)


def substring_append_index(eval_df: DataFrame, path: str) -> None:
    """Append a new eval shard's window hashes — pure file append into the
    prefix partitions; existing rows untouched. Duplicate hashes across
    appends are harmless (the probe is a left-semi join)."""
    sh = (
        _shingle_positions(eval_df, "doc_id", "text", _MIN_RUN).select("sh")
        .distinct()
        .withColumn("pfx", F.substring("sh", 1, _PFX_LEN))
    )
    sh.write.mode("append").partitionBy("pfx").parquet(path)


def substring_match_index(
    spark,
    path: str,
    batch: DataFrame,
    *,
    min_run: int = 8,
) -> DataFrame:
    """Overlap spans of a training BATCH against the persisted eval index.

    The batch's distinct prefixes are collected (bounded: ≤ 256 values) and
    pushed as a partition filter, so only the touched index directories are
    scanned; the batch side broadcasts. Output matches
    :func:`substring_decontamination_spans`.
    """
    k = min_run
    sh = _shingle_positions(batch, "doc_id", "text", k).withColumn(
        "pfx", F.substring("sh", 1, _PFX_LEN)
    )
    pfxs = sorted(
        r["pfx"] for r in sh.select("pfx").distinct().collect()
    )
    if not pfxs:
        from pyspark.sql.types import IntegerType, StructField, StructType

        id_type = batch.schema["doc_id"].dataType
        return spark.createDataFrame(
            [],
            StructType(
                [StructField("doc_id", id_type)]
                + [
                    StructField(c, IntegerType())
                    for c in ("span_start", "span_end", "n_tokens")
                ]
            ),
        )
    # the pruned slice (an eval index is benchmark-sized; the slice is the
    # touched prefixes only) broadcasts as the semi-join build side — a
    # left-semi BHJ builds on the right, so the FILTER side is what ships
    index = spark.read.parquet(path).filter(F.col("pfx").isin(pfxs))
    flagged = sh.join(
        F.broadcast(index), ["pfx", "sh"], "left_semi"
    ).select("doc_id", "pos")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    w_run = w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = flagged.withColumn(
        "_ni",
        F.when(F.col("pos") - F.lag("pos").over(w_doc) <= k, 0).otherwise(1),
    )
    islands = marked.withColumn("_isl", F.sum("_ni").over(w_run))
    return islands.groupBy("doc_id", "_isl").agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).cast("int").alias("span_end"),
        (F.max("pos") - F.min("pos") + F.lit(k)).cast("int").alias("n_tokens"),
    ).drop("_isl")


# --------------------------------------------------------------------------
# DuckDB oracles — the identical definition replayed in SQL (same
# normalization, same md5 shingle key, same island rule), brute-force where
# the Spark side is engineered (plain IN-subquery instead of the count
# window, EXISTS coverage instead of coalesced spans for the clean side).
# --------------------------------------------------------------------------

_NORM = "lower(regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g'))"


def _shingle_cte(k: int) -> str:
    return f"""toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS arr FROM documents
    ),
    sh AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             md5(array_to_string(arr[CAST(i AS INT):CAST(i + {k} - 1 AS INT)], ' ')) AS s
      FROM toks, UNNEST(range(1, len(arr) - {k} + 2)) AS t(i)
    ),
    dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
    fl AS (SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM dup))"""


def substring_spans_sql(k: int = 8) -> str:
    return f"""
    WITH {_shingle_cte(k)},
    mk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  <= {k} THEN 0 ELSE 1 END AS ni
      FROM fl
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS isld
      FROM mk
    )
    SELECT doc_id,
           CAST(min(pos) AS INT) AS span_start,
           CAST(max(pos) + {k} - 1 AS INT) AS span_end,
           CAST(max(pos) - min(pos) + {k} AS INT) AS n_tokens
    FROM isl GROUP BY doc_id, isld
    """


def substring_decontamination_sql(
    k: int = 8,
    *,
    corpus_pred: str = "doc_id % 10 != 0",
    eval_pred: str = "doc_id % 10 = 0",
) -> str:
    """Oracle for the train/eval overlap spans: corpus windows flagged via
    a plain IN-subquery against the eval set's window hashes, then the
    identical island rule."""
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS arr FROM documents
      WHERE {corpus_pred}
    ),
    etoks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS arr FROM documents
      WHERE {eval_pred}
    ),
    sh AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             md5(array_to_string(arr[CAST(i AS INT):CAST(i + {k} - 1 AS INT)], ' ')) AS s
      FROM toks, UNNEST(range(1, len(arr) - {k} + 2)) AS t(i)
    ),
    esh AS (
      SELECT DISTINCT
             md5(array_to_string(arr[CAST(i AS INT):CAST(i + {k} - 1 AS INT)], ' ')) AS s
      FROM etoks, UNNEST(range(1, len(arr) - {k} + 2)) AS t(i)
    ),
    fl AS (SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM esh)),
    mk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  <= {k} THEN 0 ELSE 1 END AS ni
      FROM fl
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS isld
      FROM mk
    )
    SELECT doc_id,
           CAST(min(pos) AS INT) AS span_start,
           CAST(max(pos) + {k} - 1 AS INT) AS span_end,
           CAST(max(pos) - min(pos) + {k} AS INT) AS n_tokens
    FROM isl GROUP BY doc_id, isld
    """


def substring_clean_sql(k: int = 8) -> str:
    return f"""
    WITH {_shingle_cte(k)},
    tok AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS t, arr[CAST(i AS INT)] AS w
      FROM toks, UNNEST(range(1, len(arr) + 1)) AS t(i)
      WHERE NOT (len(arr) = 1 AND arr[1] = '')
    ),
    kept AS (
      SELECT doc_id, t, w FROM tok
      WHERE NOT EXISTS (
        SELECT 1 FROM fl
        WHERE fl.doc_id = tok.doc_id
          AND tok.t BETWEEN fl.pos AND fl.pos + {k} - 1
      )
    )
    SELECT tok.doc_id,
           CAST(coalesce(count(kept.t), 0) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(kept.w, ' ' ORDER BY kept.t), '')) AS clean_md5
    FROM (SELECT DISTINCT doc_id FROM tok) tok
    LEFT JOIN kept ON kept.doc_id = tok.doc_id
    GROUP BY tok.doc_id
    """
