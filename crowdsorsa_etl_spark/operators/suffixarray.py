"""Distributed suffix array by prefix doubling — the hash-free exact
ground-truth tier over the substring-dedup contract.

``operators/substring.py`` distributes Lee et al.'s EXACTSUBSTR via
stride-1 md5 k-shingles: token-coverage-exact *modulo hash collisions*,
and blind to anything below its fixed k. This module builds the real
article — suffix order and longest-repeated-prefix per position — with
Manber–Myers prefix doubling re-expressed as DataFrame rounds:

    round 0:  rank_1(d, p)   = dense rank of the single token
    round t:  rank_{2^t}     = dense rank of (rank_{2^{t-1}}[p],
                                              rank_{2^{t-1}}[p + 2^{t-1}])
              (missing right half -> -1 sentinel: the shorter suffix
               sorts first, the standard SA convention)

Each round is one equi-join (the shifted rank lookup) + one distinct +
one two-phase global rank (``operators/global_rank.py`` — no
SinglePartition window) + one hash join back: O(log max_doc_len) rounds
of O(corpus_tokens) shuffles, the same discipline as connected
components, lineage-truncated per round. Suffixes never cross document
boundaries (the right-half lookup misses past the doc end), so the
"corpus suffix array" is the disjoint union of per-doc suffix arrays
sharing one global rank space — exactly what cross-doc duplicate
detection needs.

LCP is *not* Kasai (inherently sequential); adjacent-suffix LCP uses the
binary-lifting descend over the retained per-round rank tables: walk t
from high to low, and whenever ``rank_{2^t}`` agrees on both cursors,
add ``2^t`` and advance both. Greedy high-to-low writes the true LCP in
binary, so the value is exact while LCP < 2^{T+1}. Longest repeated
prefix per position = max LCP with either suffix-order neighbor; the
union of ``[p, p + lrp(p) - 1]`` over ``lrp(p) >= L`` is EXACTLY the
token set covered by some repeated substring of length >= L — the same
set the shingle tier covers at k = L when md5 is collision-free, which
is precisely the equivalence the audit query pins.

Cost posture: this is the ground-truth/audit tier — run at audit scale
(a corpus sample, an sf fixture), not on every ingest; the production
path stays the one-shuffle shingle tier. Same role split as
llm_lsh_audit (exact Jaccard) vs llm_minhash_lsh.

Reference parity note: the crowdsorsa reference (R scripts) has no
substring machinery — north-star LLM-pipeline tier (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.checkpointing import materialize
from crowdsorsa_etl_spark.operators.global_rank import with_global_row_number
from crowdsorsa_etl_spark.operators.substring import _token_array

__all__ = ["suffix_ranks", "suffix_spans_exact", "suffix_spans_exact_sql"]


def _token_positions(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_token_array(text_col)).alias("pos", "tok"),
    ).withColumn("pos", F.col("pos").cast("int"))


def suffix_ranks(df: DataFrame) -> tuple[list[DataFrame], DataFrame]:
    """Prefix-doubling rank tables.

    Returns ``(tables, final)``: ``tables[t]`` is (id, pos, rank) where
    ``rank`` orders suffixes by their first ``2**t`` tokens (dense, 0-based,
    global across docs); ``final`` is the last table — a total suffix order
    up to ties between textually identical suffixes. Every table is
    lineage-truncated (reused by the LCP descend).
    """
    tok = materialize(_token_positions(df, "doc_id", "text"))
    vocab, _ = with_global_row_number(
        tok.select("tok").distinct(), [F.col("tok")], rn_col="_r"
    )
    cur = materialize(
        tok.join(vocab, "tok").select(
            "id", "pos", (F.col("_r") - 1).cast("bigint").alias("rank")
        )
    )
    tables = [cur]
    max_len = tok.agg(F.max("pos")).first()[0]
    max_len = 0 if max_len is None else int(max_len) + 1
    h = 1
    while h < max_len:
        shifted = cur.select(
            "id", (F.col("pos") - h).alias("pos"), F.col("rank").alias("rank2")
        ).filter(F.col("pos") >= 0)
        paired = cur.join(shifted, ["id", "pos"], "left").select(
            "id",
            "pos",
            "rank",
            F.coalesce(F.col("rank2"), F.lit(-1)).alias("rank2"),
        )
        keys, _ = with_global_row_number(
            paired.select("rank", "rank2").distinct(),
            [F.col("rank"), F.col("rank2")],
            rn_col="_r",
        )
        cur = materialize(
            paired.join(keys, ["rank", "rank2"]).select(
                "id", "pos", (F.col("_r") - 1).cast("bigint").alias("rank")
            )
        )
        tables.append(cur)
        h *= 2
    return tables, cur


def _adjacent_lcp(tables: list[DataFrame], final: DataFrame) -> DataFrame:
    """LCP between suffix-order-adjacent suffixes via binary-lifting
    descend over the doubling tables. Returns (a_id, a_pos, b_id, b_pos,
    lcp). Ties in ``final`` (textually identical suffixes) are ordered by
    (id, pos) — any order inside a tie group yields the same LCP set."""
    sa, _ = with_global_row_number(
        final, [F.col("rank"), F.col("id"), F.col("pos")], rn_col="_sa"
    )
    a = sa.select(
        F.col("_sa").alias("_k"),
        F.col("id").alias("a_id"),
        F.col("pos").alias("a_pos"),
    )
    b = sa.select(
        (F.col("_sa") - 1).alias("_k"),
        F.col("id").alias("b_id"),
        F.col("pos").alias("b_pos"),
    )
    pairs = a.join(b, "_k").select(
        "a_id",
        "a_pos",
        "b_id",
        "b_pos",
        F.col("a_pos").alias("_ac"),
        F.col("b_pos").alias("_bc"),
        F.lit(0).cast("int").alias("lcp"),
    )
    # suffix lengths: when two suffixes are textually EQUAL (one is not a
    # strict prefix of a longer match), they tie at every width through the
    # shared -1 sentinel and the descend adds the full 2^t — the classic
    # per-position-unique-terminator subtlety. The true LCP of equal
    # suffixes is their common remaining length, so the final value is
    # capped by both suffixes' lengths (the cap binds exactly in the
    # full-tie case and is a no-op otherwise).
    lens = (
        tables[0]
        .groupBy("id")
        .agg((F.max("pos") + 1).cast("int").alias("_len"))
    )
    for t in range(len(tables) - 1, -1, -1):
        step = 1 << t
        ra = tables[t].select(
            F.col("id").alias("a_id"),
            F.col("pos").alias("_ac"),
            F.col("rank").alias("_ra"),
        )
        rb = tables[t].select(
            F.col("id").alias("b_id"),
            F.col("pos").alias("_bc"),
            F.col("rank").alias("_rb"),
        )
        j = pairs.join(ra, ["a_id", "_ac"], "left").join(
            rb, ["b_id", "_bc"], "left"
        )
        eq = (
            F.col("_ra").isNotNull()
            & F.col("_rb").isNotNull()
            & (F.col("_ra") == F.col("_rb"))
        )
        pairs = materialize(
            j.select(
                "a_id",
                "a_pos",
                "b_id",
                "b_pos",
                (F.col("_ac") + F.when(eq, step).otherwise(0)).alias("_ac"),
                (F.col("_bc") + F.when(eq, step).otherwise(0)).alias("_bc"),
                (F.col("lcp") + F.when(eq, step).otherwise(0))
                .cast("int")
                .alias("lcp"),
            )
        )
    la = lens.select(F.col("id").alias("a_id"), F.col("_len").alias("_la"))
    lb = lens.select(F.col("id").alias("b_id"), F.col("_len").alias("_lb"))
    return (
        pairs.join(la, "a_id")
        .join(lb, "b_id")
        .select(
            "a_id",
            "a_pos",
            "b_id",
            "b_pos",
            F.least(
                F.col("lcp"),
                F.col("_la") - F.col("a_pos"),
                F.col("_lb") - F.col("b_pos"),
            )
            .cast("int")
            .alias("lcp"),
        )
    )


def suffix_spans_exact(df: DataFrame, *, min_len: int = 8) -> DataFrame:
    """Maximal duplicated token spans of >= ``min_len`` tokens, computed
    from the suffix array + adjacent LCP — no hashes anywhere.

    Output: (doc_id, span_start int, span_end int, n_tokens int), the
    same contract as ``duplicated_substring_spans`` — identical output on
    any corpus where md5 is collision-free, which the audit query gates.
    """
    tables, final = suffix_ranks(df)
    lcp = _adjacent_lcp(tables, final)
    # longest repeated prefix per position = max LCP with either neighbor
    lrp = (
        lcp.select(F.col("a_id").alias("id"), F.col("a_pos").alias("pos"), "lcp")
        .unionAll(
            lcp.select(
                F.col("b_id").alias("id"), F.col("b_pos").alias("pos"), "lcp"
            )
        )
        .groupBy("id", "pos")
        .agg(F.max("lcp").alias("lrp"))
        .filter(F.col("lrp") >= min_len)
        .withColumn("end", F.col("pos") + F.col("lrp") - 1)
    )
    # interval union per doc (intervals have VARYING length, so the island
    # break is "start beyond running-max end + 1", not a fixed-gap rule)
    w_doc = Window.partitionBy("id").orderBy("pos")
    w_prev = w_doc.rowsBetween(Window.unboundedPreceding, -1)
    marked = lrp.withColumn(
        "_ni",
        F.when(
            F.col("pos") <= F.max("end").over(w_prev) + 1, 0
        ).otherwise(1),
    )
    islands = marked.withColumn(
        "_isl",
        F.sum("_ni").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("id", "_isl")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            F.max("end").cast("int").alias("span_end"),
            (F.max("end") - F.min("pos") + 1).cast("int").alias("n_tokens"),
        )
        .drop("_isl")
        .withColumnRenamed("id", "doc_id")
    )


def suffix_spans_exact_sql(min_len: int = 8) -> str:
    """DuckDB oracle: an INDEPENDENT exact algorithm — stride-1 RAW-text
    grams (no md5) grouped corpus-wide, then the island rule. Two exact
    algorithms (suffix array + LCP vs raw-gram grouping) must agree span
    for span; neither can hide a hash collision."""
    from crowdsorsa_etl_spark.operators.substring import _NORM

    k = min_len
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS arr FROM documents
    ),
    sh AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             array_to_string(arr[CAST(i AS INT):CAST(i + {k} - 1 AS INT)], ' ') AS s
      FROM toks, UNNEST(range(1, len(arr) - {k} + 2)) AS t(i)
    ),
    dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
    fl AS (SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM dup)),
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


def suffix_audit_sql(exact_len: int = 8, ks: tuple[int, ...] = (8, 13)) -> str:
    """Oracle for the exact-vs-shingle audit: the RAW-gram exact tier at
    ``exact_len`` against the PRODUCTION md5-shingle tier at each k in
    ``ks`` (the llm_lsh_audit posture — ground truth vs approximation,
    one summary row per operating point)."""
    from crowdsorsa_etl_spark.operators.substring import _NORM

    def spans_cte(prefix: str, k: int, gram: str) -> str:
        return f"""
    {prefix}sh AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos, {gram} AS s
      FROM toks, UNNEST(range(1, len(arr) - {k} + 2)) AS t(i)
    ),
    {prefix}dup AS (SELECT s FROM {prefix}sh GROUP BY s HAVING count(*) >= 2),
    {prefix}fl AS (SELECT doc_id, pos FROM {prefix}sh
                   WHERE s IN (SELECT s FROM {prefix}dup)),
    {prefix}mk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  <= {k} THEN 0 ELSE 1 END AS ni
      FROM {prefix}fl
    ),
    {prefix}isl AS (
      SELECT doc_id, pos,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS isld
      FROM {prefix}mk
    ),
    {prefix}spans AS (
      SELECT doc_id, min(pos) AS span_start,
             max(pos) + {k} - 1 AS span_end,
             max(pos) - min(pos) + {k} AS n_tokens
      FROM {prefix}isl GROUP BY doc_id, isld
    ),
    {prefix}tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_spans,
             CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS tokens
      FROM {prefix}spans
    )"""

    raw = f"array_to_string(arr[CAST(i AS INT):CAST(i + {exact_len} - 1 AS INT)], ' ')"
    parts = [
        f"""toks AS MATERIALIZED (
      SELECT doc_id, string_split({_NORM}, ' ') AS arr FROM documents
    )""",
        spans_cte("ex_", exact_len, raw),
    ]
    selects = []
    for k in ks:
        md5g = f"md5(array_to_string(arr[CAST(i AS INT):CAST(i + {k} - 1 AS INT)], ' '))"
        parts.append(spans_cte(f"k{k}_", k, md5g))
        selects.append(
            f"""
    SELECT CAST({k} AS INT) AS k,
           e.n_spans AS n_spans_exact, e.tokens AS tokens_exact,
           s.n_spans AS n_spans_shingle, s.tokens AS tokens_shingle,
           e.tokens - s.tokens AS missed_tokens,
           CASE WHEN e.tokens = 0 THEN CAST(0 AS DOUBLE)
                ELSE round((e.tokens - s.tokens) * 1.0 / e.tokens, 6)
           END AS miss_rate
    FROM ex_tot e, k{k}_tot s"""
        )
    return "WITH " + ",".join(parts) + " " + " UNION ALL ".join(selects)
