"""Misra–Gries heavy hitters — bounded-memory frequent-item detection.

The deterministic-output counterpart to the Count-Min sketch
(operators/cmsketch.py): where CM answers "roughly how often does THIS
item occur", Misra–Gries answers "which items occur more than φ·n times"
with O(k) memory per partition and a *no-false-negative* guarantee — an
MG summary of capacity k never drops an item whose true count exceeds
n/(k+1) (Misra & Gries 1982; merge bound from Agarwal et al., "Mergeable
Summaries", PODS 2012). The LLM-pipeline uses: boilerplate-phrase
discovery, runaway-domain detection, vocabulary heads — anywhere the
frequent tail must be found without |vocab| state.

Spark shape (two passes, both scale-safe at 100 TB):

1. **Summarize** — ``mapInPandas`` folds each partition's token stream
   through a capacity-k MG dictionary (pure Python over Arrow batches,
   but O(1) amortized per token and O(k) memory — the classic case where
   per-partition imperative state is the *point* of the operator). Each
   partition emits ≤ k ``(token, est)`` rows: the only data movement in
   pass 1 is k·P summary rows, independent of corpus size.
2. **Confirm** — the merged candidate set (≤ k·P tokens, broadcast) is
   semi-joined back against the token stream and counted exactly. The
   shuffle carries at most k·P distinct keys. Because every token with
   true count > n/(k+1) is guaranteed to survive pass 1 (union of
   per-partition summaries inherits the bound: a token missing from
   partition i's summary has local count ≤ n_i/(k+1), and Σ n_i = n),
   filtering the exact counts at a threshold ≥ n/(k+1) yields EXACTLY
   the frequent-item set — deterministic, independent of partitioning
   and arrival order, and falsifiable against a plain
   ``GROUP BY token HAVING count(*) >= threshold`` oracle.

The two-pass candidates-then-exact-confirm shape is the standard
production pattern (one bounded-memory discovery scan + one
candidate-restricted counting scan beats a full |vocab|-state groupBy
when the vocabulary doesn't fit and only the head matters).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import (
    normalize_text as _norm,
    normalized_tokens,
)


def _mg_fold(tokens: Iterator[str], capacity: int) -> dict[str, int]:
    """Sequential Misra–Gries: k counters; unseen token with full table
    decrements every counter (evicting zeros) instead of inserting."""
    counters: dict[str, int] = {}
    for tok in tokens:
        if tok in counters:
            counters[tok] += 1
        elif len(counters) < capacity:
            counters[tok] = 1
        else:
            drained = [t for t, c in counters.items() if c == 1]
            for t in counters:
                counters[t] -= 1
            for t in drained:
                del counters[t]
    return counters


def mg_partition_summaries(
    df: DataFrame, text_col: str = "text", *, capacity: int = 64
) -> DataFrame:
    """Pass 1: per-partition capacity-k MG summaries — ≤ k rows per
    partition of (token, est), est ≥ local_count − n_partition/(k+1)."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1; got {capacity}")
    toks = normalized_tokens(df, text_col)

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one MG table per PARTITION: the fold consumes the partition's
        # Arrow batches as one token stream, so memory stays O(capacity)
        n_part = 0

        def tokens() -> Iterator[str]:
            nonlocal n_part
            for pdf in batches:
                col = pdf["token"]
                n_part += len(col)
                yield from col

        counters = _mg_fold(tokens(), capacity)
        if n_part:
            # sentinel row (token=NULL) carries the partition's token
            # count so callers get n without a second corpus scan
            yield pd.DataFrame(
                {
                    "token": list(counters) + [None],
                    "est": list(counters.values()) + [n_part],
                }
            )

    return toks.mapInPandas(summarize, "token string, est long")


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    *,
    capacity: int = 64,
    min_share: float = 0.02,
) -> DataFrame:
    """Tokens whose corpus share is ≥ ``min_share``, found with O(k)
    memory. Requires ``min_share > 1/(capacity+1)`` — the MG guarantee
    threshold below which false negatives become possible.

    Returns (token, cnt) with EXACT counts: deterministic output, plain
    SQL oracle, sketch errors surface as missing rows."""
    if not min_share > 1.0 / (capacity + 1):
        raise ValueError(
            f"min_share={min_share} is inside the MG error bound "
            f"1/(capacity+1)={1.0 / (capacity + 1):.6f}; frequent items "
            "could be missed — raise capacity or min_share"
        )
    toks = normalized_tokens(df, text_col)
    # pass 1 output is ≤ (capacity+1) × partitions rows — safe to pull to
    # the driver (same bounded-collect rationale as similarity.py); the
    # NULL-token sentinels give n without a second corpus scan
    rows = mg_partition_summaries(df, text_col, capacity=capacity).collect()
    total = sum(r["est"] for r in rows if r["token"] is None)
    candidate_set = sorted({r["token"] for r in rows if r["token"] is not None})
    threshold = max(int(math.ceil(min_share * total)), 1)
    spark = df.sparkSession
    if not candidate_set:
        return spark.createDataFrame([], "token string, cnt long")
    # pass 2: exact confirm restricted to the bounded candidate set via a
    # BROADCAST LEFT-SEMI join — shuffle-free on the corpus side like an
    # isin literal, but without a capacity×partitions-element In-expression
    # in the plan (at 64 × 2000 partitions that literal is a 128k-node
    # expression tree; the broadcast relation costs the same bytes once and
    # keeps the plan small). The count shuffle then moves ≤ capacity ×
    # partitions distinct keys.
    cand_df = spark.createDataFrame(
        [(t,) for t in candidate_set], "token string"
    )
    return (
        toks.join(F.broadcast(cand_df), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.lit(threshold))
    )


def mg_grouped_summaries(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    *,
    capacity: int = 64,
) -> DataFrame:
    """Pass 1 of the GROUPED Misra-Gries: one capacity-k MG table per
    (partition, group) — ≤ k rows per pair of (g, token, est), plus one
    NULL-token sentinel per pair carrying that pair's token count. The
    per-group guarantee matches the ungrouped bound: within a partition,
    a group's counter error is ≤ n_partition_group/(capacity+1), so
    summed over partitions a token with group share ≥ min_share >
    1/(capacity+1) always survives. Memory is O(capacity × |groups
    present in the partition|) — the boilerplate/per-source shape where
    |groups| is a dimension, not data."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1; got {capacity}")
    # Contract: NULL groups are excluded. A None group key would make the
    # pandas pass's sorted() comparisons raise (None vs str) and the pass-2
    # equi-join would drop the rows anyway while a SQL GROUP BY kept them —
    # so the operator's declared domain is non-null groups (ADVICE r15).
    toks = df.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col).cast("string").alias("g"),
        F.explode(F.split(_norm(F.col(text_col)), " ")).alias("token"),
    ).filter(F.col("token") != "")

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tables: dict[str, dict[str, int]] = {}
        n_part: dict[str, int] = {}
        for pdf in batches:
            for g, tok in zip(pdf["g"], pdf["token"]):
                n_part[g] = n_part.get(g, 0) + 1
                counters = tables.setdefault(g, {})
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < capacity:
                    counters[tok] = 1
                else:
                    drained = [t for t, c in counters.items() if c == 1]
                    for t in counters:
                        counters[t] -= 1
                    for t in drained:
                        del counters[t]
        gs: list[str] = []
        ts: list[str | None] = []
        es: list[int] = []
        for g, n in n_part.items():
            for t, c in tables.get(g, {}).items():
                gs.append(g)
                ts.append(t)
                es.append(c)
            gs.append(g)
            ts.append(None)
            es.append(n)
        if gs:
            yield pd.DataFrame({"g": gs, "token": ts, "est": es})

    return toks.mapInPandas(summarize, "g string, token string, est long")


def heavy_hitters_grouped(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    *,
    capacity: int = 64,
    min_share: float = 0.02,
) -> DataFrame:
    """Per-group tokens whose WITHIN-GROUP share is ≥ ``min_share`` —
    the per-source boilerplate/top-token table, with the same
    sketch-propose + exact-confirm contract as :func:`heavy_hitters`:
    the output is deterministically the exact per-group ≥min_share set
    (plain SQL oracle; a sketch false negative = a missing row = a hash
    mismatch). Returns (g, token, cnt) with exact counts."""
    if not min_share > 1.0 / (capacity + 1):
        raise ValueError(
            f"min_share={min_share} is inside the MG error bound "
            f"1/(capacity+1)={1.0 / (capacity + 1):.6f}"
        )
    rows = mg_grouped_summaries(
        df, group_col, text_col, capacity=capacity
    ).collect()  # ≤ (capacity+1) × partitions × |groups-per-partition|
    totals: dict[str, int] = {}
    cands: set[tuple[str, str]] = set()
    for r in rows:
        if r["token"] is None:
            totals[r["g"]] = totals.get(r["g"], 0) + int(r["est"])
        else:
            cands.add((r["g"], r["token"]))
    spark = df.sparkSession
    if not cands:
        return spark.createDataFrame([], "g string, token string, cnt long")
    thr = {
        g: max(int(math.ceil(min_share * n)), 1) for g, n in totals.items()
    }
    cand_df = spark.createDataFrame(
        sorted(cands), "g string, token string"
    )
    thr_df = spark.createDataFrame(
        sorted(thr.items()), "g string, thr long"
    )
    toks = df.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col).cast("string").alias("g"),
        F.explode(F.split(_norm(F.col(text_col)), " ")).alias("token"),
    ).filter(F.col("token") != "")
    return (
        toks.join(F.broadcast(cand_df), ["g", "token"], "left_semi")
        .groupBy("g", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(thr_df), "g")
        .filter(F.col("cnt") >= F.col("thr"))
        .select("g", "token", "cnt")
    )
