"""Epoch re-shuffle: a seeded METADATA-ONLY bijection over shard-store
positions.

The shard store (``operators/sharding.py``) trades global cross-batch
mixing for O(batch) appends: positions are stable, epochs re-read the same
order. A training loader wanting a DIFFERENT global permutation per epoch
must not rewrite 100 TB of shard bytes — it needs ``new_pos = π_e(pos)``
as a pure function of (seed, epoch, pos, store size) so the epoch-e read
plan is computable from the manifest alone.

The bijection here is the **swap-or-not shuffle** (Hoang, Morris, Rogaway,
"An Enciphering Scheme Based on a Card Shuffle", CRYPTO 2012): ``R``
rounds, each with a round constant ``K_r`` and a keyed bit function; round
r maps ``x`` to its "partner" ``(K_r - x) mod n`` iff the bit drawn on the
UNORDERED pair {x, partner} is 1. Because the bit is a function of
``max(x, partner)`` — the same value seen from either endpoint — the round
is an involution, hence bijective, for ANY domain size n. That is the
property that makes it the right choice over a Feistel network here: a
Feistel bijects only power-of-two domains and needs cycle-walking (an
unbounded per-row loop) for arbitrary n, which a SQL oracle cannot replay
with a fixed expression; swap-or-not is constant depth — R nested CASE
expressions — so the DuckDB differential gate hash-verifies the exact
permutation end to end.

Portability: round constants ``K_r`` are driver-side Python ints
(md5-derived, embedded as literals in both plans); the per-row bit is
``combine60`` (``functions/portable_hash.py``) mod 2, evaluated
bit-identically by Spark and DuckDB. Default 10 rounds — enough to
decorrelate epochs for loader mixing (the HMR security bound wants O(log n)
rounds for cryptographic indistinguishability; a data loader needs
decorrelation, not an adversary-proof cipher, and the shuffle-quality
audit query measures the result).

Reference parity note: the reference ETL (crowdsorsa-etl-2023.R) has no
training-layout tier at all — this operator exists for the 100 TB
training-data role the engine adds on top (SURVEY.md §2.2 layout tier).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.portable_hash import (
    combine60_spark,
    combine60_sql,
)

__all__ = [
    "DEFAULT_ROUNDS",
    "with_epoch_pos",
    "epoch_round_sql",
    "epoch_perm_cte_sql",
    "epoch_manifest",
]

DEFAULT_ROUNDS = 10


def _round_constant(seed: str, epoch: int, r: int, n: int) -> int:
    """K_r ∈ [0, n): driver-side pure function — identical literal lands in
    the Spark plan and the oracle SQL, no engine hashing involved."""
    h = hashlib.md5(f"{seed}:K:{epoch}:{r}".encode()).hexdigest()
    return int(h[:15], 16) % n


def _bit_seed(seed: str, epoch: int, r: int) -> str:
    return f"{seed}:B:{epoch}:{r}"


def _round_expr_spark(
    x: Column, n: int, epoch: int, seed: str, r: int
) -> Column:
    k = _round_constant(seed, epoch, r, n)
    partner = F.pmod(F.lit(k).cast("bigint") - x, F.lit(n).cast("bigint"))
    pair_max = F.greatest(x, partner)
    bit = combine60_spark(pair_max, seed=_bit_seed(seed, epoch, r)) % F.lit(2)
    return F.when(bit == 1, partner).otherwise(x)


def with_epoch_pos(
    df: DataFrame,
    pos_col: str,
    n: int,
    epoch: int,
    seed: str,
) -> DataFrame:
    """Add ``epos`` = pi_epoch(pos_col) over [0, n). One narrow
    projection per round, NOT one nested expression: each round references
    the running value 4 times (partner twice, pair-max, else-branch), so a
    single expression tree grows 4^rounds nodes — Catalyst would choke and
    DuckDB's binder caps nesting at 128. Per-round aliases keep the tree
    linear in the round count; md5 is non-cheap, so CollapseProject leaves the
    aliases in place instead of re-inlining them. Still zero exchange —
    rounds are row-local projections fused into the scan stage."""
    if n <= 0:
        raise ValueError("store size must be positive")
    cur = F.col(pos_col).cast("bigint")
    out = df.withColumn("epos", cur)
    for r in range(DEFAULT_ROUNDS):
        out = out.withColumn(
            "epos", _round_expr_spark(F.col("epos"), n, epoch, seed, r)
        )
    return out


def epoch_round_sql(
    x: str, n_expr: str, epoch: int, seed: str, r: int
) -> str:
    """One swap-or-not round as a SQL expression over running value ``x``
    and domain-size expression ``n_expr``. The oracle chains these through
    per-round CTE stages (same linear-depth discipline as
    :func:`with_epoch_pos`); the round constant is computed inline as
    ``hex60(md5('<seed>:K:<e>:<r>')) % n`` — byte-identical to the Python
    ``_round_constant`` because both take the first 15 hex chars of the
    same md5. DuckDB ``%`` keeps the dividend's sign, so the partner is
    wrapped ``((k - x) % n + n) % n`` to mirror Spark's ``pmod``."""
    n = f"CAST({n_expr} AS BIGINT)"
    k_word = f"(('0x' || substr(md5('{seed}:K:{epoch}:{r}'), 1, 15))::BIGINT)"
    k = f"({k_word} % {n})"
    partner = f"((({k} - ({x})) % {n} + {n}) % {n})"
    pair_max = f"greatest({x}, {partner})"
    bit = f"({combine60_sql(pair_max, seed=_bit_seed(seed, epoch, r))} % 2)"
    return f"(CASE WHEN {bit} = 1 THEN {partner} ELSE {x} END)"


def epoch_perm_cte_sql(
    base_cte: str,
    carry_cols: str,
    x_expr: str,
    n_expr: str,
    epoch: int,
    seed: str,
) -> tuple[str, str]:
    """(cte_definitions, final_cte_name): the full permutation as a chain
    of per-round CTEs over ``base_cte``. ``carry_cols`` ride along
    unchanged; the running value is column ``x`` (plus ``n`` for the
    domain size) in every stage."""
    defs = [
        f"e{epoch}_0 AS (SELECT {carry_cols}, CAST({x_expr} AS BIGINT)"
        f" AS x, CAST({n_expr} AS BIGINT) AS n FROM {base_cte})"
    ]
    for r in range(DEFAULT_ROUNDS):
        step = epoch_round_sql("x", "n", epoch, seed, r)
        defs.append(
            f"e{epoch}_{r + 1} AS (SELECT {carry_cols}, {step} AS x,"
            f" n FROM e{epoch}_{r})"
        )
    return ",\n    ".join(defs), f"e{epoch}_{DEFAULT_ROUNDS}"


def epoch_manifest(
    spark: SparkSession,
    root: str,
    epoch: int,
    *,
    shard_docs: int = 64,
    seed: str = "shuf:v1:",
) -> DataFrame:
    """Per-shard manifest of epoch ``epoch``'s global order — the artifact
    an epoch-e loader reads. READ-ONLY over the store: one scan of
    (pos, doc_id) plus the 1-row ``_next`` sidecar; ``rows/`` is never
    written (positions are remapped in flight, shard bytes stay put).
    Epoch 0 is the stored order by convention (``shard_manifest``); this
    function permutes, so call it for epochs ≥ 1.

    The permutation domain is [0, high-water): reserve-then-write gaps
    (see ``shard_store_append``) permute to positions nobody holds, which
    simply leaves the corresponding epoch slots empty — uniqueness, the
    property training order depends on, is preserved unconditionally.
    """
    from crowdsorsa_etl_spark.operators.sharding import _get_next

    n = _get_next(spark, root)
    rows = spark.read.parquet(f"{root}/rows").select("pos", "doc_id")
    remapped = with_epoch_pos(
        rows, "pos", n, epoch, seed
    ).select(
        "doc_id",
        "epos",
        F.floor(F.col("epos") / F.lit(shard_docs)).cast("int").alias("eshard_id"),
    )
    ordered_ids = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("epos").alias("epos"), F.col("doc_id").alias("doc_id"))
            )
        ),
        lambda s: s["doc_id"].cast("string"),
    )
    return remapped.groupBy("eshard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.md5(F.array_join(ordered_ids, ",")).alias("id_chain_md5"),
    )
