"""Training-shard store at rest: seeded shuffle positions that GROW.

``llm_train_shuffle_shards`` is the one-shot form: permute the whole corpus,
cut contiguous rank blocks. A live pipeline cannot re-permute 100 TB every
time a crawl lands — the incremental contract is:

* batch 0 is shuffled exactly like the one-shot operator (seeded portable
  hash order, two-phase distributed rank);
* each later batch is shuffled WITHIN ITSELF by the same seeded hash and
  appended at the tail — positions continue from the stored high-water
  mark, existing rows are never read or rewritten (the
  ``dedup.lsh_append_index`` discipline);
* shard files stay contiguous rank blocks, so a training loader streams
  the store in position order at any point in its growth.

What this trades away is GLOBAL uniformity across batches (a true
re-shuffle would interleave old and new docs); what it keeps is exact
reproducibility — the final position of every doc is a pure function of
(seed, batch split, doc_id), which the DuckDB oracle replays end to end —
and O(batch) append cost. Loaders that need cross-batch mixing shuffle the
bounded shard LIST (metadata), not the data: reading shards in seeded
shard-order approximates the global permutation without touching bytes.

State: the store root holds ``rows/`` (parquet, partitioned by shard_id)
and ``_next/`` (a 1-row parquet with the next free position) — the same
tiny-sidecar shape the IVF-PQ index uses for its codebooks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.portable_hash import hex60_spark
from crowdsorsa_etl_spark.operators.global_rank import with_global_row_number

__all__ = ["shard_store_init", "shard_store_append", "shard_manifest"]

DEFAULT_SEED = "shuf:v1:"


def _positions(
    docs: DataFrame, id_col: str, seed: str, start: int
) -> tuple[DataFrame, int]:
    """(frame + pos column, row count): pos = start + seeded-hash rank
    within ``docs`` — the one permutation primitive init and append share.
    The count rides along from the rank's own bounded per-partition
    tallies (no extra corpus job)."""
    key = hex60_spark(
        F.concat(F.lit(seed), F.col(id_col).cast("string"))
    )
    ranked, total = with_global_row_number(
        docs.withColumn("_k", key),
        [F.col("_k"), F.col(id_col)],
        rn_col="_rn",
    )
    out = ranked.withColumn(
        "pos", (F.col("_rn") - 1 + F.lit(start)).cast("bigint")
    ).drop("_k", "_rn")
    return out, total


def _write(df: DataFrame, root: str, shard_docs: int, mode: str) -> None:
    # NO repartition before the partitionBy: the ranked frame arrives
    # range-partitioned on the sort key, so positions — and therefore
    # shards — are already contiguous within tasks, already in pos order.
    # Each shard lands as one file (two only when it straddles a task
    # boundary); forcing repartition("shard_id") would add a full batch
    # shuffle to buy nothing.
    df.withColumn(
        "shard_id",
        F.floor(F.col("pos") / F.lit(shard_docs)).cast("int"),
    ).write.mode(mode).partitionBy("shard_id").parquet(f"{root}/rows")


def _set_next(spark: SparkSession, root: str, nxt: int) -> None:
    # spark.range, not createDataFrame([(nxt,)]): a Python-list frame
    # round-trips through RDD serialization and costs seconds per call;
    # this is one JVM-only task writing one row
    (
        spark.range(1)
        .select(F.lit(nxt).cast("long").alias("next_pos"))
        .write.mode("overwrite")
        .parquet(f"{root}/_next")
    )


def _get_next(spark: SparkSession, root: str) -> int:
    return spark.read.parquet(f"{root}/_next").collect()[0]["next_pos"]


def shard_store_init(
    docs: DataFrame,
    root: str,
    *,
    shard_docs: int = 64,
    seed: str = DEFAULT_SEED,
) -> None:
    """Batch 0: full seeded shuffle, positions from 0."""
    spark = docs.sparkSession
    pos, total = _positions(docs, "doc_id", seed, 0)
    _write(pos, root, shard_docs, "overwrite")
    _set_next(spark, root, total)


def shard_store_append(
    new_docs: DataFrame,
    root: str,
    *,
    shard_docs: int = 64,
    seed: str = DEFAULT_SEED,
) -> None:
    """Tail-append a batch: within-batch seeded shuffle, positions continue
    from the stored high-water mark. Only the batch is ranked and written —
    existing shard files are untouched (new files land in the tail shard
    partitions). Contract: ids are new (dedupe upstream), and appends are
    SINGLE-WRITER — two concurrent appenders would read the same
    high-water mark and interleave positions.

    Crash safety is reserve-then-write: the high-water mark advances
    BEFORE the batch rows land, so a crash between the two steps leaves a
    position GAP (benign — loaders stream whatever positions exist, the
    manifest shows the short shard) but can NEVER assign the same position
    to two docs, which is the silent-corruption mode the old
    write-then-advance order allowed. Recovery from a half-written batch
    is an id anti-join against ``rows/`` followed by a fresh append of the
    missing docs (positions are not required to be dense, only unique and
    monotone per batch). The rank is a pure function of (seed, id), so the
    lazy recompute between reserve and write is deterministic."""
    spark = new_docs.sparkSession
    start = _get_next(spark, root)
    pos, total = _positions(new_docs, "doc_id", seed, start)
    _set_next(spark, root, start + total)
    _write(pos, root, shard_docs, "append")


def shard_manifest(spark: SparkSession, root: str) -> DataFrame:
    """Per-shard manifest from the store: doc count and the md5 chain over
    the position-ordered id sequence — the artifact a loader (or the
    oracle) verifies before training. Reads only (shard_id, pos, doc_id)."""
    rows = spark.read.parquet(f"{root}/rows").select(
        "shard_id", "pos", "doc_id"
    )
    ordered_ids = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("pos").alias("pos"), F.col("doc_id").alias("doc_id"))
            )
        ),
        lambda s: s["doc_id"].cast("string"),
    )
    return rows.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.md5(F.array_join(ordered_ids, ",")).alias("id_chain_md5"),
    )
