"""Batch file sinks — the 100 TB-relevant write paths.

The reference's only file sink is a driver-side ``cat`` of pretty JSON
(crowdsorsa-etl-2023.R:228). The engine's canonical sinks:

* ``write_partitioned`` — parquet partitioned by low-cardinality columns
  (e.g. season/date): readers prune whole directories; writes parallelize
  per partition. ``maxRecordsPerFile`` bounds file sizes so a skewed
  partition value can't produce one giant file.
* ``upsert_parquet`` — key-based upsert over a plain parquet table,
  swapped in by rename-aside.

The reference's ``logs{year}.json`` analogue is the push audit,
``http_push.write_audit_log``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str],
) -> None:
    (
        df.write.mode("overwrite").option("maxRecordsPerFile", 5_000_000)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def epoch_parquet_writer(path: str):
    """Exactly-once parquet delivery for ``writeStream.foreachBatch`` — the
    dependency-free transactional pattern (what Delta's txn log gives you,
    restricted to epoch granularity).

    foreachBatch is at-least-once: after a crash, Structured Streaming
    replays the last unacknowledged epoch. Writing each micro-batch to its
    own ``epoch=<id>`` partition directory with overwrite makes the replay
    IDEMPOTENT — epoch N always lands in the same directory, and a replay
    replaces it with identical content instead of appending duplicates.
    Readers see the union via ordinary partition discovery (the ``epoch``
    partition column doubles as delivery lineage).
    """

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            path.rstrip("/") + f"/epoch={epoch_id}"
        )

    return write


def _swap_dirs(jvm, fs, path: str, tmp: str) -> None:
    """Replace ``path`` with the freshly-written ``tmp`` without a window
    in which the data is LOST: rename the current directory aside
    (``path__old``), promote ``tmp``, then delete the old copy. Between the
    two renames there IS a brief window in which ``path`` itself does not
    exist — a concurrent reader can see FileNotFound mid-swap (the data is
    intact under ``path__old``). A crash mid-swap leaves either the old or
    the new table readable (possibly under ``path__old``, recoverable by
    hand) — never neither. For concurrent-reader safety use the manifest
    pointer in ``sinks/snapshots.py`` instead.

    Note: HDFS renames are atomic metadata ops; object stores emulate
    rename as copy+delete, so for S3-class storage a manifest/table
    format (Delta/Iceberg) is the real answer. This helper is the best
    dependency-free approximation: it never deletes the only copy before
    the replacement is in place.
    """
    P = jvm.org.apache.hadoop.fs.Path
    target = P(path)
    old = P(path.rstrip("/") + "__old")
    if fs.exists(old):
        fs.delete(old, True)
    had_prev = fs.exists(target)
    if had_prev and not fs.rename(target, old):
        raise IOError(f"could not move {path} aside to {path}__old")
    if not fs.rename(P(tmp), target):
        # roll back so the table stays readable at its original path
        if had_prev:
            fs.rename(old, target)
        raise IOError(f"could not promote {tmp} to {path}")
    if had_prev:
        fs.delete(old, True)


def upsert_parquet(
    spark,
    path: str,
    updates: DataFrame,
    *,
    key_cols: list[str],
    order_col: str,
) -> None:
    """Key-based upsert over a plain parquet table (the engine-level MERGE
    for idempotent re-ingest without a table format): union the current
    table with the updates, keep the row with the greatest ``order_col``
    per key (updates win ties via a source tag), swap via temp +
    rename-aside (``_swap_dirs``).

    One shuffle on the key; rewrite cost is the full table — for
    high-frequency upserts at 100 TB use a table format with file-level
    MERGE (Delta/Iceberg slot in above this same parquet layout); this is
    the dependency-free batch-cadence version.
    """
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration())

    tagged_updates = updates.withColumn("_src", F.lit(1))
    if fs.exists(hadoop_path):
        current = spark.read.parquet(path).withColumn("_src", F.lit(0))
        merged = current.unionByName(tagged_updates)
    else:
        merged = tagged_updates

    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), F.col("_src").desc()
    )
    result = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )

    tmp = path.rstrip("/") + "__upsert_tmp"
    result.write.mode("overwrite").parquet(tmp)
    _swap_dirs(jvm, fs, path, tmp)
