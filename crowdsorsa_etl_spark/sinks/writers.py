"""Batch file sinks — the 100 TB-relevant write paths.

The reference's only file sink is a driver-side ``cat`` of pretty JSON
(crowdsorsa-etl-2023.R:228). The engine's canonical sinks:

* ``write_partitioned`` — parquet partitioned by low-cardinality columns
  (e.g. season/date): readers prune whole directories; writes parallelize
  per partition. ``maxRecordsPerFile`` bounds file sizes so a skewed
  partition value can't produce one giant file.
* ``_swap_dirs`` — the rename-aside swap that replaces a directory with a
  freshly written one (the SCD2 tables and the ledger compaction use it).

The reference's ``logs{year}.json`` analogue is the push audit,
``http_push.write_audit_log``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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
