"""Epoch-partitioned keyed ledger — the replay-safety core behind the
exactly-once HTTP push (``http_push.push_documents_idempotent``).

The pattern: foreachBatch is at-least-once, so a crash between a completed
side effect and the checkpoint commit replays the whole batch. A parquet
ledger of settled keys, anti-joined before the side effect and rewritten
per epoch after it, upgrades the composition to effectively-once per key
across restarts. Two invariants every consumer must hold (learned the hard
way — see the round-7 advice trail in sinks/http_push.py):

* a ledger that EXISTS but cannot be read must RAISE — degrading to
  "first epoch" silently re-fires every side effect;
* a REPLAYED epoch must rewrite its partition with the FULL batch key set
  (fresh keys ∪ batch keys already settled), never the post-anti-join
  remainder — an empty overwrite erases history and re-fires on the next
  replay.

Scale contract (the round-7 verdict's one flagged scale risk): per-batch
cost must NOT grow with stream age. Three mechanisms keep it flat:

* ``compact_ledger`` periodically folds all ``epoch=*`` partitions into a
  deduplicated base table partitioned by a 2-hex-char key prefix
  (``_kp``), so the per-batch read lists O(1) directories instead of one
  per elapsed epoch, and small batches prune base partitions;
* ``settled_batch_slice`` extracts the ONLY part of the ledger a batch
  needs — rows whose key occurs in the batch — with a broadcast semi-join:
  the (huge) ledger side is scanned but never shuffled, and the result is
  bounded by batch size, safe to ``materialize``. Consumers must
  never materialize or shuffle the full ``seen`` frame;
* the full-ledger ``dropDuplicates`` that used to run on every read (a
  per-batch shuffle of the entire history) is gone: semi/anti joins are
  insensitive to duplicate build-side keys, compaction dedupes the base,
  and ``settled_batch_slice`` dedupes its batch-sized output.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.sinks.writers import _swap_dirs

#: width of the key-prefix partition value in the compacted base layout
#: (2 hex chars → 256 partitions).
PREFIX_LEN = 2


def key_prefix(col) -> "F.Column":
    """The bucketing prefix of a ledger key: ``p`` + 2 hex chars of
    md5(key).

    Hashing first (rather than taking the key's own leading characters) is
    load-bearing: real keys share literal prefixes — every ``OBS24-…``
    document id starts with "OB" — which would collapse the compacted base
    into one partition, a single compaction reducer, and useless pruning.
    md5 spreads ANY key type uniformly across the 256 buckets. The ``p``
    marker keeps partition-value type inference at STRING — a batch whose
    prefixes all happen to be digit-only ("21", "93") would otherwise
    infer ``_kp`` as bigint and crash the isin prune on the next hex
    value. Consumers compute their batch's prefix set with this same
    expression.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.lit("p"), F.substring(F.md5(c), 1, PREFIX_LEN))


def _hadoop_fs(spark, path: str):
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm_path, fs


def base_path(ledger_dir: str) -> str:
    """Compacted-base location. A SIBLING of the epoch root (not nested
    under it) so parquet partition discovery over the epoch dirs never
    mixes ``epoch=`` and ``_kp=`` layouts."""
    return ledger_dir.rstrip("/") + "__base"


def read_ledger_keys(
    spark,
    ledger_dir: str,
    cols: list[str],
    *,
    key_prefixes: list[str] | None = None,
) -> DataFrame | None:
    """The ledger's settled rows (``cols``): recent ``epoch=*`` partitions
    unioned with the compacted base, or None when neither exists yet.
    Existence is probed via the Hadoop FS API (HDFS/S3/local alike);
    genuine read errors propagate.

    ``key_prefixes`` (``key_prefix()`` values present in the current
    batch, ≤256 values) prunes base partitions — a small batch reads only
    the base slices that could possibly contain its keys.

    May contain duplicate keys across epochs (a re-arriving key's row is
    copied into its new epoch partition for replay safety) — consumers use
    semi/anti joins or ``settled_batch_slice``, which absorb duplicates.
    """
    frames: list[DataFrame] = []
    jvm_path, fs = _hadoop_fs(spark, ledger_dir)
    if fs.exists(jvm_path) and fs.listStatus(jvm_path):
        df = spark.read.parquet(ledger_dir).select(*cols)
        if key_prefixes is not None:
            df = df.filter(key_prefix(cols[0]).isin(key_prefixes))
        frames.append(df)
    bpath = base_path(ledger_dir)
    jvm_bpath, bfs = _hadoop_fs(spark, bpath)
    if bfs.exists(jvm_bpath):
        bdf = spark.read.parquet(bpath)
        if key_prefixes is not None:
            # filter on the PARTITION column → directory-level pruning
            bdf = bdf.filter(F.col("_kp").isin(key_prefixes))
        frames.append(bdf.select(*cols))
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def settled_batch_slice(
    seen: DataFrame | None, batch_keys: DataFrame, key_col: str
) -> DataFrame | None:
    """Ledger rows whose key appears in this batch — the only ledger slice
    a micro-batch needs, one row per key. The batch side is broadcast, so
    the ledger is scanned (pruned by ``key_prefixes`` upstream) but never
    shuffled; the result is bounded by batch size and safe to materialize.

    Feeds both the pre-side-effect anti-join (``batch LEFT ANTI slice``,
    slice side broadcast — the huge ledger never enters a join shuffle)
    and the epoch rewrite (``epoch_ledger_rows``).
    """
    if seen is None:
        return None
    return seen.join(
        F.broadcast(batch_keys.select(key_col).distinct()),
        key_col,
        "left_semi",
    ).dropDuplicates([key_col])


def epoch_ledger_rows(
    settled_now: DataFrame,
    seen: DataFrame | None,
    batch_keys: DataFrame,
    key_col: str,
) -> DataFrame:
    """The rows to overwrite this epoch's partition with: keys settled by
    THIS run plus the batch's keys already settled earlier (their original
    ledger rows, so replay preserves failure accounting too). ``seen`` must
    carry the same columns as ``settled_now``. Pass the bounded
    ``settled_batch_slice`` result as ``seen`` when you already have it —
    the slice of a slice is itself.
    """
    prior = settled_batch_slice(seen, batch_keys, key_col)
    if prior is None:
        return settled_now
    return settled_now.unionByName(prior)


def compact_ledger(spark, ledger_dir: str, *, key_col: str) -> int:
    """Fold every ``epoch=*`` partition into the deduplicated base table
    (partitioned by the ``PREFIX_LEN``-hex-char key prefix ``_kp``), then
    delete the epoch partitions. Caps per-batch read cost at O(base) no
    matter how many epochs have elapsed, and enables prefix pruning.

    ONE shuffle over (base ∪ epochs) per compaction — amortized across
    ``compact_every`` epochs by the callers; never on the per-batch path.

    Crash windows: the base swap is rename-aside (``writers._swap_dirs`` —
    old data survives under ``__old`` until the new base is in place); a
    crash between the swap and the epoch-dir delete leaves keys present in
    both base and epochs, which readers absorb (duplicate keys are
    harmless by the read contract above). Runs inside the foreachBatch
    thread at the epoch commit point, so it never races a concurrent
    epoch write.

    Returns the number of distinct keys in the compacted base.
    """
    jvm_path, fs = _hadoop_fs(spark, ledger_dir)
    bpath = base_path(ledger_dir)
    jvm_bpath, _ = _hadoop_fs(spark, bpath)

    frames: list[DataFrame] = []
    has_epochs = fs.exists(jvm_path) and fs.listStatus(jvm_path)
    if has_epochs:
        frames.append(spark.read.parquet(ledger_dir).drop("epoch"))
    if fs.exists(jvm_bpath):
        frames.append(spark.read.parquet(bpath).drop("_kp"))
    if not frames:
        return 0
    merged = frames[0]
    for f in frames[1:]:
        merged = merged.unionByName(f)
    merged = merged.dropDuplicates([key_col]).withColumn(
        "_kp", key_prefix(key_col)
    )

    total_bytes = 0
    if has_epochs:
        total_bytes += fs.getContentSummary(jvm_path).getLength()
    if fs.exists(jvm_bpath):
        total_bytes += fs.getContentSummary(jvm_bpath).getLength()
    n = max(1, math.ceil(total_bytes / (128 * 1024 * 1024)))

    tmp = bpath + "__compact_tmp"
    (
        merged.repartition(n, F.col("_kp"))
        .write.mode("overwrite")
        .partitionBy("_kp")
        .parquet(tmp)
    )
    n_keys = spark.read.parquet(tmp).count()
    _swap_dirs(spark._jvm, fs, bpath, tmp)
    if has_epochs:
        fs.delete(jvm_path, True)
    return n_keys
