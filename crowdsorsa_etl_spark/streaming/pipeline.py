"""Structured Streaming mode: incremental delivery for the engine.

The reference runs one batch per season and blindly re-POSTs everything on
re-run (whole-script structure, crowdsorsa-etl-2023.R). This module puts
streams on top of that batch path:

* :func:`start_http_push_stream`: ``foreachBatch`` delivery through the
  SAME rate-limited HTTP sink used in batch mode (sinks/http_push.py); the
  batch pipeline is the degenerate one-batch case of this path, and a
  pushed-keys ledger makes a restart exactly-once per documentId;
* :func:`start_psi_stream`: a drift monitor that carries per-category
  counts across micro-batches and scores each epoch against a frozen
  reference distribution;
* :func:`decode_kafka_events`: the Kafka wire format decoded to the
  canonical ``events`` rows, as pure column expressions.

Carried state follows one epoch-versioned protocol (:func:`_prior_state`):
micro-batch ``e`` reads the newest state below ``e`` and overwrites its own
``epoch=<e>`` directory, so a replayed epoch rewrites identical files.
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crowdsorsa_etl_spark.config import SinkConfig
from crowdsorsa_etl_spark.sinks.http_push import (
    push_documents,
    push_documents_idempotent,
)

#: physical schema of events.parquet (ts is INT64 TIMESTAMP(NANOS) — read as
#: long under nanosAsLong; decode_kafka_events converts it to a timestamp).
EVENTS_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

_EPOCH_DIR = re.compile(r"epoch=(-?\d+)", re.ASCII)
_URI_ROOT = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:/")


def _epoch_dir(root: str, e: int, *parts: str) -> str:
    """``root/epoch=<e>[/parts...]`` — the one formatter of epoch paths
    (:func:`_epochs` is the one parser)."""
    return os.path.join(root, f"epoch={int(e)}", *parts)


def _epochs(root: str) -> list[int]:
    """Sorted integer epochs of the ``epoch=<n>`` directories under
    ``root`` ([] when ``root`` is missing).

    The one parser of epoch names: only directories whose whole name is
    ``epoch=<int>`` count, so leftovers such as a swap's ``epoch=-1__old``
    or an ``epoch=3.tmp`` stage are ignored instead of crashing ``int()``.

    The listing is local-filesystem only, so a URI root (``file:///…``,
    ``hdfs://…``) raises: listed as a local path it would look empty, and
    every carried-state stream would silently restart from the current
    batch.
    """
    if _URI_ROOT.match(root):
        raise ValueError(
            "the epoch-state protocol lists local paths only; got the URI "
            f"root {root!r}"
        )
    if not os.path.isdir(root):
        return []
    with os.scandir(root) as entries:
        return sorted(
            int(m.group(1))
            for d in entries
            if d.is_dir() and (m := _EPOCH_DIR.fullmatch(d.name))
        )


def _newest_before(root: str, e: int) -> str | None:
    """Path of the newest ``root/epoch=<n>`` with ``n < e``, or None."""
    prior = [n for n in _epochs(root) if n < e]
    return _epoch_dir(root, prior[-1]) if prior else None


def _prior_state(
    spark, root: str, e: int, schema: str, name: str | None = None
) -> DataFrame | None:
    """The state micro-batch ``e`` builds on: the newest ``root/epoch=<n>``
    with ``n < e`` (its ``name`` sub-path when given), read with the
    declared ``schema``; None when no earlier epoch exists.

    The epoch-versioned state protocol a carried-state stream follows:
    micro-batch ``e`` derives its new state from the newest state
    strictly below ``e`` and overwrites its own ``root/epoch=<e>``
    directory. Epoch ``e``'s state is then a deterministic function of
    its predecessor and the batch, so a crashed-and-replayed epoch
    re-derives from the same predecessor and rewrites identical files —
    replay never double-counts, and no ledger is needed. Only the newest
    state below the running epoch is ever read: older epochs are garbage
    once the newest two (replay headroom) are kept.
    """
    prev = _newest_before(root, e)
    if prev is None:
        return None
    return spark.read.schema(schema).parquet(
        os.path.join(prev, name) if name else prev
    )


def _start_per_epoch(
    stream: DataFrame, on_epoch, *, checkpoint_dir: str, mode: str
):
    """Start ``stream`` and hand every non-empty micro-batch to
    ``on_epoch(batch_df, epoch)`` — the one ``foreachBatch`` wiring of
    the streaming tier. An empty micro-batch writes nothing (no empty
    ``epoch=<id>`` dir) at the price of one ``isEmpty()`` job."""

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            on_epoch(batch_df, int(epoch_id))

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(mode)
        .start()
    )


def _write_state_rows(spark, rows, schema, path: str) -> None:
    """Overwrite ``path`` with driver-side ``rows`` as one parquet file.

    The rows are local (a carried total, a sketch, a summary), so there
    is no upstream work to parallelize: ``coalesce(1)`` narrows the local
    scan to one task without the shuffle ``repartition(1)`` would add,
    and each state directory stays a single file.
    """
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def decode_kafka_events(records: DataFrame) -> DataFrame:
    """Kafka wire format → canonical events rows.

    ``records`` carries the Kafka source's (key binary, value binary, ...)
    columns; the value is a JSON event with ``ts`` in long nanos. The decode
    is pure column expressions, so it behaves identically on a BATCH
    DataFrame of the same shape — which is what the contract test exercises
    (no broker in the test image) — and on ``readStream.format("kafka")``
    output in a real deployment. Corrupt values yield NULL structs and are
    dropped (permissive-mode semantics)."""
    parsed = (
        records.select(
            F.from_json(F.col("value").cast("string"), EVENTS_RAW).alias("e")
        )
        # permissive from_json maps corrupt input to an ALL-NULL struct (not
        # a null struct) — filter on the required key field
        .where(F.col("e.event_id").isNotNull())
        .select("e.*")
    )
    # nanos-long ts -> timestamp
    return parsed.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def start_http_push_stream(
    docs_stream: DataFrame,
    cfg: SinkConfig,
    *,
    checkpoint_dir: str,
    ledger_dir: str | None = None,
):
    """writeStream.foreachBatch → the batch HTTP sink. Checkpointing gives
    at-least-once delivery; the sink's documentId dedup upgrades the
    end-to-end behavior to effectively-once per checkpoint epoch. With
    ``ledger_dir`` set, a pushed-keys ledger extends that to exactly-once
    per documentId ACROSS RESTARTS: a replayed epoch (crash after push,
    before checkpoint commit) anti-joins to nothing instead of re-POSTing
    (sinks/http_push.push_documents_idempotent)."""

    def deliver(batch_df: DataFrame, e: int) -> None:
        if ledger_dir is not None:
            push_documents_idempotent(
                batch_df,
                cfg,
                ledger_dir=ledger_dir,
                epoch_id=e,
            )
            return
        audit = push_documents(batch_df, cfg)
        # count() forces the push; audit persistence is the caller's writer
        audit.count()

    return _start_per_epoch(
        docs_stream, deliver, checkpoint_dir=checkpoint_dir, mode="update"
    )


def start_psi_stream(
    rows_stream: DataFrame,
    store_path: str,
    *,
    checkpoint_dir: str,
    category_col: str = "lang",
    ref_counts: dict[str, int] | None = None,
):
    """Streaming drift monitor: carried per-category counts of the
    ingest feed, scored per epoch as PSI against a FROZEN reference
    distribution (``ref_counts`` — e.g. the last admitted snapshot's
    category counts). The batch q120_psi_drift answers "did these two
    snapshots diverge", this stream answers "is the feed diverging NOW",
    with O(|categories|) carried state.

    Count folding is ADDITIVE (a replayed batch would double-count), so
    the epoch-state protocol (:func:`_prior_state`) is load-bearing: a
    replayed epoch re-folds onto the same predecessor. PSI uses the q120
    Laplace-(+1) smoothed form over the union of reference and observed
    categories — identical arithmetic, so the stream's epoch score equals
    the batch query's on the same rows (pinned by pytest).

    Per epoch writes: ``epoch=<e>/counts`` (category, n) and
    ``epoch=<e>/summary`` (n_rows, n_categories, psi_micro BIGINT,
    psi double)."""
    if not ref_counts:
        raise ValueError("ref_counts must be a non-empty mapping")
    ref = {str(k): int(v) for k, v in ref_counts.items()}
    spark_active = rows_stream.sparkSession

    def _psi_micro(cur: dict[str, int]) -> int:
        cats = sorted(set(ref) | set(cur))
        l = len(cats)
        n_r = sum(ref.values())
        n_c = sum(cur.values())
        total = 0
        for c in cats:
            num = (ref.get(c, 0) + 1) * (n_c + l)
            den = (cur.get(c, 0) + 1) * (n_r + l)
            lr = round(math.log(num / den), 6)
            term = ((num - den) / ((n_r + l) * (n_c + l))) * lr
            total += round(term * 1_000_000)
        return total

    def on_batch(batch_df: DataFrame, e: int) -> None:
        batch_counts = {
            str(r["c"]): int(r["n"])
            for r in batch_df.groupBy(
                F.col(category_col).cast("string").alias("c")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        prev = _prior_state(
            spark_active, store_path, e, "c string, n bigint", "counts"
        )
        merged = dict(batch_counts)
        for r in [] if prev is None else prev.collect():
            merged[r["c"]] = merged.get(r["c"], 0) + int(r["n"])
        _write_state_rows(
            spark_active,
            sorted(merged.items()),
            "c string, n bigint",
            _epoch_dir(store_path, e, "counts"),
        )
        pm = _psi_micro(merged)
        _write_state_rows(
            spark_active,
            [
                (
                    sum(merged.values()),
                    len(merged),
                    pm,
                    round(pm / 1_000_000.0, 6),
                )
            ],
            "n_rows bigint, n_categories int, psi_micro bigint, psi double",
            _epoch_dir(store_path, e, "summary"),
        )

    return _start_per_epoch(
        rows_stream, on_batch, checkpoint_dir=checkpoint_dir, mode="append"
    )
