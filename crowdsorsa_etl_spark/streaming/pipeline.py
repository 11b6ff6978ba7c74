"""Structured Streaming mode — incremental ingest for the engine.

The reference runs one batch per season and blindly re-POSTs everything on
re-run (whole-script structure, crowdsorsa-etl-2023.R). The streaming mode
generalizes that to continuous ingest with:

* file/rate stream sources (Kafka slots in by swapping ``format``),
* event-time watermarks for late observations,
* tumbling / sliding / session windows over the ``events`` shape,
* watermark-scoped ``dropDuplicates`` → idempotent re-push,
* ``foreachBatch`` delivery through the SAME rate-limited HTTP sink used in
  batch mode (sinks/http_push.py) — the batch pipeline is the degenerate
  one-batch case of this path.

State sizing at scale: watermark + window bounds make every stateful op's
state O(active windows × keys); without the watermark the dedup/window state
would grow unboundedly — never ship a stateful query without one.
"""

from __future__ import annotations

import math
import os
import re
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crowdsorsa_etl_spark.config import SinkConfig
from crowdsorsa_etl_spark.functions.text import (
    normalize_text,
    quality_score,
    token_count,
)
from crowdsorsa_etl_spark.operators.bm25 import bm25_append_index
from crowdsorsa_etl_spark.operators.bpe import bpe_encode_ids
from crowdsorsa_etl_spark.operators.checkpointing import materialize
from crowdsorsa_etl_spark.operators.chunking import chunk_documents
from crowdsorsa_etl_spark.operators.clusters import (
    connected_components,
    incremental_components,
)
from crowdsorsa_etl_spark.operators.curation import (
    quality_filter_signals,
    quality_filter_verdict,
    token_budget_sample,
)
from crowdsorsa_etl_spark.operators.dsir import (
    FX,
    dsir_bucket_stats,
    dsir_scores,
)
from crowdsorsa_etl_spark.operators.global_rank import with_global_cumsum
from crowdsorsa_etl_spark.operators.heavyhitters import mg_partition_summaries
from crowdsorsa_etl_spark.operators.hll import (
    HLL_M,
    HLL_WBITS,
    hll_estimate_expr,
    hll_registers,
)
from crowdsorsa_etl_spark.operators.kll import (
    kll_cells_sorted,
    kll_merge,
    kll_quantile,
)
from crowdsorsa_etl_spark.operators.kmv import (
    H_SPACE,
    kmv_hash_spark,
    theta_split,
)
from crowdsorsa_etl_spark.operators.linkage import fs_link_multipass
from crowdsorsa_etl_spark.operators.multimodal import (
    _AHASH_BANDS,
    _ahash_banded_rows,
    image_index_write_epoch,
)
from crowdsorsa_etl_spark.operators.ngramlm import _bigrams
from crowdsorsa_etl_spark.operators.scd import (
    scd2_apply_batch,
    scd2_apply_batch_buffered,
)
from crowdsorsa_etl_spark.operators.sharding import _positions
from crowdsorsa_etl_spark.operators.substring import substring_match_index
from crowdsorsa_etl_spark.sinks.http_push import (
    push_documents,
    push_documents_idempotent,
)
from crowdsorsa_etl_spark.sinks.ledger import (
    _hadoop_fs,
    compact_ledger,
    epoch_ledger_rows,
    key_prefix,
    read_ledger_keys,
    settled_batch_slice,
)
from crowdsorsa_etl_spark.sinks.writers import (
    _swap_dirs,
    epoch_parquet_writer,
    upsert_parquet,
)

#: physical schema of events.parquet (ts is INT64 TIMESTAMP(NANOS) — read as
#: long under nanosAsLong, converted to a real timestamp in the stream).
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

    The epoch-versioned state protocol every carried-state stream below
    follows: micro-batch ``e`` derives its new state from the newest
    state strictly below ``e`` and overwrites its own ``root/epoch=<e>``
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


def _finalize_events(raw: DataFrame) -> DataFrame:
    """Shared tail of every event source: nanos-long ts → timestamp.
    Both the file source and the Kafka source funnel through this, so the
    downstream operators see ONE canonical events shape regardless of
    transport."""
    return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def read_event_stream(
    spark: SparkSession, path: str, ts_encoding: str | None = None
) -> DataFrame:
    """File-based event stream (one file per micro-batch in tests; a real
    deployment points this at an arriving-files directory or Kafka).

    A stream's schema is static, but the events fixture has shipped ``ts``
    as INT64 TIMESTAMP(NANOS) in some builds and naive TIMESTAMP(MICROS) in
    others (same drift load_table normalizes on the batch path). Peek one
    footer driver-side at stream DEFINITION time and declare the matching
    schema — declaring the nanos schema against a micros file silently
    yields an empty/null stream. Session contract matches load_table:
    nanosAsLong on, session TZ pinned UTC so the NTZ→LTZ cast is epoch-exact.

    ``ts_encoding`` overrides the peek for the arriving-files deployment
    where the directory may be EMPTY at stream-definition time (a peek
    cannot infer schema there): one of ``"nanos"`` (INT64 nanos → read as
    long), ``"ntz"`` (TIMESTAMP_NTZ), ``"ltz"`` (session-zoned TIMESTAMP).
    Unset, a failed peek falls back to ``"nanos"`` — the canonical fixture
    encoding — instead of raising.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if ts_encoding is None:
        try:
            peek = spark.read.parquet(path).schema
            ts_type = {f.name: f.dataType.simpleString() for f in peek}.get("ts")
        except Exception:  # empty dir / no files yet: schema not inferrable
            ts_type = None
        ts_encoding = {
            "bigint": "nanos",
            "timestamp_ntz": "ntz",
            "timestamp": "ltz",
            None: "nanos",
        }.get(ts_type, "ntz")
    if ts_encoding == "nanos":
        schema, finalize = EVENTS_RAW, _finalize_events
    else:
        ts_field = T.StructField(
            "ts",
            T.TimestampNTZType() if ts_encoding == "ntz" else T.TimestampType(),
        )
        schema = T.StructType(
            [f if f.name != "ts" else ts_field for f in EVENTS_RAW.fields]
        )
        finalize = lambda df: df.withColumn(  # noqa: E731
            "ts", F.col("ts").cast("timestamp")
        )
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if path.endswith(".parquet") and os.path.isfile(path):
        # the file stream source requires a DIRECTORY; point it at the parent
        # and glob-filter to the one fixture file
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    return finalize(raw)


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
    return _finalize_events(parsed)


def read_kafka_event_stream(
    spark: SparkSession,
    *,
    bootstrap_servers: str,
    topic: str,
) -> DataFrame:
    """Kafka event stream (requires the spark-sql-kafka connector jar on the
    classpath; absent from the test image, where decode_kafka_events is
    contract-tested against the file source instead)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .load()
    )
    return decode_kafka_events(raw)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Tumbling event-time window counts with late-data handling."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Session windows (dynamic gap-based) per user — the streaming analogue
    of operators/topk.sessionize."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def deduped_events(events: DataFrame) -> DataFrame:
    """Idempotent ingest: drop replayed event_ids within the watermark
    horizon (state is bounded by the watermark — trap: unbounded without)."""
    return events.withWatermark("ts", "2 hours").dropDuplicates(["event_id", "ts"])


def deduped_events_within_watermark(events: DataFrame) -> DataFrame:
    """Spark 3.5+ ``dropDuplicatesWithinWatermark``: dedup on event_id ALONE
    — duplicates whose retransmitted copies carry a *different* timestamp
    (the at-least-once-producer reality) still collapse, as long as the
    copies arrive within the watermark delay of each other. The classic
    ``dropDuplicates([id, ts])`` treats a re-stamped copy as a new event;
    keying on id alone without this operator would keep UNBOUNDED state.
    State per key expires 2 hours after first sight — same bound, more
    honest semantics for retried producers."""
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


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


def start_scd2_stream(
    changes_stream: DataFrame,
    versions_dir: str,
    *,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str,
    tracked_cols: list[str],
    tie_break_cols: list[str] | None = None,
    max_delay_seconds: float | None = None,
    buffer_dir: str | None = None,
):
    """writeStream.foreachBatch → incremental SCD2 maintenance: each
    micro-batch of change events merges into the parquet versions table via
    ``operators/scd.scd2_apply_batch`` (affected keys re-collapsed, runs
    continuing across batches open no version). Late events — earlier than
    their key's last change point — are DROPPED, the streaming analog of a
    watermark expiry; the batch API's on_late="error" is for pipelines that
    must fail loudly instead.

    ``max_delay_seconds`` (requires ``buffer_dir``) switches to the
    BOUNDED-DISORDER path: events within that delay of the stream's max
    event time are held in a raw-event buffer and finalized only once the
    watermark passes them, so out-of-order arrival inside the bound —
    including run splits — yields history identical to a fully-ordered
    rebuild (operators/scd.scd2_apply_batch_buffered; q100's cross-engine
    gate). Only beyond-bound events are dropped."""
    if (max_delay_seconds is None) != (buffer_dir is None):
        raise ValueError(
            "max_delay_seconds and buffer_dir must be set together"
        )

    def apply(batch_df: DataFrame, e: int) -> None:
        kw = dict(
            key_cols=key_cols,
            ts_col=ts_col,
            tracked_cols=tracked_cols,
            tie_break_cols=tie_break_cols,
            on_late="drop",
        )
        if max_delay_seconds is not None:
            scd2_apply_batch_buffered(
                batch_df.sparkSession,
                versions_dir,
                buffer_dir,
                batch_df,
                max_delay_seconds=max_delay_seconds,
                **kw,
            )
            return
        scd2_apply_batch(
            batch_df.sparkSession, versions_dir, batch_df, **kw
        )

    return _start_per_epoch(
        changes_stream, apply, checkpoint_dir=checkpoint_dir, mode="update"
    )


def start_curation_stream(
    docs_stream: DataFrame,
    out_dir: str,
    *,
    checkpoint_dir: str,
    ledger_dir: str,
    compact_every: int | None = None,
    postings_dir: str | None = None,
    decontam_index_dir: str | None = None,
    decontam_spans_dir: str | None = None,
):
    """Streaming LLM-data curation: the batch funnel (quality filter →
    exact dedup → chunking) as an incremental ingest pipeline.

    Per micro-batch (foreachBatch):

    1. C4/Gopher-style quality filter (operators/curation verdict);
    2. exact dedup BOTH within the batch AND against every previously
       ingested document via a persistent md5 ledger (epoch-partitioned
       parquet, same pattern as the HTTP push ledger — a replayed epoch
       re-ingests nothing, so the corpus sink is effectively-once);
    3. fixed-window chunking (the llm_doc_chunking 64/48 layout);
    4. chunks append to ``out_dir`` partitioned parquet;
    5. with ``postings_dir``: the fresh documents also APPEND into the
       BM25 postings index (operators/bm25.bm25_append_index) — the
       ledger's exactly-once guarantee is precisely the "doc_ids are new"
       contract the append-only postings MV requires, so the streaming
       corpus stays retrievable with zero rebuilds (same replay caveat as
       the chunk sink below);
    6. with ``decontam_index_dir``: the fresh documents are probed against
       the persisted eval-shingle index
       (operators/substring.substring_match_index — partition-pruned scan,
       broadcast-semi probe, batch-sized cost) and every flagged span
       lands under ``decontam_spans_dir`` (default
       ``<out_dir>_decontam_spans``) as ``epoch=<id>`` parquet, mode
       overwrite — a replayed epoch rewrites its own spans, never
       duplicates them. Drained-stream spans ≡ the batch
       ``substring_decontamination_spans`` over the same corpus (gated by
       tests/test_streaming.py).

    A duplicate document arriving in a LATER batch is dropped by the
    ledger anti-join — cross-batch dedup, which a stateless map could not
    do and dropDuplicatesWithinWatermark only does inside the watermark.

    Per-batch cost stays FLAT in stream age (sinks/ledger.py scale
    contract): the ledger read is pruned to the batch's md5 prefixes, the
    anti-join runs against the batch-bounded ``settled_batch_slice`` (the
    ledger is scanned but never shuffled or materialized), and — with
    ``compact_every`` set — the epoch partitions fold into a deduplicated
    prefix-partitioned base every N epochs, capping the scan itself.
    """
    def ingest(batch_df: DataFrame, e: int) -> None:
        spark = batch_df.sparkSession
        sig = quality_filter_signals(F.col("text"))
        keep, _reason = quality_filter_verdict(sig)
        kept = batch_df.where(keep).withColumn(
            "_md5", F.md5(normalize_text(F.col("text")))
        )
        # within-batch keep-first, then anti-join the cross-batch ledger
        w = Window.partitionBy("_md5").orderBy(F.col("doc_id"))
        batch_fresh = (
            kept.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        fresh = batch_fresh
        # bounded-cost ledger probe (sinks/ledger.py scale contract):
        # prefix-pruned read → broadcast-semi slice (batch-sized, the only
        # thing materialized) → broadcast anti-join. The full history is
        # scanned at most once and never shuffled or collected.
        prefixes = [
            r[0]
            for r in kept.select(key_prefix("_md5")).distinct().collect()
        ]
        seen = read_ledger_keys(
            spark, ledger_dir, ["_md5"], key_prefixes=prefixes
        )
        settled_prior = settled_batch_slice(seen, kept.select("_md5"), "_md5")
        if settled_prior is not None:
            settled_prior = materialize(settled_prior)
            fresh = fresh.join(
                F.broadcast(settled_prior), "_md5", "left_anti"
            )
        fresh = materialize(fresh)  # one evaluation feeds sink + ledger

        chunk_documents(fresh).write.mode("append").parquet(out_dir)
        if postings_dir is not None:
            bm25_append_index(fresh, postings_dir)
        if decontam_index_dir is not None:
            spans_dir = (
                decontam_spans_dir
                or out_dir.rstrip("/") + "_decontam_spans"
            )
            # probe the PRE-ledger set (batch_fresh): it is a pure function
            # of the batch's content, so a replayed epoch rewrites the SAME
            # spans — probing post-anti-join would recompute empty on
            # replay and erase real spans. A cross-batch duplicate doc may
            # therefore carry spans here despite never ingesting; join
            # spans to the chunk corpus for survivor-only views.
            substring_match_index(
                spark,
                decontam_index_dir,
                batch_fresh,
            ).write.mode("overwrite").parquet(_epoch_dir(spans_dir, e))
        # commit point: the epoch's FULL ingested key set (replay rewrites
        # the same set — sinks/ledger.epoch_ledger_rows). Remaining
        # duplicate window: a crash between the chunk append and this write
        # re-appends one epoch's chunks on replay — dedupe downstream on
        # (doc, chunk) or use the snapshot sink for a stricter contract.
        materialize(epoch_ledger_rows(
            fresh.select("_md5"), settled_prior, kept.select("_md5"), "_md5"
        )).write.mode("overwrite").parquet(_epoch_dir(ledger_dir, e))
        if compact_every and e % compact_every == compact_every - 1:
            compact_ledger(spark, ledger_dir, key_col="_md5")

    return _start_per_epoch(
        docs_stream, ingest, checkpoint_dir=checkpoint_dir, mode="update"
    )


def start_parquet_sink(
    stream_df: DataFrame,
    path: str,
    *,
    checkpoint_dir: str,
):
    """writeStream.foreachBatch → idempotent epoch-partitioned parquet
    (sinks/writers.epoch_parquet_writer). Combined with the checkpoint,
    delivery is exactly-once at epoch granularity: a post-crash replay of
    the last epoch overwrites its own ``epoch=<id>`` directory instead of
    appending duplicates."""
    return _start_per_epoch(
        stream_df,
        epoch_parquet_writer(path),
        checkpoint_dir=checkpoint_dir,
        mode="append",
    )


def enrich_events(events: DataFrame, dim: DataFrame, *, on: str) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins the (batch)
    dimension — the most common streaming shape. The static side is
    re-planned per micro-batch (so a refreshed dim snapshot is picked up on
    the next trigger) and broadcast when small; no watermark is needed
    because the static side holds no streaming state. Left join keeps
    events whose key misses the dim (NULL attributes), matching the batch
    semantics exactly — the same call works on a batch frame."""
    return events.join(F.broadcast(dim), on, "left")


def start_upsert_sink(
    stream_df: DataFrame,
    path: str,
    *,
    checkpoint_dir: str,
    key_cols: list[str],
    order_col: str,
):
    """writeStream.foreachBatch → keyed upsert (sinks/writers.upsert_parquet):
    the streaming CDC-apply pattern — each micro-batch MERGEs into the keyed
    table, later values win per key by ``order_col``. Replaying a batch
    after a crash re-applies the same upsert, which is idempotent by
    construction (greatest-order_col-per-key is a fixpoint), so checkpoint +
    upsert give exactly-once TABLE STATE without a table format. Batch
    cadence only: every upsert rewrites the table (upsert_parquet's
    documented cost); at 100 TB slot a Delta/Iceberg MERGE into this same
    call site."""

    def apply(batch_df: DataFrame, e: int) -> None:
        upsert_parquet(
            batch_df.sparkSession,
            path,
            batch_df,
            key_cols=key_cols,
            order_col=order_col,
        )

    return _start_per_epoch(
        stream_df, apply, checkpoint_dir=checkpoint_dir, mode="update"
    )


def attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    *,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each click joins every view by the same user
    within the trailing 30 minutes — the classic attribution shape.

    Both sides carry watermarks and the join condition bounds event time on
    BOTH ends, so Spark can size the join state to
    O(users × events-in-horizon) and garbage-collect rows older than
    watermark + horizon — an unbounded-state stream-stream join is the
    canonical streaming OOM. The same code path works in batch (the tests
    cross-check batch vs stream results on the fixture).

    ``how="left_outer"`` emits unattributed clicks (NULL view columns) once
    the watermark passes their match horizon — the "which clicks found no
    view" question that an inner join silently drops. Outer stream-stream
    joins REQUIRE the watermark + both-sided time bound: Spark must know
    when a row can no longer match before it may emit the NULL row.
    """
    v = (
        views.select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    c = (
        clicks.select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    return c.join(
        v,
        F.expr(
            """
            user_id = v_user_id AND
            view_ts <= click_ts AND
            view_ts >= click_ts - INTERVAL 30 minutes
            """
        ),
        how,
    ).select("user_id", "click_id", "click_ts", "view_id", "view_ts")


# ---------------------------------------------------------------------------
# Custom stateful operator — applyInPandasWithState
#
# Spark 4's successor API (transformWithStateInPandas: typed state
# variables, TTL, timers) is the intended upgrade path; it is verified
# UNAVAILABLE in this image — its driver-side state server needs
# google.protobuf, which is broken here (ImportError: cannot import name
# 'descriptor'), so the engine standardizes on applyInPandasWithState,
# which covers the same per-key-state semantics without the extra runtime.
# ---------------------------------------------------------------------------

USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_event_type", T.StringType()),
    ]
)

_USER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_event_type", T.StringType()),
    ]
)


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running aggregates via arbitrary stateful processing.

    Demonstrates the engine's custom-stateful-operator surface
    (SURVEY §2.2 streaming-only ops): state is one fixed-size row per user
    (bounded by |users|, not by stream length), updated one Arrow batch per
    user per micro-batch, emitting the refreshed stats in update mode.
    """
    def update(key, pdfs, state):
        (user_id,) = key
        if state.exists:
            n, total, last_us, last_type = state.get
        else:
            n, total, last_us, last_type = 0, 0.0, -1, None
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            n += len(pdf)
            total += float(pdf["value"].sum())
            ts_us = pdf["ts"].astype("int64").iloc[-1] // 1000
            if ts_us > last_us:
                last_us = int(ts_us)
                last_type = str(pdf["event_type"].iloc[-1])
        state.update((n, total, last_us, last_type))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "last_event_type": [last_type],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


#: Misra–Gries state: per-token estimates plus one NULL-token row that
#: carries the stream's total token count.
_MG_SCHEMA = "token string, est long"


def start_heavy_hitters_stream(
    docs_stream: DataFrame,
    state_dir: str,
    *,
    checkpoint_dir: str,
    capacity: int = 64,
):
    """Streaming Misra–Gries maintenance: a bounded frequent-token summary
    over everything the stream has ever seen, in O(capacity) state.

    Per micro-batch (foreachBatch): fold the batch through per-partition
    MG summaries (operators/heavyhitters.mg_partition_summaries — the
    only corpus-sized work, no shuffle), merge with the previous epoch's
    summary by summing per-token estimates, prune back to ``capacity``
    tokens with the mergeable-summaries rule (subtract the
    (capacity+1)-th largest counter, keep positive — Agarwal et al. 2012
    keeps the total error ≤ n/(capacity+1) through any merge/prune
    sequence), and write the result to ``state_dir/epoch=<id>``.

    Replay safety: the epoch-state protocol (:func:`_prior_state`).
    Readers use :func:`streaming_heavy_hitter_candidates`.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1; got {capacity}")

    spark_active = docs_stream.sparkSession

    def fold(batch_df: DataFrame, e: int) -> None:
        batch_sum = mg_partition_summaries(batch_df, capacity=capacity)
        prev = _prior_state(spark_active, state_dir, e, _MG_SCHEMA)
        if prev is not None:
            batch_sum = batch_sum.unionByName(prev)
        merged = batch_sum.groupBy("token").agg(F.sum("est").alias("est"))
        toks = merged.filter(F.col("token").isNotNull())
        sent = merged.filter(F.col("token").isNull())
        # mergeable-summaries prune: keep the top `capacity` counters,
        # subtracting the (capacity+1)-th largest from the survivors
        ranked = toks.withColumn(
            "_rnk",
            F.row_number().over(
                Window.orderBy(F.col("est").desc(), F.col("token"))
            ),
        )
        cut = (
            ranked.filter(F.col("_rnk") == capacity + 1)
            .select("est")
            .collect()
        )
        cut_val = cut[0]["est"] if cut else 0
        pruned = (
            ranked.filter(F.col("_rnk") <= capacity)
            .select("token", (F.col("est") - F.lit(cut_val)).alias("est"))
            .filter(F.col("est") > 0)
        )
        (
            pruned.unionByName(sent.select("token", "est"))
            .repartition(1)
            .write.mode("overwrite")
            .parquet(_epoch_dir(state_dir, e))
        )

    return _start_per_epoch(
        docs_stream, fold, checkpoint_dir=checkpoint_dir, mode="update"
    )


def streaming_heavy_hitter_candidates(spark, state_dir: str) -> DataFrame:
    """Read the newest MG state epoch as (token, est, n_total).

    The capacity is not persisted, so the error bound is the caller's:
    with the ``capacity`` the stream ran at, max_err = n_total /
    (capacity + 1), every token's true count lies in [est, est +
    max_err], and every token whose true count exceeds max_err is
    present."""
    epochs = _epochs(state_dir)
    if not epochs:
        raise ValueError(f"no heavy-hitter state under {state_dir}")
    state = spark.read.schema(_MG_SCHEMA).parquet(
        _epoch_dir(state_dir, epochs[-1])
    )
    toks = state.filter(F.col("token").isNotNull())
    n_total = (
        state.filter(F.col("token").isNull())
        .agg(F.sum("est"))
        .collect()[0][0]
        or 0
    )
    return toks.select(
        "token", "est", F.lit(int(n_total)).cast("bigint").alias("n_total")
    )


def start_shard_stream(
    docs_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    *,
    checkpoint_dir: str,
    shard_budget: int = 20_000,
    merges: list[tuple[str, str]] | None = None,
    vocab: dict[str, int] | None = None,
):
    """Continuous training-shard export: every micro-batch's documents get
    GLOBAL shard ids continuing the running token total from all prior
    epochs — the streaming form of q108_shard_assignment, so a training
    corpus can be exported shard-by-shard while ingest is still running.

    With ``merges`` + ``vocab`` (the bounded artifacts ``bpe_learn_merges``
    / ``bpe_vocab`` produce), each batch is BPE-encoded to REAL token ids:
    ``n_tokens`` becomes the true token count (what a trainer budgets on,
    not the whitespace proxy) and the export carries ``ids_md5`` plus the
    raw ``token_ids array<int>`` column — the shards a training run
    consumes directly, ending the pipeline in token ids rather than text.
    Documents that normalize to zero tokens are dropped (the batch
    ``bpe_encode_ids`` contract).

    Per micro-batch (foreachBatch): the distributed global cumsum
    (``global_rank.with_global_cumsum`` — range sort, per-partition sum
    offsets, no single-partition window) over the batch, shifted by the
    carried total; output lands under ``out_dir/epoch=<e>`` partitioned by
    shard_id, and the new running total (ONE number) is written to
    ``state_dir/epoch=<e>``.

    Replay safety: the epoch-state protocol (:func:`_prior_state`), so
    a replayed epoch never double-advances the shard counter. State is one
    single-row file per epoch; :func:`compact_shard_epochs` prunes it.
    """
    if shard_budget < 1:
        raise ValueError(f"shard_budget must be >= 1; got {shard_budget}")
    if (merges is None) != (vocab is None):
        raise ValueError("merges and vocab must be provided together")

    spark_active = docs_stream.sparkSession

    def assign(batch_df: DataFrame, e: int) -> None:
        prev = _prior_state(spark_active, state_dir, e, "total long")
        rows = [] if prev is None else prev.collect()
        offset = int(rows[0]["total"]) if rows else 0
        if merges is not None:
            d = bpe_encode_ids(batch_df, merges, vocab, ids_col="token_ids")
            extra = ["ids_md5", "token_ids"]
        else:
            d = batch_df.select(
                F.col("doc_id"),
                F.size(F.split(F.lower(F.trim("text")), " ")).cast("bigint")
                .alias("n_tokens"),
            )
            extra = []
        out = with_global_cumsum(
            d, [F.col("doc_id")], "n_tokens", cum_col="_batch_cum"
        ).withColumn("cum_tokens", F.col("_batch_cum") + F.lit(offset))
        out = out.select(
            "doc_id",
            "n_tokens",
            *extra,
            "cum_tokens",
            F.floor(
                (F.col("cum_tokens") - F.col("n_tokens")) / float(shard_budget)
            )
            .cast("int")
            .alias("shard_id"),
        )
        (
            out.write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(_epoch_dir(out_dir, e))
        )
        # ONE number of state per epoch — the carried running total
        batch_total = d.agg(F.sum("n_tokens").cast("bigint")).collect()[0][0]
        _write_state_rows(
            spark_active,
            [(offset + int(batch_total),)],
            "total long",
            _epoch_dir(state_dir, e),
        )

    return _start_per_epoch(
        docs_stream, assign, checkpoint_dir=checkpoint_dir, mode="append"
    )


def compact_shard_epochs(
    spark,
    out_dir: str,
    state_dir: str | None = None,
    *,
    keep_epochs: int = 2,
    id_col: str = "doc_id",
) -> int:
    """Fold old shard-export epochs into the ``epoch=-1`` base partition.

    ``start_shard_stream`` writes one ``epoch=<e>`` dir (plus one
    single-row state file) per micro-batch forever; this folds every epoch
    older than the newest ``keep_epochs`` into a single base — the
    ``sinks/ledger.compact_ledger`` posture — so the directory count stays
    flat in stream age while plain ``spark.read.parquet(out_dir)`` keeps
    seeing every row (the base is just another epoch partition value, and
    rows keep their shard_id partitioning inside it).

    The newest ``keep_epochs`` epochs stay live as replay headroom: a
    crashed-and-replayed epoch overwrites its own ``epoch=<e>`` dir, which
    folding must not have consumed. Shard ids are already materialized per
    row, so compaction never recomputes or shifts them — gated by tests
    that replay an epoch across a compaction.

    Crash window: base swap is rename-aside (``writers._swap_dirs``); a
    crash between the swap and the epoch-dir deletes leaves rows present
    in both the base and an old epoch dir. That window is harmless AND
    self-healing: rows are bit-identical (replay determinism), the merge
    drops exact duplicates, and rerunning the compaction converges. A
    crash between the swap's two renames leaves ``epoch=-1__old``; the
    next run repairs it here (promote if the base is missing, else drop
    the stale copy), and the epoch listing itself (:func:`_epochs`)
    ignores the leftover, so it can never poison partition-value
    inference downstream.

    Duplicate-drop is keyed: after the full-row ``dropDuplicates()`` the
    merge asserts ``id_col`` is unique — two *different* rows sharing an
    id (a schema change breaking the bit-identical-replay assumption)
    fail loudly instead of silently losing data.

    Old state files beyond the newest ``keep_epochs`` are deleted too
    (only the newest state below the running epoch is ever read).

    Returns the number of epoch dirs folded. One shuffle-free read+write
    over (base ∪ folded epochs) per compaction — amortize by calling every
    N epochs, never on the per-batch path. A URI ``out_dir`` or
    ``state_dir`` raises before anything is touched (see :func:`_epochs`).
    """
    if keep_epochs < 1:
        raise ValueError(f"keep_epochs must be >= 1; got {keep_epochs}")
    epochs = [e for e in _epochs(out_dir) if e >= 0]
    state_epochs = _epochs(state_dir) if state_dir else []

    base = _epoch_dir(out_dir, -1)
    # repair a crash between _swap_dirs' two renames: epoch=-1__old left behind
    stale = base + "__old"
    if os.path.isdir(stale):
        if not os.path.isdir(base):
            os.rename(stale, base)  # promote: the aside copy IS the base
        else:
            jvm_stale, fs0 = _hadoop_fs(spark, stale)
            fs0.delete(jvm_stale, True)

    fold = epochs[:-keep_epochs]
    if not fold:
        return 0
    frames = [spark.read.parquet(_epoch_dir(out_dir, e)) for e in fold]
    _, fs = _hadoop_fs(spark, out_dir)
    jvm_base, _ = _hadoop_fs(spark, base)
    if fs.exists(jvm_base):
        frames.append(spark.read.parquet(base))
    merged = frames[0]
    for f in frames[1:]:
        merged = merged.unionByName(f)
    # exact-duplicate drop makes the crash window and reruns idempotent;
    # the keyed assert below makes a broken uniqueness assumption loud
    merged = merged.dropDuplicates()
    if id_col in merged.columns:
        dup = (
            merged.groupBy(id_col).count().filter("count > 1").limit(1).count()
        )
        if dup:
            raise ValueError(
                f"compact_shard_epochs: distinct rows share {id_col!r} after "
                "exact-duplicate drop — replay is no longer bit-deterministic "
                "for this schema; refusing to compact (would risk data loss)"
            )

    tmp = out_dir.rstrip("/") + "__compact_tmp"
    # preserve the export's inner partitioning when present (shard_id for
    # the shard export); exports without it — e.g. the sequence-pack
    # stream's (seq_id, seq_len, ids) — compact into a flat base
    writer = merged.write.mode("overwrite")
    if "shard_id" in merged.columns:
        writer = writer.partitionBy("shard_id")
    writer.parquet(tmp)
    _swap_dirs(spark._jvm, fs, base, tmp)
    for e in fold:
        jvm_e, _ = _hadoop_fs(spark, _epoch_dir(out_dir, e))
        fs.delete(jvm_e, True)

    for e in state_epochs[:-keep_epochs]:
        jvm_s, _ = _hadoop_fs(spark, _epoch_dir(state_dir, e))
        fs.delete(jvm_s, True)
    return len(fold)


def start_sequence_pack_stream(
    docs_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    *,
    checkpoint_dir: str,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    eos_id: int,
    max_len: int = 512,
):
    """Continuous FIXED-length training-sequence export — the streaming
    form of ``curation.pack_token_sequences``: every micro-batch's
    documents BPE-encode to real token ids (+ EOS after each doc), the
    global token stream position continues from all prior epochs, and
    every COMPLETE ``max_len``-token sequence lands under
    ``out_dir/epoch=<e>``; the incomplete tail (< max_len tokens) is
    carried as state and completed by later batches — so sequences cross
    both document AND micro-batch boundaries, exactly like the batch
    packer's output.

    State per epoch is one row ``(seqs_done, carry array<int>)`` — the
    number of sequences emitted so far plus the carried tail, bounded at
    ``max_len`` tokens by construction (a driver-safe artifact). Replay
    follows the epoch-state protocol (:func:`_prior_state`) for both
    the output and the state paths, so a replayed epoch emits the
    identical sequences and never double-advances the counter.

    Per batch the distributed shape is the batch packer's: one range
    exchange for the in-batch cumsum, codegen positions, one
    key-partitioned regroup by sequence id (groups bounded at
    ``max_len``). The carry union is at most ``max_len`` rows.
    """
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1; got {max_len}")

    spark_active = docs_stream.sparkSession

    state_schema = "seqs_done long, carry array<int>"

    def pack(batch_df: DataFrame, e: int) -> None:
        prev = _prior_state(spark_active, state_dir, e, state_schema)
        rows = [] if prev is None else prev.collect()
        seqs_done = int(rows[0]["seqs_done"]) if rows else 0
        carry = list(rows[0]["carry"] or []) if rows else []
        d = materialize(
            bpe_encode_ids(batch_df, merges, vocab, ids_col="token_ids")
            .withColumn(
                "_ids",
                F.concat(F.col("token_ids"), F.array(F.lit(int(eos_id)))),
            )
            .withColumn("_n", F.size("_ids").cast("bigint"))
            # materialize the encode ONCE per batch: the cumsum's range
            # partitioner samples its input, which would otherwise re-run
            # the whole encode chain per downstream job (the batch-side
            # llm_token_id_shards fix, applied to every trigger here)
        )
        base = seqs_done * max_len + len(carry)
        cum = with_global_cumsum(d, [F.col("doc_id")], "_n", cum_col="_cum")
        tok = cum.select(
            (F.lit(base) + F.col("_cum") - F.col("_n")).alias("_off"),
            F.posexplode("_ids").alias("_pos", "_id"),
        ).select((F.col("_off") + F.col("_pos")).alias("_gpos"), F.col("_id"))
        if carry:
            tok = tok.unionByName(
                spark_active.createDataFrame(
                    [
                        (seqs_done * max_len + i, int(t))
                        for i, t in enumerate(carry)
                    ],
                    "_gpos long, _id int",
                )
            )
        seqs = materialize(
            tok.groupBy(
                # integer DIV, not floor(double /): exact past 2^53 tokens
                F.expr(f"_gpos DIV {int(max_len)}")
                .cast("bigint")
                .alias("seq_id")
            )
            .agg(
                F.count(F.lit(1)).cast("int").alias("seq_len"),
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_gpos", "_id"))),
                    lambda s: s["_id"],
                ).alias("ids"),
            )
        )
        (
            seqs.filter(F.col("seq_len") == max_len)
            .select("seq_id", "seq_len", "ids")
            .write.mode("overwrite")
            .parquet(_epoch_dir(out_dir, e))
        )
        # bounded state: the single incomplete tail row (or none), plus
        # the new absolute sequence counter
        tail = seqs.filter(F.col("seq_len") < max_len).collect()
        new_carry = list(tail[0]["ids"]) if tail else []
        batch_total = (
            cum.agg(F.sum("_n").cast("bigint")).collect()[0][0] or 0
        )
        new_done = (base + int(batch_total)) // max_len
        _write_state_rows(
            spark_active,
            [(new_done, new_carry)],
            state_schema,
            _epoch_dir(state_dir, e),
        )
        # keep the state-dir flat in stream age: everything older than
        # the newest two epochs (replay headroom — a replayed epoch e
        # must still find its e-1 predecessor) is garbage, pruned in-band
        for old in _epochs(state_dir)[:-2]:
            shutil.rmtree(_epoch_dir(state_dir, old), ignore_errors=True)

    return _start_per_epoch(
        docs_stream, pack, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_drift_stream(
    docs_stream: DataFrame,
    reference: DataFrame,
    value_col: str,
    out_dir: str,
    *,
    checkpoint_dir: str,
    bins: int = 10,
    bin_width: float = 60.0,
):
    """Continuous data-drift monitoring on ingest — the streaming form of
    q106_drift_psi: the REFERENCE distribution (training-time corpus) is
    binned ONCE into an equal-width histogram (a bounded, driver-held
    artifact — ``bins`` numbers); every micro-batch then bins itself with
    the identical rule and lands one PSI report per epoch under
    ``out_dir/epoch=<e>``: per-bin expected/actual counts, Laplace-
    smoothed psi terms, and the epoch's psi_total. The retraining monitor
    reads the epoch series and alerts on psi_total.

    Distributed shape: the per-batch cost is ONE groupBy(bin) aggregation
    with map-side combine (bin cardinality is a constant); the PSI fold
    over ≤ ``bins`` rows happens driver-side, exactly like every other
    bounded-artifact fold in the repo. Replay-safe by construction: the
    report depends only on the batch content and the frozen reference, so
    a replayed epoch overwrites an identical report.
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2; got {bins}")

    spark_active = docs_stream.sparkSession

    def _bin(col):
        # clamp BOTH ends: an out-of-range-low value must land in bin 0,
        # not a phantom negative bin that would inflate the totals while
        # never appearing in the report
        return F.greatest(
            F.least(
                F.floor(F.col(col) / bin_width).cast("int"),
                F.lit(bins - 1),
            ),
            F.lit(0),
        ).alias("bin")

    ref_rows = (
        reference.select(_bin(value_col)).groupBy("bin").count().collect()
    )
    n_expected = {int(r["bin"]): int(r["count"]) for r in ref_rows}
    te = sum(n_expected.values())

    def monitor(batch_df: DataFrame, e: int) -> None:
        act_rows = (
            batch_df.select(_bin(value_col)).groupBy("bin").count().collect()
        )
        n_actual = {int(r["bin"]): int(r["count"]) for r in act_rows}
        ta = sum(n_actual.values())
        # q106 parity: terms exist only for OCCUPIED bins (a bin empty in
        # both distributions contributes nothing — emitting its Laplace
        # term would add spurious drift to psi_total on undrifted data),
        # while the smoothing denominator stays the FULL bin count,
        # exactly as the batch query computes it
        occupied = sorted(set(n_expected) | set(n_actual))
        terms = {}
        for b in occupied:
            pe = (n_expected.get(b, 0) + 1.0) / (te + bins)
            pa = (n_actual.get(b, 0) + 1.0) / (ta + bins)
            terms[b] = (pa - pe) * math.log(pa / pe)
        psi_total = round(sum(terms.values()), 6)
        rows = [
            (
                e,
                b,
                n_expected.get(b, 0),
                n_actual.get(b, 0),
                round(terms[b], 6),
                psi_total,
            )
            for b in occupied
        ]
        _write_state_rows(
            spark_active,
            rows,
            "epoch long, bin int, n_expected long, n_actual long,"
            " psi_term double, psi_total double",
            _epoch_dir(out_dir, e),
        )

    return _start_per_epoch(
        docs_stream, monitor, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_lm_score_stream(
    docs_stream: DataFrame,
    reference: DataFrame,
    out_dir: str,
    *,
    checkpoint_dir: str,
):
    """Perplexity filtering AT INGEST — the streaming form of
    llm_kneser_ney_logprob: an interpolated-KN bigram model is trained
    ONCE on the frozen ``reference`` corpus (the CCNet posture: score web
    ingest against a trusted-domain LM), and every micro-batch of
    documents is scored against it, landing (doc_id, n_bigrams,
    n_oov_bigrams, avg_logprob) per epoch under ``out_dir/epoch=<e>``.

    Unlike the drift monitor's bounded histogram, the model here is
    CLUSTER-SIDED state: four DataFrames (bigram counts, left-context
    stats, continuation counts, type count) that stay distributed and
    join each micro-batch — nothing model-sized ever visits the driver.
    They are computed lazily once and reused across epochs (Spark caches
    the exchanges; at real scale you would persist them explicitly).

    OOV contract: a batch bigram absent from the reference still gets the
    interpolation mass D·N1+(w1·)/c(w1·)·Pcont(w2) when its CONTEXT is
    known; bigrams whose context word (or whose continuation word) never
    occurred in the reference have zero model mass and are COUNTED, not
    scored — ``n_oov_bigrams`` is the filter signal for
    out-of-distribution text, ``avg_logprob`` averages the scorable rest
    (NULL when nothing is scorable). On a batch drawn from the reference
    itself the output is bit-identical to the batch query (parity-gated
    in tests/test_streaming.py).
    """
    big_ref = _bigrams(reference, text_col="text", id_col="doc_id")
    bc = big_ref.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("bc")
    )
    left = bc.groupBy("w1").agg(
        F.sum("bc").cast("bigint").alias("ctx"),
        F.count(F.lit(1)).cast("bigint").alias("nleft"),
    )
    right = bc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("nright")
    )
    types = bc.agg(F.count(F.lit(1)).cast("bigint").alias("ttypes"))

    d = F.lit(0.75)

    def score(batch_df: DataFrame, e: int) -> None:
        big = _bigrams(batch_df, text_col="text", id_col="doc_id")
        joined = (
            big.join(bc, ["w1", "w2"], "left")
            .join(left, "w1", "left")
            .join(right, "w2", "left")
            .crossJoin(F.broadcast(types))
        )
        p = (
            F.greatest(F.coalesce(F.col("bc"), F.lit(0)) - d, F.lit(0.0))
            / F.col("ctx")
            + d
            * F.col("nleft")
            / F.col("ctx")
            * (F.col("nright") / F.col("ttypes"))
        )
        scorable = F.col("ctx").isNotNull() & F.col("nright").isNotNull()
        lp = F.when(scorable, F.round(F.log(p), 6))
        out = (
            joined.select("doc_id", lp.alias("lp"))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                (F.count(F.lit(1)) - F.count("lp"))
                .cast("bigint")
                .alias("n_oov_bigrams"),
                F.round(
                    F.round(F.sum("lp"), 6) / F.count("lp"), 6
                ).alias("avg_logprob"),
            )
        )
        out.write.mode("overwrite").parquet(_epoch_dir(out_dir, e))

    return _start_per_epoch(
        docs_stream, score, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_dsir_stream(
    docs_stream: DataFrame,
    reference: DataFrame,
    target_pred,
    out_dir: str,
    *,
    checkpoint_dir: str,
    buckets: int = 4096,
):
    """DSIR importance scoring AT INGEST — the streaming form of
    llm_dsir_weights: the bounded bucket artifact (≤ ``buckets`` rows) is
    built ONCE from the frozen ``reference`` corpus (``target_pred``
    splits it into target/raw slices), and every micro-batch of documents
    is scored against it, landing (doc_id, n_grams, logratio,
    avg_logratio, selected) per epoch under ``out_dir/epoch=<e>``.

    Unlike the KN stream's cluster-sided model, the DSIR artifact is
    small enough to BROADCAST — each epoch's plan is a broadcast join +
    one doc-keyed integer aggregation; features whose bucket never
    occurred in the reference contribute 0 (counted in ``n_grams``), so
    out-of-distribution ingest degrades scores instead of erroring. On a
    batch drawn from the reference's raw slice the output is bit-identical
    to the batch query (parity-gated in tests/test_streaming.py).
    """
    stats = dsir_bucket_stats(reference, target_pred, buckets=buckets)

    def score(batch_df: DataFrame, e: int) -> None:
        out = dsir_scores(batch_df, stats, buckets=buckets)
        out.write.mode("overwrite").parquet(_epoch_dir(out_dir, e))

    return _start_per_epoch(
        docs_stream, score, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_budget_mix_stream(
    docs_stream: DataFrame,
    budgets: dict[str, int],
    out_dir: str,
    state_dir: str,
    *,
    checkpoint_dir: str,
):
    """Per-source token-budget admission AT INGEST — the streaming form of
    llm_token_budget / ``curation.token_budget_sample``: a corpus mixer
    admits documents source-by-source until each source's absolute token
    budget fills, while the corpus is still arriving. Sources outside
    ``budgets`` have budget 0 (everything recorded, nothing kept).

    Per micro-batch (foreachBatch): the batch replays the BATCH operator
    with each source's budget reduced by the carried spend from all prior
    epochs, so within-batch admission keeps the deterministic
    (md5, key) order and the budget line falls exactly where a batch run
    over the concatenated epochs would put it — the parity gate in
    tests/test_streaming.py asserts that equivalence epoch by epoch.
    Output lands under ``out_dir/epoch=<e>`` with (id, source, n_tokens,
    cum_tokens GLOBAL, kept); the carried per-source spend (≤ |sources|
    rows — bounded by the source vocabulary, not the corpus) lives under
    ``state_dir/epoch=<e>`` with the epoch-state protocol
    (:func:`_prior_state`) as its replay contract.

    Note the admission-order semantics: a batch run orders the WHOLE
    corpus by (md5, key); the stream orders by (arrival epoch, md5, key).
    That is the correct ingest semantics (you cannot admit a document you
    have not seen), and it is exactly reproducible: replaying the same
    epochs yields the same admission set.
    """
    if any(b < 0 for b in budgets.values()):
        raise ValueError(f"budgets must be >= 0; got {budgets}")

    spark_active = docs_stream.sparkSession

    state_schema = "source string, spent long"

    def admit(batch_df: DataFrame, e: int) -> None:
        prev = _prior_state(spark_active, state_dir, e, state_schema)
        carried = {
            r["source"]: int(r["spent"])
            for r in ([] if prev is None else prev.collect())
        }
        d = batch_df.select(
            F.col("doc_id"),
            F.col("source"),
            token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        )
        remaining = {
            s: max(b - carried.get(s, 0), 0) for s, b in budgets.items()
        }
        out = token_budget_sample(
            d,
            remaining,
            token_col="n_tokens",
            group_col="source",
            default_budget=0,
        )
        # globalize the within-batch cumsum with the carried spend
        shift = F.lit(0).cast("bigint")
        for s, c in sorted(carried.items()):
            shift = F.when(F.col("source") == s, F.lit(c)).otherwise(shift)
        out = out.withColumn(
            "cum_tokens", (F.col("cum_tokens") + shift).cast("bigint")
        )
        out.write.mode("overwrite").parquet(_epoch_dir(out_dir, e))
        spent = (
            d.groupBy("source")
            .agg(F.sum("n_tokens").cast("bigint").alias("spent"))
            .collect()
        )
        merged = dict(carried)
        for r in spent:
            merged[r["source"]] = merged.get(r["source"], 0) + int(r["spent"])
        _write_state_rows(
            spark_active,
            sorted(merged.items()),
            state_schema,
            _epoch_dir(state_dir, e),
        )

    return _start_per_epoch(
        docs_stream, admit, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_image_dedup_stream(
    docs_stream: DataFrame,
    index_path: str,
    out_dir: str,
    *,
    checkpoint_dir: str,
    max_hamming: int = 7,
):
    """IMAGE dedup at ingest — the multimodal mirror of the text
    decontamination/dedup-index streams: every micro-batch of (id,
    payload) images aHashes, matches against everything indexed BEFORE it
    (seed corpus at epoch=-1 via ``multimodal.image_index_write_epoch``
    plus all prior stream epochs), and then indexes itself, so later
    arrivals dedup against earlier ones.

    Per epoch: the batch's distinct band prefixes prune the index read
    (epoch < e filter keeps a replayed epoch from matching its own rows),
    the batch side broadcasts, candidates dedup on the pair key, and the
    exact hamming verify is integer xor/bit_count. Matches land under
    ``out_dir/epoch=<e>``; the batch's band rows land under
    ``index_path/bands/epoch=<e>`` with overwrite-own-epoch replay
    semantics — a crashed-and-replayed epoch rewrites the same dirs, no
    double-append, no self-match.
    """
    if not (0 <= max_hamming < _AHASH_BANDS):
        raise ValueError(f"pigeonhole needs 0 <= max_hamming < {_AHASH_BANDS}")

    spark_active = docs_stream.sparkSession

    def on_batch(batch_df: DataFrame, e: int) -> None:
        b = materialize(_ahash_banded_rows(batch_df))
        bands_root = index_path.rstrip("/") + "/bands"
        if _epochs(bands_root):
            pfxs = sorted(r["pfx"] for r in b.select("pfx").distinct().collect())
            corpus = (
                spark_active.read.parquet(bands_root)
                .filter(F.col("epoch") < e)
                .filter(F.col("pfx").isin(pfxs))
            )
            cand = (
                corpus.alias("a")
                .join(
                    F.broadcast(b.alias("b")),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.v") == F.col("b.v")),
                )
                .select(
                    F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.col("a.bands").alias("ba"),
                    F.col("b.bands").alias("bb"),
                )
                .dropDuplicates(["id_a", "id_b"])
            )
            hamming = F.aggregate(
                F.zip_with(
                    F.col("ba"),
                    F.col("bb"),
                    lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, d: acc + d,
            )
            matches = cand.select(
                "id_a", "id_b", hamming.cast("int").alias("hamming")
            ).filter(F.col("hamming") <= max_hamming)
        else:
            matches = spark_active.createDataFrame(
                [], "id_a long, id_b long, hamming int"
            )
        matches.write.mode("overwrite").parquet(_epoch_dir(out_dir, e))
        image_index_write_epoch(batch_df, index_path, e)

    return _start_per_epoch(
        docs_stream, on_batch, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_linkage_stream(
    dirty_stream: DataFrame,
    clean_path: str,
    out_dir: str,
    *,
    checkpoint_dir: str,
    left_id: str,
    right_id: str,
    block_passes: list[list[str]],
    features_builder,
    weights: dict[str, tuple[float, float]],
    upper: float,
    lower: float,
):
    """Record linkage AT INGEST — the streaming half of the entity-
    resolution tier (llm_entity_resolution): dirty records arrive in
    micro-batches, each batch multipass-blocks + Fellegi–Sunter-scores
    against the CLEAN reference at rest, and classified pairs land under
    ``out_dir/epoch=<e>`` with the overwrite-own-epoch replay contract
    (a crashed-and-replayed epoch rewrites its own dir — no duplicates).

    Per epoch the clean reference is PRUNED before the passes run: the
    batch's distinct blocking-key rows (batch-bounded, broadcast)
    semi-join the reference once per pass and the pruned slices union —
    the reference is never shuffled and only reference rows that could
    block against THIS batch are read (the dedup-index/ledger read
    discipline; with the reference written partitioned by a blocking-key
    prefix the semi-join becomes partition pruning). Scoring itself is
    :func:`operators.linkage.fs_link_multipass` verbatim, so stream
    output == the batch operator over the union of all batches — linkage
    is per-pair stateless; the cross-record step (connected components →
    golden records) stays a periodic batch job over the accumulated
    match epochs by design.

    ``features_builder`` is a zero-arg callable returning the F-S
    feature-expression dict (Column expressions cannot be built before
    the joined schema exists on the executor-side plan).
    """
    if not block_passes:
        raise ValueError("need at least one blocking pass")
    spark_active = dirty_stream.sparkSession

    def on_batch(batch_df: DataFrame, e: int) -> None:
        batch = materialize(batch_df)
        clean = spark_active.read.parquet(clean_path)
        pruned = None
        for keys in block_passes:
            sl = clean.join(
                F.broadcast(batch.select(*keys).distinct()),
                list(keys),
                "left_semi",
            )
            pruned = sl if pruned is None else pruned.unionByName(sl)
        pruned = pruned.dropDuplicates([left_id])
        scored = fs_link_multipass(
            pruned,
            batch,
            left_id=left_id,
            right_id=right_id,
            block_passes=block_passes,
            features=features_builder(),
            weights=weights,
            upper=upper,
            lower=lower,
        )
        scored.write.mode("overwrite").parquet(_epoch_dir(out_dir, e))

    return _start_per_epoch(
        dirty_stream, on_batch, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_entity_registry_stream(
    edges_stream: DataFrame,
    registry_path: str,
    *,
    checkpoint_dir: str,
):
    """Entity/cluster registry maintenance AT INGEST — the streaming form
    of ``clusters.incremental_components``: each micro-batch of edges
    folds into the persisted (id, component) registry via label
    condensation (CC over the batch's touched labels only; the history
    edge log is never revisited), and the updated registry lands under
    ``registry_path/epoch=<e>``.

    Replay contract: the epoch-state protocol (:func:`_prior_state`) —
    no double-fold. After any sequence of batches the latest epoch is
    bit-identical to a full CC recompute over all edges seen (the
    operator's hashed invariant), which the parity test drives
    end-to-end. Registry growth is |nodes|, not |edges|; compact old
    epoch dirs like the ledger when listings grow.
    """
    spark_active = edges_stream.sparkSession

    def on_batch(batch_df: DataFrame, e: int) -> None:
        labels = _prior_state(
            spark_active, registry_path, e, "id long, component long"
        )
        if labels is not None:
            reg = incremental_components(labels, batch_df)
        else:
            reg = connected_components(batch_df)
        reg.write.mode("overwrite").parquet(_epoch_dir(registry_path, e))

    return _start_per_epoch(
        edges_stream, on_batch, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_shuffle_shard_stream(
    docs_stream: DataFrame,
    store_path: str,
    *,
    checkpoint_dir: str,
    shard_docs: int = 64,
):
    """Training-shard layout AT INGEST — the streaming form of
    ``sharding.shard_store_append``: each micro-batch is shuffled within
    itself (seeded portable hash order) and lands at the tail of the
    global position space, under ``store_path/epoch=<e>/rows`` with the
    new high-water mark in ``epoch=<e>/next``.

    Replay contract: the epoch-state protocol (:func:`_prior_state`) —
    a replayed epoch can never double-append. The live store is the union
    of all epoch ``rows`` dirs (``spark.read.parquet(store/epoch=*/rows)``);
    positions across any replay sequence equal the batch-sequential
    ``shard_store_init``/``append`` fold, which the parity test drives.
    Epoch dirs are per-batch sized — compact old ones like the ledger
    when listings grow."""
    spark_active = docs_stream.sparkSession

    def on_batch(batch_df: DataFrame, e: int) -> None:
        nxt = _prior_state(
            spark_active, store_path, e, "next_pos long", "next"
        )
        start = 0 if nxt is None else nxt.collect()[0]["next_pos"]
        pos, total = _positions(batch_df, "doc_id", "shuf:v1:", start)
        (
            pos.withColumn(
                "shard_id",
                F.floor(F.col("pos") / F.lit(shard_docs)).cast("int"),
            )
            .write.mode("overwrite")
            .parquet(_epoch_dir(store_path, e, "rows"))
        )
        _write_state_rows(
            spark_active,
            [(int(start + total),)],
            "next_pos long",
            _epoch_dir(store_path, e, "next"),
        )

    return _start_per_epoch(
        docs_stream, on_batch, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_mix_stream(
    docs_stream: DataFrame,
    store_path: str,
    *,
    checkpoint_dir: str,
):
    """Streaming layout planner: temperature mix + curriculum boundaries
    over the GROWING store, carried-state instead of scratch recompute.

    The batch planners (llm_temperature_mix / llm_curriculum_order's phase
    split) rescan the whole corpus; at ingest time the corpus is a stream,
    and the planner should fold each micro-batch into carried per-language
    and per-phase totals — O(|langs| + |phases|) state, O(batch) work —
    then emit the UPDATED plans. Per micro-batch (foreachBatch):

    * batch per-language (n_docs, n_tokens) and per-phase n_docs counts
      (two map-side-combined aggs over the batch only);
    * merged with the carried totals (union + re-sum over dimension-sized
      frames);
    * ``epoch=<e>/totals`` and ``epoch=<e>/phase_totals`` — the new state;
    * ``epoch=<e>/plan`` — the temperature mix over CUMULATIVE totals,
      the exact llm_temperature_mix arithmetic (fixed-point pow terms,
      then the normalizing fold over <=|langs| rows);
    * ``epoch=<e>/phases`` — curriculum boundary manifest (phase,
      n_docs, phase_offset): metadata a loader composes with the shard
      store's positions — the store itself is NEVER rewritten (the
      epoch-reshuffle posture: order is a manifest, not bytes).

    Replay safety: the epoch-state protocol (:func:`_prior_state`) — no
    double count. Final-state == batch-rebuild is gated by
    tests/test_round16.py.
    """
    spark_active = docs_stream.sparkSession
    totals_schema = "lang string, n_docs long, n_tokens long"
    phases_schema = "phase int, n_docs long"

    def on_batch(batch_df: DataFrame, e: int) -> None:
        n_tok = F.size(F.split(normalize_text(F.col("text")), " "))
        q = quality_score(F.col("text"))
        phase = (
            F.when(q >= 0.666666, 0).when(q >= 0.333333, 1).otherwise(2)
        )
        b_lang = batch_df.groupBy(F.col("lang")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(n_tok).cast("bigint").alias("n_tokens"),
        )
        b_phase = batch_df.groupBy(phase.cast("int").alias("phase")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        )
        c_lang = _prior_state(
            spark_active, store_path, e, totals_schema, "totals"
        )
        c_phase = _prior_state(
            spark_active, store_path, e, phases_schema, "phase_totals"
        )
        totals = (
            b_lang.unionAll(c_lang) if c_lang is not None else b_lang
        ).groupBy("lang").agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        phases = (
            b_phase.unionAll(c_phase) if c_phase is not None else b_phase
        ).groupBy("phase").agg(
            F.sum("n_docs").cast("bigint").alias("n_docs")
        )
        totals_path = _epoch_dir(store_path, e, "totals")
        phases_path = _epoch_dir(store_path, e, "phase_totals")
        totals.write.mode("overwrite").parquet(totals_path)
        phases.write.mode("overwrite").parquet(phases_path)
        # re-read the just-written state so plan/manifest derive from one
        # materialization (not a second evaluation of the agg)
        totals_r = spark_active.read.schema(totals_schema).parquet(
            totals_path
        )
        phases_r = spark_active.read.schema(phases_schema).parquet(
            phases_path
        )
        fx = totals_r.select(
            "*",
            F.round(F.pow(F.col("n_tokens"), F.lit(0.3)) * F.lit(FX), 0)
            .cast("bigint")
            .alias("term_fx"),
        )
        t2 = fx.agg(
            F.sum("term_fx").cast("bigint").alias("tot_fx"),
            F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
        )
        w = F.col("term_fx").cast("double") / F.col("tot_fx")
        plan = fx.crossJoin(F.broadcast(t2)).select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(w, 6).alias("weight"),
            F.round(w * F.col("tot_tokens") / F.col("n_tokens"), 6).alias(
                "oversample"
            ),
        )
        plan.write.mode("overwrite").parquet(_epoch_dir(store_path, e, "plan"))
        # phase boundary manifest: offset = docs in all lower phases
        # (3-row frame; the self-join cumsum keeps it engine-trivial)
        p2 = phases_r.select(
            F.col("phase").alias("p2"), F.col("n_docs").alias("nd2")
        )
        manifest = (
            phases_r.join(p2, F.col("p2") < F.col("phase"), "left")
            .groupBy("phase", "n_docs")
            .agg(
                F.coalesce(F.sum("nd2"), F.lit(0))
                .cast("bigint")
                .alias("phase_offset")
            )
        )
        manifest.write.mode("overwrite").parquet(
            _epoch_dir(store_path, e, "phases")
        )

    return _start_per_epoch(
        docs_stream, on_batch, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_hll_stream(
    events_stream: DataFrame,
    store_path: str,
    *,
    checkpoint_dir: str,
):
    """Streaming distinct-count: fold each micro-batch's HLL registers
    into the carried register table (per-register max — HLL merge IS the
    carried-state fold), emit the updated estimate per epoch.

    State is O(m) rows regardless of stream length — the sketch property
    that makes lifetime-distinct-users a streaming-safe metric where an
    exact distinct would grow without bound. Per epoch writes:

    * ``epoch=<e>/registers`` — the merged (idx, r) table (new state);
    * ``epoch=<e>/summary``  — one row: v_zero, sum_fx (exact BIGINT
      fold), est (operators/hll estimate with the LC branch).

    Replay safety: the epoch-state protocol (:func:`_prior_state`);
    merge idempotence (max) additionally makes even a double-fold of the
    same batch harmless — the property tests/test_round16.py pins as
    stream-final == one-shot batch sketch.
    """
    spark_active = events_stream.sparkSession
    regs_schema = "idx int, r int"

    def on_batch(batch_df: DataFrame, e: int) -> None:
        regs = hll_registers(batch_df, "user_id")
        carried = _prior_state(
            spark_active, store_path, e, regs_schema, "registers"
        )
        if carried is not None:
            regs = (
                regs.unionAll(carried)
                .groupBy("idx")
                .agg(F.max("r").cast("int").alias("r"))
            )
        regs_path = _epoch_dir(store_path, e, "registers")
        regs.write.mode("overwrite").parquet(regs_path)
        regs_r = spark_active.read.schema(regs_schema).parquet(regs_path)
        fold = regs_r.agg(
            (F.lit(HLL_M) - F.count(F.lit(1))).cast("bigint").alias("v_zero"),
            (
                F.coalesce(
                    F.sum(
                        F.expr(
                            f"shiftleft(cast(1 as bigint), {HLL_WBITS + 1} - r)"
                        )
                    ),
                    F.lit(0),
                )
                + (F.lit(HLL_M) - F.count(F.lit(1)))
                * F.lit(1 << (HLL_WBITS + 1)).cast("bigint")
            )
            .cast("bigint")
            .alias("sum_fx"),
        )
        fold.select(
            "v_zero",
            "sum_fx",
            F.round(
                hll_estimate_expr(F.col("sum_fx"), F.col("v_zero")), 6
            ).alias("est"),
        ).write.mode("overwrite").parquet(_epoch_dir(store_path, e, "summary"))

    return _start_per_epoch(
        events_stream, on_batch, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_kll_stream(
    values_stream: DataFrame,
    store_path: str,
    *,
    checkpoint_dir: str,
    value_col: str = "v",
    tiebreak_cols: list[str] | None = None,
):
    """Streaming quantiles, completing the sketch triad next to
    ``start_hll_stream`` (distinct) and the Misra-Gries stream (heavy
    hitters): each micro-batch builds its deterministic closed-form KLL
    cells DISTRIBUTED (operators/kll.kll_cells_sorted — one per-batch
    global rank + one projection), then folds them onto the carried
    sketch with :func:`~crowdsorsa_etl_spark.operators.kll.kll_merge` —
    a driver-side fold over two SKETCH-SIZED cell lists (KBs; making
    that fold cheap is the point of a sketch). State is
    O(k · max_levels) cells regardless of stream length.

    Per epoch writes (the ``start_hll_stream`` store layout):

    * ``epoch=<e>/cells``   — merged (level, pos, value, weight) = state;
    * ``epoch=<e>/summary`` — one row: n_total (exact — merge conserves
      weight), est_p50, est_p99.

    Replay safety is the epoch-state protocol (:func:`_prior_state`);
    a full checkpoint loss re-runs the whole fold onto nothing, landing
    on the identical final state. NOTE the contrast with HLL: max-merge
    is idempotent, so HLL replay safety holds even without versioning;
    KLL compaction is NOT idempotent (re-folding a batch would double its
    weight) — the version guard is load-bearing here. Likewise, merged
    cells are NOT the one-shot sketch of the union (published KLL merges
    preserve the rank-error bound, not the cell set); the pytest gate
    pins stream-final == the same fold replayed in batch, exact weight
    conservation, and the merge-degraded rank bound."""
    spark_active = values_stream.sparkSession
    ties = list(tiebreak_cols or [])
    cells_schema = "level int, pos bigint, value bigint, weight bigint"

    def on_batch(batch_df: DataFrame, e: int) -> None:
        batch_cells = [
            (r["level"], r["pos"], r["value"], r["weight"])
            for r in kll_cells_sorted(batch_df, value_col, ties).collect()
        ]
        prev = _prior_state(spark_active, store_path, e, cells_schema, "cells")
        if prev is not None:
            carried = [
                (r["level"], r["pos"], r["value"], r["weight"])
                for r in prev.collect()
            ]
            merged = kll_merge(carried, batch_cells)
        else:
            merged = batch_cells
        _write_state_rows(
            spark_active,
            merged,
            cells_schema,
            _epoch_dir(store_path, e, "cells"),
        )
        n_total = sum(w for *_x, w in merged)
        _write_state_rows(
            spark_active,
            [
                (
                    n_total,
                    int(kll_quantile(merged, 0.5)),
                    int(kll_quantile(merged, 0.99)),
                )
            ],
            "n_total bigint, est_p50 bigint, est_p99 bigint",
            _epoch_dir(store_path, e, "summary"),
        )

    return _start_per_epoch(
        values_stream, on_batch, checkpoint_dir=checkpoint_dir, mode="append"
    )


def start_kmv_stream(
    keys_stream: DataFrame,
    store_path: str,
    *,
    checkpoint_dir: str,
    key_col: str = "k",
    k: int = 256,
):
    """Streaming distinct-count theta sketch (KMV min-k), completing the
    streaming sketch quartet next to ``start_hll_stream`` (distinct by
    registers), the Misra-Gries stream (heavy hitters) and
    ``start_kll_stream`` (quantiles) — KMV is the rung that keeps SET
    ALGEBRA exact-ish downstream (operators/kmv.theta_estimates evaluates
    union AND intersection over retained samples, the q119 tier), which
    registers can't.

    Per micro-batch: the batch's k smallest distinct key hashes build
    DISTRIBUTED (kmv_hash + distinct + TakeOrdered(k) — k rows per
    partition shuffle, the operators/kmv.kmv_sketch shape); the carried
    state folds as ``k smallest of (carried ∪ batch)``. UNLIKE KLL
    compaction, this merge is IDEMPOTENT (min-k of a union — re-folding
    a replayed batch is a no-op), so KMV has HLL-class replay safety
    even without the epoch guard; the epoch-versioned store layout is
    kept anyway so all four streams share one recovery/audit story.

    Per epoch writes (the ``start_hll_stream`` layout):

    * ``epoch=<e>/sketch``  — (h BIGINT) ascending retained hashes = state;
    * ``epoch=<e>/summary`` — one row: n_retained, theta, est (the
      single-set estimate count·2^60/θ, 6-dp — same float op order as
      operators/kmv.theta_estimates so batch replays pin it exactly).

    State is ≤ k BIGINTs regardless of stream length — the right
    100 TB shape (the distinct build is map-side combined per batch;
    the driver folds two ≤k-element lists)."""
    spark_active = keys_stream.sparkSession

    def on_batch(batch_df: DataFrame, e: int) -> None:
        batch_hashes = [
            r["h"]
            for r in (
                batch_df.where(F.col(key_col).isNotNull())
                .select(kmv_hash_spark(F.col(key_col)).alias("h"))
                .distinct()
                .orderBy("h")
                .limit(k)
                .collect()
            )
        ]
        prev = _prior_state(spark_active, store_path, e, "h bigint", "sketch")
        if prev is not None:
            carried = [r["h"] for r in prev.collect()]
            merged = sorted(set(carried) | set(batch_hashes))[:k]
        else:
            merged = batch_hashes
        _write_state_rows(
            spark_active,
            [(h,) for h in merged],
            "h bigint",
            _epoch_dir(store_path, e, "sketch"),
        )
        sample, theta = theta_split(merged, k)
        est = round(len(sample) * float(H_SPACE) / float(theta), 6)
        _write_state_rows(
            spark_active,
            [(len(merged), theta, est)],
            "n_retained int, theta bigint, est double",
            _epoch_dir(store_path, e, "summary"),
        )

    return _start_per_epoch(
        keys_stream, on_batch, checkpoint_dir=checkpoint_dir, mode="append"
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
    category counts). Extends the streaming tier from sketches to the
    round-18 drift gates: the batch q120_psi_drift answers "did these
    two snapshots diverge", this stream answers "is the feed diverging
    NOW", with O(|categories|) carried state.

    Count folding is ADDITIVE (a replayed batch would double-count), so
    the epoch-state protocol (:func:`_prior_state`) is load-bearing
    exactly as in ``start_kll_stream``. PSI uses the q120 Laplace-(+1)
    smoothed form over the union of reference and observed categories —
    identical arithmetic, so the stream's epoch score equals the batch
    query's on the same rows (pinned by pytest).

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
