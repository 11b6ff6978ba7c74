"""Rate-limited, retrying HTTP push sink with audit capture.

Reference behavior (crowdsorsa-etl-2023.R:181-228, 2024.R:149-196):
one synchronous POST per document to ``{url}/v0/warehouse/push?access_token=…``,
status logged INFO/ERROR with wall-clock stamps, 100 ms sleep per row
(→ ≤10 docs/s total), sanitized responses accumulated and written to
``logs{year}.json`` with the token regex-scrubbed.

Engine design:
* ``mapPartitions`` — each partition pushes its rows with its own rate
  limiter, so global throughput = limit × partitions and scales
  horizontally instead of the reference's global 10/s. Each POST attempt
  opens its own connection (``_post_one`` calls ``urlopen`` per attempt);
  there is no per-partition connection pool or keep-alive.
* token-bucket limiter + exponential-backoff retry on 5xx/connection errors
  (the reference has no retry at all — a failed POST is only logged).
* audit rows are RETURNED as data (mapPartitions), not side-collected:
  the audit log is itself a DataFrame written by a normal JSON sink.
* the access token is redacted from every audit field before the row leaves
  the executor (trap 10: secrets must never reach the sink).
* idempotency: an optional pre-push dedup on ``documentId`` (the reference
  blindly re-POSTs everything each run).

Transport is stdlib ``urllib`` (requests isn't in the image).
"""

from __future__ import annotations

import time
import urllib.error
import urllib.request
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crowdsorsa_etl_spark.config import SinkConfig
from crowdsorsa_etl_spark.operators.checkpointing import materialize
from crowdsorsa_etl_spark.sinks.ledger import (
    compact_ledger,
    epoch_ledger_rows,
    key_prefix,
    read_ledger_keys,
    settled_batch_slice,
)

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("doc_key", T.StringType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("attempts", T.IntegerType()),
        T.StructField("error", T.StringType()),
        T.StructField("response_body", T.StringType()),
        T.StructField("pushed_at", T.StringType()),
    ]
)


class _TokenBucket:
    """Simple token bucket: ``rate`` requests/second, burst of 1."""

    def __init__(self, rate: float):
        self.min_interval = 1.0 / rate if rate > 0 else 0.0
        self._next_ok = 0.0

    def acquire(self) -> None:
        now = time.monotonic()
        if now < self._next_ok:
            time.sleep(self._next_ok - now)
        self._next_ok = max(now, self._next_ok) + self.min_interval


#: 4xx statuses that are TRANSIENT despite the class: retrying identical
#: bytes can succeed once the server recovers (timeout) or the rate window
#: rolls (throttle). Everything else in 4xx is a permanent rejection of
#: these bytes.
TRANSIENT_4XX = frozenset({408, 429})


def is_permanent_4xx(status) -> bool:
    return status is not None and 400 <= status < 500 and status not in TRANSIENT_4XX


def _redact(text: str | None, token: str) -> str | None:
    """Remove the access token anywhere it appears (2023.R:226)."""
    if text is None or not token:
        return text
    return text.replace(token, "")


def _post_one(url: str, body: bytes, timeout: float) -> tuple[int, str]:
    req = urllib.request.Request(
        url, data=body, headers={"Content-Type": "application/json"}, method="POST"
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310 (url from config)
        return resp.status, resp.read().decode("utf-8", "replace")


def push_partition(rows: Iterator[Row], cfg: SinkConfig) -> Iterator[tuple]:
    """Push one partition's documents; yield one audit tuple per document.

    Runs on executors inside mapPartitions — no driver involvement, no
    collect.
    """
    bucket = _TokenBucket(cfg.docs_per_second_per_partition)
    url = f"{cfg.api_url.rstrip('/')}/v0/warehouse/push?access_token={cfg.access_token}"

    for row in rows:
        doc_key = row["obs_id"]
        body = row["document_json"].encode("utf-8")
        status, err, response, attempts = -1, None, None, 0
        for attempt in range(1, cfg.max_retries + 1):
            attempts = attempt
            bucket.acquire()
            try:
                status, response = _post_one(url, body, cfg.timeout_s)
                err = None
            except urllib.error.HTTPError as exc:  # non-2xx with a response
                status = exc.code
                response = exc.read().decode("utf-8", "replace") if exc.fp else ""
                err = str(exc)
            except Exception as exc:  # noqa: BLE001 — connection-level failure
                status, response, err = -1, None, str(exc)
            if 200 <= status < 300:
                break
            if is_permanent_4xx(status):
                break  # permanent client error: identical bytes cannot help
            # 5xx, connection failures, and transient 4xx (408 timeout,
            # 429 throttle) back off and retry
            time.sleep(cfg.retry_backoff_s * (2 ** (attempt - 1)))

        yield (
            doc_key,
            status,
            200 <= status < 300,
            attempts,
            _redact(err, cfg.access_token),
            _redact(response, cfg.access_token),
            time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(time.time())),
        )


def push_documents(
    docs: DataFrame,
    cfg: SinkConfig,
    *,
    dedup: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed push; returns the audit DataFrame (trigger with an action
    or hand it to ``write_audit_log``).

    ``dedup=True`` keeps one row per document key before pushing — the
    idempotency improvement over the reference's blind re-push.
    ``num_partitions`` controls parallelism and therefore the global rate:
    global docs/s = cfg.docs_per_second_per_partition × partitions.
    """
    selected = docs.select("obs_id", "document_json")
    if dedup:
        selected = selected.dropDuplicates(["obs_id"])
    if num_partitions is not None:
        selected = selected.repartition(num_partitions)

    def run(it: Iterator[Row]) -> Iterator[tuple]:
        return push_partition(it, cfg)

    return selected.rdd.mapPartitions(run).toDF(AUDIT_SCHEMA)


def push_documents_idempotent(
    batch_df: DataFrame,
    cfg: SinkConfig,
    *,
    ledger_dir: str,
    epoch_id: int,
    compact_every: int | None = None,
) -> DataFrame:
    """Exactly-once-per-documentId push across STREAM RESTARTS.

    Structured Streaming's foreachBatch is at-least-once: a crash between a
    completed push and the checkpoint's epoch commit replays the whole batch
    on restart, re-POSTing every document. This wrapper keeps a pushed-keys
    ledger (epoch-partitioned parquet; each epoch overwrites its own
    ``epoch=<id>`` directory, so a replay rewrites rather than appends):

    1. anti-join the batch against every key already in the ledger,
    2. push only the remainder (push_documents, dedup within batch),
    3. record the pushed keys under ``epoch=<id>`` — the commit point.

    A replayed epoch finds its settled keys in the ledger and pushes
    nothing. The epoch's ledger partition always records the FULL settled
    key set for the batch — keys settled by this run UNION batch keys
    already settled in an earlier ledger epoch — so a replay's overwrite
    rewrites the same key set instead of erasing it with an empty audit
    (a second crash after that erasure would otherwise re-POST).

    Only SETTLED outcomes enter the ledger: 2xx successes and PERMANENT
    4xx client errors (retrying identical bytes cannot succeed, and
    re-recording them only re-spams the API on every replay). Transient
    failures — 5xx, connection errors, and the transient 4xx statuses 408
    (timeout) and 429 (throttle) that merely exhausted push_partition's
    retry budget — are NOT recorded, so those documents stay eligible for
    redelivery on the next epoch or restart.

    The remaining duplicate window is a crash BETWEEN 2 and 3 (some POSTs
    landed, ledger absent) — irreducible without API-side idempotency
    keys, and one epoch wide at most.

    Per-batch cost stays FLAT in stream age (sinks/ledger.py scale
    contract): the ledger is read pruned to the batch's key prefixes,
    reduced to the batch-bounded ``settled_batch_slice`` with a broadcast
    semi-join (the full history is scanned but never shuffled or
    materialized), and — when ``compact_every`` is set — folded into the
    prefix-partitioned base every N epochs so the scan itself stops
    growing with the number of elapsed epochs.
    """
    spark = batch_df.sparkSession
    batch = batch_df.select("obs_id", "document_json")
    # ≤256 distinct md5-derived prefixes — a bounded driver-side collect
    # that buys directory-level pruning of the compacted ledger base
    prefixes = [
        r[0] for r in batch.select(key_prefix("obs_id")).distinct().collect()
    ]
    # missing ledger = first epoch; any OTHER read failure propagates
    # (silently treating it as first-epoch would re-POST every document)
    seen = read_ledger_keys(
        spark,
        ledger_dir,
        ["obs_id", "ok", "status_code"],
        key_prefixes=prefixes,
    )
    settled_prior = settled_batch_slice(seen, batch, "obs_id")
    fresh = batch
    if settled_prior is not None:
        settled_prior = materialize(settled_prior)  # batch-bounded
        fresh = batch.join(
            F.broadcast(settled_prior.select("obs_id")), "obs_id", "left_anti"
        )
    audit = materialize(push_documents(
        fresh,
        cfg,
        dedup=True,
    ))  # materialize: the POSTs must happen exactly once
    permanent_4xx = (
        F.col("status_code").between(400, 499)
        & ~F.col("status_code").isin(sorted(TRANSIENT_4XX))
    )
    settled_now = audit.filter(F.col("ok") | permanent_4xx).select(
        F.col("doc_key").alias("obs_id"), "ok", "status_code"
    )
    # replay safety: the epoch partition records the FULL batch key set with
    # original ok/status preserved (sinks/ledger.epoch_ledger_rows) —
    # settled_prior is already the batch-bounded slice of the history
    ledger_rows = epoch_ledger_rows(settled_now, settled_prior, batch, "obs_id")
    # cut lineage before overwriting a path the plan reads from
    (
        materialize(ledger_rows)
        .write.mode("overwrite")
        .parquet(f"{ledger_dir}/epoch={epoch_id}")
    )
    if compact_every and epoch_id % compact_every == compact_every - 1:
        compact_ledger(spark, ledger_dir, key_col="obs_id")
    return audit


def write_audit_log(audit: DataFrame, path: str, cfg: SinkConfig) -> None:
    """Persist the audit rows as JSON with a final defense-in-depth redaction
    pass (2023.R:224-228). Partitioned write — no coalesce(1) at scale."""
    redacted = audit
    if cfg.access_token:
        for field in ("error", "response_body"):
            # F.replace is a literal substitution — no regex-metachar risk
            # from token contents (the reference's gsub has that bug).
            redacted = redacted.withColumn(
                field, F.replace(F.col(field), F.lit(cfg.access_token), F.lit(""))
            )
    redacted.write.mode("overwrite").json(path)
