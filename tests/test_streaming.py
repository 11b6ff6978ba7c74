"""Streaming mode: memory-sink micro-batch runs over the events fixture,
cross-checked against the equivalent batch aggregation."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.sources.parquet import load_table
from crowdsorsa_etl_spark.streaming.pipeline import (
    deduped_events,
    read_event_stream,
    session_counts,
    sliding_counts,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"
EVENTS_PATH = f"{SF_DIR}/events.parquet"


def _run_to_completion(df, name: str, spark, mode: str = "append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


class TestStreamingWindows:
    def test_tumbling_matches_batch(self, spark):
        stream = read_event_stream(spark, EVENTS_PATH)
        got = _run_to_completion(
            tumbling_counts(stream), "t_tumbling", spark, mode="append"
        )
        # batch ground truth over the same file
        events = load_table(spark, "events", SF_DIR)
        expect = (
            events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .count()
        )
        # append mode emits only watermark-closed windows; all but the last
        # open hour per type close once the (single) file is processed
        assert got.count() > 0
        assert got.count() <= expect
        # every emitted row must agree with batch
        batch = {
            (r.window_start, r.event_type): r.n
            for r in (
                events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("w.start").alias("window_start"), "event_type", "n")
                .collect()
            )
        }
        for r in got.collect():
            assert batch[(r.window_start, r.event_type)] == r.n

    def test_sliding_runs(self, spark):
        stream = read_event_stream(spark, EVENTS_PATH)
        got = _run_to_completion(sliding_counts(stream), "t_sliding", spark)
        assert got.count() > 0

    def test_session_window_runs(self, spark):
        stream = read_event_stream(spark, EVENTS_PATH)
        got = _run_to_completion(session_counts(stream), "t_session", spark)
        assert got.count() > 0
        row = got.first()
        assert row.session_end > row.session_start

    def test_dedup_is_idempotent(self, spark):
        stream = read_event_stream(spark, EVENTS_PATH)
        got = _run_to_completion(deduped_events(stream), "t_dedup", spark)
        n_events = load_table(spark, "events", SF_DIR).count()
        assert got.count() == n_events  # fixture has no dup ids → all pass
        assert got.select("event_id").distinct().count() == n_events


class TestStatefulOperator:
    def test_running_user_stats_match_batch(self, spark):
        from crowdsorsa_etl_spark.streaming.pipeline import running_user_stats

        stream = read_event_stream(spark, EVENTS_PATH)
        got = _run_to_completion(
            running_user_stats(stream), "t_stateful", spark, mode="update"
        )
        # single micro-batch → one update row per user == batch aggregation
        events = load_table(spark, "events", SF_DIR)
        batch = {
            r.user_id: (r.n, round(r.total, 2))
            for r in events.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        rows = got.collect()
        assert len(rows) == len(batch)
        for r in rows:
            n, total = batch[r.user_id]
            assert r.n_events == n
            assert abs(r.total_value - total) < 0.02
            assert r.last_event_type is not None


class TestKafkaContract:
    """No broker in the image: the Kafka decode is contract-tested on a
    batch DataFrame with the Kafka source's wire shape, against the same
    fixture rows the file source yields."""

    def test_decode_matches_file_source_rows(self, spark):
        from crowdsorsa_etl_spark.sources.parquet import load_table
        from crowdsorsa_etl_spark.streaming.pipeline import (
            EVENTS_RAW,
            decode_kafka_events,
        )

        # build the wire payload from the canonical batch load (encoding-
        # independent), converting ts to the documented long-nanos contract —
        # reading the fixture with the raw nanos schema would bake in one
        # particular fixture encoding and break when the build flips to
        # naive micros
        raw = (
            load_table(spark, "events", "/root/testdata/sf0.001")
            .withColumn("ts", F.expr("unix_micros(ts)") * F.lit(1000))
            .limit(50)
        )
        # serialize to the Kafka wire shape: JSON value bytes + key bytes
        wire = raw.select(
            F.col("event_id").cast("string").cast("binary").alias("key"),
            F.to_json(F.struct(*[F.col(f.name) for f in EVENTS_RAW])).cast(
                "binary"
            ).alias("value"),
            F.lit("events").alias("topic"),
        )
        decoded = {
            r.event_id: (r.ts, r.user_id, r.event_type, r.value, r.props)
            for r in decode_kafka_events(wire).collect()
        }
        expected = {
            r.event_id: (r.ts, r.user_id, r.event_type, r.value, r.props)
            for r in load_table(spark, "events", "/root/testdata/sf0.001")
            .limit(50)
            .collect()
        }
        assert decoded == expected

    def test_corrupt_values_dropped(self, spark):
        from crowdsorsa_etl_spark.streaming.pipeline import decode_kafka_events

        wire = spark.createDataFrame(
            [(b"1", b"not json"), (b"2", b'{"event_id": 7, "ts": 1700000000000000000, '
             b'"user_id": 1, "event_type": "x", "value": 1.5, "props": "{}"}')],
            "key binary, value binary",
        )
        rows = decode_kafka_events(wire).collect()
        assert len(rows) == 1 and rows[0].event_id == 7


class TestStreamStreamJoin:
    def test_attribution_matches_batch(self, spark):
        from crowdsorsa_etl_spark.streaming.pipeline import attribution_join

        # streaming result (single-file micro-batch; inner join emits
        # matches as both watermarks pass)
        stream = read_event_stream(spark, EVENTS_PATH)
        views_s = stream.filter(F.col("event_type") == "view")
        clicks_s = stream.filter(F.col("event_type") == "click")
        got = _run_to_completion(
            attribution_join(views_s, clicks_s), "t_attr", spark
        )

        # batch ground truth: same operator body on the batch table
        events = load_table(spark, "events", SF_DIR)
        expect = attribution_join(
            events.filter(F.col("event_type") == "view"),
            events.filter(F.col("event_type") == "click"),
        )
        got_set = {
            (r.user_id, r.click_id, r.view_id) for r in got.collect()
        }
        expect_set = {
            (r.user_id, r.click_id, r.view_id) for r in expect.collect()
        }
        assert expect_set, "fixture must contain view->click pairs"
        # a single processAllAvailable pass emits every pair whose watermark
        # closed; with one input file that is the complete join
        assert got_set == expect_set


class TestExactlyOnceParquetSink:
    def test_stream_lands_all_rows_partitioned_by_epoch(self, spark, tmp_path):
        from crowdsorsa_etl_spark.streaming.pipeline import start_parquet_sink

        out = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        stream = read_event_stream(spark, EVENTS_PATH)
        q = start_parquet_sink(stream, out, checkpoint_dir=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.read.parquet(out)
        batch = load_table(spark, "events", SF_DIR)
        assert got.count() == batch.count()
        assert "epoch" in got.columns  # delivery lineage via partition dir
        # no row duplicated across epochs
        assert got.select("event_id").distinct().count() == batch.count()

    def test_duplicate_epoch_replay_is_idempotent(self, spark, tmp_path):
        from crowdsorsa_etl_spark.sinks.writers import epoch_parquet_writer

        out = str(tmp_path / "replay")
        writer = epoch_parquet_writer(out)
        batch = load_table(spark, "events", SF_DIR).limit(100)
        writer(batch, 7)
        first = sorted(r.event_id for r in spark.read.parquet(out).collect())
        # crash-recovery replay of the SAME epoch must overwrite, not append
        writer(batch, 7)
        writer(batch, 7)
        again = sorted(r.event_id for r in spark.read.parquet(out).collect())
        assert again == first
        assert len(again) == 100

    def test_distinct_epochs_accumulate(self, spark, tmp_path):
        from crowdsorsa_etl_spark.sinks.writers import epoch_parquet_writer

        out = str(tmp_path / "epochs")
        writer = epoch_parquet_writer(out)
        events = load_table(spark, "events", SF_DIR)
        writer(events.limit(10), 0)
        writer(events.limit(30).subtract(events.limit(10)), 1)
        got = spark.read.parquet(out)
        assert got.count() == 30
        assert sorted(r.epoch for r in got.select("epoch").distinct().collect()) == [0, 1]


class TestCheckpointRestart:
    def test_restart_resumes_without_reprocessing(self, spark, tmp_path):
        """Kill the query mid-stream, add new input, restart with the SAME
        checkpoint: offsets resume — previously-committed files are not
        re-read (their epoch dirs are untouched), new files land exactly
        once. This is the crash-recovery contract the epoch-partitioned
        sink + checkpoint pair exists to provide."""
        import os
        import shutil

        from crowdsorsa_etl_spark.streaming.pipeline import (
            read_event_stream,
            start_parquet_sink,
        )

        src = str(tmp_path / "incoming")
        os.makedirs(src)
        out = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        # the stream source contract reads ts as INT64 nanos (the fixture
        # layout); staged copies must preserve that physical type
        events = load_table(spark, "events", SF_DIR).withColumn(
            "ts", (F.unix_micros("ts") * 1000).cast("long")
        )

        # phase 1: two input files, run to quiescence, stop
        events.filter(F.col("event_id") < 100).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "f1"))
        events.filter(
            (F.col("event_id") >= 100) & (F.col("event_id") < 200)
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "f2"))
        for i, d in enumerate(("f1", "f2")):
            part = [
                f for f in os.listdir(tmp_path / d) if f.endswith(".parquet")
            ][0]
            shutil.copy(tmp_path / d / part, f"{src}/batch{i}.parquet")

        stream = read_event_stream(spark, src)
        q = start_parquet_sink(stream, out, checkpoint_dir=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        phase1 = spark.read.parquet(out)
        n1 = phase1.count()
        assert n1 == 200
        epochs1 = {r.epoch for r in phase1.select("epoch").distinct().collect()}
        mtimes1 = {
            d: os.path.getmtime(os.path.join(out, d))
            for d in os.listdir(out)
            if d.startswith("epoch=")
        }

        # phase 2: new file arrives while the query is DOWN; restart
        events.filter(
            (F.col("event_id") >= 200) & (F.col("event_id") < 250)
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "f3"))
        part = [
            f for f in os.listdir(tmp_path / "f3") if f.endswith(".parquet")
        ][0]
        shutil.copy(tmp_path / "f3" / part, f"{src}/batch2.parquet")

        stream2 = read_event_stream(spark, src)
        q2 = start_parquet_sink(stream2, out, checkpoint_dir=ckpt)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

        got = spark.read.parquet(out)
        assert got.count() == 250
        assert got.select("event_id").distinct().count() == 250
        # old epoch directories were not rewritten on restart
        for d, m in mtimes1.items():
            assert os.path.getmtime(os.path.join(out, d)) == m, d
        # the resumed batch got a NEW epoch id, continuing the sequence
        epochs2 = {r.epoch for r in got.select("epoch").distinct().collect()}
        assert epochs1 < epochs2


class TestStreamingObserve:
    def test_observed_metrics_ride_the_stream(self, spark):
        """df.observe on a STREAMING frame: per-micro-batch metrics arrive
        in QueryProgress.observedMetrics with the same action that writes
        the sink — zero extra passes (the streaming face of
        sinks/metrics.observed)."""
        from crowdsorsa_etl_spark.streaming.pipeline import read_event_stream

        stream = read_event_stream(spark, EVENTS_PATH).observe(
            "ingest",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).alias("n_high"),
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("obs_sink")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            progresses = [
                p for p in q.recentProgress if p.get("observedMetrics")
            ]
        finally:
            q.stop()
        assert progresses, "at least one batch must report observed metrics"
        total = sum(
            p["observedMetrics"]["ingest"]["n_rows"] for p in progresses
        )
        batch = load_table(spark, "events", SF_DIR)
        assert total == batch.count()
        high = sum(
            p["observedMetrics"]["ingest"]["n_high"] for p in progresses
        )
        assert high == batch.filter(F.col("value") > 50).count()


class TestEmptyDirDefinition:
    def test_stream_defines_against_empty_directory(self, spark, tmp_path):
        """Arriving-files deployment: the directory may be EMPTY at stream
        definition time — the encoding peek cannot infer a schema there and
        must fall back to the canonical nanos layout instead of raising.
        Files arriving after definition are then processed normally."""
        import os
        import shutil

        src = str(tmp_path / "incoming")
        os.makedirs(src)
        stream = read_event_stream(spark, src)  # must not raise
        q = (
            stream.writeStream.format("memory")
            .queryName("empty_dir_sink")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.sql("SELECT * FROM empty_dir_sink").count() == 0
            # first file arrives AFTER the stream is live (nanos layout,
            # matching the fallback schema)
            events = load_table(spark, "events", SF_DIR).withColumn(
                "ts", (F.unix_micros("ts") * 1000).cast("long")
            )
            staging = str(tmp_path / "f1")
            events.limit(50).coalesce(1).write.mode("overwrite").parquet(staging)
            part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
            shutil.copy(os.path.join(staging, part), f"{src}/batch0.parquet")
            q.processAllAvailable()
            got = spark.sql("SELECT * FROM empty_dir_sink")
            assert got.count() == 50
            assert dict(got.dtypes)["ts"] == "timestamp"
        finally:
            q.stop()

    def test_explicit_encoding_override(self, spark):
        """ts_encoding pins the declared schema without a peek — the knob
        for deployments whose directory starts empty but whose files are
        NOT the canonical nanos layout."""
        stream = read_event_stream(spark, EVENTS_PATH, ts_encoding=None)
        q = (
            stream.writeStream.format("memory")
            .queryName("enc_sink")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        n = spark.sql("SELECT * FROM enc_sink").count()
        batch = load_table(spark, "events", SF_DIR)
        assert n == batch.count()


class TestOuterStreamStreamJoin:
    def test_left_outer_emits_unattributed_clicks(self, spark):
        """Outer stream-stream join: unattributed clicks must emit with NULL
        view columns once the watermark passes their match horizon; matched
        pairs must equal the inner join exactly. Clicks newer than
        (max event time - watermark) may legally be withheld — they could
        still match future data — so the stream's NULL set is a subset of
        batch's unmatched clicks, non-empty on this fixture."""
        from crowdsorsa_etl_spark.streaming.pipeline import attribution_join

        stream = read_event_stream(spark, EVENTS_PATH)
        got = _run_to_completion(
            attribution_join(
                stream.filter(F.col("event_type") == "view"),
                stream.filter(F.col("event_type") == "click"),
                how="left_outer",
            ),
            "t_attr_outer",
            spark,
        ).collect()

        events = load_table(spark, "events", SF_DIR)
        views_b = events.filter(F.col("event_type") == "view")
        clicks_b = events.filter(F.col("event_type") == "click")
        inner_b = {
            (r.user_id, r.click_id, r.view_id)
            for r in attribution_join(views_b, clicks_b).collect()
        }
        outer_b = attribution_join(views_b, clicks_b, how="left_outer").collect()
        unmatched_b = {r.click_id for r in outer_b if r.view_id is None}

        got_inner = {
            (r.user_id, r.click_id, r.view_id)
            for r in got
            if r.view_id is not None
        }
        got_nulls = {r.click_id for r in got if r.view_id is None}

        assert got_inner == inner_b  # matched pairs identical to inner join
        assert got_nulls, "fixture must yield watermark-closed unmatched clicks"
        assert got_nulls <= unmatched_b  # no false NULLs
        # every null-emitted click is genuinely unmatched AND watermark-aged
        assert not (got_nulls & {r.click_id for r in outer_b if r.view_id is not None})


class TestDedupWithinWatermark:
    def test_restamped_duplicates_collapse(self, spark, tmp_path):
        """A retransmitted event with a LATER timestamp (at-least-once
        producer that re-stamps on retry) must still dedup on event_id —
        the case dropDuplicates([id, ts]) cannot catch."""
        import os
        import shutil

        from crowdsorsa_etl_spark.streaming.pipeline import (
            deduped_events_within_watermark,
        )

        src = str(tmp_path / "in")
        os.makedirs(src)
        base = load_table(spark, "events", SF_DIR).limit(20)
        nanos = base.withColumn("ts", (F.unix_micros("ts") * 1000).cast("long"))
        # original batch + re-stamped duplicates (+1s) of the same ids
        dup = nanos.withColumn("ts", F.col("ts") + F.lit(1_000_000_000))
        for i, df in enumerate((nanos, dup)):
            staging = str(tmp_path / f"s{i}")
            df.coalesce(1).write.mode("overwrite").parquet(staging)
            part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
            shutil.copy(os.path.join(staging, part), f"{src}/b{i}.parquet")

        stream = read_event_stream(spark, src)
        q = (
            deduped_events_within_watermark(stream)
            .writeStream.format("memory")
            .queryName("dedup_wm")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql("SELECT event_id FROM dedup_wm").collect()
        ids = [r.event_id for r in got]
        assert sorted(set(ids)) == sorted(r.event_id for r in base.collect())
        assert len(ids) == len(set(ids)), "re-stamped duplicates must collapse"


class TestStreamingUpsertSink:
    def test_cdc_apply_keeps_latest_per_key(self, spark, tmp_path):
        """Two micro-batches with overlapping user_ids: the upsert sink must
        land the latest row per key (CDC apply), and replaying the same
        batch (idempotence) must not change the table."""
        import os
        import shutil

        from crowdsorsa_etl_spark.sinks.writers import upsert_parquet
        from crowdsorsa_etl_spark.streaming.pipeline import start_upsert_sink

        src = str(tmp_path / "in")
        out = str(tmp_path / "table")
        ck = str(tmp_path / "ck")
        os.makedirs(src)

        events = load_table(spark, "events", SF_DIR).withColumn(
            "ts", (F.unix_micros("ts") * 1000).cast("long")
        )
        b0 = events.filter(F.col("event_id") < 40)
        # batch 1 re-keys 20 of the same users with LATER event ids
        b1 = (
            events.filter((F.col("event_id") >= 40) & (F.col("event_id") < 60))
        )

        for i, df in enumerate((b0, b1)):
            staging = str(tmp_path / f"s{i}")
            df.coalesce(1).write.mode("overwrite").parquet(staging)
            part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
            shutil.copy(os.path.join(staging, part), f"{src}/b{i}.parquet")

        stream = read_event_stream(spark, src)
        q = start_upsert_sink(
            stream, out, checkpoint_dir=ck, key_cols=["user_id"], order_col="event_id"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {r.user_id: r.event_id for r in spark.read.parquet(out).collect()}
        # ground truth: latest event_id per user over both batches
        both = events.filter(F.col("event_id") < 60)
        expect = {
            r.user_id: r.event_id
            for r in both.groupBy("user_id")
            .agg(F.max("event_id").alias("event_id"))
            .collect()
        }
        assert got == expect
        # idempotent re-apply of the last batch: state unchanged (the staged
        # copy carries raw nanos — finalize ts the way the stream did)
        upsert_parquet(
            spark,
            out,
            spark.read.parquet(str(tmp_path / "s1")).withColumn(
                "ts", F.expr("timestamp_micros(ts div 1000)")
            ),
            key_cols=["user_id"],
            order_col="event_id",
        )
        again = {r.user_id: r.event_id for r in spark.read.parquet(out).collect()}
        assert again == expect


class TestStreamStaticJoin:
    def test_enrichment_matches_batch(self, spark):
        """Stream-static left join against the customer dim must emit
        exactly the batch join's rows — including events whose user has no
        dim row (NULL attributes), which an inner join would drop."""
        from crowdsorsa_etl_spark.streaming.pipeline import enrich_events

        dim = load_table(spark, "customer", SF_DIR).select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
        stream = read_event_stream(spark, EVENTS_PATH)
        got = _run_to_completion(
            enrich_events(stream, dim, on="user_id"), "t_enrich", spark
        )
        batch = enrich_events(
            load_table(spark, "events", SF_DIR), dim, on="user_id"
        )
        got_set = {
            (r.event_id, r.c_mktsegment) for r in got.collect()
        }
        expect_set = {
            (r.event_id, r.c_mktsegment) for r in batch.collect()
        }
        assert got_set == expect_set
        assert any(seg is None for _, seg in expect_set) or all(
            seg is not None for _, seg in expect_set
        )  # shape check only; parity above is the gate


class TestCurationStream:
    @staticmethod
    def _stage(spark, tmp_path, src, schema, name, rows):
        import os

        staging = str(tmp_path / f"_st_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
        os.rename(os.path.join(staging, part), os.path.join(src, name))

    def test_cross_batch_dedup_and_chunks(self, spark, tmp_path):
        """Streaming curation: quality filter drops junk, a duplicate text
        arriving in a LATER batch is dropped by the ledger, and the chunk
        output matches the batch chunker over the surviving docs."""
        import os

        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_curation_stream,
        )

        good = " ".join(f"the token{i} and data value" for i in range(40))
        good2 = " ".join(f"the other{i} in stream chunk" for i in range(50))
        junk = "1 2"  # fails the min-token quality gate
        src = str(tmp_path / "docs")
        os.makedirs(src)
        schema = "doc_id long, text string"

        stage = lambda n, r: self._stage(spark, tmp_path, src, schema, n, r)  # noqa: E731
        stage("b1.parquet", [(1, good), (2, junk)])
        stage("b2.parquet", [(3, good), (4, good2)])  # 3 duplicates 1's text

        out = str(tmp_path / "chunks")
        q = start_curation_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out,
            checkpoint_dir=str(tmp_path / "ckpt"),
            ledger_dir=str(tmp_path / "ledger"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        chunks = spark.read.parquet(out)
        docs_out = {r.doc_id for r in chunks.select("doc_id").distinct().collect()}
        assert docs_out == {1, 4}  # junk filtered, cross-batch dup dropped

        # chunk layout matches the batch chunker's 64/48 grid
        n_tokens_good = len(good.split())
        want_chunks_1 = len(range(0, n_tokens_good, 48))
        assert chunks.filter("doc_id = 1").count() == want_chunks_1
        ledger = spark.read.parquet(str(tmp_path / "ledger"))
        assert ledger.select("_md5").distinct().count() == 2

    def test_restart_replay_appends_no_duplicate_chunks(self, spark, tmp_path):
        """Kill after epoch 0 (commit marker deleted), restart: the replayed
        epoch anti-joins to nothing against the ledger, so the chunk corpus
        holds each document exactly once across the restart."""
        import os

        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_curation_stream,
        )

        text = " ".join(f"the word{i} and data value" for i in range(40))
        src = str(tmp_path / "docs")
        os.makedirs(src)
        schema = "doc_id long, text string"

        stage = lambda n, r: self._stage(spark, tmp_path, src, schema, n, r)  # noqa: E731
        out = str(tmp_path / "chunks")
        ckpt = str(tmp_path / "ckpt")

        def run():
            q = start_curation_stream(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                out,
                checkpoint_dir=ckpt,
                ledger_dir=str(tmp_path / "ledger"),
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        stage("b1.parquet", [(1, text)])
        run()
        n_after_first = spark.read.parquet(out).count()
        assert n_after_first > 0

        os.remove(os.path.join(ckpt, "commits", "0"))
        crc = os.path.join(ckpt, "commits", ".0.crc")
        if os.path.exists(crc):
            os.remove(crc)
        stage("b2.parquet", [(2, text + " extra tail beyond the duplicate")])
        run()

        chunks = spark.read.parquet(out)
        assert chunks.count() == n_after_first + chunks.filter("doc_id = 2").count()
        assert chunks.filter("doc_id = 1").count() == n_after_first


class TestStreamingDecontamination:
    """decontam_index_dir wiring: each micro-batch probes the persisted
    eval-shingle index; the drained stream's flagged spans must equal the
    batch substring_decontamination_spans over the same corpus."""

    def test_stream_spans_match_batch(self, spark, tmp_path):
        import os

        from crowdsorsa_etl_spark.operators.substring import (
            substring_decontamination_spans,
            substring_write_index,
        )
        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_curation_stream,
        )

        # eval doc: 20 distinct tokens; corpus docs embed an 11-token run
        eval_toks = [f"bench{i}" for i in range(20)]
        leak = " ".join(eval_toks[5:16])
        filler = lambda tag, n: " ".join(  # noqa: E731
            f"the {tag}{i} and data value" for i in range(n)
        )
        d1 = f"{filler('aa', 10)} {leak} {filler('bb', 10)}"   # leaks
        d2 = filler("cc", 25)                                   # clean
        d3 = f"{leak} {filler('dd', 12)}"                       # leaks at 0
        schema = "doc_id long, text string"
        corpus = spark.createDataFrame(
            [(1, d1), (2, d2), (3, d3)], schema
        )
        eval_df = spark.createDataFrame(
            [(100, " ".join(eval_toks))], schema
        )

        idx = str(tmp_path / "evalidx")
        substring_write_index(eval_df, idx)

        src = str(tmp_path / "docs")
        os.makedirs(src)
        TestCurationStream._stage(
            spark, tmp_path, src, schema, "b1.parquet", [(1, d1), (2, d2)]
        )
        TestCurationStream._stage(
            spark, tmp_path, src, schema, "b2.parquet", [(3, d3)]
        )

        out = str(tmp_path / "chunks")
        spans_dir = str(tmp_path / "spans")
        q = start_curation_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out,
            checkpoint_dir=str(tmp_path / "ckpt"),
            ledger_dir=str(tmp_path / "ledger"),
            decontam_index_dir=idx,
            decontam_spans_dir=spans_dir,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {
            (r.doc_id, r.span_start, r.span_end, r.n_tokens)
            for r in spark.read.parquet(spans_dir).collect()
        }
        want = {
            (r.doc_id, r.span_start, r.span_end, r.n_tokens)
            for r in substring_decontamination_spans(
                corpus, eval_df, min_run=8
            ).collect()
        }
        assert got == want and got  # non-empty: the leaks were flagged

    def test_default_spans_dir_and_replay_overwrite(self, spark, tmp_path):
        import os

        from crowdsorsa_etl_spark.operators.substring import (
            substring_write_index,
        )
        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_curation_stream,
        )

        eval_toks = " ".join(f"q{i}" for i in range(15))
        doc = (
            " ".join(f"the lead{i} and data value" for i in range(10))
            + " " + eval_toks
        )
        schema = "doc_id long, text string"
        eval_df = spark.createDataFrame([(9, eval_toks)], schema)
        idx = str(tmp_path / "evalidx")
        substring_write_index(eval_df, idx)

        src = str(tmp_path / "docs")
        os.makedirs(src)
        TestCurationStream._stage(
            spark, tmp_path, src, schema, "b1.parquet", [(1, doc)]
        )
        out = str(tmp_path / "chunks")
        ckpt = str(tmp_path / "ckpt")

        def run():
            q = start_curation_stream(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                out,
                checkpoint_dir=ckpt,
                ledger_dir=str(tmp_path / "ledger"),
                decontam_index_dir=idx,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run()
        spans_dir = out.rstrip("/") + "_decontam_spans"
        first = spark.read.parquet(spans_dir).collect()
        assert len(first) == 1  # the 15-token eval tail

        # crash-replay epoch 0: the probe runs on the PRE-ledger set (a
        # pure function of batch content), so the replayed epoch rewrites
        # exactly the same spans — no loss, no duplicates
        os.remove(os.path.join(ckpt, "commits", "0"))
        crc = os.path.join(ckpt, "commits", ".0.crc")
        if os.path.exists(crc):
            os.remove(crc)
        run()
        again = spark.read.parquet(spans_dir).collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, first))


class TestSequencePackStream:
    """start_sequence_pack_stream: the drained stream's complete sequences
    plus the carried tail must equal the batch pack_token_sequences output
    on the same corpus — sequences crossing both document and micro-batch
    boundaries."""

    def _stage(self, spark, tmp_path, src, schema, name, rows):
        import os

        staging = str(tmp_path / f"_stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
        os.rename(os.path.join(staging, part), os.path.join(src, name))

    def test_stream_matches_batch_packer(self, spark, tmp_path):
        import os

        from crowdsorsa_etl_spark.operators.bpe import (
            bpe_encode_ids,
            bpe_learn_merges,
            bpe_vocab,
        )
        from crowdsorsa_etl_spark.operators.curation import (
            pack_token_sequences,
        )
        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_sequence_pack_stream,
        )

        schema = "doc_id long, text string"
        b1 = [(1, "low lower lowest low low"), (2, "new newest newer")]
        b2 = [(3, "the widest wide low new"), (4, "wide wide low")]
        b3 = [(5, "newest newest lowest")]
        corpus = spark.createDataFrame(b1 + b2 + b3, schema)
        merges = [
            tuple(r["pair"].split(" "))
            for r in bpe_learn_merges(corpus, n_merges=6).collect()
        ]
        vocab_rows = bpe_vocab(corpus, merges).collect()
        vocab = {r["token"]: r["token_id"] for r in vocab_rows}
        eos = len(vocab_rows)
        max_len = 16

        src = str(tmp_path / "docs")
        os.makedirs(src)
        for i, b in enumerate((b1, b2, b3)):
            self._stage(spark, tmp_path, src, schema, f"b{i}.parquet", b)
        out, state = str(tmp_path / "out"), str(tmp_path / "state")
        q = start_sequence_pack_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out,
            state,
            checkpoint_dir=str(tmp_path / "ckpt"),
            merges=merges,
            vocab=vocab,
            eos_id=eos,
            max_len=max_len,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        ids = bpe_encode_ids(corpus, merges, vocab, ids_col="token_ids")
        want = {
            r.seq_id: (r.seq_len, list(r.ids))
            for r in pack_token_sequences(
                ids,
                "token_ids",
                [F.col("doc_id")],
                max_len=max_len,
                eos_id=eos,
            ).collect()
        }
        got = {
            r.seq_id: (r.seq_len, list(r.ids))
            for r in spark.read.parquet(out).collect()
        }
        want_complete = {
            s: v for s, v in want.items() if v[0] == max_len
        }
        assert got == want_complete
        # every emitted sequence is exactly max_len; the batch tail (if
        # short) is exactly the stream's carried state
        import os as _os

        epochs = sorted(
            d for d in _os.listdir(state) if d.startswith("epoch=")
        )
        final = spark.read.schema(
            "seqs_done long, carry array<int>"
        ).parquet(_os.path.join(state, epochs[-1])).collect()[0]
        tail = [v for s, v in want.items() if v[0] < max_len]
        assert list(final["carry"]) == (tail[0][1] if tail else [])
        assert final["seqs_done"] == len(want_complete)

    def test_replayed_epoch_is_idempotent(self, spark, tmp_path):
        import os

        from crowdsorsa_etl_spark.operators.bpe import (
            bpe_learn_merges,
            bpe_vocab,
        )
        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_sequence_pack_stream,
        )

        schema = "doc_id long, text string"
        rows = [(i, "alpha beta gamma delta") for i in range(6)]
        corpus = spark.createDataFrame(rows, schema)
        merges = [
            tuple(r["pair"].split(" "))
            for r in bpe_learn_merges(corpus, n_merges=4).collect()
        ]
        vocab_rows = bpe_vocab(corpus, merges).collect()
        vocab = {r["token"]: r["token_id"] for r in vocab_rows}

        src = str(tmp_path / "docs")
        os.makedirs(src)
        self._stage(spark, tmp_path, src, schema, "b0.parquet", rows)

        def run(ckpt):
            q = start_sequence_pack_stream(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                str(tmp_path / "out"),
                str(tmp_path / "state"),
                checkpoint_dir=str(tmp_path / ckpt),
                merges=merges,
                vocab=vocab,
                eos_id=len(vocab_rows),
                max_len=8,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run("ckpt1")
        first = {
            r.seq_id: list(r.ids)
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }
        # fresh checkpoint replays epoch 0 from the same carried state
        run("ckpt2")
        second = {
            r.seq_id: list(r.ids)
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }
        assert first == second and first


class TestDriftStream:
    def test_epoch_psi_matches_batch_formula(self, spark, tmp_path):
        """The drained stream's per-epoch PSI report must equal the
        q106-style batch computation for the same (reference, slice)
        pair — independently recomputed here in plain python."""
        import math
        import os

        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_drift_stream,
        )

        schema = "doc_id long, n_chars long"
        ref_rows = [(i, 50 + (i * 37) % 500) for i in range(0, 200, 2)]
        b1 = [(i, 50 + (i * 11) % 300) for i in range(1, 100, 2)]
        b2 = [(i, 400 + (i * 7) % 150) for i in range(101, 200, 2)]
        reference = spark.createDataFrame(ref_rows, schema)

        src = str(tmp_path / "docs")
        os.makedirs(src)
        for name, rows in (("b1.parquet", b1), ("b2.parquet", b2)):
            staging = str(tmp_path / f"_stage_{name}")
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staging)
            part = [
                f for f in os.listdir(staging) if f.endswith(".parquet")
            ][0]
            os.rename(
                os.path.join(staging, part), os.path.join(src, name)
            )

        out = str(tmp_path / "out")
        q = start_drift_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            reference,
            "n_chars",
            out,
            checkpoint_dir=str(tmp_path / "ckpt"),
            bins=10,
            bin_width=60.0,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        def hist(rows):
            h = {}
            for _, v in rows:
                b = min(int(v // 60), 9)
                h[b] = h.get(b, 0) + 1
            return h

        def psi(exp, act):
            te, ta = sum(exp.values()), sum(act.values())
            terms = {}
            for b in sorted(set(exp) | set(act)):  # occupied bins only
                pe = (exp.get(b, 0) + 1.0) / (te + 10)
                pa = (act.get(b, 0) + 1.0) / (ta + 10)
                terms[b] = (pa - pe) * math.log(pa / pe)
            return terms

        exp = hist(ref_rows)
        got = spark.read.parquet(out).collect()
        by_epoch = {}
        for r in got:
            by_epoch.setdefault(r.epoch, {})[r.bin] = r
        assert len(by_epoch) == 2
        for rows_in, epoch_rows in zip((b1, b2), (
            by_epoch[min(by_epoch)], by_epoch[max(by_epoch)]
        )):
            act = hist(rows_in)
            want_terms = psi(exp, act)
            want_total = round(sum(want_terms.values()), 6)
            assert set(epoch_rows) == set(want_terms)
            for b, r in epoch_rows.items():
                assert r.n_expected == exp.get(b, 0)
                assert r.n_actual == act.get(b, 0)
                assert abs(r.psi_term - round(want_terms[b], 6)) < 1e-9
                assert r.psi_total == want_total
        # the shifted second batch must register materially more drift
        assert (
            by_epoch[max(by_epoch)][0].psi_total
            > by_epoch[min(by_epoch)][0].psi_total
        )

    def test_guard(self, spark, tmp_path):
        import pytest

        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_drift_stream,
        )

        ref = spark.createDataFrame([(1, 10)], "doc_id long, n_chars long")
        with pytest.raises(ValueError, match="bins"):
            start_drift_stream(
                spark.readStream.schema("doc_id long, n_chars long")
                .parquet(str(tmp_path)),
                ref,
                "n_chars",
                str(tmp_path / "out"),
                checkpoint_dir=str(tmp_path / "ckpt"),
                bins=1,
            )


class TestSequencePackCompaction:
    def test_pack_output_epochs_fold_into_base(self, spark, tmp_path):
        """compact_shard_epochs generalizes to the sequence-pack export:
        old epoch dirs fold into the epoch=-1 base (flat layout — no
        shard_id column), every sequence survives, and a second run is a
        no-op."""
        import os

        from crowdsorsa_etl_spark.operators.bpe import (
            bpe_learn_merges,
            bpe_vocab,
        )
        from crowdsorsa_etl_spark.streaming.pipeline import (
            compact_shard_epochs,
            start_sequence_pack_stream,
        )

        schema = "doc_id long, text string"
        batches = [
            [(10 * b + i, f"w{b} x{i} common tok " * 3) for i in range(3)]
            for b in range(4)
        ]
        corpus = spark.createDataFrame(
            [r for b in batches for r in b], schema
        )
        merges = [
            tuple(r["pair"].split(" "))
            for r in bpe_learn_merges(corpus, n_merges=4).collect()
        ]
        vocab_rows = bpe_vocab(corpus, merges).collect()
        vocab = {r["token"]: r["token_id"] for r in vocab_rows}

        src = str(tmp_path / "docs")
        os.makedirs(src)
        for b, rows in enumerate(batches):
            staging = str(tmp_path / f"_stage_{b}")
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staging)
            part = [
                f for f in os.listdir(staging) if f.endswith(".parquet")
            ][0]
            os.rename(
                os.path.join(staging, part),
                os.path.join(src, f"b{b}.parquet"),
            )
        out, state = str(tmp_path / "out"), str(tmp_path / "state")
        q = start_sequence_pack_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out,
            state,
            checkpoint_dir=str(tmp_path / "ckpt"),
            merges=merges,
            vocab=vocab,
            eos_id=len(vocab_rows),
            max_len=8,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        before = {
            r.seq_id: list(r.ids)
            for r in spark.read.parquet(out).collect()
        }
        assert before
        folded = compact_shard_epochs(
            spark, out, state, keep_epochs=2, id_col="seq_id"
        )
        assert folded >= 1
        dirs = [d for d in os.listdir(out) if d.startswith("epoch=")]
        assert "epoch=-1" in dirs and len(dirs) <= 3
        after = {
            r.seq_id: list(r.ids)
            for r in spark.read.parquet(out).collect()
        }
        assert after == before
        # idempotent: nothing left to fold
        assert compact_shard_epochs(
            spark, out, state, keep_epochs=2, id_col="seq_id"
        ) == 0


class TestDriftStreamEdges:
    def test_unoccupied_bins_emit_no_terms_and_negatives_clamp(
        self, spark, tmp_path
    ):
        """A bin empty in both distributions must not appear (its Laplace
        term would fake drift on undrifted data); out-of-range-low values
        clamp into bin 0 and stay visible in the totals."""
        import os

        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_drift_stream,
        )

        schema = "doc_id long, v long"
        # both sides occupy ONLY bins 0 and 1 of 10; batch has a negative
        ref = spark.createDataFrame(
            [(i, 10 + 50 * (i % 2)) for i in range(40)], schema
        )
        batch = [(100 + i, -5 if i == 0 else 10 + 50 * (i % 2))
                 for i in range(20)]
        src = str(tmp_path / "docs")
        os.makedirs(src)
        staging = str(tmp_path / "_stage")
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
        os.rename(os.path.join(staging, part), os.path.join(src, "b.parquet"))

        out = str(tmp_path / "out")
        q = start_drift_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            ref,
            "v",
            out,
            checkpoint_dir=str(tmp_path / "ckpt"),
            bins=10,
            bin_width=60.0,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        rows = spark.read.parquet(out).collect()
        assert {r.bin for r in rows} == {0, 1}  # occupied only, no 2..9
        # the negative value landed in bin 0 and is counted
        assert sum(r.n_actual for r in rows) == 20
        # an identical distribution stays far below the 0.1 alert line
        # (the small residual is Laplace smoothing at unequal totals)
        assert abs(rows[0].psi_total) < 0.05


class TestLmScoreStream:
    def test_parity_with_batch_and_oov_accounting(self, spark, tmp_path):
        """Epoch 1 streams docs drawn FROM the reference corpus: its
        scores must be bit-identical to the batch KN query. Epoch 2
        streams out-of-distribution text: unscorable bigrams are counted,
        the scorable remainder still averages."""
        import os

        from crowdsorsa_etl_spark.operators.ngramlm import (
            kneser_ney_bigram_scores,
        )
        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_lm_score_stream,
        )

        schema = "doc_id long, text string"
        ref_rows = [
            (1, "a b a c a b"),
            (2, "b c a a b"),
            (3, "c a b c"),
        ]
        reference = spark.createDataFrame(ref_rows, schema)
        b1 = ref_rows[:2]  # in-distribution slice
        b2 = [(10, "a b zz a"), (11, "qq ww")]  # zz/qq/ww unseen

        src = str(tmp_path / "docs")
        os.makedirs(src)
        for name, rows in (("b1.parquet", b1), ("b2.parquet", b2)):
            staging = str(tmp_path / f"_stage_{name}")
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staging)
            part = [
                f for f in os.listdir(staging) if f.endswith(".parquet")
            ][0]
            os.rename(os.path.join(staging, part), os.path.join(src, name))

        out = str(tmp_path / "out")
        q = start_lm_score_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            reference,
            out,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
        assert set(got) == {1, 2, 10, 11}

        batch = {
            r.doc_id: r
            for r in kneser_ney_bigram_scores(reference).collect()
        }
        for doc_id in (1, 2):
            assert got[doc_id].n_bigrams == batch[doc_id].n_bigrams
            assert got[doc_id].n_oov_bigrams == 0
            assert got[doc_id].avg_logprob == batch[doc_id].avg_logprob

        # "a b zz a": bigrams (a,b) scorable; (b,zz) dead continuation;
        # (zz,a) dead context — 2 OOV, 1 scored
        assert got[10].n_bigrams == 3
        assert got[10].n_oov_bigrams == 2
        assert got[10].avg_logprob is not None
        # "qq ww": nothing scorable
        assert got[11].n_bigrams == 1
        assert got[11].n_oov_bigrams == 1
        assert got[11].avg_logprob is None


class TestDsirStream:
    def test_parity_with_batch_and_oov_ingest(self, spark, tmp_path):
        """Micro-batches drawn from the reference's raw slice score
        bit-identically to the batch operator; out-of-distribution text
        still lands (unseen buckets contribute 0, n_grams counts them)."""
        import os

        from crowdsorsa_etl_spark.operators.dsir import (
            dsir_bucket_stats,
            dsir_scores,
        )
        from crowdsorsa_etl_spark.streaming.pipeline import start_dsir_stream

        schema = "doc_id long, text string, is_t boolean"
        ref_rows = [
            (1, "the cat sat on the mat", True),
            (2, "the dog sat", True),
            (3, "le chat noir", False),
            (4, "the cat sat quietly", False),
        ]
        reference = spark.createDataFrame(ref_rows, schema)

        doc_schema = "doc_id long, text string"
        b1 = [(3, "le chat noir"), (4, "the cat sat quietly")]
        b2 = [(10, "zz qq unseen tokens")]

        src = str(tmp_path / "docs")
        os.makedirs(src)
        for name, rows in (("b1.parquet", b1), ("b2.parquet", b2)):
            staging = str(tmp_path / f"_stage_{name}")
            spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staging)
            part = [
                f for f in os.listdir(staging) if f.endswith(".parquet")
            ][0]
            os.rename(os.path.join(staging, part), os.path.join(src, name))

        out = str(tmp_path / "out")
        q = start_dsir_stream(
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            reference,
            F.col("is_t"),
            out,
            checkpoint_dir=str(tmp_path / "ckpt"),
            buckets=64,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
        assert set(got) == {3, 4, 10}

        stats = dsir_bucket_stats(reference, F.col("is_t"), buckets=64)
        batch = {
            r.doc_id: r
            for r in dsir_scores(
                reference.filter(~F.col("is_t")).select("doc_id", "text"),
                stats,
                buckets=64,
            ).collect()
        }
        for doc_id in (3, 4):
            assert got[doc_id].n_grams == batch[doc_id].n_grams
            assert got[doc_id].logratio == batch[doc_id].logratio
            assert got[doc_id].selected == batch[doc_id].selected
        # OOV batch: 4 unigrams + 3 bigrams, all (almost surely) unseen
        assert got[10].n_grams == 7


class TestBudgetMixStream:
    def test_admission_matches_epochwise_batch_replay(self, spark, tmp_path):
        """Per-source budget admission at ingest: each epoch must admit
        exactly what the batch operator admits on that epoch's slice with
        budgets reduced by the carried spend, and the carried state must
        advance by ALL seen tokens (admitted or not)."""
        import os

        from crowdsorsa_etl_spark.functions.text import token_count
        from crowdsorsa_etl_spark.operators.curation import (
            token_budget_sample,
        )
        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_budget_mix_stream,
        )

        schema = "doc_id long, source string, text string"
        # web budget 6 tokens -> fills mid-stream; code budget 100 -> never
        # fills; 'junk' has no budget -> recorded, never kept
        b1 = [
            (0, "web", "a b c"),
            (1, "web", "d e"),
            (2, "code", "x y"),
            (3, "junk", "q"),
        ]
        b2 = [
            (4, "web", "f g"),
            (5, "web", "h"),
            (6, "code", "z"),
        ]
        budgets = {"web": 6, "code": 100}

        src = str(tmp_path / "docs")
        os.makedirs(src)
        for name, rows in (("b1.parquet", b1), ("b2.parquet", b2)):
            staging = str(tmp_path / f"_stage_{name}")
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staging)
            part = [
                f for f in os.listdir(staging) if f.endswith(".parquet")
            ][0]
            os.rename(os.path.join(staging, part), os.path.join(src, name))

        out = str(tmp_path / "out")
        state = str(tmp_path / "state")
        q = start_budget_mix_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            budgets,
            out,
            state,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {
            r.doc_id: r
            for r in spark.read.parquet(out).collect()
        }
        assert set(got) == {0, 1, 2, 3, 4, 5, 6}
        # junk has budget 0: never kept
        assert got[3].kept is False

        # epoch-wise batch replay
        carried: dict[str, int] = {}
        for rows in (b1, b2):
            d = spark.createDataFrame(rows, schema).select(
                "doc_id",
                "source",
                token_count(F.col("text")).cast("bigint").alias("n_tokens"),
            )
            remaining = {
                s: max(b - carried.get(s, 0), 0) for s, b in budgets.items()
            }
            replay = {
                r.doc_id: r
                for r in token_budget_sample(
                    d, remaining, default_budget=0
                ).collect()
            }
            for doc_id, r in replay.items():
                assert got[doc_id].kept == r.kept, doc_id
                assert (
                    got[doc_id].cum_tokens
                    == r.cum_tokens + carried.get(r.source, 0)
                ), doc_id
            for r in d.collect():
                carried[r.source] = carried.get(r.source, 0) + r.n_tokens

        # state advanced by ALL tokens seen (web 5+3, code 3, junk 1)
        latest = max(
            int(x.split("=", 1)[1]) for x in os.listdir(state)
        )
        st = {
            r.source: r.spent
            for r in spark.read.parquet(
                os.path.join(state, f"epoch={latest}")
            ).collect()
        }
        assert st == carried

    def test_rejects_negative_budget(self, spark, tmp_path):
        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_budget_mix_stream,
        )

        with pytest.raises(ValueError, match="budgets"):
            start_budget_mix_stream(
                spark.readStream.format("rate").load(),
                {"web": -1},
                str(tmp_path / "o"),
                str(tmp_path / "s"),
                checkpoint_dir=str(tmp_path / "c"),
            )


class TestImageDedupStream:
    def test_each_epoch_matches_seed_and_prior_epochs(self, spark, tmp_path):
        """Ingest image dedup: epoch 1 must match only the seed corpus;
        epoch 2 must match the seed AND epoch 1 (later arrivals dedup
        against earlier ones); nothing self-matches."""
        import os

        from crowdsorsa_etl_spark.operators.multimodal import (
            attach_png_payload,
            image_index_write_epoch,
        )
        from crowdsorsa_etl_spark.streaming.pipeline import (
            start_image_dedup_stream,
        )

        # 64-byte keys (the caption-image fixture discipline): identical
        # key -> identical PNG -> hamming 0; distinct keys far apart
        def keyed(rows):
            df = spark.createDataFrame(rows, "doc_id long, k string")
            key = F.regexp_replace(
                F.concat(F.md5("k"), F.md5(F.concat(F.col("k"), F.lit("x")))),
                "[0-9]",
                " ",
            )
            return attach_png_payload(
                df.select("doc_id", key.alias("img_key")), text_col="img_key"
            )

        idx = str(tmp_path / "imgidx")
        # seed corpus: images A (id 1) and B (id 2)
        image_index_write_epoch(keyed([(1, "A"), (2, "B")]), idx, -1)

        # stream epochs: e0 brings a dup of A (id 10) + new C (id 11);
        # e1 brings a dup of C (id 20, matches epoch 0's 11) + dup of B
        # (id 21, matches the seed)
        schema = "doc_id long, payload binary"
        src = str(tmp_path / "docs")
        os.makedirs(src)
        for name, rows in (
            ("b1.parquet", [(10, "A"), (11, "C")]),
            ("b2.parquet", [(20, "C"), (21, "B")]),
        ):
            staging = str(tmp_path / f"_stage_{name}")
            keyed(rows).coalesce(1).write.mode("overwrite").parquet(staging)
            part = [
                f for f in os.listdir(staging) if f.endswith(".parquet")
            ][0]
            os.rename(os.path.join(staging, part), os.path.join(src, name))

        out = str(tmp_path / "out")
        q = start_image_dedup_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            idx,
            out,
            checkpoint_dir=str(tmp_path / "ckpt"),
            max_hamming=0,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(out).collect()
        }
        # epoch 0: 10 duplicates seed image A (id 1); 11 (C) is new
        # epoch 1: 20 duplicates epoch-0's 11 (C); 21 duplicates seed B
        assert got == {(1, 10), (11, 20), (2, 21)}
        # the index now holds seed + both epochs
        epochs = {
            d
            for d in os.listdir(os.path.join(idx, "bands"))
            if d.startswith("epoch=")
        }
        assert epochs == {"epoch=-1", "epoch=0", "epoch=1"}


class TestKafkaDecode:
    """decode_kafka_events contract (VERDICT r11 missing #4): the decoder
    is pure column expressions, exercised here on a batch frame of the
    exact Kafka wire shape (key/value binary, topic, partition, offset,
    timestamp, timestampType)."""

    def _wire(self, spark, rows):
        import json as _json

        data = []
        for r in rows:
            val = r if isinstance(r, bytes) else _json.dumps(r).encode()
            data.append(
                (b"k", val, "events", 0, len(data), None, 0)
            )
        return spark.createDataFrame(
            data,
            "key binary, value binary, topic string, partition int, "
            "offset long, timestamp timestamp, timestampType int",
        )

    def test_decodes_wire_json_and_nanos_ts(self, spark):
        from crowdsorsa_etl_spark.streaming.pipeline import (
            decode_kafka_events,
        )

        wire = self._wire(
            spark,
            [
                {
                    "event_id": 7,
                    "ts": 1_700_000_000_123_456_789,  # long nanos
                    "user_id": 3,
                    "event_type": "click",
                    "value": 2.5,
                    "props": "{}",
                }
            ],
        )
        got = decode_kafka_events(wire).collect()
        assert len(got) == 1
        r = got[0]
        assert (r["event_id"], r["user_id"], r["event_type"], r["value"]) == (
            7,
            3,
            "click",
            2.5,
        )
        # nanos truncate to micros at finalize
        assert r["ts"].microsecond == 123456

    def test_corrupt_and_missing_key_rows_drop(self, spark):
        from crowdsorsa_etl_spark.streaming.pipeline import (
            decode_kafka_events,
        )

        wire = self._wire(
            spark,
            [
                b'{"event_id',  # truncated JSON -> permissive null struct
                {"ts": 1, "user_id": 1},  # valid JSON, missing event_id
                {
                    "event_id": 1,
                    "ts": 1_000_000,
                    "user_id": 2,
                    "event_type": "x",
                    "value": 0.0,
                    "props": "{}",
                },
            ],
        )
        got = decode_kafka_events(wire).collect()
        assert [r["event_id"] for r in got] == [1]


class TestEpochStateHelpers:
    """The one epoch-name parser and prior-epoch lookup every
    carried-state stream reads its state through."""

    def _store(self, tmp_path, *names):
        for n in names:
            (tmp_path / n).mkdir()
        return str(tmp_path)

    def test_epochs_ignores_non_epoch_entries(self, tmp_path):
        from crowdsorsa_etl_spark.streaming.pipeline import _epochs

        root = self._store(
            tmp_path, "epoch=2", "epoch=-1", "epoch=10", "epoch=-1__old",
            "epoch=3.tmp", "epoch=", "epochs=4", "_SUCCESS",
        )
        (tmp_path / "epoch=7").write_text("a plain file, not a state dir")
        (tmp_path / "part-0000.parquet").write_text("")
        assert _epochs(root) == [-1, 2, 10]

    def test_epochs_of_missing_root_is_empty(self, tmp_path):
        from crowdsorsa_etl_spark.streaming.pipeline import _epochs

        assert _epochs(str(tmp_path / "missing")) == []

    def test_newest_before(self, tmp_path):
        import os

        from crowdsorsa_etl_spark.streaming.pipeline import _newest_before

        assert _newest_before(str(tmp_path / "missing"), 5) is None
        root = self._store(tmp_path, "epoch=-1", "epoch=0", "epoch=3",
                           "epoch=7", "epoch=7__old")
        # nothing strictly below the lowest epoch
        assert _newest_before(root, -1) is None
        # the negative base epoch is a valid predecessor
        assert _newest_before(root, 0) == os.path.join(root, "epoch=-1")
        # gaps in the numbering: the newest BELOW e, never e itself
        assert _newest_before(root, 3) == os.path.join(root, "epoch=0")
        assert _newest_before(root, 6) == os.path.join(root, "epoch=3")
        assert _newest_before(root, 7) == os.path.join(root, "epoch=3")
        assert _newest_before(root, 100) == os.path.join(root, "epoch=7")

    def test_uri_root_raises_instead_of_listing_empty(self, tmp_path):
        """A URI root used to list as a missing local dir, so every
        carried-state stream silently restarted from the current batch."""
        import pytest

        from crowdsorsa_etl_spark.streaming.pipeline import (
            _epochs,
            compact_shard_epochs,
        )

        root = self._store(tmp_path, "epoch=0", "epoch=1")
        assert _epochs(root) == [0, 1]
        for uri in (f"file://{root}", f"file:{root}", "hdfs://nn:8020/s"):
            with pytest.raises(ValueError, match="local paths only"):
                _epochs(uri)
        with pytest.raises(ValueError, match="local paths only"):
            compact_shard_epochs(None, f"file://{root}")
        with pytest.raises(ValueError, match="local paths only"):
            compact_shard_epochs(None, root, f"file://{root}")
        assert _epochs(root) == [0, 1]  # nothing was touched

    def test_prior_state_of_missing_root_is_none(self, tmp_path):
        from crowdsorsa_etl_spark.streaming.pipeline import _prior_state

        # no spark session is touched when there is nothing to read
        assert _prior_state(None, str(tmp_path / "missing"), 3, "n long") is None
        root = self._store(tmp_path, "epoch=3")
        assert _prior_state(None, root, 3, "n long") is None

    def test_prior_state_reads_sub_path_with_declared_schema(
        self, spark, tmp_path
    ):
        """The newest epoch below ``e`` is read at ``name`` with the
        declared schema — not the schema the file would infer (int here),
        and never the running epoch's own state."""
        from crowdsorsa_etl_spark.streaming.pipeline import (
            _epoch_dir,
            _prior_state,
        )

        root = str(tmp_path)
        for e, n in ((0, 10), (2, 20), (5, 50)):
            spark.createDataFrame([(n,)], "n int").write.parquet(
                _epoch_dir(root, e, "counts")
            )
        prev = _prior_state(spark, root, 5, "n long", "counts")
        assert prev.schema.simpleString() == "struct<n:bigint>"
        assert [r["n"] for r in prev.collect()] == [20]

    def test_hll_stream_ignores_stray_epoch_dir(self, spark, tmp_path):
        """A leftover ``epoch=0__old`` in the store (a crash mid-swap)
        must neither crash the stream nor change where it lands: the
        seeded store ends in the same state as a clean run."""
        import os

        from crowdsorsa_etl_spark.streaming.pipeline import (
            _epochs,
            start_hll_stream,
        )

        src = str(tmp_path / "ev")
        for i in range(2):
            spark.range(i * 500, (i + 1) * 500).select(
                F.col("id").alias("user_id")
            ).coalesce(1).write.parquet(os.path.join(src, f"b{i}"))

        def drain(store: str, ckpt: str) -> dict:
            q = start_hll_stream(
                spark.readStream.schema("user_id long")
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(src),
                store,
                checkpoint_dir=ckpt,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            last = os.path.join(store, f"epoch={_epochs(store)[-1]}")
            return {
                "registers": sorted(
                    tuple(r)
                    for r in spark.read.parquet(
                        os.path.join(last, "registers")
                    ).collect()
                ),
                "summary": [
                    tuple(r)
                    for r in spark.read.parquet(
                        os.path.join(last, "summary")
                    ).collect()
                ],
                "epochs": _epochs(store),
            }

        clean = drain(str(tmp_path / "clean"), str(tmp_path / "ck_clean"))
        seeded_store = tmp_path / "seeded"
        stray = seeded_store / "epoch=0__old" / "registers"
        stray.mkdir(parents=True)
        spark.createDataFrame([(0, 99)], "idx int, r int").write.mode(
            "overwrite"
        ).parquet(str(stray))
        seeded = drain(str(seeded_store), str(tmp_path / "ck_seeded"))
        assert clean["epochs"] == [0, 1]
        assert seeded == clean
