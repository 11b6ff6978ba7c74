"""SCD2 builder: run collapsing, null-safe change detection, tie-breaks,
validity-interval chaining, and the single-Exchange plan contract."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators import scd
from crowdsorsa_etl_spark.operators.scd import scd2_build


def _ts(s):
    return datetime.fromisoformat(s)


LOG = [
    # key 1: A A B B A → versions A, B, A (runs collapse)
    (1, _ts("2024-01-01T00:00:00"), "A", 1),
    (1, _ts("2024-01-02T00:00:00"), "A", 2),
    (1, _ts("2024-01-03T00:00:00"), "B", 3),
    (1, _ts("2024-01-04T00:00:00"), "B", 4),
    (1, _ts("2024-01-05T00:00:00"), "A", 5),
    # key 2: NULL → NULL → X → NULL (null-safe: 3 versions)
    (2, _ts("2024-01-01T00:00:00"), None, 6),
    (2, _ts("2024-01-02T00:00:00"), None, 7),
    (2, _ts("2024-01-03T00:00:00"), "X", 8),
    (2, _ts("2024-01-04T00:00:00"), None, 9),
    # key 3: two changes at the SAME timestamp — event_id breaks the tie
    (3, _ts("2024-01-01T00:00:00"), "P", 11),
    (3, _ts("2024-01-01T00:00:00"), "Q", 10),
]


def _build(spark):
    df = spark.createDataFrame(
        LOG, "user_id long, ts timestamp, status string, event_id long"
    )
    return scd2_build(
        df,
        key_cols=["user_id"],
        ts_col="ts",
        tracked_cols=["status"],
        tie_break_cols=["event_id"],
    )


class TestScd2Build:
    def test_runs_collapse_and_intervals_chain(self, spark):
        rows = sorted(
            ((r.user_id, r.version, r.status, r.valid_from, r.valid_to,
              r.is_current) for r in _build(spark).collect())
        )
        k1 = [r for r in rows if r[0] == 1]
        assert [(r[1], r[2]) for r in k1] == [(1, "A"), (2, "B"), (3, "A")]
        # intervals chain: each valid_to is the next valid_from; only the
        # last version is current/open
        for a, b in zip(k1, k1[1:]):
            assert a[4] == b[3] and a[5] is False
        assert k1[-1][4] is None and k1[-1][5] is True

    def test_null_safe_change_detection(self, spark):
        k2 = sorted(
            (r.version, r.status)
            for r in _build(spark).collect()
            if r.user_id == 2
        )
        # NULL→NULL is not a change; NULL→X and X→NULL are
        assert k2 == [(1, None), (2, "X"), (3, None)]

    def test_same_timestamp_tie_break(self, spark):
        k3 = sorted(
            (r.version, r.status)
            for r in _build(spark).collect()
            if r.user_id == 3
        )
        # event_id 10 (Q) orders before 11 (P) at the shared timestamp
        assert k3 == [(1, "Q"), (2, "P")]

    def test_asof_lookup_exactly_one_version_per_event(self, spark):
        """Validity intervals PARTITION each key's timeline: a point lookup
        at any covered instant matches exactly one version (the invariant
        q98_scd2_asof_lookup relies on)."""
        from crowdsorsa_etl_spark.queries import QUERIES

        out = QUERIES["q98_scd2_asof_lookup"](spark, "/root/testdata/sf0.001")
        assert (
            out.groupBy("event_id").count().filter(F.col("count") > 1).count()
            == 0
        )
        assert out.count() > 0
        # the dimension excludes purchases, so no status is 'purchase'
        assert out.filter(F.col("status_at_purchase") == "purchase").count() == 0

    def test_single_exchange_plan(self, spark):
        out = _build(spark)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        # all three windows share one (key × order) partitioning
        assert plan.count(") Exchange") == 1


class TestScd2ApplyBatch:
    def _apply(self, spark, d, rows):
        from crowdsorsa_etl_spark.operators.scd import scd2_apply_batch

        batch = spark.createDataFrame(
            rows, "user_id long, ts timestamp, status string, eid long"
        )
        return scd2_apply_batch(
            spark, str(d), batch,
            key_cols=["user_id"], ts_col="ts", tracked_cols=["status"],
            tie_break_cols=["eid"],
        )

    def _full(self, spark, rows):
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, status string, eid long"
        )
        return scd2_build(
            df, key_cols=["user_id"], ts_col="ts", tracked_cols=["status"],
            tie_break_cols=["eid"],
        )

    @staticmethod
    def _key(df):
        return sorted(
            (r.user_id, r.version, r.status, r.valid_from, r.valid_to,
             r.is_current)
            for r in df.collect()
        )

    def test_incremental_equals_full_rebuild(self, spark, tmp_path):
        """Two batches applied incrementally == scd2_build of the full log,
        including a run CONTINUING across the batch boundary (no spurious
        version) and an untouched key carried verbatim."""
        d = tmp_path / "scd2"
        b1 = [
            (1, _ts("2024-01-01T00:00:00"), "A", 1),
            (1, _ts("2024-01-02T00:00:00"), "B", 2),
            (9, _ts("2024-01-01T00:00:00"), "Z", 3),  # untouched by batch 2
        ]
        b2 = [
            (1, _ts("2024-01-03T00:00:00"), "B", 4),  # continues the B run
            (1, _ts("2024-01-04T00:00:00"), "A", 5),
            (2, _ts("2024-01-01T00:00:00"), "C", 6),  # brand-new key
        ]
        self._apply(spark, d, b1)
        got = self._apply(spark, d, b2)
        assert self._key(got) == self._key(self._full(spark, b1 + b2))
        # persisted state matches the returned frame
        assert self._key(spark.read.parquet(str(d))) == self._key(got)

    def test_at_watermark_event_is_ambiguous_and_rejected(self, spark, tmp_path):
        """An event AT the key's last seen timestamp cannot be ordered
        against the collapsed tail event it ties with (the caller tie-break
        that would decide is gone), so it is late; strictly-later events
        merge exactly."""
        import pytest as _pytest

        from crowdsorsa_etl_spark.operators.scd import scd2_apply_batch

        d = tmp_path / "scd2"
        t = _ts("2024-01-02T00:00:00")
        self._apply(spark, d, [(1, _ts("2024-01-01T00:00:00"), "A", 1),
                               (1, t, "B", 2)])
        tie = spark.createDataFrame(
            [(1, t, "C", 3)],
            "user_id long, ts timestamp, status string, eid long",
        )
        with _pytest.raises(ValueError, match="strictly after"):
            scd2_apply_batch(
                spark, str(d), tie, key_cols=["user_id"], ts_col="ts",
                tracked_cols=["status"], tie_break_cols=["eid"],
            )
        got = self._apply(
            spark, d, [(1, _ts("2024-01-02T00:00:01"), "C", 3)]
        )
        assert sorted((r.version, r.status) for r in got.collect()) == [
            (1, "A"), (2, "B"), (3, "C"),
        ]

    def test_dropped_late_batch_does_not_regress_watermark(self, spark, tmp_path):
        """drop-mode batch whose only event for a key is late must not lower
        the key's last_seen_ts: the run-splitting event must STAY rejected
        on its next delivery (the prior-replay-forgets-tails regression)."""
        from crowdsorsa_etl_spark.operators.scd import scd2_apply_batch

        d = tmp_path / "scd2"
        self._apply(spark, d, [(1, _ts("2024-01-01T00:00:00"), "A", 1),
                               (1, _ts("2024-01-03T00:00:00"), "A", 2)])
        late = [(1, _ts("2024-01-02T00:00:00"), "B", 3)]
        batch = spark.createDataFrame(
            late, "user_id long, ts timestamp, status string, eid long"
        )
        kw = dict(key_cols=["user_id"], ts_col="ts",
                  tracked_cols=["status"], tie_break_cols=["eid"])
        got = scd2_apply_batch(spark, str(d), batch, on_late="drop", **kw)
        assert [(r.version, r.status) for r in got.collect()] == [(1, "A")]
        # the watermark survived the drop-mode rebuild: redelivery still late
        import pytest as _pytest

        with _pytest.raises(ValueError, match="strictly after"):
            scd2_apply_batch(spark, str(d), batch, **kw)

    def test_crash_mid_swap_is_detected_not_shadowed(self, spark, tmp_path):
        """If the table sits under __old after a mid-swap crash, the
        fresh-build branch must refuse rather than silently restart history
        from one batch."""
        import os

        import pytest as _pytest

        d = tmp_path / "scd2"
        self._apply(spark, d, [(1, _ts("2024-01-01T00:00:00"), "A", 1)])
        os.rename(str(d), str(d) + "__old")  # simulate crash between renames
        with _pytest.raises(ValueError, match="mid-swap"):
            self._apply(spark, d, [(1, _ts("2024-01-02T00:00:00"), "B", 2)])

    def test_late_run_split_is_caught(self, spark, tmp_path):
        """THE counterexample the monotonic contract exists for: A@t1,A@t3
        collapse to one version; late B@t2 would have to split that run —
        which the collapsed table cannot replay. The guard must compare
        against the run's LAST SEEN event (t3), not the last change point
        (t1) which would wave the event through and silently diverge from
        a full rebuild."""
        import pytest as _pytest

        from crowdsorsa_etl_spark.operators.scd import scd2_apply_batch

        d = tmp_path / "scd2"
        self._apply(spark, d, [(1, _ts("2024-01-01T00:00:00"), "A", 1),
                               (1, _ts("2024-01-03T00:00:00"), "A", 2)])
        split = spark.createDataFrame(
            [(1, _ts("2024-01-02T00:00:00"), "B", 3)],
            "user_id long, ts timestamp, status string, eid long",
        )
        with _pytest.raises(ValueError, match="last seen"):
            scd2_apply_batch(
                spark, str(d), split, key_cols=["user_id"], ts_col="ts",
                tracked_cols=["status"], tie_break_cols=["eid"],
            )

    def test_same_ts_prior_versions_keep_order(self, spark, tmp_path):
        """Two existing versions sharing one timestamp must re-collapse in
        their ORIGINAL order on replay (version-number tie-break), not in
        shuffle order."""
        d = tmp_path / "scd2"
        t = _ts("2024-01-01T00:00:00")
        self._apply(spark, d, [(1, t, "Q", 10), (1, t, "P", 11)])
        got = self._apply(spark, d, [(1, _ts("2024-01-02T00:00:00"), "P", 12)])
        # P@t2 continues the current P version: still exactly Q then P
        assert sorted((r.version, r.status) for r in got.collect()) == [
            (1, "Q"), (2, "P"),
        ]

    def test_late_event_raises_or_drops(self, spark, tmp_path):
        import pytest as _pytest

        from crowdsorsa_etl_spark.operators.scd import scd2_apply_batch

        d = tmp_path / "scd2"
        self._apply(spark, d, [(1, _ts("2024-01-01T00:00:00"), "A", 1),
                               (1, _ts("2024-01-05T00:00:00"), "B", 2)])
        late = spark.createDataFrame(
            [(1, _ts("2024-01-03T00:00:00"), "C", 3)],
            "user_id long, ts timestamp, status string, eid long",
        )
        with _pytest.raises(ValueError, match="last seen"):
            scd2_apply_batch(
                spark, str(d), late, key_cols=["user_id"], ts_col="ts",
                tracked_cols=["status"], tie_break_cols=["eid"],
            )
        got = scd2_apply_batch(
            spark, str(d), late, key_cols=["user_id"], ts_col="ts",
            tracked_cols=["status"], tie_break_cols=["eid"], on_late="drop",
        )
        assert sorted((r.version, r.status) for r in got.collect()) == [
            (1, "A"), (2, "B"),
        ]

    def test_incremental_write_is_one_exchange(self, spark, tmp_path, monkeypatch):
        """Affected keys, their watermark and the re-collapse share one
        (key × order) partitioning: the versions write plans exactly one
        hash Exchange and no broadcast."""
        plans = []

        def spy(*a, **kw):
            out = collapse(*a, **kw)
            plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out

        collapse = scd._collapse
        d = tmp_path / "scd2"
        self._apply(spark, d, [(1, _ts("2024-01-01T00:00:00"), "A", 1),
                               (9, _ts("2024-01-01T00:00:00"), "Z", 2)])
        monkeypatch.setattr(scd, "_collapse", spy)
        self._apply(spark, d, [(1, _ts("2024-01-02T00:00:00"), "B", 3)])
        assert len(plans) == 1
        assert plans[0].count("Exchange hashpartitioning") == 1
        assert "BroadcastExchange" not in plans[0]

    def test_legacy_table_without_last_seen_upgrades_and_merges(
        self, spark, tmp_path
    ):
        """A versions table written before last_seen_ts existed reads the
        column as NULL, upgrades it to valid_from, and still merges a batch
        exactly like a full rebuild."""
        d = tmp_path / "scd2"
        b1 = [
            (1, _ts("2024-01-01T00:00:00"), "A", 1),
            (1, _ts("2024-01-02T00:00:00"), "B", 2),
            (9, _ts("2024-01-01T00:00:00"), "Z", 3),  # untouched by batch 2
        ]
        b2 = [
            (1, _ts("2024-01-03T00:00:00"), "B", 4),
            (1, _ts("2024-01-04T00:00:00"), "A", 5),
            (2, _ts("2024-01-01T00:00:00"), "C", 6),
        ]
        self._full(spark, b1).drop("last_seen_ts").write.parquet(str(d))
        got = self._apply(spark, d, b2)
        assert self._key(got) == self._key(self._full(spark, b1 + b2))
        seen = {(r.user_id, r.version): r.last_seen_ts for r in got.collect()}
        assert seen[(9, 1)] == _ts("2024-01-01T00:00:00")  # = valid_from
        assert seen[(1, 3)] == _ts("2024-01-04T00:00:00")


class TestScd2Buffered:
    SCHEMA = "user_id long, ts timestamp, status string, eid long"
    KW = dict(
        key_cols=["user_id"], ts_col="ts", tracked_cols=["status"],
        tie_break_cols=["eid"],
    )

    def _apply(self, spark, vd, bd, rows, **kw):
        from crowdsorsa_etl_spark.operators.scd import (
            scd2_apply_batch_buffered,
        )

        return scd2_apply_batch_buffered(
            spark, str(vd), str(bd),
            spark.createDataFrame(rows, self.SCHEMA),
            max_delay_seconds=kw.pop("max_delay_seconds", 172800.0),  # 2 days
            **{**self.KW, **kw},
        )

    def _flush(self, spark, vd, bd):
        from crowdsorsa_etl_spark.operators.scd import scd2_flush_buffer

        return scd2_flush_buffer(spark, str(vd), str(bd), **self.KW)

    def _full(self, spark, rows):
        df = spark.createDataFrame(sorted(rows, key=lambda r: r[1]), self.SCHEMA)
        return scd2_build(df, **self.KW)

    @staticmethod
    def _key(df):
        return sorted(
            (r.user_id, r.version, r.status, r.valid_from, r.valid_to,
             r.is_current)
            for r in df.collect()
        )

    def test_late_within_bound_equals_ordered_rebuild(self, spark, tmp_path):
        """THE contract: arrival order scrambled within the disorder bound
        → history identical to a fully-ordered rebuild, including a run
        SPLIT by a late middle event (impossible for the unbuffered mode).
        """
        vd, bd = tmp_path / "v", tmp_path / "b"
        all_rows = [
            (1, _ts("2024-01-01T00:00:00"), "A", 1),
            (1, _ts("2024-01-02T00:00:00"), "B", 2),  # arrives LATE
            (1, _ts("2024-01-03T00:00:00"), "A", 3),
            (2, _ts("2024-01-02T12:00:00"), "X", 4),
        ]
        # batch 1: t1 and t3 (t2 missing); batch 2 delivers t2 one day
        # "later" plus t4 and a fresh max to advance the watermark
        self._apply(spark, vd, bd, [all_rows[0], all_rows[2]])
        self._apply(spark, vd, bd, [all_rows[1], all_rows[3],
                                    (2, _ts("2024-01-06T00:00:00"), "Y", 5)])
        self._flush(spark, vd, bd)
        got = self._key(spark.read.parquet(str(vd)))
        want = self._key(self._full(
            spark, all_rows + [(2, _ts("2024-01-06T00:00:00"), "Y", 5)]
        ))
        assert got == want
        k1 = [(r[1], r[2]) for r in got if r[0] == 1]
        assert k1 == [(1, "A"), (2, "B"), (3, "A")]  # split replayed

    def test_nothing_finalizes_before_watermark(self, spark, tmp_path):
        import os

        vd, bd = tmp_path / "v", tmp_path / "b"
        out = self._apply(
            spark, vd, bd, [(1, _ts("2024-01-01T00:00:00"), "A", 1)]
        )
        assert out is None  # everything within the delay window is held
        assert not os.path.exists(str(vd))

    def test_beyond_bound_raises_and_drop_skips(self, spark, tmp_path):
        import pytest

        vd, bd = tmp_path / "v", tmp_path / "b"
        self._apply(spark, vd, bd, [
            (1, _ts("2024-01-01T00:00:00"), "A", 1),
            (1, _ts("2024-01-10T00:00:00"), "B", 2),  # wm → 2024-01-08
        ])
        with pytest.raises(ValueError, match="beyond"):
            self._apply(spark, vd, bd, [
                (1, _ts("2024-01-02T00:00:00"), "C", 3),
            ])
        # drop mode: expired event skipped, history unaffected
        self._apply(spark, vd, bd, [
            (1, _ts("2024-01-02T00:00:00"), "C", 3),
        ], on_late="drop")
        self._flush(spark, vd, bd)
        got = self._key(spark.read.parquet(str(vd)))
        assert [(r[1], r[2]) for r in got if r[0] == 1] == [(1, "A"), (2, "B")]

    def test_many_batches_shuffled_property(self, spark, tmp_path):
        """Randomized-but-seeded: 3 keys × 12 events, arrival = event time
        plus bounded jitter, delivered in 4 arrival-order batches + flush
        ≡ ordered rebuild."""
        import random

        rng = random.Random(8)
        rows = []
        eid = 0
        for key in (1, 2, 3):
            for day in range(1, 13):
                eid += 1
                rows.append(
                    (key, _ts(f"2024-01-{day:02d}T00:00:00"),
                     rng.choice("AB"), eid)
                )
        arrival = sorted(
            rows, key=lambda r: (r[1], rng.random())
        )
        # bounded shuffle: swap neighbors within a 2-day window
        for i in range(0, len(arrival) - 1, 2):
            if rng.random() < 0.5:
                arrival[i], arrival[i + 1] = arrival[i + 1], arrival[i]
        vd, bd = tmp_path / "v", tmp_path / "b"
        n = len(arrival) // 4
        for b in range(4):
            chunk = arrival[b * n : (b + 1) * n if b < 3 else len(arrival)]
            self._apply(spark, vd, bd, chunk)
        self._flush(spark, vd, bd)
        assert self._key(spark.read.parquet(str(vd))) == self._key(
            self._full(spark, rows)
        )

    def test_legacy_buffer_without_stats_flushes_every_event(
        self, spark, tmp_path
    ):
        """A buffer written before ``_stats.json`` existed falls back to
        one aggregate and still finalizes every held event."""
        vd, bd = tmp_path / "v", tmp_path / "b"
        rows = [
            (1, _ts("2024-01-01T00:00:00"), "A", 1),
            (1, _ts("2024-01-02T00:00:00"), "B", 2),
            (2, _ts("2024-01-02T00:00:00"), "X", 3),
        ]
        assert self._apply(spark, vd, bd, rows) is None  # all held
        os.remove(str(bd / "events" / "_stats.json"))
        self._flush(spark, vd, bd)
        got = self._key(spark.read.parquet(str(vd)))
        assert got == self._key(self._full(spark, rows))

    def test_crash_before_hold_swap_leaves_no_stale_stats(
        self, spark, tmp_path, monkeypatch
    ):
        """The stats are written inside the new buffer dir before its swap:
        a crash between the hold write and the swap leaves the live buffer
        with the stats of its own rows, and replaying the batch recovers."""
        vd, bd = tmp_path / "v", tmp_path / "b"
        b1 = [(1, _ts("2024-01-01T00:00:00"), "A", 1),
              (1, _ts("2024-01-02T00:00:00"), "B", 2)]
        b2 = [(1, _ts("2024-01-04T00:00:00"), "C", 3),
              (2, _ts("2024-01-05T00:00:00"), "D", 4)]
        self._apply(spark, vd, bd, b1)
        swap = scd._swap_dirs

        def crash_on_hold(jvm, fs, path, tmp):
            if path.endswith("/events"):
                raise OSError("simulated crash before the buffer swap")
            swap(jvm, fs, path, tmp)

        monkeypatch.setattr(scd, "_swap_dirs", crash_on_hold)
        with pytest.raises(OSError, match="simulated"):
            self._apply(spark, vd, bd, b2)
        monkeypatch.undo()

        def stats_match_rows():
            n, mx, schema = scd._buffer_stats(str(bd / "events"))
            held = spark.read.schema(schema).parquet(str(bd / "events"))
            row = held.agg(F.count(F.lit(1)), F.max("ts")).collect()[0]
            assert (n, mx) == (row[0], row[1])

        stats_match_rows()  # still b1's rows and b1's stats
        self._apply(spark, vd, bd, b2)  # the replay after the crash
        stats_match_rows()
        self._flush(spark, vd, bd)
        assert self._key(spark.read.parquet(str(vd))) == self._key(
            self._full(spark, b1 + b2)
        )

    def test_warm_apply_and_flush_job_counts(self, spark, tmp_path, count_jobs):
        """Pinned Spark job counts on a small table, once the buffer and the
        versions table exist: the buffered apply pays the pool aggregate
        (2 jobs), the one-shuffle versions write (2) and the hold write (1);
        the flush pays only the versions write — no schema inference, no
        aggregate."""
        vd, bd = tmp_path / "v", tmp_path / "b"
        self._apply(spark, vd, bd, [
            (1, _ts("2024-01-01T00:00:00"), "A", 1),
            (1, _ts("2024-01-05T00:00:00"), "B", 2),
        ])
        _, n_apply = count_jobs(lambda: self._apply(spark, vd, bd, [
            (1, _ts("2024-01-06T00:00:00"), "C", 3),
            (2, _ts("2024-01-07T00:00:00"), "D", 4),
        ]))
        _, n_flush = count_jobs(lambda: self._flush(spark, vd, bd))
        assert (n_apply, n_flush) == (5, 2)
