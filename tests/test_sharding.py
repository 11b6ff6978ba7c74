"""Shard store at rest (operators/sharding.py): init/append/manifest
contract — position continuity, tail-shard filling, untouched history,
deterministic rebuild."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.sharding import (
    shard_manifest,
    shard_store_append,
    shard_store_init,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="shardtest_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _rows(spark, root):
    return {
        r["doc_id"]: (r["pos"], r["shard_id"])
        for r in spark.read.parquet(f"{root}/rows").collect()
    }


class TestShardStore:
    def test_init_positions_are_a_permutation(self, spark, root):
        shard_store_init(_ids(spark, range(10)), root, shard_docs=4)
        rows = _rows(spark, root)
        assert sorted(p for p, _ in rows.values()) == list(range(10))
        # shard = pos // shard_docs
        assert all(s == p // 4 for p, s in rows.values())

    def test_append_continues_and_history_is_untouched(self, spark, root):
        shard_store_init(_ids(spark, range(10)), root, shard_docs=4)
        before = _rows(spark, root)
        shard_store_append(_ids(spark, range(100, 106)), root, shard_docs=4)
        after = _rows(spark, root)
        # batch-0 docs keep their exact positions
        assert all(after[i] == before[i] for i in range(10))
        # batch-1 docs occupy exactly positions 10..15 (the tail shard
        # fills first: shard 2 had 2 docs, now 4)
        new_pos = sorted(after[i][0] for i in range(100, 106))
        assert new_pos == list(range(10, 16))
        per_shard = {}
        for p, s in after.values():
            per_shard[s] = per_shard.get(s, 0) + 1
        assert per_shard == {0: 4, 1: 4, 2: 4, 3: 4}

    def test_incremental_equals_oneshot_on_same_batches(self, spark, root):
        # the manifest of init(b0)+append(b1) must equal the manifest of a
        # second store built the same way — determinism of the fold
        b0, b1 = list(range(0, 7)), list(range(50, 61))
        shard_store_init(_ids(spark, b0), root, shard_docs=4)
        shard_store_append(_ids(spark, b1), root, shard_docs=4)
        m1 = {
            r["shard_id"]: (r["n_docs"], r["id_chain_md5"])
            for r in shard_manifest(spark, root).collect()
        }
        other = tempfile.mkdtemp(prefix="shardtest2_")
        try:
            shard_store_init(_ids(spark, b0), other, shard_docs=4)
            shard_store_append(_ids(spark, b1), other, shard_docs=4)
            m2 = {
                r["shard_id"]: (r["n_docs"], r["id_chain_md5"])
                for r in shard_manifest(spark, other).collect()
            }
        finally:
            shutil.rmtree(other, ignore_errors=True)
        assert m1 == m2
        assert sum(n for n, _ in m1.values()) == len(b0) + len(b1)

    def test_batch_zero_matches_oneshot_operator_semantics(self, spark, root):
        # init alone == the one-shot llm_train_shuffle_shards derivation:
        # rank by (hex60(seed||id), id), pos = rank - 1
        from crowdsorsa_etl_spark.functions.portable_hash import hex60_spark

        ids = [3, 17, 42, 99, 256]
        shard_store_init(_ids(spark, ids), root, shard_docs=2)
        rows = _rows(spark, root)
        keyed = sorted(
            (
                r["_k"],
                r["doc_id"],
            )
            for r in _ids(spark, ids)
            .select(
                "doc_id",
                hex60_spark(
                    F.concat(F.lit("shuf:v1:"), F.col("doc_id").cast("string"))
                ).alias("_k"),
            )
            .collect()
        )
        want = {doc: pos for pos, (_, doc) in enumerate(keyed)}
        assert {i: p for i, (p, _) in rows.items()} == want

    def test_empty_append_is_a_noop(self, spark, root):
        shard_store_init(_ids(spark, range(5)), root, shard_docs=4)
        shard_store_append(_ids(spark, []), root, shard_docs=4)
        rows = _rows(spark, root)
        assert sorted(p for p, _ in rows.values()) == list(range(5))
        shard_store_append(_ids(spark, [7_000]), root, shard_docs=4)
        assert _rows(spark, root)[7_000][0] == 5


class TestShardStoreCrashSafety:
    def test_crashed_append_leaves_a_gap_never_a_duplicate(
        self, spark, root, monkeypatch
    ):
        # reserve-then-write: simulate a crash AFTER the high-water mark
        # advanced but BEFORE the batch rows landed; the next successful
        # append must start past the reserved range (a gap), and no
        # position may ever be assigned twice
        import crowdsorsa_etl_spark.operators.sharding as sh

        shard_store_init(_ids(spark, range(10)), root, shard_docs=4)

        real_write = sh._write

        def crashing_write(df, r, shard_docs, mode):
            if mode == "append":
                raise RuntimeError("simulated executor loss mid-append")
            return real_write(df, r, shard_docs, mode)

        monkeypatch.setattr(sh, "_write", crashing_write)
        with pytest.raises(RuntimeError):
            shard_store_append(_ids(spark, range(100, 106)), root, shard_docs=4)
        monkeypatch.setattr(sh, "_write", real_write)

        # the mark was reserved: positions 10..15 are burned
        assert sh._get_next(spark, root) == 16
        shard_store_append(_ids(spark, range(200, 203)), root, shard_docs=4)
        rows = _rows(spark, root)
        positions = [p for p, _ in rows.values()]
        assert len(positions) == len(set(positions))  # never duplicated
        assert sorted(rows[i][0] for i in range(200, 203)) == [16, 17, 18]
        # recovery path from the docstring: the crashed batch is re-appended
        # by id (anti-join finds it fully missing) at fresh positions
        shard_store_append(_ids(spark, range(100, 106)), root, shard_docs=4)
        rows = _rows(spark, root)
        positions = [p for p, _ in rows.values()]
        assert len(positions) == len(set(positions))
        assert sorted(rows[i][0] for i in range(100, 106)) == list(
            range(19, 25)
        )
