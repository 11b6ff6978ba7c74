"""Round-8d operator gates: BPE encode (apply side), global cumulative sum /
shard assignment, bigram-LM scoring."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.bpe import bpe_encode, bpe_learn_merges
from crowdsorsa_etl_spark.operators.global_rank import with_global_cumsum

SF_DIR = "/root/testdata/sf0.001"


def _py_bpe_encode(text: str, merges: list[tuple[str, str]]) -> list[str]:
    """Independent reference: greedy left-to-right merge per rank, per word."""
    words = [w for w in " ".join(text.strip().lower().split()).split(" ") if w]
    out: list[str] = []
    for w in words:
        syms = list(w)
        for a, b in merges:
            i, merged = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            syms = merged
        out.extend(syms)
    return out


class TestBpeEncode:
    MERGES = [("a", "b"), ("ab", "c"), ("d", "e")]

    def test_matches_python_reference(self, spark):
        rows = [
            (1, "abc abcabc xde"),
            (2, "ababab  cab"),
            (3, "a b c d e"),
            (4, "deabde"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: (r.n_tokens, r.tokens_md5) for r in bpe_encode(df, self.MERGES).collect()}
        for doc_id, text in rows:
            toks = _py_bpe_encode(text, self.MERGES)
            expect_md5 = hashlib.md5(" ".join(toks).encode()).hexdigest()
            assert got[doc_id] == (len(toks), expect_md5), doc_id

    def test_consecutive_occurrences_all_merged(self, spark):
        # "abab" -> the space-doubling replace must catch BOTH (a,b) pairs
        df = spark.createDataFrame([(1, "abab")], ["doc_id", "text"])
        row = bpe_encode(df, [("a", "b")]).collect()[0]
        assert row.n_tokens == 2  # "ab ab"

    def test_empty_text_dropped(self, spark):
        df = spark.createDataFrame([(1, "   "), (2, "x")], ["doc_id", "text"])
        out = bpe_encode(df, [("a", "b")]).collect()
        assert [r.doc_id for r in out] == [2]

    def test_learn_then_encode_roundtrip(self, spark):
        # encoding with the learned merges shrinks token count vs chars
        df = spark.createDataFrame(
            [(i, "the cat sat on the mat") for i in range(4)],
            ["doc_id", "text"],
        )
        merges = [
            tuple(r["pair"].split(" "))
            for r in bpe_learn_merges(df, n_merges=4).collect()
        ]
        assert len(merges) == 4
        out = bpe_encode(df, merges).collect()
        n_chars_nospace = len("thecatsatonthemat")
        assert all(r.n_tokens < n_chars_nospace for r in out)

    def test_encode_plan_is_narrow(self, spark):
        df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
        plan = bpe_encode(df, self.MERGES)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestGlobalCumsum:
    def test_matches_single_window(self, spark):
        import random

        rng = random.Random(7)
        rows = [(i, rng.randint(0, 50)) for i in range(500)]
        df = spark.createDataFrame(rows, ["k", "w"]).repartition(8)
        out = {
            r.k: r.global_cum
            for r in with_global_cumsum(df, [F.col("k")], "w").collect()
        }
        expect, run = {}, 0
        for k, w in sorted(rows):
            run += w
            expect[k] = run
        assert out == expect

    def test_no_single_partition_window(self, spark):
        df = spark.createDataFrame([(i, 1) for i in range(10)], ["k", "w"])
        shard = with_global_cumsum(df, [F.col("k")], "w")
        plan = shard._jdf.queryExecution().executedPlan().toString()
        # every Window in the plan must be partitioned (no global sort window)
        for line in plan.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                assert "_pid" in line, line

    def test_zero_weight_rows_keep_running_total(self, spark):
        df = spark.createDataFrame(
            [(1, 5), (2, 0), (3, 7)], ["k", "w"]
        )
        out = {r.k: r.global_cum for r in with_global_cumsum(df, [F.col("k")], "w").collect()}
        assert out == {1: 5, 2: 5, 3: 12}


class TestShardAssignment:
    def test_shard_sizes_respect_budget_start_rule(self, spark):
        from crowdsorsa_etl_spark.queries import QUERIES
        from crowdsorsa_etl_spark.queries.lakehouse import _SHARD_BUDGET

        out = QUERIES["q108_shard_assignment"](spark, SF_DIR).collect()
        assert len(out) > 0
        for r in out:
            # the defining invariant: a doc's shard is where its prefix starts
            assert r.shard_id == (r.cum_tokens - r.n_tokens) // _SHARD_BUDGET
        # shards are contiguous from 0
        ids = sorted({r.shard_id for r in out})
        assert ids == list(range(ids[-1] + 1))


class TestBigramLogprob:
    def test_matches_python_reference(self, spark):
        from crowdsorsa_etl_spark.queries import QUERIES

        out = {
            r.doc_id: (r.n_bigrams, r.avg_logprob)
            for r in QUERIES["llm_bigram_logprob"](spark, SF_DIR).collect()
        }
        # independent recomputation over the fixture
        import pyarrow.parquet as pq

        tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
        docs = list(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
        uni: dict[str, int] = {}
        bcnt: dict[tuple[str, str], int] = {}
        toks_by_doc = {}
        for doc_id, text in docs:
            toks = text.strip().lower().split(" ")
            toks_by_doc[doc_id] = toks
            for t in toks:
                uni[t] = uni.get(t, 0) + 1
            for a, b in zip(toks, toks[1:]):
                bcnt[(a, b)] = bcnt.get((a, b), 0) + 1
        v = len(uni)
        for doc_id, toks in toks_by_doc.items():
            bigs = list(zip(toks, toks[1:]))
            if not bigs:
                assert doc_id not in out
                continue
            s = sum(
                math.log((bcnt[(a, b)] + 1.0) / (uni[a] + v)) for a, b in bigs
            )
            n, lp = out[doc_id]
            assert n == len(bigs)
            assert lp == pytest.approx(round(s / len(bigs), 6), abs=2e-6)


class TestLshIndex:
    """Signature index at rest: build/append/match against the direct path."""

    def _corpus_probe(self, spark):
        from crowdsorsa_etl_spark.sources.parquet import load_table

        docs = load_table(spark, "documents", SF_DIR)
        return (
            docs.filter(F.col("doc_id") % 10 != 0),
            docs.filter(F.col("doc_id") % 10 == 0),
            docs,
        )

    def test_index_match_equals_direct_cross(self, spark, tmp_path):
        from crowdsorsa_etl_spark.operators.dedup import (
            lsh_match_index,
            lsh_write_index,
            minhash_lsh_candidates_cross,
        )

        corpus, probe, _ = self._corpus_probe(spark)
        path = str(tmp_path / "idx")
        lsh_write_index(corpus, path)
        got = {
            (r.id_a, r.id_b, r.n_bands_matched)
            for r in lsh_match_index(spark, path, probe).collect()
        }
        expect = {
            (r.id_a, r.id_b, r.n_bands_matched)
            for r in minhash_lsh_candidates_cross(corpus, probe).collect()
        }
        assert got == expect and got  # non-trivial on the fixture

    def test_append_equals_full_rebuild(self, spark, tmp_path):
        from crowdsorsa_etl_spark.operators.dedup import (
            lsh_append_index,
            lsh_match_index,
            lsh_write_index,
        )

        corpus, probe, _ = self._corpus_probe(spark)
        inc = str(tmp_path / "inc")
        lsh_write_index(corpus.filter(F.col("doc_id") % 3 == 0), inc)
        lsh_append_index(corpus.filter(F.col("doc_id") % 3 == 1), inc)
        lsh_append_index(corpus.filter(F.col("doc_id") % 3 == 2), inc)
        full = str(tmp_path / "full")
        lsh_write_index(corpus, full)
        a = {tuple(r) for r in lsh_match_index(spark, inc, probe).collect()}
        b = {tuple(r) for r in lsh_match_index(spark, full, probe).collect()}
        assert a == b and a

    def test_match_scan_is_partition_pruned(self, spark, tmp_path):
        from crowdsorsa_etl_spark.operators.dedup import (
            lsh_match_index,
            lsh_write_index,
        )

        corpus, probe, _ = self._corpus_probe(spark)
        path = str(tmp_path / "idx")
        lsh_write_index(corpus, path)
        # a tiny batch touches few prefixes — the index scan must carry a
        # partition filter on pfx, and the batch side must broadcast
        out = lsh_match_index(spark, path, probe.limit(3))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [pfx" in plan or "pfx IN" in plan, plan
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


class TestStreamingShards:
    def _stage(self, spark, tmp_path, src, schema, name, rows):
        import os

        staging = str(tmp_path / f"_stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
        os.rename(os.path.join(staging, part), os.path.join(src, name))

    def _run(self, spark, src, schema, out, state, ckpt, budget=10):
        from crowdsorsa_etl_spark.streaming.pipeline import start_shard_stream

        q = start_shard_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out,
            state,
            checkpoint_dir=ckpt,
            shard_budget=budget,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def test_shards_continue_across_epochs(self, spark, tmp_path):
        import os

        src = str(tmp_path / "docs")
        os.makedirs(src)
        schema = "doc_id long, text string"
        # 4 tokens per doc, budget 10: shard boundaries at 10/20/...
        b1 = [(i, "w x y z") for i in range(3)]       # cum 4,8,12
        b2 = [(10 + i, "w x y z") for i in range(3)]  # cum 16,20,24
        self._stage(spark, tmp_path, src, schema, "b1.parquet", b1)
        self._stage(spark, tmp_path, src, schema, "b2.parquet", b2)

        out, state = str(tmp_path / "out"), str(tmp_path / "state")
        self._run(spark, src, schema, out, state, str(tmp_path / "ckpt"))

        rows = {
            r.doc_id: r
            for r in spark.read.parquet(out).collect()
        }
        assert len(rows) == 6
        # cross-epoch continuation: batch-2 docs start at cum 12, not 0
        assert rows[10].cum_tokens == 16
        # the exact batch semantics of q108: shard = start // budget
        for r in rows.values():
            assert r.shard_id == (r.cum_tokens - r.n_tokens) // 10
        # starts: doc0=0, doc2=8 -> shard 0; doc10=12, doc11=16 -> shard 1;
        # doc12 starts at 20 -> shard 2
        assert rows[0].shard_id == 0 and rows[2].shard_id == 0
        assert rows[10].shard_id == 1 and rows[12].shard_id == 2

    def test_replayed_epoch_does_not_advance_counter(self, spark, tmp_path):
        import os

        src = str(tmp_path / "docs")
        os.makedirs(src)
        schema = "doc_id long, text string"
        self._stage(
            spark, tmp_path, src, schema, "b1.parquet", [(1, "a b c")]
        )
        out, state = str(tmp_path / "out"), str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        self._run(spark, src, schema, out, state, ckpt)
        # crash-before-commit: epoch 0 replays
        os.remove(os.path.join(ckpt, "commits", "0"))
        crc = os.path.join(ckpt, "commits", ".0.crc")
        if os.path.exists(crc):
            os.remove(crc)
        self._run(spark, src, schema, out, state, ckpt)

        latest = spark.read.schema("total long").parquet(
            os.path.join(state, "epoch=0")
        ).collect()
        assert latest[0]["total"] == 3  # not 6
        got = spark.read.parquet(out).collect()
        assert len(got) == 1 and got[0].cum_tokens == 3

    def _epoch_dirs(self, out):
        import os
        import re

        return sorted(
            int(m.group(1))
            for d in os.listdir(out)
            if (m := re.match(r"^epoch=(-?\d+)$", d))
        )

    def test_compaction_folds_old_epochs_preserving_shards(
        self, spark, tmp_path
    ):
        import os

        from crowdsorsa_etl_spark.streaming.pipeline import (
            compact_shard_epochs,
        )

        src = str(tmp_path / "docs")
        os.makedirs(src)
        schema = "doc_id long, text string"
        for b in range(4):  # 4 single-file micro-batches = 4 epochs
            self._stage(
                spark, tmp_path, src, schema, f"b{b}.parquet",
                [(10 * b + i, "w x y z") for i in range(3)],
            )
        out, state = str(tmp_path / "out"), str(tmp_path / "state")
        self._run(spark, src, schema, out, state, str(tmp_path / "ckpt"))

        before = {
            r.doc_id: (r.n_tokens, r.cum_tokens, r.shard_id)
            for r in spark.read.parquet(out).collect()
        }
        assert self._epoch_dirs(out) == [0, 1, 2, 3]

        folded = compact_shard_epochs(spark, out, state, keep_epochs=2)
        assert folded == 2
        assert self._epoch_dirs(out) == [-1, 2, 3]
        after = {
            r.doc_id: (r.n_tokens, r.cum_tokens, r.shard_id)
            for r in spark.read.parquet(out).collect()
        }
        assert after == before  # every row, every shard id preserved
        # state pruned to the newest two epochs
        assert self._epoch_dirs(state) == [2, 3]
        # second call: nothing older than the keep window — a no-op
        assert compact_shard_epochs(spark, out, state, keep_epochs=2) == 0

    def test_replay_after_compaction_keeps_shard_ids(self, spark, tmp_path):
        """The keep-window exists for exactly this: an epoch that replays
        AFTER a compaction must overwrite its own still-live dir and land
        on the same carried total, leaving the full table unchanged."""
        import os

        from crowdsorsa_etl_spark.streaming.pipeline import (
            compact_shard_epochs,
        )

        src = str(tmp_path / "docs")
        os.makedirs(src)
        schema = "doc_id long, text string"
        for b in range(3):
            self._stage(
                spark, tmp_path, src, schema, f"b{b}.parquet",
                [(10 * b + i, "w x y z") for i in range(3)],
            )
        out, state = str(tmp_path / "out"), str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        self._run(spark, src, schema, out, state, ckpt)
        before = {
            r.doc_id: (r.cum_tokens, r.shard_id)
            for r in spark.read.parquet(out).collect()
        }

        assert compact_shard_epochs(spark, out, state, keep_epochs=2) == 1
        # crash-before-commit of the LAST epoch, then replay it
        os.remove(os.path.join(ckpt, "commits", "2"))
        crc = os.path.join(ckpt, "commits", ".2.crc")
        if os.path.exists(crc):
            os.remove(crc)
        self._run(spark, src, schema, out, state, ckpt)

        after = {
            r.doc_id: (r.cum_tokens, r.shard_id)
            for r in spark.read.parquet(out).collect()
        }
        assert after == before
        # live epochs are now [1, 2] — nothing older than the keep window,
        # so a further compaction is a no-op and the table is unchanged
        assert compact_shard_epochs(spark, out, state, keep_epochs=2) == 0
        assert {
            r.doc_id: (r.cum_tokens, r.shard_id)
            for r in spark.read.parquet(out).collect()
        } == before

    def test_compaction_repairs_crashed_swap(self, spark, tmp_path):
        """Crash between _swap_dirs' two renames leaves epoch=-1__old; the
        next compaction run must repair it (promote or drop) rather than
        die parsing the dir name, and the table must stay intact."""
        import os
        import shutil

        from crowdsorsa_etl_spark.streaming.pipeline import (
            compact_shard_epochs,
        )

        src = str(tmp_path / "docs")
        os.makedirs(src)
        schema = "doc_id long, text string"
        for b in range(4):
            self._stage(
                spark, tmp_path, src, schema, f"b{b}.parquet",
                [(10 * b + i, "w x y z") for i in range(3)],
            )
        out, state = str(tmp_path / "out"), str(tmp_path / "state")
        self._run(spark, src, schema, out, state, str(tmp_path / "ckpt"))
        before = {
            r.doc_id: (r.cum_tokens, r.shard_id)
            for r in spark.read.parquet(out).collect()
        }
        assert compact_shard_epochs(spark, out, state, keep_epochs=2) == 2

        base = os.path.join(out, "epoch=-1")
        stale = base + "__old"

        # case 1: crash after rename-aside, before promote → base missing
        os.rename(base, stale)
        assert compact_shard_epochs(spark, out, state, keep_epochs=2) == 0
        assert os.path.isdir(base) and not os.path.isdir(stale)
        assert {
            r.doc_id: (r.cum_tokens, r.shard_id)
            for r in spark.read.parquet(out).collect()
        } == before

        # case 2: crash after promote, before old-copy delete → both exist
        shutil.copytree(base, stale)
        assert compact_shard_epochs(spark, out, state, keep_epochs=2) == 0
        assert os.path.isdir(base) and not os.path.isdir(stale)
        assert {
            r.doc_id: (r.cum_tokens, r.shard_id)
            for r in spark.read.parquet(out).collect()
        } == before

    def test_compaction_refuses_on_duplicate_ids(self, spark, tmp_path):
        """Distinct rows sharing a doc_id after the exact-duplicate drop
        mean replay is no longer bit-deterministic — compaction must fail
        loudly instead of silently folding (and possibly losing) data."""
        import os

        import pytest as _pytest

        from crowdsorsa_etl_spark.streaming.pipeline import (
            compact_shard_epochs,
        )

        out = str(tmp_path / "out")
        schema = "doc_id long, n_tokens long, cum_tokens long, shard_id long"
        spark.createDataFrame([(1, 4, 4, 0)], schema).write.partitionBy(
            "shard_id"
        ).parquet(os.path.join(out, "epoch=0"))
        # same doc_id, different cum_tokens → not an exact duplicate
        spark.createDataFrame([(1, 4, 8, 0)], schema).write.partitionBy(
            "shard_id"
        ).parquet(os.path.join(out, "epoch=1"))
        spark.createDataFrame([(2, 4, 12, 1)], schema).write.partitionBy(
            "shard_id"
        ).parquet(os.path.join(out, "epoch=2"))
        spark.createDataFrame([(3, 4, 16, 1)], schema).write.partitionBy(
            "shard_id"
        ).parquet(os.path.join(out, "epoch=3"))

        with _pytest.raises(ValueError, match="doc_id"):
            compact_shard_epochs(spark, out, keep_epochs=2)

    def test_compaction_rejects_bad_keep(self, spark, tmp_path):
        import pytest as _pytest

        from crowdsorsa_etl_spark.streaming.pipeline import (
            compact_shard_epochs,
        )

        with _pytest.raises(ValueError):
            compact_shard_epochs(spark, str(tmp_path), keep_epochs=0)


class TestQualityClassifier:
    def test_matches_python_reference(self, spark):
        import math
        import re

        from crowdsorsa_etl_spark.queries import QUERIES
        from crowdsorsa_etl_spark.queries.curation import _QC_WEIGHTS

        out = {
            r.doc_id: (r.logit, r.keep)
            for r in QUERIES["llm_quality_classifier"](spark, SF_DIR).collect()
        }
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
        )
        for doc_id, text in zip(
            tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()
        ):
            nn = max(len(text), 1)
            stripped = re.sub(r"^\s+|\s+$", "", text)
            ntok = 0 if not stripped else len(re.split(r"\s+", stripped))
            alpha = len(re.sub(r"[^A-Za-zÀ-öø-ÿ]", "", text))
            feats = {
                "intercept": 1.0,
                "alpha_ratio": alpha / nn,
                "digit_ratio": len(re.sub(r"[^0-9]", "", text)) / nn,
                "punct_ratio": len(re.sub(r"[^\.,;:!\?]", "", text)) / nn,
                "upper_ratio": len(re.sub(r"[^A-ZÄÖÅ]", "", text)) / nn,
                "log_tokens": math.log(ntok + 1.0),
                "mean_token_len": (alpha / ntok) if ntok else 0.0,
            }
            logit = sum(w * feats[f] for f, w in _QC_WEIGHTS)
            got_logit, got_keep = out[doc_id]
            assert got_logit == pytest.approx(round(logit, 6), abs=2e-6)
            assert got_keep == (logit >= 0.0)

    def test_plan_is_narrow(self, spark):
        from crowdsorsa_etl_spark.queries import QUERIES

        plan = (
            QUERIES["llm_quality_classifier"](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan and "EvalPython" not in plan


class TestImagePhash:
    def _payloads(self, spark, texts):
        from crowdsorsa_etl_spark.operators.multimodal import (
            attach_png_payload,
        )

        df = spark.createDataFrame(
            list(enumerate(texts)), ["doc_id", "text"]
        )
        return attach_png_payload(df)

    def test_identical_images_hamming_zero(self, spark):
        from crowdsorsa_etl_spark.operators.multimodal import image_ahash_dups

        png = self._payloads(spark, ["hello world", "hello world", "zzz"])
        rows = image_ahash_dups(png, max_hamming=7).collect()
        assert any(
            r.id_a == 0 and r.id_b == 1 and r.hamming == 0 for r in rows
        )

    def test_pigeonhole_matches_bruteforce(self, spark):
        import itertools

        from crowdsorsa_etl_spark.operators.multimodal import (
            image_ahash,
            image_ahash_dups,
        )

        texts = [f"sample text number {i} with shared prefix" for i in range(12)]
        png = self._payloads(spark, texts)
        sig = {
            r.doc_id: r.bands for r in image_ahash(png).collect()
        }
        expect = set()
        for a, b in itertools.combinations(sorted(sig), 2):
            h = sum(
                bin(x ^ y).count("1") for x, y in zip(sig[a], sig[b])
            )
            if h <= 7:
                expect.add((a, b, h))
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in image_ahash_dups(png, max_hamming=7).collect()
        }
        assert got == expect

    def test_bands_are_bytes(self, spark):
        from crowdsorsa_etl_spark.operators.multimodal import image_ahash

        png = self._payloads(spark, ["abc def ghi", ""])
        for r in image_ahash(png).collect():
            assert len(r.bands) == 8
            assert all(0 <= v <= 255 for v in r.bands)

    def test_radius_guard(self, spark):
        from crowdsorsa_etl_spark.operators.multimodal import image_ahash_dups

        png = self._payloads(spark, ["x"])
        with pytest.raises(ValueError, match="pigeonhole"):
            image_ahash_dups(png, max_hamming=8)


class TestShardStreamTokenIds:
    """start_shard_stream with merges+vocab: the export budgets on REAL
    BPE token counts and carries ids_md5 + the raw token_ids arrays — the
    drained stream must match the batch bpe_encode_ids exactly, with the
    cumulative total continuing across epochs."""

    def test_token_id_shards_match_batch(self, spark, tmp_path):
        import os

        from crowdsorsa_etl_spark.operators.bpe import (
            bpe_encode_ids,
            bpe_learn_merges,
            bpe_vocab,
        )
        from crowdsorsa_etl_spark.streaming.pipeline import start_shard_stream

        schema = "doc_id long, text string"
        b1 = [(1, "low lower lowest"), (2, "new newest newer")]
        b2 = [(3, "the widest wide low new"), (4, "")]
        corpus = spark.createDataFrame(b1 + b2, schema)
        merges = [
            tuple(r["pair"].split(" "))
            for r in bpe_learn_merges(corpus, n_merges=6).collect()
        ]
        vocab = {
            r["token"]: r["token_id"]
            for r in bpe_vocab(corpus, merges).collect()
        }

        src = str(tmp_path / "docs")
        os.makedirs(src)
        TestStreamingShards._stage(
            self, spark, tmp_path, src, schema, "b1.parquet", b1
        )
        TestStreamingShards._stage(
            self, spark, tmp_path, src, schema, "b2.parquet", b2
        )
        out, state = str(tmp_path / "out"), str(tmp_path / "state")
        q = start_shard_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out,
            state,
            checkpoint_dir=str(tmp_path / "ckpt"),
            shard_budget=5,
            merges=merges,
            vocab=vocab,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
        want = {
            r["doc_id"]: r
            for r in bpe_encode_ids(
                corpus, merges, vocab, ids_col="token_ids"
            ).collect()
        }
        # doc 4 is empty → dropped on both sides
        assert set(got) == set(want) == {1, 2, 3}
        for d, w in want.items():
            g = got[d]
            assert g.n_tokens == w["n_tokens"]
            assert g.ids_md5 == w["ids_md5"]
            assert list(g.token_ids) == list(w["token_ids"])
        # cumulative totals continue across epochs in doc order per epoch
        cum = {d: got[d].cum_tokens for d in got}
        assert cum[1] == want[1]["n_tokens"]
        assert cum[2] == cum[1] + want[2]["n_tokens"]
        assert cum[3] == cum[2] + want[3]["n_tokens"]
        for g in got.values():  # q108 shard math over real token counts
            assert g.shard_id == (g.cum_tokens - g.n_tokens) // 5

    def test_merges_without_vocab_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from crowdsorsa_etl_spark.streaming.pipeline import start_shard_stream

        schema = "doc_id long, text string"
        with _pytest.raises(ValueError, match="together"):
            start_shard_stream(
                spark.readStream.schema(schema).parquet(str(tmp_path)),
                str(tmp_path / "o"),
                str(tmp_path / "s"),
                checkpoint_dir=str(tmp_path / "c"),
                merges=[("a", "b")],
            )
