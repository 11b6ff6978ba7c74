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
