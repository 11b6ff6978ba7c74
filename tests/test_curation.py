"""Unit tests for operators/curation.py — PII redaction, quality filter,
deterministic splits, sequence packing."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.curation import (
    assign_split,
    hash_bucket,
    pack_sequences,
    pii_counts,
    quality_filter_signals,
    quality_filter_verdict,
    redact_pii,
)


class TestPiiRedaction:
    def test_redacts_all_three_categories(self, spark):
        df = spark.createDataFrame(
            [("write bob.smith+x@corp.example.org or call +358-40-1234567 "
              "from 192.168.0.12 today",)],
            "text string",
        )
        out = df.select(redact_pii(F.col("text")).alias("r")).first().r
        assert "<EMAIL>" in out and "<PHONE>" in out and "<IP>" in out
        assert "bob" not in out and "192.168" not in out and "1234567" not in out

    def test_counts_match_occurrences(self, spark):
        df = spark.createDataFrame(
            [("a@b.co c@d.io +1-800-5551234 10.0.0.1 not.an.ip.toolong 999",)],
            "text string",
        )
        c = pii_counts(F.col("text"))
        row = df.select(
            c["email"].alias("e"), c["phone"].alias("p"), c["ipv4"].alias("i")
        ).first()
        assert (row.e, row.p, row.i) == (2, 1, 1)

    def test_clean_text_untouched(self, spark):
        df = spark.createDataFrame([("just plain words here",)], "text string")
        assert df.select(redact_pii(F.col("text")).alias("r")).first().r == (
            "just plain words here"
        )


class TestQualityFilter:
    def _verdicts(self, spark, texts):
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        sig = quality_filter_signals(F.col("text"))
        keep, reason = quality_filter_verdict(sig, min_tokens=3)
        return [r.reason for r in df.select(reason.alias("reason")).collect()]

    def test_first_fail_reasons(self, spark):
        texts = [
            "a b",  # 2 tokens -> too_short
            " ".join(["the"] * 50),  # distinct_ratio 1/50 -> repetitive
            " ".join(f"w{i}" for i in range(50)),  # no stopwords
            "the quick brown fox jumps over a lazy dog and runs off",
        ]
        assert self._verdicts(spark, texts) == [
            "too_short",
            "repetitive",
            "no_stopwords",
            "ok",
        ]

    def test_word_len_rule(self, spark):
        long_words = " ".join(["x" * 20] * 10) + " the a of"
        assert self._verdicts(spark, [long_words]) == ["word_len"]


class TestHashSplit:
    def test_bucket_matches_md5_reference(self, spark):
        df = spark.createDataFrame([(i,) for i in range(64)], "k bigint")
        rows = df.select("k", hash_bucket(F.col("k")).alias("b")).collect()
        for r in rows:
            expect = int(hashlib.md5(str(r.k).encode()).hexdigest()[:2], 16)
            assert r.b == expect, r.k

    def test_split_fractions_and_stability(self, spark):
        df = spark.createDataFrame([(i,) for i in range(5000)], "k bigint")
        counts = dict(
            df.select(assign_split(F.col("k")).alias("s"))
            .groupBy("s").count().collect()
        )
        n = 5000
        assert 0.85 < counts["train"] / n < 0.93
        assert 0.02 < counts["val"] / n < 0.08
        assert 0.02 < counts["test"] / n < 0.09
        # stability: same assignment on re-computation
        again = dict(
            df.select(assign_split(F.col("k")).alias("s"))
            .groupBy("s").count().collect()
        )
        assert counts == again


class TestSequencePacking:
    def test_contiguous_bins_with_overflow(self, spark):
        # tokens 600,600,600,600 with budget 1000: doc starts at cum-own
        # 0,600,1200,1800 -> bins 0,0,1,1
        df = spark.createDataFrame(
            [(i, 600) for i in range(4)], "doc_id bigint, n_tokens int"
        )
        out = pack_sequences(df, "n_tokens", "doc_id", 1000)
        assert [r.pack_bin for r in out.orderBy("doc_id").collect()] == [0, 0, 1, 1]

    def test_shards_pack_independently(self, spark):
        df = spark.createDataFrame(
            [("a", 0, 900), ("a", 1, 900), ("b", 2, 900), ("b", 3, 900)],
            "lang string, doc_id bigint, n_tokens int",
        )
        out = pack_sequences(df, "n_tokens", "doc_id", 1000, ["lang"])
        got = {(r.lang, r.doc_id): r.pack_bin for r in out.collect()}
        # each shard restarts at bin 0
        assert got[("a", 0)] == 0 and got[("b", 2)] == 0
        assert got[("a", 1)] == 0 and got[("b", 3)] == 0


class TestPackTokenSequences:
    def _pack(self, spark, docs, max_len, eos_id=None):
        from crowdsorsa_etl_spark.operators.curation import (
            pack_token_sequences,
        )

        df = spark.createDataFrame(
            docs, "doc_id long, token_ids array<int>"
        )
        return {
            r.seq_id: (r.seq_len, list(r.ids))
            for r in pack_token_sequences(
                df, "token_ids", [F.col("doc_id")],
                max_len=max_len, eos_id=eos_id,
            ).collect()
        }

    def test_packing_matches_flat_stream(self, spark):
        docs = [(0, [1, 2, 3]), (1, [4]), (2, [5, 6, 7, 8, 9])]
        got = self._pack(spark, docs, max_len=4)
        flat = [1, 2, 3, 4, 5, 6, 7, 8, 9]
        want = {
            i: (len(flat[i * 4 : (i + 1) * 4]), flat[i * 4 : (i + 1) * 4])
            for i in range((len(flat) + 3) // 4)
        }
        assert got == want

    def test_eos_separator_after_every_doc(self, spark):
        docs = [(0, [1, 2]), (1, [3])]
        got = self._pack(spark, docs, max_len=10, eos_id=99)
        assert got == {0: (5, [1, 2, 99, 3, 99])}

    def test_sequences_cross_doc_boundaries(self, spark):
        docs = [(0, [1, 2, 3]), (1, [4, 5, 6])]
        got = self._pack(spark, docs, max_len=4, eos_id=0)
        # stream: 1 2 3 0 | 4 5 6 0
        assert got == {0: (4, [1, 2, 3, 0]), 1: (4, [4, 5, 6, 0])}

    def test_only_tail_may_be_short(self, spark):
        docs = [(i, list(range(i * 3, i * 3 + 3))) for i in range(7)]
        got = self._pack(spark, docs, max_len=5)
        lens = [got[s][0] for s in sorted(got)]
        assert lens[:-1] == [5] * (len(lens) - 1) and lens[-1] == 21 % 5
        assert [x for s in sorted(got) for x in got[s][1]] == list(range(21))

    def test_no_single_partition_window(self, spark):
        from crowdsorsa_etl_spark.operators.curation import (
            pack_token_sequences,
        )

        df = spark.createDataFrame(
            [(0, [1, 2])], "doc_id long, token_ids array<int>"
        )
        out = pack_token_sequences(
            df, "token_ids", [F.col("doc_id")], max_len=4
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan

    def test_one_doc_spans_many_sequences(self, spark):
        """r16 chunk-shuffle form: a single doc emits one chunk row per
        touched sequence — a 12-token doc over max_len=4 must land intact
        across exactly 3 full sequences."""
        docs = [(0, list(range(100, 112)))]
        got = self._pack(spark, docs, max_len=4)
        assert got == {
            0: (4, [100, 101, 102, 103]),
            1: (4, [104, 105, 106, 107]),
            2: (4, [108, 109, 110, 111]),
        }

    def test_zero_token_doc_without_eos(self, spark):
        """With eos_id=None a zero-token doc occupies no stream positions
        (the F.sequence bounds would invert without the _n >= 1 guard)."""
        docs = [(0, [1, 2]), (1, []), (2, [3, 4, 5])]
        got = self._pack(spark, docs, max_len=3)
        assert got == {0: (3, [1, 2, 3]), 1: (2, [4, 5])}

    def test_guard(self, spark):
        import pytest

        with pytest.raises(ValueError, match="max_len"):
            self._pack(spark, [(0, [1])], max_len=0)


class TestSequenceProvenance:
    def test_spans_reconstruct_packed_sequences(self, spark):
        """The strongest invariant: stitching each sequence together from
        its provenance spans and the source docs' token arrays must
        reproduce pack_token_sequences' output exactly."""
        from crowdsorsa_etl_spark.operators.curation import (
            pack_token_sequences,
            sequence_provenance,
        )

        docs = [
            (0, [1, 2, 3]),
            (1, [4]),
            (2, [5, 6, 7, 8, 9, 10, 11]),
            (3, [12, 13]),
        ]
        eos = 0
        max_len = 5
        df = spark.createDataFrame(
            docs, "doc_id long, token_ids array<int>"
        )
        df = df.withColumn(
            "n_tokens",
            __import__("pyspark.sql.functions", fromlist=["F"]).size(
                "token_ids"
            ).cast("bigint"),
        )
        packed = {
            r.seq_id: list(r.ids)
            for r in pack_token_sequences(
                df, "token_ids", [F.col("doc_id")],
                max_len=max_len, eos_id=eos,
            ).collect()
        }
        spans = sequence_provenance(
            df, "n_tokens", [F.col("doc_id")], max_len=max_len
        ).collect()
        streams = {d: ids + [eos] for d, ids in docs}
        # per doc, walk its spans in seq order consuming its stream
        rebuilt: dict[int, list] = {
            s: [None] * len(packed[s]) for s in packed
        }
        for d in streams:
            consumed = 0
            for r in sorted(
                (r for r in spans if r.doc_id == d),
                key=lambda r: r.seq_id,
            ):
                width = r.end_in_seq - r.start_in_seq
                chunk = streams[d][consumed : consumed + width]
                rebuilt[r.seq_id][r.start_in_seq : r.end_in_seq] = chunk
                consumed += width
            assert consumed == len(streams[d])
        assert rebuilt == packed
        # spans within each sequence tile it exactly, no overlap, no gap
        by_seq: dict[int, list] = {}
        for r in spans:
            by_seq.setdefault(r.seq_id, []).append(
                (r.start_in_seq, r.end_in_seq)
            )
        for s, iv in by_seq.items():
            iv.sort()
            assert iv[0][0] == 0
            for (a0, a1), (b0, b1) in zip(iv, iv[1:]):
                assert a1 == b0
            assert iv[-1][1] == len(packed[s])

    def test_no_token_level_shuffle(self, spark):
        """Provenance is interval math over doc counts — the plan must not
        contain a generator over token ids (only the bounded seq range)."""
        from crowdsorsa_etl_spark.operators.curation import (
            sequence_provenance,
        )

        df = spark.createDataFrame(
            [(0, 7)], "doc_id long, n_tokens bigint"
        )
        out = sequence_provenance(
            df, "n_tokens", [F.col("doc_id")], max_len=4
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        rows = out.collect()
        # 7 + 1 EOS tokens at max_len 4 -> spans (0,[0,4)) and (1,[0,4))
        got = {(r.seq_id, r.start_in_seq, r.end_in_seq) for r in rows}
        assert got == {(0, 0, 4), (1, 0, 4)}

    def test_count_eos_false(self, spark):
        from crowdsorsa_etl_spark.operators.curation import (
            sequence_provenance,
        )

        df = spark.createDataFrame(
            [(0, 4), (1, 4)], "doc_id long, n_tokens bigint"
        )
        rows = sequence_provenance(
            df, "n_tokens", [F.col("doc_id")], max_len=4, count_eos=False
        ).collect()
        got = {(r.doc_id, r.seq_id, r.start_in_seq, r.end_in_seq)
               for r in rows}
        assert got == {(0, 0, 0, 4), (1, 1, 0, 4)}


class TestMaskDocSpans:
    def _fixture(self, spark, max_len=5, eos=0):
        from crowdsorsa_etl_spark.operators.curation import (
            pack_token_sequences,
            sequence_provenance,
        )

        docs = [(0, [1, 2, 3]), (1, [4]), (2, [5, 6, 7, 8, 9, 10, 11])]
        df = spark.createDataFrame(
            docs, "doc_id long, token_ids array<int>"
        ).withColumn("n_tokens", F.size("token_ids").cast("bigint"))
        seqs = pack_token_sequences(
            df, "token_ids", [F.col("doc_id")], max_len=max_len, eos_id=eos
        )
        spans = sequence_provenance(
            df, "n_tokens", [F.col("doc_id")], max_len=max_len
        )
        return df, seqs, spans, docs

    def test_masks_exactly_the_forgotten_spans(self, spark):
        from crowdsorsa_etl_spark.operators.curation import mask_doc_spans

        df, seqs, spans, docs = self._fixture(spark)
        forget = spark.createDataFrame([(1,)], "doc_id long")
        got = {
            r.seq_id: list(r.ids)
            for r in mask_doc_spans(
                seqs, spans, forget, mask_id=-1
            ).collect()
        }
        # stream: 1 2 3 0 | 4 0 | 5 6 7 8 9 10 11 0 → doc1 occupies
        # gpos 4..5 → seq 0 pos 4 ([4]→-1… wait: seq0 = [1,2,3,0,4]) and
        # seq 1 pos 0 (the EOS) — mask both, nothing else
        assert got[0] == [1, 2, 3, 0, -1]
        assert got[1] == [-1, 5, 6, 7, 8]
        assert got[2] == [9, 10, 11, 0]

    def test_empty_forget_list_is_identity(self, spark):
        from crowdsorsa_etl_spark.operators.curation import mask_doc_spans

        df, seqs, spans, docs = self._fixture(spark)
        forget = spark.createDataFrame([], "doc_id long")
        want = {r.seq_id: list(r.ids) for r in seqs.collect()}
        got = {
            r.seq_id: list(r.ids)
            for r in mask_doc_spans(
                seqs, spans, forget, mask_id=-1
            ).collect()
        }
        assert got == want

    def test_forget_all_masks_everything(self, spark):
        from crowdsorsa_etl_spark.operators.curation import mask_doc_spans

        df, seqs, spans, docs = self._fixture(spark)
        forget = df.select("doc_id")
        rows = mask_doc_spans(seqs, spans, forget, mask_id=-1).collect()
        assert all(set(r.ids) == {-1} for r in rows)


class TestProvenanceZeroTokenDocs:
    def test_zero_token_docs_emit_no_spans(self, spark):
        """A zero-token doc occupies no stream positions; without the _n
        guard the sequence bounds invert at exact max_len multiples and
        spurious out-of-domain spans appear."""
        from crowdsorsa_etl_spark.operators.curation import (
            sequence_provenance,
        )

        # doc 1 has 0 tokens and sits exactly at a max_len boundary
        df = spark.createDataFrame(
            [(0, 4), (1, 0), (2, 4)], "doc_id long, n_tokens bigint"
        )
        rows = sequence_provenance(
            df, "n_tokens", [F.col("doc_id")], max_len=4, count_eos=False
        ).collect()
        got = {(r.doc_id, r.seq_id, r.start_in_seq, r.end_in_seq)
               for r in rows}
        assert got == {(0, 0, 0, 4), (2, 1, 0, 4)}
        for r in rows:
            assert 0 <= r.start_in_seq < r.end_in_seq <= 4


class TestSplitLeakage:
    def test_planted_cross_split_neardup_is_flagged(self, spark):
        """Two near-identical docs whose ids hash into different splits
        must surface as a leaked pair; same-split near-dups must not."""
        from crowdsorsa_etl_spark.operators.curation import assign_split
        from crowdsorsa_etl_spark.operators.dedup import (
            minhash_lsh_candidates,
        )

        base = "the quick brown fox jumps over the lazy dog " * 5
        # find two ids in different splits and two in the same split
        ids = list(range(200))
        df = spark.createDataFrame(
            [(i,) for i in ids], "doc_id long"
        ).select("doc_id", assign_split(F.col("doc_id")).alias("s"))
        splits = {r.doc_id: r.s for r in df.collect()}
        cross = next(
            (a, b) for a in ids for b in ids
            if a < b and splits[a] != splits[b]
        )
        same = next(
            (a, b) for a in ids for b in ids
            if a < b and splits[a] == splits[b]
            and {a, b}.isdisjoint(cross)
        )
        docs = spark.createDataFrame(
            [
                (cross[0], base),
                (cross[1], base + "tail"),
                (same[0], "совершенно other content here now " * 6),
                (same[1], "совершенно other content here now * 6 almost"),
            ],
            "doc_id long, text string",
        )
        pairs = minhash_lsh_candidates(docs).select(
            "id_a",
            "id_b",
            assign_split(F.col("id_a")).alias("split_a"),
            assign_split(F.col("id_b")).alias("split_b"),
        )
        leaked = {
            (r.id_a, r.id_b)
            for r in pairs.filter(
                F.col("split_a") != F.col("split_b")
            ).collect()
        }
        assert cross in leaked
        assert same not in leaked
