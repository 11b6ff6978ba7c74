"""Round-11 tier: Kneser–Ney LM, perplexity buckets, Aho–Corasick
dictionary tagging, information-density signals, unigram-LM tokenizer."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.dicttag import (
    _build_automaton,
    _scan_counts,
    dictionary_tag,
)
from crowdsorsa_etl_spark.operators.evalmetrics import (
    _clipped,
    bleu2_from_clipped,
    rouge_from_clipped,
)
from crowdsorsa_etl_spark.operators.ngramlm import (
    kneser_ney_bigram_scores,
    perplexity_buckets,
)
from crowdsorsa_etl_spark.operators.unigram import (
    MAX_PIECE_LEN,
    piece_costs,
    unigram_seed_vocab,
    unigram_tokenize,
    viterbi_segment_word,
)


def _ac_counts(text: str, keywords: list[str]) -> dict[str, int]:
    goto, fail, word_of, order = _build_automaton(keywords)
    counts = _scan_counts(text, goto, fail, word_of, order, len(keywords))
    return {k: c for k, c in zip(keywords, counts) if c}


def _brute_counts(text: str, keywords: list[str]) -> dict[str, int]:
    out = {}
    for k in keywords:
        c = sum(
            1
            for i in range(len(text) - len(k) + 1)
            if text[i : i + len(k)] == k
        )
        if c:
            out[k] = c
    return out


class TestAhoCorasick:
    def test_overlapping_and_nested(self):
        kws = ["a", "aa", "aaa", "ab", "data", "at", "tab", "table"]
        for text in [
            "aaaa",
            "database table data at a tab",
            "abababa",
            "",
            "zzz",
        ]:
            assert _ac_counts(text, kws) == _brute_counts(text, kws)

    def test_phrase_keywords_cross_word_boundary(self):
        kws = ["a a", "a a a", "b a"]
        text = "a a a a b a"
        assert _ac_counts(text, kws) == _brute_counts(text, kws)

    def test_randomized_against_brute_force(self):
        import random

        rng = random.Random(11)
        alpha = "abc"
        for _ in range(50):
            text = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
            kws = list(
                {
                    "".join(
                        rng.choice(alpha)
                        for _ in range(rng.randint(1, 4))
                    )
                    for _ in range(rng.randint(1, 8))
                }
            )
            assert _ac_counts(text, kws) == _brute_counts(text, kws)

    def test_dataframe_operator(self, spark):
        df = spark.createDataFrame(
            [(1, "Data  at a TABLE"), (2, None), (3, "xyz")],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id"], r["keyword"]): r["n_matches"]
            for r in dictionary_tag(df, ["a", "at", "table", "data"]).collect()
        }
        # normalized: "data at a table" — 'a' occurs in data(2), at, a, table
        assert got == {
            (1, "a"): 5,
            (1, "at"): 2,
            (1, "table"): 1,
            (1, "data"): 1,
        }

    def test_rejects_bad_dictionaries(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            dictionary_tag(df, [])
        with pytest.raises(ValueError):
            dictionary_tag(df, ["a", "a"])


class TestKneserNey:
    def test_probabilities_sum_to_one_per_context(self, spark):
        """Interpolated KN must be a proper conditional distribution:
        summing P(w2|w1) over all VOCAB words w2 gives 1 for every seen
        context w1 (discount mass exactly redistributed)."""
        docs = spark.createDataFrame(
            [(1, "a b a c a b"), (2, "b c a a b")],
            "doc_id long, text string",
        )
        from collections import Counter

        toks = ["a", "b", "a", "c", "a", "b"], ["b", "c", "a", "a", "b"]
        bigrams = [
            (w1, w2) for seq in toks for w1, w2 in zip(seq, seq[1:])
        ]
        bc = Counter(bigrams)
        ctx = Counter(w1 for w1, _ in bigrams)
        nleft = Counter(w1 for w1, _ in set(bigrams))
        nright = Counter(w2 for _, w2 in set(bigrams))
        T = len(set(bigrams))
        D = 0.75
        vocab = set(w for b in bigrams for w in b)
        for w1 in ctx:
            s = sum(
                max(bc.get((w1, w2), 0) - D, 0.0) / ctx[w1]
                + D * nleft[w1] / ctx[w1] * (nright.get(w2, 0) / T)
                for w2 in vocab
            )
            # sums to 1 iff every vocab word has nright>0 (true here:
            # every word occurs as a continuation in this fixture)
            assert abs(s - 1.0) < 1e-12

        got = {
            r["doc_id"]: r for r in kneser_ney_bigram_scores(docs).collect()
        }
        lp1 = sum(
            round(
                math.log(
                    max(bc[(w1, w2)] - D, 0.0) / ctx[w1]
                    + D * nleft[w1] / ctx[w1] * (nright[w2] / T)
                ),
                6,
            )
            for w1, w2 in zip(toks[0], toks[0][1:])
        )
        expect = round(round(lp1, 6) / 5, 6)
        assert got[1]["n_bigrams"] == 5
        assert got[1]["avg_logprob"] == pytest.approx(expect, abs=1e-9)

    def test_short_docs_drop_out(self, spark):
        docs = spark.createDataFrame(
            [(1, "only"), (2, ""), (3, "a b")], "doc_id long, text string"
        )
        got = kneser_ney_bigram_scores(docs).collect()
        assert [r["doc_id"] for r in got] == [3]


class TestPerplexityBuckets:
    def test_thirds_and_ordering(self, spark):
        rows = [
            (i, "en", -float(i) / 10.0) for i in range(1, 10)
        ] + [(100 + i, "fi", -1.0 - i) for i in range(3)]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, avg_logprob double"
        )
        got = perplexity_buckets(df).collect()
        by_lang = {}
        for r in got:
            by_lang.setdefault(r["lang"], []).append(r)
        en = sorted(by_lang["en"], key=lambda r: -r["avg_logprob"])
        assert [r["bucket"] for r in en] == (
            ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
        )
        # every head score >= every middle score >= every tail score
        for lang_rows in by_lang.values():
            h = [r["avg_logprob"] for r in lang_rows if r["bucket"] == "head"]
            t = [r["avg_logprob"] for r in lang_rows if r["bucket"] == "tail"]
            if h and t:
                assert min(h) >= max(t)

    def test_single_bin_degenerates_to_head(self, spark):
        df = spark.createDataFrame(
            [(1, "en", -2.0), (2, "en", -2.0)],
            "doc_id long, lang string, avg_logprob double",
        )
        assert {r["bucket"] for r in perplexity_buckets(df).collect()} == {
            "head"
        }


class TestEntropySignals:
    def test_uniform_alphabet_entropy(self, spark):
        from crowdsorsa_etl_spark.operators.curation import entropy_signals

        df = spark.createDataFrame(
            [(1, "abcd"), (2, "aaaa")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r["entropy"] for r in entropy_signals(df).collect()}
        assert got[1] == pytest.approx(
            sum(round(0.25 * math.log(4), 6) for _ in range(4)), abs=1e-9
        )
        assert got[2] == 0.0


def _brute_best_segmentation(word: str, costs: dict, maxp: int):
    """Enumerate all masks, mirroring the SQL oracle's tuple order."""
    L = len(word)
    best = None
    for m in range(1 << max(L - 1, 0)):
        starts = [0] + [j for j in range(1, L) if (m >> (j - 1)) & 1]
        ends = starts[1:] + [L]
        pieces = [word[s:e] for s, e in zip(starts, ends)]
        if any(p not in costs or len(p) > maxp for p in pieces):
            continue
        key = (sum(costs[p] for p in pieces), len(pieces), m)
        if best is None or key < best[0]:
            best = (key, pieces)
    return best


class TestUnigramTokenizer:
    def test_viterbi_matches_enumeration(self):
        import random

        rng = random.Random(7)
        for _ in range(40):
            alpha = "ab"
            word = "".join(
                rng.choice(alpha) for _ in range(rng.randint(1, 10))
            )
            pieces = {word[i : i + l] for i in range(len(word))
                      for l in range(1, MAX_PIECE_LEN + 1)}
            counted = {
                p: rng.randint(1, 50)
                for p in pieces
                if len(p) <= MAX_PIECE_LEN
            }
            total = sum(counted.values())
            costs = {
                p: int(math.floor(-math.log(c / total) * 1e6 + 0.5))
                for p, c in counted.items()
            }
            got = viterbi_segment_word(word, costs)
            want = _brute_best_segmentation(word, costs, MAX_PIECE_LEN)
            assert got is not None and want is not None
            assert (got[0], got[1], got[2]) == want[0]
            assert got[3] == want[1]

    def test_commutative_tie_broken_by_mask(self):
        # cost(a)+cost(aaa) == cost(aaa)+cost(a): the (1,'aaa') vs
        # ('aaa',1) tie is broken toward the smaller boundary mask,
        # i.e. the segmentation whose first piece is SHORTEST... mask
        # bit for boundary after pos1 (m=1) < after pos3 (m=4).
        costs = {"a": 100, "aaa": 250, "aa": 999}
        got = viterbi_segment_word("aaaa", costs)
        want = _brute_best_segmentation("aaaa", costs, MAX_PIECE_LEN)
        assert (got[0], got[1], got[2]) == want[0] and got[3] == want[1]
        assert got[3] == ["a", "aaa"]

    def test_infeasible_word_returns_none(self):
        assert viterbi_segment_word("xyz", {"x": 1, "y": 1}) is None

    def test_seed_vocab_keeps_all_single_chars(self, spark):
        docs = spark.createDataFrame(
            [(1, "abc xq")], "doc_id long, text string"
        )
        vocab = {
            r["piece"]: r["cnt"]
            for r in unigram_seed_vocab(docs, min_count=2).collect()
        }
        # every corpus char survives pruning even at count 1
        for ch in "abcxq":
            assert ch in vocab
        # multi-char substrings below min_count are pruned
        assert "ab" not in vocab

    def test_tokenize_covers_all_docs_and_counts(self, spark):
        docs = spark.createDataFrame(
            [(1, "abab ab"), (2, "ab")], "doc_id long, text string"
        )
        rows = unigram_seed_vocab(docs, min_count=1).collect()
        costs = piece_costs(rows)
        got = {r["doc_id"]: r for r in unigram_tokenize(docs, costs).collect()}
        assert set(got) == {1, 2}
        # "ab" segments as one piece (highest-probability single piece)
        assert got[2]["n_pieces"] == 1


def _clip(cand, ref, n: int):
    return _clipped(cand, ref, n, pair_col="pair_id", text_col="text")


class TestEvalMetrics:
    def test_bleu2_hand_computed(self, spark):
        cand = spark.createDataFrame(
            [(1, "the cat sat on the mat"), (2, "a b c")],
            "pair_id long, text string",
        )
        ref = spark.createDataFrame(
            [(1, "the cat is on the mat"), (2, "x y z")],
            "pair_id long, text string",
        )
        bleu = bleu2_from_clipped(_clip(cand, ref, 1), _clip(cand, ref, 2))
        got = {r["pair_id"]: r for r in bleu.collect()}
        # pair 1: unigrams cand {the:2,cat,sat,on,mat}, ref {the:2,cat,
        # is,on,mat} -> matched = 2+1+0+1+1 = 5 of 6; bigrams cand
        # {the cat, cat sat, sat on, on the, the mat} ref {the cat,
        # cat is, is on, on the, the mat} -> matched 3 of 5
        import math

        r1 = got[1]
        assert r1["c_len"] == 6 and r1["r_len"] == 6
        assert r1["p1"] == pytest.approx(round(5 / 6, 6))
        assert r1["p2"] == pytest.approx(0.6)
        assert r1["bp"] == 1.0
        assert r1["bleu2"] == pytest.approx(
            round(math.exp(0.5 * math.log(5 / 6) + 0.5 * math.log(0.6)), 6)
        )
        # pair 2: nothing matches -> bleu 0
        assert got[2]["bleu2"] == 0.0 and got[2]["p1"] == 0.0

    def test_brevity_penalty_applies_to_short_candidates(self, spark):
        cand = spark.createDataFrame(
            [(1, "the cat")], "pair_id long, text string"
        )
        ref = spark.createDataFrame(
            [(1, "the cat sat on the mat")], "pair_id long, text string"
        )
        import math

        bleu = bleu2_from_clipped(_clip(cand, ref, 1), _clip(cand, ref, 2))
        r = bleu.collect()[0]
        assert r["bp"] == pytest.approx(round(math.exp(1 - 6 / 2), 6))
        assert r["p1"] == 1.0 and r["p2"] == 1.0
        assert r["bleu2"] == pytest.approx(round(math.exp(1 - 3.0), 6))

    def test_rouge2_recall_precision_f1(self, spark):
        cand = spark.createDataFrame(
            [(1, "a b c d")], "pair_id long, text string"
        )
        ref = spark.createDataFrame(
            [(1, "a b x c d")], "pair_id long, text string"
        )
        r = rouge_from_clipped(_clip(cand, ref, 2)).collect()[0]
        # cand bigrams {ab,bc,cd}; ref {ab,bx,xc,cd} -> matched {ab,cd}=2
        assert r["matched"] == 2
        assert r["recall"] == pytest.approx(0.5)
        assert r["precision"] == pytest.approx(round(2 / 3, 6))
        f = 2 * 0.5 * (2 / 3) / (0.5 + 2 / 3)
        assert r["f1"] == pytest.approx(round(f, 6))


class TestRecordLinkage:
    def test_fs_score_weights_and_classes(self, spark):
        from crowdsorsa_etl_spark.operators.linkage import fs_link

        left = spark.createDataFrame(
            [(1, "b1", "alice", "123"), (2, "b1", "bob", "456")],
            "lid long, blk string, name string, phone string",
        )
        right = spark.createDataFrame(
            [(10, "b1", "alice", "123"), (11, "b1", "carol", "999")],
            "rid long, blk string, r_name string, r_phone string",
        )
        w = {"name": (0.9, 0.001), "phone": (0.95, 0.01)}
        got = fs_link(
            left,
            right,
            block_on=["blk"],
            features={
                "name": F.col("name") == F.col("r_name"),
                "phone": F.col("phone") == F.col("r_phone"),
            },
            weights=w,
            upper=10.0,
            lower=0.0,
        ).collect()
        assert len(got) == 4  # 2x2 inside the one block
        by = {(r["lid"], r["rid"]): r for r in got}
        both = round(
            math.log2(0.9 / 0.001) + math.log2(0.95 / 0.01), 6
        )
        neither = round(
            math.log2(0.1 / 0.999) + math.log2(0.05 / 0.99), 6
        )
        assert by[(1, 10)]["fs_score"] == pytest.approx(both)
        assert by[(1, 10)]["fs_class"] == "match"
        assert by[(2, 11)]["fs_score"] == pytest.approx(neither)
        assert by[(2, 11)]["fs_class"] == "nonmatch"

    def test_rejects_degenerate_weights(self, spark):
        from crowdsorsa_etl_spark.operators.linkage import fs_score

        with pytest.raises(ValueError):
            fs_score({"a": F.lit(True)}, {"a": (0.5, 0.5)})
        with pytest.raises(ValueError):
            fs_score({"a": F.lit(True)}, {"b": (0.9, 0.1)})

    def test_registered_query_recall(self, spark):
        """Every true pair (same custkey) must classify match or possible;
        heavy multi-perturbation rows land in 'possible', cross pairs in
        'nonmatch'."""
        from crowdsorsa_etl_spark.queries.graph_er import (
            llm_record_linkage,
        )

        got = llm_record_linkage(spark, "/root/testdata/sf0.001").collect()
        true_pairs = [r for r in got if r["c_custkey"] == r["d_custkey"]]
        cross = [r for r in got if r["c_custkey"] != r["d_custkey"]]
        assert true_pairs
        for r in true_pairs:
            k = r["c_custkey"]
            n_perturbed = (k % 3 == 0) + (k % 4 == 0) + (k % 5 == 0)
            if n_perturbed < 3:
                assert r["fs_class"] in ("match", "possible"), r
            else:
                # 3 of 4 fields mangled: an honest F-S false negative —
                # only the acctbal agreement survives, and one field
                # cannot outvote three (that is the model working, not
                # a bug; a clerical-review pipeline would widen the
                # 'possible' band instead of inflating m/u)
                assert r["fs_class"] == "nonmatch", r
        if cross:
            assert all(r["fs_class"] == "nonmatch" for r in cross)


class TestEntropyParity:
    def test_hof_and_arrow_paths_agree(self, spark):
        """operators/curation.entropy_signals (Arrow) equals the same
        entropy written as Spark higher-order functions (array_distinct ×
        filter-count, interpreted, ~20× slower): an independent reference
        on fixture data, with the same 6-dp per-term rounding."""
        from crowdsorsa_etl_spark.functions.text import normalize_text
        from crowdsorsa_etl_spark.operators.curation import entropy_signals

        chars = F.split(normalize_text(F.col("text")), "")
        n = F.size(chars)

        def term(c):
            p = F.size(F.filter(chars, lambda x: x == c)) / n
            return F.round(-p * F.log(p), 6)

        hof_entropy = F.round(
            F.aggregate(
                F.array_distinct(chars), F.lit(0.0), lambda acc, c: acc + term(c)
            ),
            6,
        )
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(100)
        hof = {
            r["doc_id"]: r["e"]
            for r in docs.filter(
                F.length(normalize_text(F.col("text"))) > 0
            )
            .select("doc_id", hof_entropy.alias("e"))
            .collect()
        }
        arrow = {
            r["doc_id"]: r["entropy"]
            for r in entropy_signals(docs).collect()
        }
        assert hof == arrow


class TestDSIR:
    B = 64

    @staticmethod
    def _bucket(g: str) -> int:
        import hashlib

        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % TestDSIR.B

    def test_scores_match_pure_python(self, spark):
        """Full pipeline recomputed independently in Python (hashlib md5,
        math.log, exact int fixed-point) — not via either engine."""
        import math
        from collections import Counter

        from crowdsorsa_etl_spark.operators.dsir import (
            FX,
            dsir_weights_onepass,
        )

        rows = [
            (1, "the cat sat", True),
            (2, "the dog sat down", True),
            (3, "le chat marche", False),
            (4, "the cat sat", False),  # identical to a target doc
            (5, "der hund", False),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, is_t boolean"
        )
        got = {
            r["doc_id"]: r
            for r in dsir_weights_onepass(
                docs, F.col("is_t"), buckets=self.B
            ).collect()
        }

        def grams(text):
            w = text.split(" ")
            return w + [f"{a} {b}" for a, b in zip(w, w[1:])]

        t_ctr, r_ctr = Counter(), Counter()
        for _, text, is_t in rows:
            (t_ctr if is_t else r_ctr).update(
                self._bucket(g) for g in grams(text)
            )
        t_tot, r_tot = sum(t_ctr.values()), sum(r_ctr.values())
        lr_fx = {}
        for b in set(t_ctr) | set(r_ctr):
            lr = math.log((t_ctr[b] + 1.0) / (t_tot + self.B)) - math.log(
                (r_ctr[b] + 1.0) / (r_tot + self.B)
            )
            lr_fx[b] = round(lr * FX)
        for doc_id, text, is_t in rows:
            if is_t:
                assert doc_id not in got
                continue
            gs = grams(text)
            fx = sum(lr_fx[self._bucket(g)] for g in gs)
            r = got[doc_id]
            assert r["n_grams"] == len(gs)
            assert r["logratio"] == pytest.approx(round(fx / FX, 6))
            assert r["avg_logratio"] == pytest.approx(
                round(fx / FX / len(gs), 6)
            )
            assert r["selected"] == (fx > 0)
        # the doc that copies a target doc must outscore the others
        assert got[4]["avg_logratio"] > got[3]["avg_logratio"]
        assert got[4]["avg_logratio"] > got[5]["avg_logratio"]

    def test_empty_and_null_text_drop_out(self, spark):
        from crowdsorsa_etl_spark.operators.dsir import dsir_weights_onepass

        docs = spark.createDataFrame(
            [(1, "real text", True), (2, "", False), (3, None, False),
             (4, "   ", False), (5, "ok", False)],
            "doc_id long, text string, is_t boolean",
        )
        out = dsir_weights_onepass(
            docs, F.col("is_t"), buckets=self.B
        ).collect()
        assert [r["doc_id"] for r in out] == [5]
