"""Round-16 operator gates: t-closeness EMD semantics on planted
distributions plus fixture invariants."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _write_documents(spark, tmp_path, rows):
    """Write a minimal documents fixture (doc_id, text, lang, source,
    n_chars) so governance queries can run against a planted corpus."""
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    return str(tmp_path)


class TestTCloseness:
    def test_planted_skewed_class_violates(self, spark, tmp_path):
        """One class holds only the longest docs while the corpus is
        spread across buckets: its prefix-sum EMD must trip t > 0.2.
        A class mirroring the corpus distribution must not."""
        from crowdsorsa_etl_spark.queries import QUERIES

        rows = []
        did = 0
        # background: source "mix" holds 32 docs evenly over 4 pow2
        # buckets (64, 128, 256, 512)
        for rep in range(8):
            for n in (40, 100, 200, 400):
                rows.append((did, "x", "en", "mix", n))
                did += 1
        # skewed: source "top" holds 8 docs, all in the 512 bucket
        for rep in range(8):
            rows.append((did, "x", "en", "top", 400))
            did += 1
        sf = _write_documents(spark, tmp_path, rows)
        out = {r["source"]: r for r in QUERIES["llm_t_closeness"](spark, sf).collect()}
        assert out["top"]["violates"] is True
        # corpus = mix + top; "mix" is close to the corpus distribution
        # (its cum shares differ from the corpus' by < 0.2 everywhere)
        assert out["mix"]["violates"] is False
        assert out["top"]["t_emd"] > out["mix"]["t_emd"]

    def test_uniform_corpus_has_zero_emd(self, spark, tmp_path):
        """Every class distributed exactly like the corpus => t = 0."""
        from crowdsorsa_etl_spark.queries import QUERIES

        rows = []
        did = 0
        for src in ("a", "b"):
            for rep in range(4):
                for n in (40, 100):
                    rows.append((did, "x", "en", src, n))
                    did += 1
        sf = _write_documents(spark, tmp_path, rows)
        for r in QUERIES["llm_t_closeness"](spark, sf).collect():
            assert r["emd_num"] == 0
            assert r["violates"] is False

    def test_fixture_invariants(self, spark):
        """On the real fixture: t in [0, 1], exact-integer flag agrees
        with the ratio, denominators carry n_docs * n_total * (m-1)."""
        from crowdsorsa_etl_spark.queries import QUERIES

        rows = QUERIES["llm_t_closeness"](spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert 0 <= r["emd_num"] <= r["emd_den"]
            assert r["violates"] == (r["emd_num"] * 5 > r["emd_den"])
            assert abs(r["t_emd"] - r["emd_num"] / r["emd_den"]) < 1e-6


class TestLpaCommunities:
    def test_barbell_separates_where_cc_merges(self, spark):
        """Two triangles joined by one bridge edge: CC gives ONE component,
        4-round synchronous LPA keeps the two dense sides apart."""
        from crowdsorsa_etl_spark.operators.clusters import (
            connected_components,
            lpa_communities,
        )

        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)],
            "id_a long, id_b long",
        )
        cc = {r["id"]: r["component"] for r in connected_components(edges).collect()}
        assert len(set(cc.values())) == 1
        lpa = {r["id"]: r["label"] for r in lpa_communities(edges).collect()}
        left = {lpa[v] for v in (0, 1, 2)}
        right = {lpa[v] for v in (3, 4, 5)}
        assert len(left) == 1 and len(right) == 1
        assert left != right

    def test_communities_refine_components(self, spark):
        """Labels only travel along edges, so every LPA community must sit
        inside exactly one connected component (LPA refines CC)."""
        from crowdsorsa_etl_spark.operators.clusters import (
            connected_components,
            lpa_communities,
        )
        from crowdsorsa_etl_spark.queries._shared import _lsh_pairs

        edges = _lsh_pairs(spark, SF_DIR).select("id_a", "id_b")
        cc = connected_components(edges)
        lpa = lpa_communities(edges)
        n_cross = (
            lpa.join(cc, "id")
            .groupBy("label")
            .agg(F.countDistinct("component").alias("n_comp"))
            .filter(F.col("n_comp") > 1)
            .count()
        )
        assert n_cross == 0

    def test_singletons_and_coverage(self, spark):
        """Query output covers every doc exactly once; docs outside the dup
        graph form size-1 communities labeled by their own id."""
        from crowdsorsa_etl_spark.queries import QUERIES
        from crowdsorsa_etl_spark.queries._shared import _lsh_pairs, _t

        out = QUERIES["llm_lpa_communities"](spark, SF_DIR)
        docs = _t(spark, SF_DIR, "documents")
        assert out.count() == docs.count()
        in_graph = {
            r["id"]
            for r in _lsh_pairs(spark, SF_DIR)
            .select(F.col("id_a").alias("id"))
            .union(_lsh_pairs(spark, SF_DIR).select(F.col("id_b").alias("id")))
            .distinct()
            .collect()
        }
        for r in out.collect():
            if r["doc_id"] not in in_graph:
                assert r["community"] == r["doc_id"]
                assert r["community_size"] == 1


class TestKllSketch:
    def test_closed_form_equals_sequential_reference(self):
        """The rank-arithmetic closed form must reproduce the literal
        buffer-and-compact cascade exactly, for arbitrary n."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from crowdsorsa_etl_spark.operators.kll import kll_cells_py

        def closed(n, k):
            out = []
            for i in range(n):
                p, m = i, n
                for lv in range(16):
                    complete = m // k
                    if p >= complete * k:
                        out.append((lv, p - complete * k, i, 1 << lv))
                        break
                    if p % 2:
                        break
                    p = (p // k) * (k // 2) + (p % k) // 2
                    m = complete * (k // 2)
            return sorted(out)

        @given(st.integers(0, 3000), st.sampled_from([4, 8, 32]))
        @settings(max_examples=60, deadline=None)
        def check(n, k):
            assert closed(n, k) == sorted(kll_cells_py(list(range(n)), k))

        check()

    def test_weight_conservation_and_bound_on_fixture(self, spark):
        """sum(weight) == |lineitem| exactly; every estimated quantile's
        true rank is within 2^max_level of the target rank."""
        from crowdsorsa_etl_spark.operators.kll import kll_quantile
        from crowdsorsa_etl_spark.queries import QUERIES
        from crowdsorsa_etl_spark.queries._shared import _t

        cells = [
            (r["level"], r["pos"], r["value"], r["weight"])
            for r in QUERIES["q113_kll_quantiles"](spark, SF_DIR).collect()
        ]
        li = _t(spark, SF_DIR, "lineitem")
        exact = sorted(
            r["c"]
            for r in li.select(
                F.round(F.col("l_extendedprice") * 100, 0)
                .cast("bigint")
                .alias("c")
            ).collect()
        )
        n = len(exact)
        assert sum(w for *_x, w in cells) == n
        bound = max(w for *_x, w in cells)  # 2^max_level
        import bisect

        for phi in (0.01, 0.25, 0.5, 0.75, 0.99):
            est = kll_quantile(cells, phi)
            true_rank = bisect.bisect_right(exact, est)
            assert abs(true_rank - phi * n) <= bound + 1, (phi, est)

    def test_merge_conserves_weight_and_bound(self):
        """Sketch halves independently, merge: weight still exact, rank
        estimates still within the deterministic-cascade bound."""
        from crowdsorsa_etl_spark.operators.kll import (
            kll_cells_py,
            kll_merge,
            kll_quantile,
        )

        vals = [((i * 2654435761) % 100003) for i in range(20000)]
        a, b = vals[0::2], vals[1::2]
        merged = kll_merge(kll_cells_py(a, 32), kll_cells_py(b, 32), 32)
        assert sum(w for *_x, w in merged) == len(vals)
        exact = sorted(vals)
        bound = max(w for *_x, w in merged)
        import bisect

        for phi in (0.1, 0.5, 0.9):
            est = kll_quantile(merged, phi)
            true_rank = bisect.bisect_right(exact, est)
            # merge re-compacts once more, so allow one extra level
            assert abs(true_rank - phi * len(vals)) <= 2 * bound + 1

    def test_flush_cap_conserves_weight_all_paths(self, spark):
        """Past the level cap the remainder FLUSHES at level max_levels
        instead of being dropped: sum(weight) == n on every path (py,
        Spark closed form, DuckDB SQL), all cell-for-cell identical.
        Small max_levels exercises the flush cheaply."""
        import duckdb

        from crowdsorsa_etl_spark.operators.kll import (
            kll_cells_py,
            kll_cells_sorted,
            kll_sql,
        )

        n, k, ml = 5000, 4, 3
        ref = kll_cells_py(list(range(n)), k, max_levels=ml)
        assert sum(w for *_x, w in ref) == n
        assert any(lv == ml for lv, *_x in ref)  # flush actually fired
        df = spark.range(n).select(F.col("id").alias("v"))
        got = sorted(
            (r["level"], r["pos"], r["value"], r["weight"])
            for r in kll_cells_sorted(df, "v", ["v"], k=k, max_levels=ml)
            .collect()
        )
        assert got == sorted(ref)
        sql = kll_sql(
            f"SELECT * FROM range({n}) t(v)", "v", "v", k=k, max_levels=ml
        )
        ora = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
        assert ora == sorted(ref)

    def test_weight_conservation_past_2_21_cliff(self, spark):
        """At the DEFAULTS (k=32, max_levels=16) any stream past
        ~2^21 rows reaches the cap; without the flush 2^22-scale feeds
        silently lose most of their weight. Gate the invariant at
        n > 2^21 on both the Spark closed form and the sequential
        reference, cell-for-cell."""
        from crowdsorsa_etl_spark.operators.kll import (
            kll_cells_py,
            kll_cells_sorted,
        )

        n = (1 << 21) + 100_000
        df = spark.range(n).select(F.col("id").alias("v"))
        cells = kll_cells_sorted(df, "v", ["v"]).collect()
        assert sum(r["weight"] for r in cells) == n
        flushed = [r for r in cells if r["level"] == 16]
        assert flushed and all(r["weight"] == 1 << 16 for r in flushed)
        got = sorted(
            (r["level"], r["pos"], r["value"], r["weight"]) for r in cells
        )
        assert got == sorted(kll_cells_py(list(range(n))))

    def test_grouped_flush_cap_conserves_weight(self, spark):
        """Grouped closed form under a small cap: per-group weight is
        conserved and matches the capped sequential reference."""
        from crowdsorsa_etl_spark.operators.kll import (
            kll_cells_grouped,
            kll_cells_py,
        )

        k, ml = 4, 2
        rows = [(f"g{i % 3}", i) for i in range(900)]
        df = spark.createDataFrame(rows, "g string, v long")
        cells = kll_cells_grouped(df, ["g"], "v", ["v"], k=k, max_levels=ml).collect()
        by_grp: dict[str, list] = {}
        for c in cells:
            by_grp.setdefault(c["g"], []).append(c)
        for g in ("g0", "g1", "g2"):
            vals = [v for gg, v in rows if gg == g]
            assert sum(r["weight"] for r in by_grp[g]) == len(vals)
            got = sorted((r["level"], r["pos"], r["value"]) for r in by_grp[g])
            ref = sorted(
                (lv, pos, v)
                for lv, pos, v, _w in kll_cells_py(vals, k, max_levels=ml)
            )
            assert got == ref, g

    def test_merge_respects_cap(self):
        """Merging two at-cap sketches must not promote past max_levels;
        weight stays exact."""
        from crowdsorsa_etl_spark.operators.kll import kll_cells_py, kll_merge

        k, ml = 4, 2
        a = kll_cells_py(list(range(0, 2000, 2)), k, max_levels=ml)
        b = kll_cells_py(list(range(1, 2000, 2)), k, max_levels=ml)
        merged = kll_merge(a, b, k, max_levels=ml)
        assert sum(w for *_x, w in merged) == 2000
        assert max(lv for lv, *_x in merged) <= ml


class TestSuffixArray:
    def _mini(self, spark):
        rows = [
            (0, "the quick brown fox jumps over the lazy dog again and again ok"),
            (1, "a very quick brown fox jumps over the lazy dog indeed yes sir"),
            (2, "completely unrelated text with no overlap whatsoever here now"),
            (3, "short doc"),
            (4, "short doc"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_lcp_exact_vs_direct_comparison(self, spark):
        """Every adjacent-suffix LCP must equal the literal token-by-token
        common prefix length — including the equal-short-suffix tie case
        (docs 3/4 are identical)."""
        from crowdsorsa_etl_spark.operators.substring import _token_array
        from crowdsorsa_etl_spark.operators.suffixarray import (
            _adjacent_lcp,
            suffix_ranks,
        )

        docs = self._mini(spark)
        toks = {
            r["doc_id"]: r["arr"]
            for r in docs.select(
                "doc_id", _token_array("text").alias("arr")
            ).collect()
        }
        tables, final = suffix_ranks(docs)
        for r in _adjacent_lcp(tables, final).collect():
            a = toks[r["a_id"]][r["a_pos"] :]
            b = toks[r["b_id"]][r["b_pos"] :]
            true = 0
            for x, y in zip(a, b):
                if x != y:
                    break
                true += 1
            assert r["lcp"] == true, (tuple(r), true)

    def test_spans_equal_shingle_tier(self, spark):
        """Suffix-array exact spans == md5-shingle spans span-for-span on
        the fixture (collision-free corpus): two independent algorithms,
        one answer."""
        from crowdsorsa_etl_spark.operators.substring import (
            duplicated_substring_spans,
        )
        from crowdsorsa_etl_spark.operators.suffixarray import (
            suffix_spans_exact,
        )
        from crowdsorsa_etl_spark.queries._shared import _t

        docs = _t(spark, SF_DIR, "documents")
        sa = sorted(
            tuple(r) for r in suffix_spans_exact(docs, min_len=8).collect()
        )
        sh = sorted(
            tuple(r)
            for r in duplicated_substring_spans(docs, min_run=8).collect()
        )
        assert sa == sh
        assert sa  # fixture has duplicated material — a vacuous pass hides bugs

    def test_planted_cross_doc_duplicate(self, spark):
        """Docs 0/1 share the 8-token run 'quick brown fox jumps over the
        lazy dog'; the exact tier must emit exactly that span in both."""
        from crowdsorsa_etl_spark.operators.suffixarray import (
            suffix_spans_exact,
        )

        spans = {
            r["doc_id"]: (r["span_start"], r["span_end"], r["n_tokens"])
            for r in suffix_spans_exact(self._mini(spark), min_len=8)
            .filter(F.col("doc_id") < 2)
            .collect()
        }
        assert spans[0] == (1, 8, 8)
        assert spans[1] == (2, 9, 8)

    def test_audit_k8_misses_nothing(self, spark):
        """The headline audit invariant: at the tier's own k the shingle
        approximation loses zero tokens; a larger k can only lose more."""
        from crowdsorsa_etl_spark.queries import QUERIES

        rows = {r["k"]: r for r in QUERIES["llm_suffix_audit"](spark, SF_DIR).collect()}
        assert rows[8]["miss_rate"] == 0.0
        assert rows[8]["missed_tokens"] == 0
        assert rows[13]["missed_tokens"] >= 0
        assert rows[13]["tokens_shingle"] <= rows[8]["tokens_shingle"]


class TestHllSketch:
    def test_rho_matches_python_reference(self, spark):
        """Register index and rho from the DataFrame program must equal a
        literal python recompute of the same md5-derived hash."""
        import hashlib

        from crowdsorsa_etl_spark.operators.hll import (
            HLL_WBITS,
            hll_registers,
        )

        vals = list(range(200))
        df = spark.createDataFrame([(v,) for v in vals], "x long")
        got = {
            r["idx"]: r["r"] for r in hll_registers(df, "x").collect()
        }
        ref: dict[int, int] = {}
        for v in vals:
            h = int(hashlib.md5(f"hll:v1:{v}".encode()).hexdigest()[:15], 16)
            idx, w = h >> HLL_WBITS, h & ((1 << HLL_WBITS) - 1)
            rho = HLL_WBITS + 1 if w == 0 else HLL_WBITS - w.bit_length() + 1
            ref[idx] = max(ref.get(idx, 0), rho)
        assert got == ref

    def test_merge_is_register_max(self, spark):
        """Sketches of two halves merged by per-register max == the
        one-shot sketch — the mergeability contract."""
        from crowdsorsa_etl_spark.operators.hll import hll_registers

        df = spark.createDataFrame([(v,) for v in range(3000)], "x long")
        full = {
            r["idx"]: r["r"] for r in hll_registers(df, "x").collect()
        }
        a = hll_registers(df.filter(F.col("x") % 2 == 0), "x").collect()
        b = hll_registers(df.filter(F.col("x") % 2 == 1), "x").collect()
        merged: dict[int, int] = {}
        for r in list(a) + list(b):
            merged[r["idx"]] = max(merged.get(r["idx"], 0), r["r"])
        assert merged == full

    def test_error_bound_on_fixture(self, spark):
        """Relative error within 3 standard errors (3 * 1.04 / sqrt(256)
        = 0.195) and the integer fold consistent with v_zero."""
        from crowdsorsa_etl_spark.queries import QUERIES

        row = QUERIES["q114_hll_distinct"](spark, SF_DIR).collect()[0]
        assert row["rel_err"] <= 3 * 1.04 / 16
        assert row["m"] == 256
        assert 0 <= row["v_zero"] <= 256
        # every register contributes at least 2^0=1 scaled by 2^53
        assert row["sum_fx"] >= 256


class TestBloomPrune:
    def test_no_false_negatives_and_bounded_fp(self, spark):
        """Structural Bloom invariant: zero false negatives; FP rate at
        this load factor must sit well under the design point."""
        from crowdsorsa_etl_spark.queries import QUERIES

        row = QUERIES["llm_bloom_prune"](spark, SF_DIR).collect()[0]
        assert row["n_false_neg"] == 0
        assert row["n_pass"] == row["n_true"] + row["n_false_pos"]
        assert row["fp_rate"] <= 0.05
        assert 1 <= row["n_words"] <= (1 << 16) // 63 + 1

    def test_probe_matches_exact_membership_on_planted_keys(self, spark):
        """Planted keys: every inserted key passes; the pass set over a
        disjoint probe set equals {inserted} ∪ {measured FPs}."""
        from crowdsorsa_etl_spark.operators.bloom import (
            bloom_build,
            bloom_probe,
        )

        ek = spark.createDataFrame([(f"k{i}",) for i in range(100)], "s string")
        flt = bloom_build(ek)
        self_probe = bloom_probe(ek, flt)
        assert all(r["bloom_pass"] for r in self_probe.collect())
        other = spark.createDataFrame(
            [(f"x{i}",) for i in range(1000)], "s string"
        )
        fp = sum(1 for r in bloom_probe(other, flt).collect() if r["bloom_pass"])
        # 100 keys in 2^16 bits, k=4: fp ~ (1-exp(-400/65536))^4 ~ 1.4e-9
        assert fp == 0

    def test_duplicate_probe_keys_keep_zero_false_negatives(self, spark):
        """A key probed N times must still pass (membership compares hits
        to the probed-position count, not the constant k) — duplicates
        must never manufacture a Bloom false negative."""
        from crowdsorsa_etl_spark.operators.bloom import (
            bloom_build,
            bloom_probe,
        )

        ek = spark.createDataFrame([("a",), ("b",)], "s string")
        flt = bloom_build(ek)
        probes = spark.createDataFrame(
            [("a",), ("a",), ("a",), ("b",), ("zzz",)], "s string"
        )
        got = {r["s"]: r["bloom_pass"] for r in bloom_probe(probes, flt).collect()}
        assert got["a"] is True and got["b"] is True
        assert len(got) == 3  # one row per distinct key
        assert got["zzz"] is False  # ~1e-9 FP odds at this load


class TestHllWindows:
    def test_rollup_merge_equals_direct_and_bounds(self, spark):
        from crowdsorsa_etl_spark.queries import QUERIES

        rows = QUERIES["q115_hll_windows"](spark, SF_DIR).collect()
        all_rows = [r for r in rows if r["day"] == "ALL"]
        day_rows = [r for r in rows if r["day"] != "ALL"]
        assert len(all_rows) == 1
        assert all_rows[0]["merged_eq_direct"] is True
        assert day_rows
        for r in day_rows:
            assert r["merged_eq_direct"] is None
            assert r["rel_err"] <= 3 * 1.04 / 16  # 3 sigma at m=256
            assert 0 <= r["v_zero"] <= 256


class TestKllGrouped:
    def test_per_group_weight_conservation_and_parity(self, spark):
        """Each group's cell weights sum to the group size exactly, and
        each group's cells equal the sequential reference on that
        group's sorted values."""
        from crowdsorsa_etl_spark.operators.kll import (
            kll_cells_grouped,
            kll_cells_py,
        )
        from crowdsorsa_etl_spark.queries._shared import _t

        li = _t(spark, SF_DIR, "lineitem").select(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
            "l_orderkey",
            "l_linenumber",
        )
        cells = kll_cells_grouped(
            li, ["l_returnflag"], "cents", ["l_orderkey", "l_linenumber"]
        ).collect()
        vals: dict[str, list[int]] = {}
        for r in li.collect():
            vals.setdefault(r["l_returnflag"], []).append(r["cents"])
        by_grp: dict[str, list] = {}
        for c in cells:
            by_grp.setdefault(c["l_returnflag"], []).append(c)
        assert set(by_grp) == set(vals)
        for g, rows in by_grp.items():
            assert sum(r["weight"] for r in rows) == len(vals[g])
            got = sorted((r["level"], r["pos"], r["value"]) for r in rows)
            ref = sorted((lv, pos, v) for lv, pos, v, _w in kll_cells_py(vals[g]))
            assert got == ref, g


class TestJlTransform:
    def test_distortion_within_jl_regime(self, spark):
        """64->16 Rademacher projection: mean cosine distortion small,
        max bounded — the measured-loss contract; signs are a pure
        function of the seed so the matrix is identical across runs."""
        from crowdsorsa_etl_spark.queries import QUERIES
        from crowdsorsa_etl_spark.queries.retrieval import _jl_signs

        signs = _jl_signs()
        assert len(signs) == 16 and all(len(r) == 64 for r in signs)
        assert all(v in (-1, 1) for r in signs for v in r)
        assert signs == _jl_signs()
        rows = QUERIES["llm_jl_transform"](spark, SF_DIR).collect()
        assert len(rows) == 120
        errs = [r["abs_err"] for r in rows]
        # 16 output dims => eps ~ 1/sqrt(16) = 0.25 per-pair scale; the
        # gate pins the measured regime (a broken projection — wrong
        # signs, dropped scale — lands far outside it)
        assert max(errs) <= 0.8
        assert sum(errs) / len(errs) <= 0.25


class TestHllSetops:
    def test_inclusion_exclusion_and_error(self, spark):
        from crowdsorsa_etl_spark.queries import QUERIES

        r = QUERIES["llm_hll_setops"](spark, SF_DIR).collect()[0]
        # exact identity on the truth side
        assert r["n_inter"] == r["n_a"] + r["n_b"] - r["n_union"]
        # sketch-space sanity: union never exceeds the sum
        assert r["est_union"] <= r["est_a"] + r["est_b"] + 1e-6
        # compounded-error regime: documented loose bound, not 1.04/sqrt(m)
        assert r["inter_rel_err"] <= 1.0
