"""Catalyst plan assertions — the scale-correctness gates.

These inspect ``explain`` output to pin the physical properties the 100 TB
design depends on: predicate pushdown into parquet scans, column pruning,
broadcast joins for dims, no-shuffle flagship shape, partitioned writes.
"""

from __future__ import annotations

import pytest

from crowdsorsa_etl_spark.queries import QUERIES
from crowdsorsa_etl_spark.sinks.writers import write_partitioned
from crowdsorsa_etl_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


class TestPushdownAndPruning:
    def test_filters_reach_parquet_scan(self, spark):
        df = QUERIES["q02_revenue_filter"](spark, SF_DIR)
        plan = plan_of(df)
        assert "PushedFilters:" in plan
        # every conjunct lands in the scan
        for col in ("l_shipdate", "l_discount", "l_quantity"):
            assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters:")[1].split("\n")[0]

    def test_column_pruning(self, spark):
        df = load_table(spark, "lineitem", SF_DIR).select("l_orderkey", "l_quantity")
        plan = plan_of(df)
        read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
        assert "l_orderkey" in read_schema and "l_quantity" in read_schema
        assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema

    def test_partition_count_respects_config(self, spark):
        df = load_table(spark, "lineitem", SF_DIR)
        assert df.rdd.getNumPartitions() <= int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ) * 4  # sanity: small fixture shouldn't fan out wildly


class TestJoinStrategies:
    def test_dims_broadcast_in_star_join(self, spark):
        plan = plan_of(QUERIES["q03_star_join"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan

    def test_semi_join_physical(self, spark):
        plan = plan_of(QUERIES["q05_semi_join"](spark, SF_DIR))
        assert "LeftSemi" in plan

    def test_range_join_is_broadcast_nested_loop(self, spark):
        plan = plan_of(QUERIES["q20_range_join"](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" in plan

    def test_asof_join_single_shuffle(self, spark):
        import re

        plan = plan_of(QUERIES["q13_asof_join"](spark, SF_DIR))
        # union-merge as-of: exactly ONE exchange (for the window sort) and
        # crucially NO join node at all — vs the naive join+dedup plan
        assert "Join" not in plan
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1

    def test_global_topk_avoids_full_sort(self, spark):
        plan = plan_of(QUERIES["q29_top10_global"](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan

    def test_global_rank_has_no_single_partition_window(self, spark):
        # q31 must compute global ranks via the two-phase range-partition
        # form — a naive Window.orderBy would show Exchange SinglePartition
        plan = plan_of(QUERIES["q31_rank_distributions"](spark, SF_DIR))
        assert "SinglePartition" not in plan
        assert "Window" not in plan

    def test_flagship_does_not_force_fact_broadcast(self, spark):
        # exactly ONE broadcast hint survives analysis (nation); customer's
        # join strategy is left to the planner/AQE
        df = QUERIES["flagship_order_documents"](spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == 1


class TestWholeStageCodegen:
    def test_flagship_projection_stays_jvm_side(self, spark):
        plan = plan_of(QUERIES["flagship_order_documents"](spark, SF_DIR), "simple")
        # the nested-doc build must not fall back to Python: no UDF eval nodes
        # (AQE wraps the plan pre-execution, so assert on node types, not the
        # *(n) codegen markers which only appear in the final plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # customer/nation dims broadcast; lineitem units join on the fact key
        assert plan.count("BroadcastHashJoin") >= 2

    def test_scalar_surface_no_python(self, spark):
        plan = plan_of(QUERIES["q12_scalar_funcs"](spark, SF_DIR))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestWriters:
    def test_partitioned_write_prunes(self, spark, tmp_path):
        out = str(tmp_path / "orders_by_status")
        orders = load_table(spark, "orders", SF_DIR)
        write_partitioned(orders, out, partition_by=["o_orderstatus"])
        back = spark.read.parquet(out).filter("o_orderstatus = 'F'")
        plan = plan_of(back)
        assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
        assert back.count() == orders.filter("o_orderstatus = 'F'").count()


class TestNewOperatorPlans:
    def test_flagship_doc_fields_stays_jvm_side(self, spark):
        # JSON-path re-extraction must be get_json_object (codegen), not a
        # Python UDF round-trip
        plan = plan_of(QUERIES["flagship_doc_fields"](spark, SF_DIR), "simple")
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_ivf_broadcasts_probe_and_query_sides(self, spark):
        plan = plan_of(QUERIES["llm_ivf_topk"](spark, SF_DIR), "simple")
        # corpus side streams; probes and query vectors broadcast
        assert plan.count("BroadcastHashJoin") >= 2

    def test_winnow_overlap_joins_on_fingerprint_only(self, spark):
        # the overlap self-join must be an equi-join on fp (hashable key),
        # not a nested-loop over documents
        plan = plan_of(QUERIES["llm_winnow_overlap"](spark, SF_DIR), "simple")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestCurationPlans:
    def test_binned_range_join_is_hash_join(self, spark):
        """q48 is the scale path for q20: equi-join on the bin, so the plan
        must be a hash join — no nested loop anywhere."""
        plan = plan_of(QUERIES["q48_range_join_binned"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan
        assert "NestedLoop" not in plan

    def test_gapfill_outer_join_is_hash_join(self, spark):
        """The spine×types grid LEFT JOIN hourly must resolve to a hash join
        against the aggregated side (never a loop over the grid)."""
        plan = plan_of(QUERIES["q46_gapfill_resample"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan

    def test_curation_ops_stay_jvm_side(self, spark):
        """PII redaction, quality filter, split assignment, and packing are
        pure column expressions — no Python eval nodes in any plan."""
        for name in ("llm_pii_redact", "llm_quality_filter", "llm_train_split",
                     "llm_seq_packing"):
            plan = plan_of(QUERIES[name](spark, SF_DIR))
            assert "BatchEvalPython" not in plan, name
            assert "ArrowEvalPython" not in plan, name

    def test_seq_packing_window_is_sharded(self, spark):
        """Packing windows partition by shard (lang) — a global
        single-partition window would serialize the 100 TB sort."""
        plan = plan_of(QUERIES["llm_seq_packing"](spark, SF_DIR))
        assert "SinglePartition" not in plan

    def test_contamination_join_strategy_is_size_driven(self, spark):
        """No FORCED broadcast on the bench side: a small eval set should
        broadcast via AQE's observed-size planning, an oversized one must be
        allowed to degrade to a shuffle join rather than OOM an executor.
        Accept either hash-join family, reject only nested-loop."""
        plan = plan_of(QUERIES["llm_contamination"](spark, SF_DIR))
        assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
            "ShuffledHashJoin" in plan
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan

    def test_dpp_injects_dynamic_pruning_subquery(self, spark):
        """q53: the year-dim filter must reach the partitioned fact scan as
        a runtime dynamicpruning expression — only matching o_year
        directories are read, not all of them."""
        df = QUERIES["q53_dpp_prune"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()

    def test_domain_mix_is_joinless_scan(self, spark):
        """Weighted sampling is a pure projection — no join, no exchange
        before the scan output."""
        plan = plan_of(QUERIES["llm_domain_mix"](spark, SF_DIR))
        assert "Join" not in plan
        assert "Exchange" not in plan


class TestRound3Plans:
    def test_table_diff_is_one_copartitioned_join(self, spark):
        """CDC diff: one full-outer SMJ/SHJ on the key, never a BNLJ, and
        the compare columns are fingerprinted BEFORE the join."""
        plan = plan_of(QUERIES["q54_table_diff"](spark, SF_DIR))
        assert "NestedLoop" not in plan
        assert plan.count("Join type:") == 1  # exactly one join in the plan
        assert "FullOuter" in plan

    def test_stratified_sample_is_joinless_scan(self, spark):
        """md5-bucket sampling must fuse into the scan: zero exchanges."""
        plan = plan_of(QUERIES["q62_stratified_sample"](spark, SF_DIR))
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_incremental_merge_shares_grouping_key(self, spark):
        """Partial-state merge: no join anywhere — union + re-aggregate."""
        plan = plan_of(QUERIES["q67_incremental_agg"](spark, SF_DIR))
        assert "Join" not in plan
        assert "Union" in plan

    def test_histogram_sketch_no_single_partition(self, spark):
        plan = plan_of(QUERIES["q66_histogram_quantiles"](spark, SF_DIR))
        assert "SinglePartition" not in plan

    def test_span_dedup_join_strategy_is_size_driven(self, spark):
        """No forced broadcast on the (corpus-derived) dup-span side."""
        plan = plan_of(QUERIES["llm_span_dedup"](spark, SF_DIR))
        assert "NestedLoop" not in plan

    def test_quantized_topk_broadcasts_query_side_only(self, spark):
        """int8 ANN: the bounded query set broadcasts, the corpus never
        shuffles (same invariant as cosine_topk)."""
        plan = plan_of(QUERIES["llm_quantized_topk"](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        # corpus side must not round-trip through a shuffle before the join
        join_seg = plan.split("Join")[0]
        assert "Exchange hashpartitioning" not in join_seg


class TestOptimizerFeatures:
    def test_topk_per_group_gets_window_group_limit(self, spark):
        """rank<=k filters push a WindowGroupLimit below the window: each
        map task pre-prunes to its local top-k BEFORE the shuffle — at
        scale this is the difference between shuffling k rows per group
        and shuffling the whole fact table."""
        plan = plan_of(QUERIES["q07_topk_per_group"](spark, SF_DIR))
        assert "WindowGroupLimit" in plan
        # both the partial (pre-shuffle) and final instances exist
        assert plan.count("WindowGroupLimit") >= 2

    def test_limit_after_sort_is_topk_not_global_sort(self, spark):
        plan = plan_of(QUERIES["q29_top10_global"](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan


class TestCostBasedOptimizer:
    def test_analyze_table_stats_feed_the_planner(self, spark):
        """ANALYZE TABLE COMPUTE STATISTICS: table + column stats land in
        the catalog and the optimized plan carries real rowCount/sizeInBytes
        — the inputs CBO join-reordering and non-AQE broadcast decisions
        read from. (AQE re-plans from runtime sizes; catalog stats are what
        a cold planner has.)"""
        from crowdsorsa_etl_spark.sources.parquet import load_table

        load_table(spark, "nation", SF_DIR).write.mode("overwrite").saveAsTable(
            "cbo_nation"
        )
        try:
            spark.sql(
                "ANALYZE TABLE cbo_nation COMPUTE STATISTICS "
                "FOR COLUMNS n_nationkey, n_name"
            )
            stats_row = [
                r
                for r in spark.sql("DESCRIBE TABLE EXTENDED cbo_nation").collect()
                if r[0] == "Statistics"
            ]
            assert stats_row and "25 rows" in stats_row[0][1]
            col_stats = spark.sql(
                "DESCRIBE EXTENDED cbo_nation n_nationkey"
            ).collect()
            kv = {r[0]: r[1] for r in col_stats}
            assert kv.get("distinct_count") == "25"
            assert kv.get("min") == "0" and kv.get("max") == "24"
            # with CBO on, the planner sees the catalog rowCount
            spark.conf.set("spark.sql.cbo.enabled", "true")
            try:
                stats = (
                    spark.table("cbo_nation")
                    ._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .toString()
                )
                assert "rowCount=25" in stats
            finally:
                spark.conf.set("spark.sql.cbo.enabled", "false")
        finally:
            spark.sql("DROP TABLE IF EXISTS cbo_nation")


class TestRound5Plans:
    def test_q21_shape_semi_plus_anti_no_cartesian(self, spark):
        """q88 (TPC-H Q21 analogue) must compose as one left-semi and one
        left-anti hash/sort-merge join — the inequality correlation must NOT
        degenerate into a cartesian/BNLJ plan."""
        plan = plan_of(QUERIES["q88_waiting_orders"](spark, SF_DIR))
        assert "LeftSemi" in plan
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRound6Plans:
    def test_zorder3_is_shuffle_free_pruned_projection(self, spark):
        """The n-ary Z-value is a pure codegen'd projection: zero exchanges,
        zero joins, and the scan reads ONLY the three key columns."""
        plan = plan_of(QUERIES["q89_zorder3_keys"](spark, SF_DIR))
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "o_orderkey" in plan and "o_custkey" in plan
        # column pruning: payload columns never reach the scan
        assert "o_totalprice" not in plan and "o_comment" not in plan

    def test_units_agg_is_one_shuffle_with_partial_collect(self, spark):
        """The flagship units layer: exactly one hash exchange on the order
        key, with map-side partial_collect_list before it — the shape that
        makes S25's nested assembly a single-shuffle pipeline at 100 TB."""
        plan = plan_of(QUERIES["flagship_units_agg"](spark, SF_DIR))
        assert plan.count(") Exchange") == 1  # formatted mode: one node
        assert "hashpartitioning(l_orderkey" in plan
        assert "partial_collect_list" in plan
        assert "Join" not in plan
        assert "BroadcastNestedLoop" not in plan

    def test_embedding_dups_lsh_portable_rescore_after_prefilter(self, spark):
        """The LSH tier must keep the BLAS verifier as the bulk filter
        (ArrowEvalPython present) and never fall into a nested-loop join."""
        plan = plan_of(QUERIES["llm_embedding_dups_lsh"](spark, SF_DIR))
        assert "NestedLoop" not in plan
        assert "ArrowEvalPython" in plan or "EvalPython" in plan


class TestRound6LatePlans:
    def test_incremental_join_view_joins_are_hash_not_cartesian(self, spark):
        """Both maintenance joins (history and delta against the dim) must
        be hash joins; the state merge is a union + re-aggregate."""
        plan = plan_of(QUERIES["q91_incremental_join_view"](spark, SF_DIR))
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert "Union" in plan
        assert "partial_sum" in plan  # map-side combine on the state merge

    def test_countmin_probe_join_never_scans_corpus_twice_per_probe(self, spark):
        """The estimate join keys |probes|*d rows against the sketch cells
        — a hash join, never a nested loop over token strings."""
        plan = plan_of(QUERIES["q92_countmin_heavy"](spark, SF_DIR))
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan  # exact top-N stays bounded


class TestRound7Plans:
    def test_bm25_broadcasts_query_side_and_stats(self, spark):
        """BM25: the query-term and df tables broadcast (no fact-side
        shuffle for them); the 1-row stats table rides a broadcast nested
        loop (1 row — constant-size by construction); no cartesian blowup
        on data-sized inputs."""
        plan = plan_of(QUERIES["llm_bm25_topk"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        # map-side combine on the postings aggregation
        assert "partial_count" in plan or "partial_sum" in plan

    def test_doc_chunking_is_narrow(self, spark):
        """Chunking is embarrassingly parallel: no joins, no aggregation
        exchange — the only allowed Exchange is none at all."""
        plan = plan_of(QUERIES["llm_doc_chunking"](spark, SF_DIR))
        assert "Join" not in plan
        assert "Exchange" not in plan
        assert "Generate" in plan  # the posexplode

    def test_pq_adc_scoring_is_codegen_with_broadcast_tables(self, spark):
        """PQ: Python appears only in the ENCODE step (one mapInPandas);
        the ADC scoring and both re-rank windows are JVM expressions with
        the query/distance tables broadcast."""
        plan = plan_of(QUERIES["llm_pq_topk"](spark, SF_DIR), "simple")
        assert plan.count("MapInPandas") == 1  # encode only
        assert "EvalPython" not in plan  # ADC scoring is pure expressions
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan

    def test_bloom_join_reduction_injects_and_restores(self, spark):
        """q96 materializes under {bloom on, broadcast off} and must (a)
        leave the session confs untouched afterwards and (b) have run a
        might_contain plan — asserted inside the query fn itself, so just
        check the conf restoration and the result here."""
        before = {
            "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold"
            ),
            "spark.sql.optimizer.runtime.bloomFilter.enabled": spark.conf.get(
                "spark.sql.optimizer.runtime.bloomFilter.enabled"
            ),
        }
        df = QUERIES["q96_bloom_join_reduction"](spark, SF_DIR)
        assert df.count() > 0
        after = {k: spark.conf.get(k) for k in before}
        assert after == before


class TestRound8bPlans:
    def test_url_canonical_cap_single_window_exchange(self, spark):
        """URL canonicalize/domain are narrow expressions; the only
        Exchange is the domain window's, and no Python stage exists."""
        plan = plan_of(QUERIES["llm_url_canonical_cap"](spark, SF_DIR))
        assert plan.count("Exchange") <= 2  # hashpartitioning(domain) + AQE read
        assert "EvalPython" not in plan
        assert "MapInPandas" not in plan
        assert "Join" not in plan

    def test_hilbert_keys_single_round_robin_exchange(self, spark):
        """The Hilbert index is a pure projection over the scan; the one
        Exchange is cpu_fanout's round-robin widen under the CPU-bound
        fold (never a key shuffle, join or Python stage)."""
        plan = plan_of(QUERIES["q105_hilbert_layout"](spark, SF_DIR), "simple")
        assert plan.count("Exchange") == 1
        assert "Exchange RoundRobinPartitioning(" in plan
        assert "Join" not in plan
        assert "EvalPython" not in plan
        assert "MapInPandas" not in plan

    def test_heavy_hitters_confirm_pass_shape(self, spark):
        """Pass 2 of MG heavy hitters: the bounded candidate set confirms
        via a BROADCAST left-semi join (shuffle-free on the corpus side,
        no capacity×partitions-element In-expression in the plan);
        aggregation partials map-side."""
        plan = plan_of(QUERIES["q103_heavy_hitters"](spark, SF_DIR), "simple")
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
        # exactly one data shuffle (the count agg); candidates go broadcast
        assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
        assert " In(" not in plan and "token IN" not in plan
        assert "MapInPandas" not in plan  # pass 1 already collected
        assert "partial_count" in plan_of(
            QUERIES["q103_heavy_hitters"](spark, SF_DIR)
        )

    def test_audio_features_narrow(self, spark):
        """Audio encode+decode are two chained Arrow stages over the
        scan — no shuffle, no join."""
        plan = plan_of(QUERIES["llm_audio_frame_energy"](spark, SF_DIR), "simple")
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert plan.count("MapInPandas") == 2  # attach + features
        # the scan is pruned to the two columns the Arrow stages need
        full = plan_of(QUERIES["llm_audio_frame_energy"](spark, SF_DIR))
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in full


class TestArtifactReaders:
    """The round-14 shared-artifact consumers must READ their memoized
    parquet, not silently regress to re-deriving the pipeline (the
    perf win is load-bearing: BENCH_NOTES documents the before/after)."""

    def _plan(self, spark, name):
        return plan_of(QUERIES[name](spark, SF_DIR))

    def test_simhash_queries_read_signature_artifact(self, spark):
        for name in ("llm_simhash", "llm_simhash_hamming"):
            plan = self._plan(spark, name)
            assert "crowdsorsa_simhash_v1" in plan, name
            # no re-derivation: the token explode lives only in the builder
            assert "documents.parquet" not in plan, name

    def test_kn_consumers_read_score_artifact(self, spark):
        for name in ("llm_kneser_ney_logprob", "llm_min_k_prob"):
            plan = self._plan(spark, name)
            assert "crowdsorsa_knscores_v1" in plan, name

    def test_decontamination_reads_shingle_artifact(self, spark):
        plan = self._plan(spark, "llm_substring_decontamination")
        assert "crowdsorsa_shingles8_v1" in plan

    def test_lsh_audit_reads_truth_artifact(self, spark):
        plan = self._plan(spark, "llm_lsh_audit")
        assert "crowdsorsa_jactruth_v1" in plan
        assert "crowdsorsa_lshpairs_v1" in plan

    def test_er_chain_reads_pair_and_cluster_artifacts(self, spark):
        assert "crowdsorsa_fspairs_v1" in self._plan(
            spark, "llm_record_linkage_multipass"
        )
        for name in ("llm_dedup_clusters", "llm_dup_profile"):
            assert "crowdsorsa_dedupclusters_v1" in self._plan(spark, name)


class TestRound15Plans:
    """Round-15 layout/planning tier: the physical properties the 100 TB
    story claims must be visible in the plan."""

    def _plan(self, spark, name):
        return plan_of(QUERIES[name](spark, SF_DIR))

    def test_shuffle_shards_has_no_single_partition_window(self, spark):
        # global permutation rank = the two-phase distributed form (range
        # exchange inside the checkpointed build + broadcast offset join),
        # NEVER a window: the final plan must contain no Window node and
        # no SinglePartition exchange at all
        plan = self._plan(spark, "llm_train_shuffle_shards")
        assert "SinglePartition" not in plan
        assert "Window" not in plan
        assert "BroadcastHashJoin" in plan  # the tiny offset join

    def test_reservoir_plants_window_group_limit(self, spark):
        # partial top-k below the exchange: only k rows per stratum per
        # input partition move; scan pruned to the 3 needed columns
        plan = self._plan(spark, "llm_reservoir_sample_k")
        assert "WindowGroupLimit" in plan
        schema = plan.split("ReadSchema: ")[1].splitlines()[0]
        assert "text" not in schema and "n_chars" not in schema

    def test_temperature_mix_folds_once_over_checkpointed_agg(self, spark):
        # the corpus scan+tokenize runs ONCE (checkpointed per-source
        # frame): the final plan reads ExistingRDD, not documents.parquet,
        # and the only SinglePartition exchange aggregates the bounded
        # per-source rows for the ordered fold
        plan = self._plan(spark, "llm_source_temperature_mix")
        assert "documents.parquet" not in plan
        assert "BroadcastNestedLoopJoin" in plan  # 1-row fold broadcast

    def test_eval_metrics_read_clipped_artifact(self, spark):
        # round-15 shared artifact: the per-pair clipped n-gram count
        # tables serve BLEU, ROUGE, and corpus-BLEU — consumers must READ
        # the memoized parquet, not re-derive the two count shuffles
        import re

        for name in ("llm_bleu_pairs", "llm_rouge_pairs", "llm_corpus_bleu"):
            plan = plan_of(QUERIES[name](spark, SF_DIR))
            assert re.search(r"evalclipped\d_v1", plan), name
            assert "documents.parquet" not in plan, name


class TestRound18Plans:
    def test_drift_tier_stays_jvm_side(self, spark):
        """PSI/KS/JSD/CUSUM/Hill/reservoir/percentile/Neyman are pure
        column expressions over one map-side agg — no Python eval nodes
        anywhere (the grouped-MG pass-1 is the one deliberate Arrow
        stage in the round-18 tier and is excluded here)."""
        for name in (
            "q120_psi_drift",
            "q121_ks_drift",
            "q122_cusum_days",
            "q123_jsd_drift",
            "llm_hill_tail",
            "llm_weighted_reservoir",
            "llm_source_percentile",
            "llm_neyman_allocation",
            "llm_ks_sketch",
        ):
            plan = plan_of(QUERIES[name](spark, SF_DIR))
            assert "BatchEvalPython" not in plan, name
            assert "ArrowEvalPython" not in plan, name

    def test_source_percentile_window_is_partitioned(self, spark):
        """The percent-rank window partitions by source — never a global
        single-partition sort over the corpus."""
        plan = plan_of(QUERIES["llm_source_percentile"](spark, SF_DIR))
        assert "SinglePartition" not in plan

    def test_weighted_reservoir_is_topk_not_full_sort(self, spark):
        """A-ES selection must plan as TakeOrderedAndProject (s rows per
        partition cross the wire), not a global Sort + Limit."""
        plan = plan_of(QUERIES["llm_weighted_reservoir"](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan
