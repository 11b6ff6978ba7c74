"""Round 9: production-scale BPE merge learning (driver loop), exact
substring dedup (Lee et al. 2022 tier), IVF-PQ incremental append, and the
distributed-fit quality classifier.

Registration ORDER is load-bearing (the driver's correctness window samples
the first 50 registrations); this module is imported LAST by
queries/__init__.py, so its entries append after the round-8d tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.queries._shared import _t, register


# ===========================================================================
# llm_bpe_merges_256 — BPE learning at a production-ish merge count: the
# merge LOOP runs on the driver over the collected (word, count) dictionary
# (vocabulary-sized by construction) with incremental pair-count updates —
# ONE Spark job total instead of one job per merge. The oracle unrolls all
# 256 stages in DuckDB (balanced-union output so the plan tree stays under
# DuckDB's depth guard); sf0.01's vocabulary exhausts before 256 merges, so
# the early-break / no-op-stage guards on BOTH engines are exercised for
# real, not just in unit fixtures.
# ===========================================================================

from crowdsorsa_etl_spark.operators.bpe import bpe_merges_sql as _bpe_sql


@register("llm_bpe_merges_256", _bpe_sql(n_merges=256))
def llm_bpe_merges_256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 256 BPE merges via the driver-loop strategy (the 32k-vocab
    production shape: no per-merge cluster round-trip)."""
    from crowdsorsa_etl_spark.operators.bpe import bpe_learn_merges

    docs = _t(spark, sf_dir, "documents")
    return bpe_learn_merges(docs, n_merges=256, strategy="driver")


# ===========================================================================
# llm_substring_dedup — exact substring dedup (Lee et al. ACL'22
# EXACTSUBSTR, distributed as k-shingle runs): every maximal token span of
# >= 8 tokens whose every 8-token window repeats corpus-wide. The oracle
# brute-forces the identical definition (IN-subquery flagging, same md5
# shingle key, same island rule) — a missed window, an off-by-one in span
# extension, or an island-merge bug breaks the hash.
# ===========================================================================

from crowdsorsa_etl_spark.operators.substring import (
    substring_clean_sql as _sub_clean_sql,
    substring_spans_sql as _sub_spans_sql,
)


def _flagged_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fixture materialized duplicated-span table shared by the flag
    and removal queries (the _encoded_ids shared-artifact posture): the
    spans derivation is deterministic, so the first caller pays the
    shingle pipeline and the removal query scans parquet."""
    import os

    from crowdsorsa_etl_spark.operators.substring import (
        duplicated_substring_spans,
    )
    from crowdsorsa_etl_spark.queries._shared import _at_rest, _sf_cache_dir

    path = _at_rest(
        os.path.join(
            _sf_cache_dir(sf_dir, "substr_spans8", "documents"),
            "spans.parquet",
        ),
        lambda stage: duplicated_substring_spans(
            _t(spark, sf_dir, "documents"), min_run=8
        ).write.parquet(stage),
    )
    return spark.read.parquet(path)


@register("llm_substring_dedup", _sub_spans_sql(k=8))
def llm_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated substring runs (>= 8 tokens) per document."""
    return _flagged_spans(spark, sf_dir)


@register("llm_substring_dedup_clean", _sub_clean_sql(k=8))
def llm_substring_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal step: drop every token covered by a duplicated run and
    hash the surviving token stream (md5 gates exact coverage)."""
    from crowdsorsa_etl_spark.operators.substring import (
        remove_duplicated_substrings,
    )

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicated_substrings(
        docs, min_run=8, spans=_flagged_spans(spark, sf_dir)
    )


# ===========================================================================
# llm_ivfpq_incremental — IVF-PQ index maintenance: build the index from a
# base corpus, APPEND a batch with FROZEN centroids/codebooks (pure file
# append into the list partitions — batch-sized cost, existing rows never
# touched), then search. The oracle replays the FULL-corpus IVF-PQ build
# symbolically (training sample = first 256 ids, which the base contains
# by construction), so the hash match proves append-then-search ≡ full
# rebuild cross-engine — the same merged≡rebuilt gate as
# llm_bm25_incremental and llm_dedup_index. The base-then-append index is
# built ONCE per fixture into the shared cache (the llm_substring_index /
# llm_dedup_index posture: published through _shared._at_rest); every
# invocation still gates the full append≡rebuild equivalence because the
# search reads the appended rows through the frozen artifacts.
# ===========================================================================

from crowdsorsa_etl_spark import lsh_oracles as _lo


@register(
    "llm_ivfpq_incremental",
    _lo.ivfpq_topk_sql(
        dim=64, k=5, n_lists=16, n_probe=8, m=8, k_codes=64,
        candidate_margin=32, sample_size=256,
        ivf_iterations=5, pq_iterations=4, query_pred="id < 10",
    ),
)
def llm_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search through an index built base-then-append: the batch's
    codes are assigned/encoded with the stored artifacts and appended into
    the existing ``list_id=`` partitions."""
    from crowdsorsa_etl_spark.operators.pq import (
        ivfpq_append_index,
        ivfpq_query_index,
        ivfpq_write_index,
    )
    from crowdsorsa_etl_spark.queries._shared import _at_rest, _sf_cache_dir

    emb = _t(spark, sf_dir, "embeddings")

    def build(stage: str) -> None:
        # base keeps every id < 256 — the deterministic training sample — so
        # frozen-artifact append is provably identical to the full rebuild
        base = emb.filter(
            (F.col("vec_id") < 256) | (F.col("vec_id") % 10 != 0)
        )
        batch = emb.filter(
            (F.col("vec_id") >= 256) & (F.col("vec_id") % 10 == 0)
        )
        ivfpq_write_index(
            base, stage,
            n_lists=16, m=8, k_codes=64, sample_size=256, pq_iterations=4,
        )
        ivfpq_append_index(batch, stage)

    path = _at_rest(_sf_cache_dir(sf_dir, "ivfpqinc_v1", "embeddings"), build)
    return ivfpq_query_index(
        spark, path, emb.filter(F.col("vec_id") < 10),
        k=5, n_probe=8, candidate_margin=32,
    )


# ===========================================================================
# llm_logreg_step — the distributed-gradient machinery of the quality-
# classifier TRAINER, hash-gated: the first GD step from w = 0, where
# sigmoid(0) = 1/2 exactly, so the gradient is pure rational arithmetic
# (no libm exp) and DuckDB replays it bit-for-bit. The full 30-iteration
# fit involves exp() whose last ulp is libm-specific — it is gated by the
# numpy parity test (tests/test_logreg.py) and produced the LITERAL
# weights llm_quality_classifier now ships (tools/fit_quality_weights.py).
# ===========================================================================

from crowdsorsa_etl_spark.queries.round8d_pack import (
    _QC_WEIGHTS as _QCW,
    _qc_feat_sql as _qcsql,
    _qc_feature_exprs as _qcexprs,
)

#: the reproducible supervision rule the trainer distills (see
#: tools/fit_quality_weights.py): reference-vs-raw by document length
_QC_LABEL_SQL = "CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END"


def _logreg_step_oracle() -> str:
    feat_sql = _qcsql()
    names = [n for n, _ in _QCW]
    sels = [
        f"SELECT CAST({i} AS INT) AS feature_idx, "
        f"round(-avg((0.5 - ({_QC_LABEL_SQL})) * ({feat_sql[n]})), 6) AS weight "
        "FROM documents"
        for i, n in enumerate(names)
    ]
    return "\nUNION ALL\n".join(sels)


@register("llm_logreg_step", _logreg_step_oracle())
def llm_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First GD step of the quality-classifier fit — one corpus pass,
    Catalyst partial aggregation as the map-side gradient combine."""
    from crowdsorsa_etl_spark.operators.logreg import logreg_first_step

    docs = _t(spark, sf_dir, "documents")
    feats = _qcexprs()
    names = [n for n, _ in _QCW if n != "intercept"]
    label = F.when(F.col("n_chars") >= 300, 1.0).otherwise(0.0)
    return logreg_first_step(docs, [feats[n] for n in names], label, step=1.0)


# ===========================================================================
# llm_image_decode_jpeg — the REAL baseline-JPEG decode path end to end:
# each doc renders into a genuine JPEG (stdlib Huffman+DCT encoder,
# functions/jpegcodec.py), and decode_images runs the real decoder — no
# fake fallback anywhere. JPEG is lossy, so the hash oracle gates what is
# exactly derivable cross-engine (format sniff, container parse, MCU
# geometry → width/height); pixel fidelity is gated by the codec unit
# tests (roundtrip PSNR + fixed-byte fixture, tests/test_jpegcodec.py).
# ===========================================================================


@register(
    "llm_image_decode_jpeg",
    """
    SELECT doc_id,
           'jpeg' AS format,
           CAST(8 AS INT) AS width,
           CAST(ceil(greatest(least(octet_length(encode(coalesce(text, ''))),
                                    256), 1) / 8.0) AS INT) AS height
    FROM documents WHERE doc_id < 200
    """,
)
def llm_image_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode genuine baseline JPEGs through the stdlib codec; emit the
    exactly-replayable metadata columns."""
    from crowdsorsa_etl_spark.operators.multimodal import (
        attach_jpeg_payload,
        decode_images,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    jpg = attach_jpeg_payload(docs)
    return decode_images(jpg).select("doc_id", "format", "width", "height")


# ===========================================================================
# llm_substring_decontamination — train/eval overlap at the SUBSTRING level
# (the Llama/PaLM n-gram decontamination rule): spans in training docs
# whose every 8-token window also occurs in the eval split. Complements
# llm_contamination (document-level) and llm_substring_dedup (within-
# corpus): this is the "benchmark answers must not leak verbatim" gate.
# ===========================================================================

from crowdsorsa_etl_spark.operators.substring import (
    substring_decontamination_sql as _sub_decon_sql,
)


@register("llm_substring_decontamination", _sub_decon_sql(k=8))
def llm_substring_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag corpus spans (>= 8 tokens) overlapping the eval split
    (doc_id % 10 == 0 plays the benchmark set)."""
    from crowdsorsa_etl_spark.operators.substring import (
        substring_decontamination_spans,
    )

    from crowdsorsa_etl_spark.queries._shared import _doc_shingles

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    eval_df = docs.filter(F.col("doc_id") % 10 == 0)
    sh = _doc_shingles(spark, sf_dir, k=8)
    return substring_decontamination_spans(
        corpus,
        eval_df,
        min_run=8,
        corpus_shingles=sh.filter(F.col("doc_id") % 10 != 0),
        eval_shingles=sh.filter(F.col("doc_id") % 10 == 0),
    )


# ===========================================================================
# llm_substring_index — the decontamination list AT REST: the eval set's
# window hashes persist partitioned by hash prefix (half written, half
# appended — the registered result gates the incremental path too); each
# training batch reads only its own prefixes and broadcasts the pruned
# slice. The oracle recomputes the overlap from scratch — index ≡
# from-scratch, proven cross-engine (the llm_dedup_index posture).
# ===========================================================================


@register(
    "llm_substring_index",
    _sub_decon_sql(
        k=8,
        corpus_pred="doc_id % 10 != 0 AND doc_id < 250",
        eval_pred="doc_id % 10 = 0",
    ),
)
def llm_substring_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch decontamination through the persisted eval-shingle index
    (doc_id < 250 non-eval docs play the ingest batch)."""
    from crowdsorsa_etl_spark.operators.substring import (
        substring_append_index,
        substring_match_index,
        substring_write_index,
    )
    from crowdsorsa_etl_spark.queries._shared import _at_rest, _sf_cache_dir

    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") < 250))

    def build(stage: str) -> None:
        substring_write_index(eval_df.filter(F.col("doc_id") % 20 == 0), stage)
        substring_append_index(eval_df.filter(F.col("doc_id") % 20 != 0), stage)

    path = _at_rest(_sf_cache_dir(sf_dir, "subidx_v1_k8", "documents"), build)
    return substring_match_index(spark, path, batch, min_run=8)
