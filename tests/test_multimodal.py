"""Multimodal binary-column plumbing over the documents fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.multimodal import (
    attach_binary_payload,
    decode_images,
)
from crowdsorsa_etl_spark.sources.parquet import load_table

SF_DIR = "/root/testdata/sf0.001"


class TestMultimodal:
    def test_unknown_format_marked_unsupported_without_fake(self, spark):
        docs = load_table(spark, "documents", SF_DIR).limit(5)
        payloads = attach_binary_payload(docs)  # fake \x89IMG magic, not PNG
        rows = decode_images(payloads).collect()
        assert len(rows) == 5
        for r in rows:
            assert r.format == "unsupported"
            assert r.width is None and r.mean_luma is None
            assert r.n_bytes > 4  # byte length still reported

    def test_real_png_decode_end_to_end(self, spark):
        from crowdsorsa_etl_spark.operators.multimodal import attach_png_payload

        docs = load_table(spark, "documents", SF_DIR).limit(20)
        rows = decode_images(attach_png_payload(docs)).collect()
        assert len(rows) == 20
        for r in rows:
            assert r.format == "png"
            assert r.width == 8 and r.height >= 1
            # pixels are utf-8 text bytes (printable ASCII) zero-padded
            assert 0.0 < r.mean_luma < 0.5

    def test_fake_decode_full_plumbing(self, spark):
        docs = load_table(spark, "documents", SF_DIR).limit(20)
        payloads = attach_binary_payload(docs)
        meta = decode_images(payloads, allow_fake=True)
        rows = meta.collect()
        assert len(rows) == 20
        for r in rows:
            assert r.format == "fake-img"
            assert r.n_bytes > 4
            assert 1 <= r.width <= 640 and 1 <= r.height <= 480
            assert 0.0 <= r.mean_luma <= 1.0

    def test_decode_deterministic(self, spark):
        docs = load_table(spark, "documents", SF_DIR).limit(10)
        p = attach_binary_payload(docs)
        a = {r.doc_id: r.mean_luma for r in decode_images(p, allow_fake=True).collect()}
        b = {r.doc_id: r.mean_luma for r in decode_images(p, allow_fake=True).collect()}
        assert a == b


class TestResizeAndFeatures:
    def test_features_compose_with_similarity_search(self, spark):
        from crowdsorsa_etl_spark.operators.multimodal import (
            attach_binary_payload,
            extract_features,
        )
        from crowdsorsa_etl_spark.operators.similarity import cosine_topk
        from crowdsorsa_etl_spark.sources.parquet import load_table

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        emb = extract_features(attach_binary_payload(docs), dim=16)
        first = emb.first()
        assert len(first.embedding) == 16
        # unit-norm embeddings
        assert abs(sum(x * x for x in first.embedding) - 1.0) < 1e-5
        # the multimodal embedding column drops straight into the ANN tier
        q = emb.limit(3)
        out = cosine_topk(emb, q, k=3)
        assert out.count() == 9
        # exact duplicate payloads (duplicate texts exist in the fixture)
        # must be each other's top neighbor with cosine 1.0
        top = out.filter(F.col("rank") == 1).first()
        assert top.cosine <= 1.0
