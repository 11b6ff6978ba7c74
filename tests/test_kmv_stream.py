"""Streaming PSI drift gates: the stream's carried category counts and
epoch PSI equal the batch q120 arithmetic against the same frozen
reference, and a checkpoint-loss replay lands on the identical state
(additive counts would double-count without the epoch-state protocol)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


class TestPsiStream:
    def _stage_doc_files(self, spark, tmp_path, n_batches=3):
        from crowdsorsa_etl_spark.queries._shared import _t

        docs = _t(spark, SF_DIR, "documents").select("doc_id", "lang")
        src = str(tmp_path / "docs")
        os.makedirs(src)
        for i in range(n_batches):
            staging = str(tmp_path / f"_d{i}")
            docs.filter(F.col("doc_id") % n_batches == i).coalesce(
                1
            ).write.mode("overwrite").parquet(staging)
            part = [
                f for f in os.listdir(staging) if f.endswith(".parquet")
            ][0]
            os.rename(
                os.path.join(staging, part),
                os.path.join(src, f"b{i}.parquet"),
            )
        return src

    def test_stream_psi_equals_batch_and_replay_safe(self, spark, tmp_path):
        import math

        from crowdsorsa_etl_spark.queries._shared import _t
        from crowdsorsa_etl_spark.streaming.pipeline import start_psi_stream

        docs = _t(spark, SF_DIR, "documents")
        # frozen reference = the even-doc_id half (the q120 ref side)
        ref = {
            r["lang"]: r["n"]
            for r in docs.filter(F.col("doc_id") % 2 == 0)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        src = self._stage_doc_files(spark, tmp_path)
        store = str(tmp_path / "store")

        def run():
            q = start_psi_stream(
                spark.readStream.schema("doc_id long, lang string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                store,
                checkpoint_dir=str(tmp_path / "ckpt"),
                category_col="lang",
                ref_counts=ref,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        def final():
            epochs = [
                int(d.split("=", 1)[1])
                for d in os.listdir(store)
                if d.startswith("epoch=")
            ]
            last = os.path.join(store, f"epoch={max(epochs)}")
            counts = {
                r["c"]: r["n"]
                for r in spark.read.schema("c string, n bigint")
                .parquet(os.path.join(last, "counts"))
                .collect()
            }
            summary = (
                spark.read.schema(
                    "n_rows bigint, n_categories int, psi_micro bigint,"
                    " psi double"
                )
                .parquet(os.path.join(last, "summary"))
                .collect()[0]
            )
            return counts, summary

        run()
        counts, summary = final()
        # carried counts == the whole corpus' category counts
        want = {
            r["lang"]: r["n"]
            for r in docs.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .collect()
        }
        assert counts == want
        assert summary["n_rows"] == sum(want.values())
        # PSI equals the batch q120 arithmetic vs the same frozen ref
        cats = sorted(set(ref) | set(want))
        l = len(cats)
        n_r, n_c = sum(ref.values()), sum(want.values())
        pm = 0
        for c in cats:
            num = (ref.get(c, 0) + 1) * (n_c + l)
            den = (want.get(c, 0) + 1) * (n_r + l)
            lr = round(math.log(num / den), 6)
            pm += round(
                ((num - den) / ((n_r + l) * (n_c + l))) * lr * 1_000_000
            )
        assert summary["psi_micro"] == pm
        # replay from a lost checkpoint: additive counts would
        # double-count without the epoch guard — state must be identical
        import shutil

        shutil.rmtree(str(tmp_path / "ckpt"))
        run()
        counts2, summary2 = final()
        assert counts2 == want and summary2["psi_micro"] == pm
