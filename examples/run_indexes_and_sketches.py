#!/usr/bin/env python
"""The round-6 index/sketch/MV tier in one flow — the maintenance loop a
100 TB deployment runs nightly:

    orders → time-clustered layout (16 files, the ingest order)
           → per-file BLOOM index on o_custkey (unclustered equality probes)
           → customer probe reads only bloom-surviving files
           → 3-key Z-order rewrite (custkey × order-day × shard locality)
           → Count-Min sketch over the documents token stream
           → heavy-hitter estimates vs exact counts (est ≥ exact, tight)
           → incremental join-view maintenance: a delta batch folds into
             the revenue-by-nation MV without touching history

Usage: python examples/run_indexes_and_sketches.py [sf_dir] [work_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import normalized_tokens
from crowdsorsa_etl_spark.operators.cmsketch import (
    count_min_estimate,
    count_min_sketch,
)
from crowdsorsa_etl_spark.operators.incremental import (
    finalize,
    incremental_join_state,
    merge_states,
    partial_state,
)
from crowdsorsa_etl_spark.operators.skipping import (
    bloom_prune,
    collect_bloom_stats,
    read_bloom_pruned,
)
from crowdsorsa_etl_spark.operators.zorder import zorder_write
from crowdsorsa_etl_spark.session import get_spark
from crowdsorsa_etl_spark.sources.parquet import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work = (
        sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="index_demo_")
    )
    spark = get_spark(app_name="indexes_and_sketches")
    orders = load_table(spark, "orders", sf_dir)

    # 1. time-clustered ingest layout + bloom index on the unclustered key
    layout = os.path.join(work, "orders_by_date")
    orders.repartitionByRange(16, "o_orderdate").write.mode("overwrite").parquet(
        layout
    )
    stats = collect_bloom_stats(spark, layout, "o_custkey").localCheckpoint()
    n_files = stats.count()
    probe = orders.select("o_custkey").first().o_custkey
    survivors = bloom_prune(spark, stats, probe).count()
    hits = read_bloom_pruned(spark, stats, "o_custkey", probe).count()
    print(
        f"bloom: customer {probe} -> scanned {survivors}/{n_files} files,"
        f" {hits} orders"
    )

    # 2. 3-key Z-order rewrite: locality for custkey AND order-day AND shard
    zpath = os.path.join(work, "orders_z3")
    zorder_write(
        orders.withColumn(
            "order_day",
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")),
        ).withColumn("shard", F.col("o_orderkey") % 64),
        zpath,
        "o_custkey",
        "order_day",
        "shard",
        num_files=16,
    )
    print(f"zorder: 3-key clustered rewrite at {zpath}")

    # 3. Count-Min heavy hitters over the documents token stream
    docs = load_table(spark, "documents", sf_dir)
    sketch = count_min_sketch(docs).localCheckpoint()
    exact = (
        normalized_tokens(docs, "text")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact"))
        .orderBy(F.col("exact").desc(), "token")
        .limit(5)
    )
    est = count_min_estimate(sketch, exact.select("token"))
    for r in exact.join(est, "token").orderBy(F.col("exact").desc()).collect():
        print(f"count-min: {r.token!r} exact={r.exact} est={r.cm_est}")

    # 4. incremental join-view maintenance (delta-sized work)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    dim = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select(F.col("c_custkey").alias("o_custkey"), "n_name")
    hist = orders.filter(F.col("o_orderkey") % 10 != 0)
    delta = orders.filter(F.col("o_orderkey") % 10 == 0)
    state = partial_state(hist.join(dim, "o_custkey"), ["n_name"], "o_totalprice")
    state = merge_states(
        state,
        incremental_join_state(
            delta, dim, join_key="o_custkey", keys=["n_name"], value_col="o_totalprice"
        ),
    )
    top = finalize(state).orderBy(F.col("total").desc()).limit(3).collect()
    for r in top:
        print(f"mv: {r.n_name} total={r.total} n={r.n}")

    spark.stop()
    if len(sys.argv) <= 2:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
