"""Flagship query: nested-document assembly over the fixture star schema.

This is the reference's signature operation (per-row nested JSON document
building, crowdsorsa-etl-2023.R:120-179) exercised at scale on the driver's
TPC-H-style tables: every order becomes a laji-etl-shaped document whose
gathering is the order and whose units are its lineitems.

Plan shape (the one you'd want at 100 TB):
* nation (25 rows) is a forced broadcast dim; customer is fact-scale, so
  its join is left to AQE (broadcast when small enough, shuffle otherwise),
* lineitem→units is ONE shuffle (groupBy l_orderkey collect_list),
* orders joins the aggregated units on the same key,
* the struct/to_json projection is narrow and fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.sources.parquet import load_table


def order_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crowdsorsa_etl_spark.operators.fanout import cpu_fanout

    # cpu_fanout on the two fact scans (no-op at cluster scale): the local
    # fixture files arrive as 1-2 splits, which serialized the units
    # collect_list partial aggregation (2.2 s on 3 tasks) and the final
    # per-order JSON render (1.6 s on ONE task) — measured in the r16
    # event-log profile (guide §2.2)
    orders = cpu_fanout(load_table(spark, "orders", sf_dir))
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    lineitem = cpu_fanout(load_table(spark, "lineitem", sf_dir))

    # nation (25 rows) is a true broadcast dim. customer is FACT-scale — it
    # grows with SF (~150 M rows at 100 TB), so it must NOT carry a forced
    # broadcast hint; AQE converts the join to broadcast at runtime when the
    # actual size allows, and falls back to shuffle join when it doesn't.
    cust_dim = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "c_mktsegment", "n_name")
    )

    # units: one shuffle, map-side partial aggregation applies to collect_list.
    # netPrice is the EXACT decimal product cast to double (no round step):
    # double→DECIMAL(12,2) inputs make the product exact fixed-point, and the
    # final decimal→double conversion is deterministic in every engine —
    # the same convention flagship_units_agg proved, and what makes the
    # full-JSON DuckDB oracle byte-exact (Spark round() is HALF_UP where
    # DuckDB decimal rounding is half-even; any .xx45/.xx55 product diverges).
    net_price = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
    ).cast("double")
    units = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("lineNumber"),
                    F.col("l_partkey").alias("partKey"),
                    F.col("l_quantity").alias("quantity"),
                    net_price.alias("netPrice"),
                    F.col("l_returnflag").alias("returnFlag"),
                )
            )
        ).alias("units")
    )

    doc_id = F.concat_ws("/", F.lit("http://example.invalid/orders"),
                         F.col("o_orderkey").cast("string"))

    doc = F.struct(
        F.lit("order-etl").alias("schema"),
        doc_id.alias("documentId"),
        F.struct(
            F.lit("PUBLIC").alias("concealment"),
            F.array(
                F.col("o_orderkey").cast("string"),
                F.concat(F.lit("segment-"), F.col("c_mktsegment")),
            ).alias("keywords"),
            # NULL unless high-priority → key dropped by to_json (trap-3 analogue)
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                F.concat(F.lit("Urgent order for "), F.col("c_name")),
            ).alias("notes"),
            F.array(
                F.struct(
                    F.concat(doc_id, F.lit("_G")).alias("gatheringId"),
                    F.struct(
                        F.date_format("o_orderdate", "yyyy-MM-dd").alias("begin"),
                        F.date_format("o_orderdate", "yyyy-MM-dd").alias("end"),
                    ).alias("eventDate"),
                    F.col("n_name").alias("municipality"),
                    F.coalesce(F.col("units"), F.array().cast(
                        "array<struct<lineNumber:int,partKey:bigint,quantity:double,"
                        "netPrice:double,returnFlag:string>>"
                    )).alias("units"),
                )
            ).alias("gatherings"),
        ).alias("publicDocument"),
    )

    return (
        orders.join(cust_dim, orders.o_custkey == cust_dim.c_custkey)
        .join(units, orders.o_orderkey == units.l_orderkey, "left")
        # pin the render width to at least the session's core count: the
        # join output is small in BYTES (ids + structs), so AQE's
        # size-based coalescing shrinks the post-join stage to 1-2 tasks —
        # but the per-row JSON render is CPU-bound, and its cost is rows,
        # not bytes (measured: the save stage ran 2.1 s on ONE task). One
        # explicit exchange of the pre-JSON rows buys a cores-wide render;
        # cpu_fanout can't help here because an un-executed AQE join
        # reports its static partition count. The width never drops below
        # the shuffle width, so at cluster scale (shuffle partitions >
        # cores) the render keeps the join's static partition count.
        .repartition(
            max(
                spark.sparkContext.defaultParallelism,
                int(spark.conf.get("spark.sql.shuffle.partitions")),
            )
        )
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_totalprice").alias("total_price"),
            F.to_json(doc, {"ignoreNullFields": "true"}).alias("document_json"),
        )
    )
