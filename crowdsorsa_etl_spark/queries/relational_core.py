"""Relational core: the q01-q20 operator surface (aggregations, joins,
windows, set ops, as-of and range joins) and every TPC-H query shape
(Q2, Q3, Q5, Q7, Q10, Q11, Q13-Q18, Q21, Q22).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.asof import asof_join
from crowdsorsa_etl_spark.operators.topk import sessionize, topk_per_group
from crowdsorsa_etl_spark.queries._shared import _t, register


# ===========================================================================
# Relational core (SURVEY §2.2: aggregations, joins, windows, set ops, ...)
# ===========================================================================


@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                 AS sum_qty,
           round(sum(l_extendedprice), 2)                            AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)         AS sum_disc_price,
           round(sum(l_quantity), 2) / count(*)                      AS avg_qty,
           round(sum(l_extendedprice), 2) / count(*)                 AS avg_price,
           round(sum(l_discount), 4) / count(*)                      AS avg_disc,
           count(*)                                                  AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: partial+final hash agg, filter pushed to the scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            # avg as round(sum)/count: the sum of 2-dp money values is an
            # exactly-representable 2-dp rational, so rounding it is ulp-safe
            # in both engines; a rounded avg() can straddle a .xx5 boundary
            (F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1))).alias("avg_qty"),
            (F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            (F.round(F.sum("l_discount"), 4) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q02_revenue_filter",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q02_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: conjunctive predicates → all pushed to parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1997-01-01 00:00:00")
            & (F.col("l_discount").between(0.04, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q03_star_join",
    """
    SELECT r_name, n_name,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q03_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join: nation/region broadcast (dims), customer⋈orders on
    the fact key; the reference's only join shape (S10) generalized."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dim = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
    )


@register(
    "q04_bigjoin_priority",
    """
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           round(sum(l_quantity), 2) AS total_qty,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS charged
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q04_bigjoin_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact equi-join — sort-merge/shuffled-hash territory, AQE picks."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("charged"),
        )
    )


@register(
    "q05_semi_join",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def q05_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "q06_anti_join",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q06_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "q07_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rank
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(row_number() OVER (
                      PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rank
          FROM orders)
    WHERE rank <= 3
    """,
)
def q07_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer; Spark's WindowGroupLimit prunes below the
    shuffle so only k rows per group per task move."""
    orders = _t(spark, sf_dir, "orders")
    return topk_per_group(
        orders, ["o_custkey"], "o_totalprice", 3, tiebreak="o_orderkey"
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rank")


@register(
    "q08_window_nav",
    """
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS INT) AS seq,
           lag(o_totalprice) OVER w  AS prev_price,
           strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS next_date,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q08_window_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation + frame window functions (lag/lead/row_number/running)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("seq"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd").alias("next_date"),
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            2,
        ).alias("running_spend"),
    )


@register(
    "q09_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q09_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "q10_distinct_agg",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q10_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q11_set_ops",
    """
    (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
     INTERSECT
     SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    UNION
    (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
     EXCEPT
     SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000)
    """,
)
def q11_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    auto = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    big = orders.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return building.intersect(urgent).union(auto.subtract(big)).distinct()


@register(
    "q12_scalar_funcs",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'P' THEN 'PENDING' ELSE o_orderstatus END AS status_recode,
           'order-' || CAST(o_orderkey AS VARCHAR) AS tag,
           printf('http://example.invalid/%s/%d', o_orderpriority, o_orderkey) AS uri,
           lower(o_orderpriority) AS priority_lower,
           regexp_replace(o_orderpriority, '^1-', 'P1-') AS priority_fixed,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(ceil(o_totalprice / 1000) AS BIGINT) AS price_bucket,
           round(o_totalprice, 1) AS price_rounded,
           CASE WHEN o_orderstatus = 'F' THEN NULL
                ELSE 'Controlled: ' || strftime(o_orderdate, '%Y-%m-%d') END AS notes
    FROM orders
    """,
)
def q12_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scalar surface (S6, S9, S11-S12, S17-S18, S21-S22,
    S26-S27) exercised as one projection — stays in whole-stage codegen."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", "PENDING")
        .otherwise(F.col("o_orderstatus"))
        .alias("status_recode"),
        F.concat(F.lit("order-"), F.col("o_orderkey").cast("string")).alias("tag"),
        F.format_string(
            "http://example.invalid/%s/%d", F.col("o_orderpriority"), F.col("o_orderkey")
        ).alias("uri"),
        F.lower("o_orderpriority").alias("priority_lower"),
        F.regexp_replace("o_orderpriority", "^1-", "P1-").alias("priority_fixed"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.ceil(F.col("o_totalprice") / 1000).alias("price_bucket"),
        F.round(F.col("o_totalprice"), 1).alias("price_rounded"),
        F.when(
            F.col("o_orderstatus") != "F",
            F.concat(
                F.lit("Controlled: "), F.date_format("o_orderdate", "yyyy-MM-dd")
            ),
        ).alias("notes"),
    )


@register(
    "q13_asof_join",
    """
    SELECT event_id, user_id,
           o_orderkey AS asof_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS asof_orderdate
    FROM (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
                 row_number() OVER (PARTITION BY e.event_id
                                    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          FROM events e
          LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
    WHERE rn = 1
    """,
)
def q13_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the union-merge operator (see operators/asof.py) —
    ONE shuffle, no candidate blowup, vs the oracle's quadratic LEFT JOIN."""
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    joined = asof_join(
        events,
        orders,
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
        right_payload=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("asof_orderdate"),
    )


@register(
    "q14_json_extract",
    """
    SELECT event_type,
           count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 2) AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q14_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column → json path extraction (S15/S28 family)."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 2).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "q15_pivot",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q15_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


@register(
    "q16_explode_tokens",
    """
    SELECT token, count(*) AS n,
           CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands
    FROM (SELECT unnest(string_split(p_type, ' ')) AS token, p_brand FROM part)
    GROUP BY token
    """,
)
def q16_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array build + explode (UDTF surface, S23 analogue)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(
            F.explode(F.split("p_type", " ", -1)).alias("token"), "p_brand"
        )
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("p_brand").alias("n_brands"),
        )
    )


@register(
    "q17_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q17_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "q18_sessionize",
    """
    WITH gaps AS (
      SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def q18_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min) — batch analogue of session_window."""
    events = _t(spark, sf_dir, "events")
    sess = sessionize(events, user_col="user_id", ts_col="ts", gap_minutes=30)
    return sess.groupBy("user_id").agg(
        F.max("session_seq").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q19_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q19_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation — identical code runs under
    Structured Streaming with a watermark (see streaming/)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "q20_range_join",
    """
    SELECT tier, count(*) AS n, round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    JOIN (VALUES (0.0, 10.0, 'small'), (10.0, 25.0, 'mid'), (25.0, 100.0, 'big'))
         AS tiers(lo, hi, tier)
      ON l_quantity >= lo AND l_quantity < hi
    GROUP BY tier
    """,
)
def q20_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta/range) join against a broadcast tier dim →
    BroadcastNestedLoopJoin; the scale path for big-big range joins is
    bucketize-then-equi-join (see operators/asof.py for the as-of variant)."""
    li = _t(spark, sf_dir, "lineitem")
    tiers = spark.createDataFrame(
        [(0.0, 10.0, "small"), (10.0, 25.0, "mid"), (25.0, 100.0, "big")],
        "lo double, hi double, tier string",
    )
    return (
        li.join(
            F.broadcast(tiers),
            (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@register(
    "q43_shipping_priority",
    """
    SELECT l_orderkey, revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
    FROM (SELECT l_orderkey, o_orderdate, o_orderpriority,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM customer
          JOIN orders   ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY l_orderkey, o_orderdate, o_orderpriority)
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q43_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join with selective predicates on all three
    tables (Catalyst pushes each below its join), agg, global top-10."""
    customer = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-01-01 00:00:00"
    )
    lineitem = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-01-01 00:00:00"
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


@register(
    "q44_regional_volume",
    """
    SELECT n_name,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS volume
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q44_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join with a region filter that prunes
    through two broadcast dims before touching the facts."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1998-01-01 00:00:00")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    dims = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        customer.join(dims, customer.c_nationkey == dims.n_nationkey)
        .join(orders, customer.c_custkey == orders.o_custkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("volume"),
        )
    )


@register(
    "q45_bination_volume",
    """
    SELECT cn.n_name AS cust_nation,
           sn.n_name AS supp_nation,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE ((cn.n_name = 'NATION_3' AND sn.n_name = 'NATION_7')
        OR (cn.n_name = 'NATION_7' AND sn.n_name = 'NATION_3'))
    GROUP BY 1, 2, 3
    """,
)
def q45_bination_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dim table joined TWICE under different
    aliases (customer's nation and supplier's nation) with a symmetric
    pair predicate — both nation sides broadcast; the fact chain shuffles
    only on its join keys."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cn = F.broadcast(nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ))
    sn = F.broadcast(nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(cn, customer.c_nationkey == F.col("cn_key"))
        .join(sn, supplier.s_nationkey == F.col("sn_key"))
        .filter(
            ((F.col("cust_nation") == "NATION_3") & (F.col("supp_nation") == "NATION_7"))
            | ((F.col("cust_nation") == "NATION_7") & (F.col("supp_nation") == "NATION_3"))
        )
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("volume")
        )
    )


@register(
    "q55_min_acctbal_supplier",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    x AS (
      SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal
      FROM ps
      JOIN part p ON p.p_partkey = ps.l_partkey
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      WHERE p.p_size = 15
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
    FROM x
    WHERE s_acctbal = (SELECT min(x2.s_acctbal) FROM x x2
                       WHERE x2.p_partkey = x.p_partkey)
    """,
)
def q55_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar-min subquery, decorrelated the way
    Catalyst would — a per-key min aggregate joined back on (key, min).
    The part<->supplier bridge is the distinct (l_partkey, l_suppkey)
    projection of lineitem (this dataset has no partsupp table). Both
    aggregate and probe sides share the p_partkey shuffle key."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    supp = _t(spark, sf_dir, "supplier")
    x = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
    )
    mins = x.groupBy(F.col("p_partkey").alias("_pk")).agg(
        F.min("s_acctbal").alias("_min_bal")
    )
    return (
        x.join(
            mins,
            (F.col("p_partkey") == F.col("_pk"))
            & (F.col("s_acctbal") == F.col("_min_bal")),
        )
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
    )


@register(
    "q56_nation_value_share",
    """
    WITH nv AS (
      SELECT n.n_name,
             round(sum(s.s_acctbal), 2) AS nation_value
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE s.s_acctbal > 0
      GROUP BY n.n_name
    )
    SELECT n_name, nation_value,
           round(nation_value /
                 (SELECT round(sum(s_acctbal), 2) FROM supplier
                  WHERE s_acctbal > 0), 6) AS share
    FROM nv
    WHERE round(nation_value /
                (SELECT round(sum(s_acctbal), 2) FROM supplier
                 WHERE s_acctbal > 0), 6) > 0.04
    """,
)
def q56_nation_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value vs a global-total scalar subquery.
    The global total is a 1-row aggregate cross-joined in (Spark broadcasts
    a 1-row side automatically — no shuffle added to the per-nation agg);
    HAVING on the ratio."""
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0)
    nation = _t(spark, sf_dir, "nation")
    nv = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("s_acctbal"), 2).alias("nation_value"))
    )
    total = supp.agg(F.round(F.sum("s_acctbal"), 2).alias("_total"))
    return (
        nv.crossJoin(F.broadcast(total))
        .withColumn(
            "share", F.round(F.col("nation_value") / F.col("_total"), 6)
        )
        .filter(F.col("share") > 0.04)
        .select("n_name", "nation_value", "share")
    )


@register(
    "q57_top_revenue_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q57_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: a revenue view + scalar-max subquery. The max is a
    1-row broadcast; revenue is rounded to 2 dp BEFORE the equality so the
    comparison is ulp-safe in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_max_rev"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q58_supplier_part_counts",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type,
           CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_size IN (1, 9, 19, 23, 36, 45, 49, 3)
      AND ps.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type
    """,
)
def q58_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-count aggregate with a NOT IN exclusion
    subquery — expressed as a left-anti join against the (tiny, broadcast)
    excluded-supplier set, then count(distinct)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 9, 19, 23, 36, 45, 49, 3)
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "q59_large_orders",
    """
    SELECT c.c_name, o.o_orderkey,
           round(o.o_totalprice, 2) AS o_totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 200
    )
    GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
    """,
)
def q59_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery with HAVING — a semi join against the
    qualifying-order aggregate, then the 3-way join re-aggregates. The semi
    side shares the l_orderkey shuffle key with the final agg."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 200)
        .select("l_orderkey")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@register(
    "q60_dormant_customers",
    """
    SELECT substring(c.c_name, 16, 3) AS code_bucket,
           CAST(count(*) AS BIGINT) AS n_cust,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT round(sum(c_acctbal), 2) / count(*)
                         FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      )
    GROUP BY substring(c.c_name, 16, 3)
    """,
)
def q60_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-avg subquery + NOT EXISTS, expressed as a
    1-row broadcast threshold and a left-anti join against recent orders.
    avg is computed as round(sum,2)/count (the repo-wide ulp-safe
    convention)."""
    cust = _t(spark, sf_dir, "customer")
    thresh = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.round(F.sum("c_acctbal"), 2) / F.count(F.lit(1))).alias("_avg")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1998-01-01")
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(recent, F.col("c_custkey") == recent.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 16, 3).alias("code_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "q77_promo_revenue",
    """
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END), 2)
           / round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS promo_pct,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def q77_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-share aggregate over a fact-dim join
    — one broadcast join, one global aggregate, ratio-of-rounded-sums per
    the repo convention."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-02-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.round(
                    100.0
                    * F.sum(
                        F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
                            0.0
                        )
                    ),
                    2,
                )
                / F.round(F.sum(rev), 2)
            ).alias("promo_pct"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@register(
    "q78_small_qty_revenue",
    """
    SELECT round(sum(l.l_extendedprice), 2) / 7.0 AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
        SELECT 0.2 * (round(sum(l2.l_quantity), 2) / count(*))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q78_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar-avg subquery (below-average
    quantity orders), decorrelated as a per-part avg aggregate joined back
    on the part key — both sides share the l_partkey shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    avgq = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (
            0.2 * (F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1)))
        ).alias("_thresh")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avgq, F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_thresh"))
        .agg(
            (F.round(F.sum("l_extendedprice"), 2) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@register(
    "q79_or_predicates",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q79_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive predicates spanning
    both join sides. Catalyst extracts the common sub-predicates it can
    push below the join (brand/size reach the part scan, quantity the
    lineitem scan) and evaluates the residual OR at the join — the classic
    OR-pushdown test."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    c2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    c3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(c1 | c2 | c3).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )


# ===========================================================================
# Round 5: TPC-H Q21 decorrelation shape + portable-LSH oracle tier
# ===========================================================================


@register(
    "q88_waiting_orders",
    """
    WITH f_orders AS (
      SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
    ),
    late AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN f_orders ON l_orderkey = o_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey
          )
      AND NOT EXISTS (
            SELECT 1 FROM late l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
          )
    GROUP BY s_name
    """,
)
def q88_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analogue — the hardest classic decorrelation shape: a
    correlated EXISTS (another supplier touched the order) AND a correlated
    NOT EXISTS (no OTHER supplier was late) against the same fact table,
    both with an inequality correlation (``l_suppkey <>``), composed as one
    semi join + one anti join (never a cartesian product).

    The fixture lacks receipt/commit dates (TPC-H Q21's lateness test), so
    "late" is l_shipdate > o_orderdate + 60 days on 'F'-status orders —
    same plan shape, different constant. ``late`` is computed once and
    reused by both the driving side and the NOT EXISTS branch (the
    reference pattern recomputes it per subquery).

    At 100 TB: late/all_pairs shuffle on l_orderkey for both the semi and
    the anti join — one co-partitioned exchange each, no row explosion
    (distinct pairs before the joins bound both sides by |orders|·|supps
    per order|).
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")

    f_orders = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = (
        li.join(f_orders, li.l_orderkey == f_orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
        # materialize ONCE (guide §3.3): the driving side and the NOT
        # EXISTS branch both consume `late`, and the optimizer pushes the
        # semi join below the driving side's distinct — the two dedup
        # exchanges are then non-identical, so AQE stage reuse cannot
        # serve them and the lineitem⋈orders join ran twice (r16 profile:
        # two same-sized stages). Bounded by distinct (order, supplier)
        # pairs; at 100 TB recomputing it is a full extra fact-table join.
        .localCheckpoint()
    )
    all_pairs = li.select("l_orderkey", "l_suppkey").distinct()

    l1 = late.alias("l1")
    # EXISTS: some other supplier in the same order → left-semi
    with_other = l1.join(
        all_pairs.alias("l2"),
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    # NOT EXISTS: no OTHER late supplier in the same order → left-anti
    only_late = with_other.alias("w").join(
        late.alias("l3"),
        (F.col("w.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("w.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        only_late.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ===========================================================================
# q94/q95: the two classic TPC-H shapes the registry still lacked — Q10
# (returned-item customer ranking) and Q13 (customer order-count
# distribution via a join-predicate-filtered outer join). Q12/Q20 need
# l_shipmode/l_commitdate/partsupp, which the driver fixtures do not carry.
# ===========================================================================


@register(
    "q94_returned_items",
    """
    SELECT c_custkey, c_name, n_name, round(c_acctbal, 2) AS acctbal,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2))
                       - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
    GROUP BY c_custkey, c_name, n_name, round(c_acctbal, 2)
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q94_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: who returned the most revenue in 1996Q1. Fact chain
    shuffles on its join keys, nation broadcasts, the top-20 rides a
    revenue sort with a custkey tiebreak (deterministic LIMIT). Revenue is
    the EXACT decimal sum cast to double — no round() step, so the
    HALF_UP/half-even divergence on half-cent sums never fires (same
    convention as flagship_units_agg)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            "c_custkey", "c_name", "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (
                    F.lit(1).cast("decimal(12,2)")
                    - F.col("l_discount").cast("decimal(12,2)")
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q95_order_count_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) t
    GROUP BY c_count
    """,
)
def q95_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: order-count-per-customer histogram where the filter lives
    in the JOIN CONDITION, not a WHERE — customers whose only orders are
    urgent must still appear with c_count = 0 (a WHERE would drop them;
    the left join + predicate keeps them). Two aggregations, both
    partial-combined."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    joined = customer.join(
        orders,
        (customer.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").cast("bigint").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )
