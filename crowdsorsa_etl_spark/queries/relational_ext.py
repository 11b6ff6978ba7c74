"""Relational extensions: percentiles, frames, scalar/date/regex/array
surfaces, subquery shapes, skew-safe salting, time-series repair,
decimal parity, data-quality and profiling reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.diagnostics import key_skew_report, profile_table
from crowdsorsa_etl_spark.operators.global_rank import rank_distributions
from crowdsorsa_etl_spark.operators.skew import salted_distinct_count, salted_join
from crowdsorsa_etl_spark.operators.timeseries import ewma
from crowdsorsa_etl_spark.queries._shared import _t, register
from crowdsorsa_etl_spark.sources.parquet import register_views


# ===========================================================================
# Relational core, batch 2 (percentiles, frames, string/math surface,
# union-by-name, correlated aggregates, sliding windows)
# ===========================================================================


@register(
    "q21_percentiles",
    """
    SELECT l_returnflag,
           round(CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE), 4) AS p25,
           round(CAST(quantile_cont(l_extendedprice, 0.50) AS DOUBLE), 4) AS p50,
           round(CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE), 4) AS p75,
           round(max(l_extendedprice), 4) AS pmax
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q21_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (the approx_percentile variant exists
    for 100 TB use; exact is the oracle-checkable one)."""
    li = _t(spark, sf_dir, "lineitem")
    # one percentile aggregate, not three (r16, guide §1.2 per-task work):
    # each scalar percentile() buffers and sorts the full per-group value
    # list independently; the array form does it once for all three
    # quantiles. Same interpolation, same values.
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D))"
            ).alias("_p"),
            F.round(F.max("l_extendedprice"), 4).alias("pmax"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("_p")[0], 4).alias("p25"),
            F.round(F.col("_p")[1], 4).alias("p50"),
            F.round(F.col("_p")[2], 4).alias("p75"),
            "pmax",
        )
    )


@register(
    "q22_cross_join",
    """
    SELECT r_name, o_orderstatus, count(*) AS n
    FROM region
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
    GROUP BY r_name, o_orderstatus
    """,
)
def q22_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    status = _t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status).groupBy("r_name", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "q23_union_by_name",
    """
    SELECT entity_id, kind, label, score FROM (
      (SELECT CAST(c_custkey AS VARCHAR) AS entity_id, 'customer' AS kind,
              c_mktsegment AS label, round(c_acctbal, 2) AS score
       FROM customer WHERE c_acctbal > 9000)
      UNION ALL BY NAME
      (SELECT CAST(s_suppkey AS VARCHAR) AS entity_id, 'supplier' AS kind,
              CAST(NULL AS VARCHAR) AS label, round(s_acctbal, 2) AS score
       FROM supplier WHERE s_acctbal > 9000)
    )
    """,
)
def q23_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union (the engine's replacement for the reference's
    two separate season scripts — SURVEY §2.2 set ops)."""
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    c = customer.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").cast("string").alias("entity_id"),
        F.lit("customer").alias("kind"),
        F.col("c_mktsegment").alias("label"),
        F.round("c_acctbal", 2).alias("score"),
    )
    s = supplier.filter(F.col("s_acctbal") > 9000).select(
        F.col("s_suppkey").cast("string").alias("entity_id"),
        F.lit("supplier").alias("kind"),
        F.round("s_acctbal", 2).alias("score"),
    )
    return c.unionByName(s, allowMissingColumns=True)


@register(
    "q24_correlated_agg",
    """
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal, nation_avg
    FROM customer
    JOIN (SELECT c_nationkey AS nk,
                 round(sum(c_acctbal), 2) / count(*) AS nation_avg
          FROM customer GROUP BY c_nationkey) ON c_nationkey = nk
    WHERE c_acctbal > nation_avg * 1.5
    """,
)
def q24_correlated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers 50% above their nation's average balance — the decorrelated
    join form (what Catalyst rewrites a correlated subquery into)."""
    customer = _t(spark, sf_dir, "customer")
    # round(sum)/count, not round(avg): see q01 note on .xx5 boundaries
    nation_avg = customer.groupBy(F.col("c_nationkey").alias("nk")).agg(
        (F.round(F.sum("c_acctbal"), 2) / F.count(F.lit(1))).alias("nation_avg")
    )
    return (
        customer.join(nation_avg, customer.c_nationkey == nation_avg.nk)
        .filter(F.col("c_acctbal") > F.col("nation_avg") * 1.5)
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            "nation_avg",
        )
    )


@register(
    "q25_string_funcs",
    """
    SELECT p_partkey,
           substr(p_name, 1, 10) AS name10,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
           reverse(p_brand) AS brand_rev,
           CAST(strpos(p_type, 'BRUSHED') AS INT) AS brushed_at,
           replace(p_type, ' ', '_') AS type_snake,
           upper(left(p_name, 1)) || lower(right(p_name, 2)) AS name_mix,
           repeat('*', p_size % 5) AS stars,
           CAST(length(p_name) AS INT) AS name_len
    FROM part
    """,
)
def q25_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.substring("p_name", 1, 10).alias("name10"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse("p_brand").alias("brand_rev"),
        F.instr("p_type", "BRUSHED").alias("brushed_at"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.concat(
            F.upper(F.left(F.col("p_name"), F.lit(1))),
            F.lower(F.right(F.col("p_name"), F.lit(2))),
        ).alias("name_mix"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5)).alias("stars"),
        F.length("p_name").alias("name_len"),
    )


@register(
    "q26_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           round(abs(l_extendedprice - l_quantity * 1000), 4) AS adiff,
           CAST(mod(CAST(l_quantity AS BIGINT), 7) AS BIGINT) AS qmod,
           round(power(l_discount + 1, 2), 8) AS dpow,
           round(sqrt(l_extendedprice), 8) AS esqrt,
           round(ln(l_extendedprice + 1), 8) AS eln,
           round(log10(l_extendedprice + 1), 8) AS elog10,
           CAST(sign(l_extendedprice - 30000) AS DOUBLE) AS esign,
           CAST(floor(l_tax * 100) AS BIGINT) AS taxf,
           CAST(ceil(l_tax * 100) AS BIGINT) AS taxc
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)
def q26_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000), 4).alias("adiff"),
        (F.col("l_quantity").cast("bigint") % 7).cast("bigint").alias("qmod"),
        F.round(F.pow(F.col("l_discount") + 1, 2), 8).alias("dpow"),
        F.round(F.sqrt("l_extendedprice"), 8).alias("esqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 8).alias("eln"),
        F.round(F.log10(F.col("l_extendedprice") + 1), 8).alias("elog10"),
        F.signum(F.col("l_extendedprice") - 30000).cast("double").alias("esign"),
        F.floor(F.col("l_tax") * 100).cast("bigint").alias("taxf"),
        F.ceil(F.col("l_tax") * 100).cast("bigint").alias("taxc"),
    )


@register(
    "q27_null_funcs",
    """
    SELECT o_orderkey,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
           ifnull(CASE WHEN o_totalprice > 200000 THEN o_orderpriority END,
                  'none') AS big_priority,
           greatest(round(o_totalprice, 0), 100000.0) AS at_least_100k,
           least(round(o_totalprice, 0), 100000.0) AS at_most_100k,
           (o_orderstatus = 'F') AS is_final,
           CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END AS price_null
    FROM orders
    """,
)
def q27_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
        ).alias("status_or_open"),
        F.ifnull(
            F.when(F.col("o_totalprice") > 200000, F.col("o_orderpriority")),
            F.lit("none"),
        ).alias("big_priority"),
        F.greatest(F.round("o_totalprice", 0), F.lit(100000.0)).alias("at_least_100k"),
        F.least(F.round("o_totalprice", 0), F.lit(100000.0)).alias("at_most_100k"),
        (F.col("o_orderstatus") == "F").alias("is_final"),
        F.when(F.col("o_totalprice").isNull(), 1).otherwise(0).alias("price_null"),
    )


@register(
    "q28_having",
    """
    SELECT l_suppkey, count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 5000 AND count(*) > 100
    """,
)
def q28_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter((F.col("_raw_qty") > 5000) & (F.col("n") > 100))
        .drop("_raw_qty")
    )


@register(
    "q29_top10_global",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q29_top10_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition heap,
    no full sort; the pattern that matters at 100 TB."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


@register(
    "q30_range_frame",
    """
    SELECT o_custkey, o_orderkey,
           count(*) OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
                          RANGE BETWEEN 7776000000000 PRECEDING AND CURRENT ROW)
             AS orders_trailing_90d
    FROM orders
    """,
)
def q30_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: trailing-90-day order count per customer
    (90 d = 7_776_000_000_000 µs)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        # parquet stores TIMESTAMP_NTZ; session TZ is pinned UTC so the cast
        # to TIMESTAMP is exact and unix_micros matches duckdb epoch_us
        .orderBy(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-7_776_000_000_000, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("orders_trailing_90d"),
    )


@register(
    "q31_rank_distributions",
    """
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cdist,
           CAST(rank() OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def q31_rank_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global rank distributions WITHOUT a single-partition window: the
    naive ``Window.orderBy`` (no partitionBy) funnels the whole table
    through one task; operators/global_rank.py computes the same values
    via range-repartition + partition-count prefix sums. The sort key
    (o_totalprice, o_orderkey) is unique, which the operator requires."""
    orders = _t(spark, sf_dir, "orders")
    return rank_distributions(
        orders.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        ntile=4,
    ).select("o_orderkey", "quartile", "pct_rank", "cdist", "rnk", "drnk")


@register(
    "q32_first_last_value",
    """
    SELECT DISTINCT o_custkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER w AS last_order,
           CAST(count(*) OVER w AS BIGINT) AS n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q32_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.count(F.lit(1)).over(w).alias("n_orders"),
    ).distinct()


@register(
    "q33_sliding_window",
    """
    SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
                      - k * INTERVAL '15 minutes', '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type, count(*) AS n
    FROM events, range(0, 4) t(k)
    GROUP BY 1, 2
    """,
)
def q33_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 15 min slide) as a batch query — each
    event lands in exactly 4 overlapping windows (Spark's ``window(ts,
    '1 hour', '15 minutes')`` semantics)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


# ===========================================================================
# Relational core, batch 3 (dates, array HOFs, unpivot, conditional aggs)
# ===========================================================================


@register(
    "q34_date_funcs",
    """
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00')
                AS INT) AS days_to_y2k,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           CAST(quarter(o_orderdate) AS INT) AS qtr
    FROM orders
    WHERE o_orderkey < 2000
    """,
)
def q34_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface (reference S11-S12 family, generalized)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.lit("2000-01-01").cast("date"), d).alias("days_to_y2k"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias("month_start"),
        F.weekofyear(d).alias("iso_week"),
        F.dayofyear(d).alias("doy"),
        F.quarter(d).alias("qtr"),
    )


@register(
    "q35_array_hofs",
    """
    SELECT p_partkey,
           array_to_string(list_transform(string_split(p_type, ' '),
                                          x -> upper(x)), ',') AS type_upper,
           coalesce(array_to_string(list_filter(string_split(p_type, ' '),
                                    x -> length(x) > 5), ','), '') AS long_words,
           CAST(list_aggregate(list_transform(string_split(p_type, ' '),
                                              x -> length(x)), 'sum') AS BIGINT)
             AS total_len,
           array_to_string(list_sort(string_split(p_type, ' ')), ',') AS sorted_words,
           list_contains(string_split(p_type, ' '), 'STEEL') AS has_steel,
           CAST(len(string_split(p_type, ' ')) AS INT) AS n_words
    FROM part
    """,
)
def q35_array_hofs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (transform/filter/aggregate/sort) — the
    JVM-side expression surface the engine prefers over any UDF."""
    part = _t(spark, sf_dir, "part")
    arr = F.split("p_type", " ", -1)
    return part.select(
        "p_partkey",
        F.array_join(F.transform(arr, lambda x: F.upper(x)), ",").alias("type_upper"),
        F.array_join(
            F.filter(arr, lambda x: F.length(x) > 5), ","
        ).alias("long_words"),
        F.aggregate(
            F.transform(arr, lambda x: F.length(x).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total_len"),
        F.array_join(F.array_sort(arr), ",").alias("sorted_words"),
        F.array_contains(arr, "STEEL").alias("has_steel"),
        F.size(arr).alias("n_words"),
    )


@register(
    "q36_unpivot",
    """
    SELECT c_custkey, metric, val FROM (
      SELECT c_custkey, 'acctbal' AS metric, round(c_acctbal, 2) AS val
      FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
    )
    """,
)
def q36_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack — the inverse of q15's pivot."""
    customer = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.expr(
            "stack(2, 'acctbal', round(c_acctbal, 2),"
            "         'nationkey', cast(c_nationkey as double))"
        ).alias("metric", "val"),
    )


@register(
    "q37_conditional_aggs",
    """
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
           bool_and(l_quantity > 0) AS all_positive_qty,
           bool_or(l_tax > 0.07) AS any_high_tax,
           CAST(count_if(l_linestatus = 'O') AS BIGINT) AS n_open,
           round(sum(CASE WHEN l_discount > 0.05
                          THEN l_extendedprice * l_discount END), 2) AS disc_revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q37_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.count_if(F.col("l_linestatus") == "O").alias("n_open"),
        F.round(
            F.sum(
                F.when(
                    F.col("l_discount") > 0.05,
                    F.col("l_extendedprice") * F.col("l_discount"),
                )
            ),
            2,
        ).alias("disc_revenue"),
    )


@register(
    "q38_salted_distinct",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_l_partkey
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q38_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage distinct count — must agree exactly with the
    naive COUNT(DISTINCT) oracle."""
    li = _t(spark, sf_dir, "lineitem")
    return salted_distinct_count(
        li, group_col="l_returnflag", distinct_col="l_partkey"
    ).withColumn("n_distinct_l_partkey", F.col("n_distinct_l_partkey").cast("bigint"))


@register(
    "q39_salted_join",
    """
    SELECT o_orderpriority, count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q39_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join — same answer as the plain join oracle, but a
    hot l_orderkey would spread over 8 reducers."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = salted_join(
        li, orders, fact_key="l_orderkey", dim_key="o_orderkey",
        salt_buckets=8, salt_source="l_linenumber",
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


@register(
    "q41_cube",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q41_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


@register(
    "q42_collect_agg",
    """
    SELECT n_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def q42_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set (array-per-entity, the reference's S23/S25 pattern when
    entities have >1 member) — sorted + joined for deterministic compare."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
                "segments"
            ),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


@register(
    "q46_gapfill_resample",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             count(*) AS n, round(sum(value), 2) AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT s.hour AS hour, t.event_type AS event_type,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n,
           coalesce(h.total_value, 0.0) AS total_value
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN hourly h ON h.hour = s.hour AND h.event_type = t.event_type
    """,
)
def q46_gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill / resample: a generated hourly spine × the type
    dim, left-joined against the hourly rollup, missing buckets zero-filled.
    The reference has no time-series surface; this is the standard Spark
    idiom (sequence → explode → broadcast left join). Scale shape: the spine
    is O(hours) and the type dim is tiny — both broadcast; the only shuffle
    is the hourly aggregation of the facts, which any resample needs."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    grid = spine.crossJoin(ev.select("event_type").distinct())
    # grid LEFT JOIN hourly: for a left-outer join Spark builds on the right,
    # and the right side here is the post-aggregation rollup (O(hours×types))
    # — AQE converts it to a broadcast join at runtime. Never hint broadcast
    # on the stream side of an outer join (unsupported build side).
    return (
        grid.join(hourly, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
    )


@register(
    "q48_range_join_binned",
    """
    SELECT tier, count(*) AS n, round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    JOIN (VALUES (0.0, 10.0, 'small'), (10.0, 25.0, 'mid'), (25.0, 100.0, 'big'))
         AS tiers(lo, hi, tier)
      ON l_quantity >= lo AND l_quantity < hi
    GROUP BY tier
    """,
)
def q48_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for range joins: bucketize both sides to a fixed bin
    width, equi-join on the bin, then re-check the exact range predicate.
    Same oracle as q20 (the BNLJ form), but the plan is a BroadcastHashJoin
    — at 100 TB a nested-loop over the facts is O(|facts|·|tiers|) with no
    hash pruning, while the binned form stays a hash join whose expansion
    factor is bounded by ceil(range/bin_width) rows per tier. The identical
    trick turns big-big interval joins into shuffle hash joins (bin both
    sides, join on bin, filter)."""
    width = 5.0
    li = _t(spark, sf_dir, "lineitem")
    tiers = spark.createDataFrame(
        [(0.0, 10.0, "small"), (10.0, 25.0, "mid"), (25.0, 100.0, "big")],
        "lo double, hi double, tier string",
    )
    # each tier row expands to every bin its [lo, hi) range overlaps
    expanded = tiers.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / width).cast("int"),
                (F.ceil(F.col("hi") / width) - 1).cast("int"),
            )
        ),
    )
    binned = li.withColumn("bin", F.floor(F.col("l_quantity") / width).cast("int"))
    return (
        binned.join(F.broadcast(expanded), "bin")
        .where((F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


_Q50_SQL = """
    WITH regional AS (
      SELECT n.n_name,
             CAST(count(*) AS BIGINT) AS n_customers,
             round(sum(c.c_acctbal), 2) AS total_bal
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name, n_customers, total_bal,
           CAST(rank() OVER (ORDER BY total_bal DESC, n_name) AS BIGINT)
             AS bal_rank
    FROM regional
"""


@register("q50_sql_parity", _Q50_SQL)
def q50_sql_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point as a first-class surface (SURVEY §3): this query
    is expressed ENTIRELY as ``spark.sql`` over ``register_views`` — the
    exact same ANSI string is the DuckDB oracle, so the hash gate proves the
    engine's SQL surface end-to-end (CTE, join, agg, window rank). The
    companion tests/test_sql_surface.py runs all 30 engine-portable oracle
    strings through this same path and asserts frame equality with their
    DataFrame builders."""
    register_views(spark, sf_dir)
    return spark.sql(_Q50_SQL)


_Q51_SQL = """
    WITH d AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity, 2) AS DECIMAL(12,2)) AS qty,
             CAST(round(l_extendedprice, 2) AS DECIMAL(12,2)) AS price,
             CAST(round(l_discount, 2) AS DECIMAL(12,2)) AS disc,
             CAST(round(l_tax, 2) AS DECIMAL(12,2)) AS tax
      FROM lineitem
    )
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(qty) AS DECIMAL(20,2)) AS STRING) AS sum_qty,
           CAST(CAST(sum(price) AS DECIMAL(20,2)) AS STRING) AS sum_base,
           CAST(CAST(sum(price * (1 - disc)) AS DECIMAL(24,4)) AS STRING)
             AS sum_disc_price,
           CAST(CAST(sum(price * (1 - disc) * (1 + tax)) AS DECIMAL(30,6))
                AS STRING) AS sum_charge
    FROM d
    GROUP BY l_returnflag, l_linestatus
"""


@register("q51_decimal_aggs", _Q51_SQL)
def q51_decimal_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalType parity pack (SURVEY §1.2): TPC-H Q1's money math in
    exact fixed-point instead of double. The double→DECIMAL(12,2) entry
    cast goes through round(x,2) on BOTH engines (the repo's pinned
    rounding convention), after which every sum/product is EXACT decimal
    arithmetic — the final casts only widen precision, never round — so
    the hash gate pins Spark's decimal type-promotion semantics
    (sum → +10 precision, product → scale addition) against DuckDB's.
    Expressed via the SQL surface: the identical ANSI string runs on both
    engines."""
    register_views(spark, sf_dir)
    return spark.sql(_Q51_SQL)


@register(
    "q61_interval_arith",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + 90 AS due_date,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
             AS review_date,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           date_trunc('quarter', CAST(o_orderdate AS DATE)) AS quarter_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01')
                AS INT) AS days_to_cutoff
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
)
def q61_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic surface: day-interval add, calendar-month
    add (month-end clamping semantics match ANSI), last_day, quarter
    truncation, signed day difference. All whole-stage-codegen column
    expressions — the filter and the projection both reach the scan."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_add(d, 90).alias("due_date"),
        F.add_months(d, 3).alias("review_date"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "quarter").alias("quarter_start"),
        F.datediff(F.lit("1998-01-01").cast("date"), d)
        .cast("int")
        .alias("days_to_cutoff"),
    )


@register(
    "q64_ffill_ignore_nulls",
    """
    SELECT user_id, event_id,
           round(last_value(
             CASE WHEN event_type = 'error' THEN NULL ELSE value END
             IGNORE NULLS
           ) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS value_ffill
    FROM events
    """,
)
def q64_ffill_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill with IGNORE NULLS (gap-carrying sensor/metric repair):
    'error' readings are nulled then filled from the last good value in
    event order. last(ignorenulls) over a running rows frame — one window
    shuffle on the key, no self-join."""
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    good = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(F.last(good, ignorenulls=True).over(w), 2).alias("value_ffill"),
    )


@register(
    "q69_rank_funcs",
    """
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q69_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-distribution window functions: percent_rank / cume_dist /
    ntile per segment. The (c_acctbal, c_custkey) order key is unique so
    peer groups are single rows and both engines agree bit-for-bit."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@register(
    "q70_regex_funcs",
    """
    SELECT p_partkey,
           regexp_extract(p_type, '^(\\w+)', 1) AS type_head,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_masked,
           CAST(regexp_matches(p_name, 'g.*g') AS BOOLEAN) AS has_gg,
           CAST(len(regexp_split_to_array(p_type, '\\s+')) AS INT)
             AS type_words
    FROM part
    WHERE p_partkey % 5 = 0
    """,
)
def q70_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: anchored group extract, global class replace,
    unanchored match test, pattern split. Patterns restricted to the
    RE2-compatible subset so Java and RE2 regex engines agree."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 5 == 0)
    return part.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_masked"),
        F.col("p_name").rlike("g.*g").alias("has_gg"),
        F.size(F.split("p_type", r"\s+")).cast("int").alias("type_words"),
    )


@register(
    "q71_nullsafe_join",
    """
    WITH keyed AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE o_orderstatus END AS status_key
      FROM orders
    ),
    labels(status_key, label) AS (
      VALUES ('F', 'final'), ('O', 'open'), ('P', 'pending'),
             (NULL, 'missing')
    )
    SELECT l.label, CAST(count(*) AS BIGINT) AS n_orders
    FROM keyed k JOIN labels l
      ON k.status_key IS NOT DISTINCT FROM l.status_key
    GROUP BY l.label
    """,
)
def q71_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match the dimension's NULL row instead of silently dropping — the
    'unknown bucket' dimension pattern. The dim is 4 rows so the join is a
    broadcast; a null-safe key still hash-partitions normally at scale
    (NULL is just one more key value, no skew beyond its frequency)."""
    orders = _t(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("status_key"),
    )
    labels = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pending"), (None, "missing")],
        "status_key string, label string",
    )
    return (
        keyed.join(
            F.broadcast(labels),
            keyed.status_key.eqNullSafe(labels.status_key),
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


@register(
    "q72_bitwise_aggs",
    """
    SELECT event_type,
           CAST(bit_and(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS flags_and,
           CAST(bit_or(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS flags_or,
           CAST(bit_xor(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS flags_xor,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q72_bitwise_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate functions (flag-mask folding): bit_and / bit_or /
    bit_xor — all partial-aggregable (associative+commutative), so they
    map-side combine like sum."""
    events = _t(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("bigint")
    return events.groupBy("event_type").agg(
        F.bit_and(v).cast("bigint").alias("flags_and"),
        F.bit_or(v).cast("bigint").alias("flags_or"),
        F.bit_xor(v).cast("bigint").alias("flags_xor"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


@register(
    "q73_stats_aggs",
    """
    SELECT event_type,
           round(stddev_samp(value), 4) AS sd_samp,
           round(var_pop(value), 4) AS var_pop,
           round(median(value), 2) AS med,
           round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_vu,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_vu,
           CAST(count_if(value > 50) AS BIGINT) AS n_high,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 99) AS any_extreme
    FROM events
    GROUP BY event_type
    """,
)
def q73_stats_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: sample/population moments, exact
    median (interpolating percentile), correlation/covariance, count_if,
    bool_and/bool_or. Moments and covariances merge via the standard
    pairwise-update formulas so all of these partial-aggregate; exact
    median is the one non-mergeable member (it sorts within groups) —
    the sketch alternative is q66's histogram."""
    events = _t(spark, sf_dir, "events")
    u = F.col("user_id").cast("double")
    return events.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("sd_samp"),
        F.round(F.var_pop("value"), 4).alias("var_pop"),
        F.round(F.median("value"), 2).alias("med"),
        F.round(F.corr("value", u), 6).alias("corr_vu"),
        F.round(F.covar_samp("value", u), 4).alias("covar_vu"),
        F.count_if(F.col("value") > 50).cast("bigint").alias("n_high"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 99).alias("any_extreme"),
    )


@register(
    "q74_data_quality",
    """
    SELECT 'orders_pk_dupes' AS check_name,
           CAST((SELECT count(*) FROM
                  (SELECT o_orderkey FROM orders
                   GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT)
             AS n_violations
    UNION ALL
    SELECT 'lineitem_fk_orphans',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders_null_custkey',
           CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL)
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           CAST((SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
                AS BIGINT)
    UNION ALL
    SELECT 'orders_bad_status',
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
    """,
)
def q74_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report (the Deequ/dbt-test shape): PK
    uniqueness, FK referential integrity (anti join), null checks, domain
    checks — each a count of violations, unioned into one small report.
    Every check is a partial-aggregable scan or one anti join; nothing
    collects rows."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def one(name: str, cnt) -> DataFrame:
        return cnt.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("bigint").alias("n_violations"),
        )

    pk_dupes = one(
        "orders_pk_dupes",
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n")),
    )
    orphans = one(
        "lineitem_fk_orphans",
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    null_cust = one(
        "orders_null_custkey",
        orders.filter(F.col("o_custkey").isNull()).agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    bad_qty = one(
        "lineitem_nonpositive_qty",
        li.filter(F.col("l_quantity") <= 0).agg(F.count(F.lit(1)).alias("n")),
    )
    bad_status = one(
        "orders_bad_status",
        orders.filter(~F.col("o_orderstatus").isin("F", "O", "P")).agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    return (
        pk_dupes.unionByName(orphans)
        .unionByName(null_cust)
        .unionByName(bad_qty)
        .unionByName(bad_status)
    )


@register(
    "q75_rolling_stats",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER w, 2) / count(value) OVER w AS roll_avg,
           round(stddev_samp(value) OVER w, 4) AS roll_sd,
           round(min(value) OVER w, 2) AS roll_min,
           round(max(value) OVER w, 2) AS roll_max
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
)
def q75_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 10-event statistics per key (monitoring/feature-engineering
    windows): avg/stddev/min/max over a trailing rows frame — one window
    shuffle on the key serves all four."""
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        (F.round(F.sum("value").over(w), 2) / F.count("value").over(w)).alias(
            "roll_avg"
        ),
        F.round(F.stddev_samp("value").over(w), 4).alias("roll_sd"),
        F.round(F.min("value").over(w), 2).alias("roll_min"),
        F.round(F.max("value").over(w), 2).alias("roll_max"),
    )


@register(
    "q80_try_casts",
    """
    SELECT o_orderkey,
           TRY_CAST(o_orderpriority AS INTEGER) AS prio_num,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit,
           round(o_totalprice / NULLIF(CAST(o_orderkey % 5 AS DOUBLE), 0), 6)
             AS price_ratio
    FROM orders
    WHERE o_orderkey % 13 = 0
    """,
)
def q80_try_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error handling: try_cast returns NULL instead of raising
    on malformed input ('1-URGENT' → NULL, its leading digit → 1), and
    division-by-zero is nulled via try_divide/NULLIF — the per-row error
    policy that keeps a 100 TB job from dying on one bad record."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    return orders.select(
        "o_orderkey",
        F.try_to_number("o_orderpriority", F.lit("999999")).cast("int").alias(
            "prio_num"
        ),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias(
            "prio_digit"
        ),
        # round 6, not 2: 2-dp money / small int lands EXACTLY on .xx5
        # rounding ties, where the engines' ulp noise flips direction
        F.round(
            F.try_divide(
                F.col("o_totalprice"), (F.col("o_orderkey") % 5).cast("double")
            ),
            6,
        ).alias("price_ratio"),
    )


@register(
    "q82_bag_set_ops",
    """
    WITH isect AS (
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
      INTERSECT ALL
      SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
    ),
    exc AS (
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'N'
      EXCEPT ALL
      SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
    )
    SELECT 'intersect_all' AS op, l_orderkey,
           CAST(count(*) AS BIGINT) AS multiplicity
    FROM isect GROUP BY l_orderkey
    UNION ALL
    SELECT 'except_all', l_orderkey, CAST(count(*) AS BIGINT)
    FROM exc GROUP BY l_orderkey
    """,
)
def q82_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL): row
    MULTIPLICITY is preserved — min(count_l, count_r) and
    count_l - count_r respectively — which Spark plans as an aggregate +
    generate rather than the dedup-then-join of the set versions."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    f = li.filter(F.col("l_linestatus") == "F").select("l_orderkey")
    n = li.filter(F.col("l_returnflag") == "N").select("l_orderkey")
    isect = (
        a.intersectAll(f)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "l_orderkey", "multiplicity")
    )
    exc = (
        n.exceptAll(f)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "l_orderkey", "multiplicity")
    )
    return isect.unionByName(exc)


@register(
    "q83_exists_flag",
    """
    SELECT o.o_orderkey,
           EXISTS (SELECT 1 FROM lineitem l
                   WHERE l.l_orderkey = o.o_orderkey
                     AND l.l_quantity > 45) AS has_bulk_item
    FROM orders o
    WHERE o.o_orderkey % 17 = 0
    """,
)
def q83_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a projected boolean (not a filter): decorrelated to a
    left join against the distinct matching-key set — the flag column form
    of a semi join."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 17 == 0)
    bulk = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return orders.join(
        bulk, orders.o_orderkey == bulk.l_orderkey, "left"
    ).select(
        "o_orderkey", F.col("_hit").isNotNull().alias("has_bulk_item")
    )


@register(
    "q84_grouping_metadata",
    """
    SELECT coalesce(l_returnflag, '(all)') AS rf,
           coalesce(l_linestatus, '(all)') AS ls,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q84_grouping_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() metadata in a rollup: distinguishes 'aggregated over
    this column' from a genuine NULL group key — the disambiguation every
    report layer over rollup/cube output needs."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("ls"),
            "g_rf",
            "g_ls",
            "n",
        )
    )


@register(
    "q85_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id,
             min(date_trunc('week', CAST(ts AS DATE))) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             date_trunc('week', CAST(e.ts AS DATE)) AS act_week
      FROM events e
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS INT)
             AS weeks_since,
           CAST(count(*) AS BIGINT) AS n_users
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY f.cohort_week, 2
    """,
)
def q85_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted in each subsequent activity week — the canonical product-
    analytics query. One min-aggregate (cohort assignment), one distinct
    (user-week activity), one join back on user_id; all three share the
    user_id shuffle key."""
    events = _t(spark, sf_dir, "events")
    week = F.date_trunc("week", F.to_date("ts")).cast("date")
    firsts = events.groupBy("user_id").agg(
        F.min(week).alias("cohort_week")
    )
    activity = events.select(
        "user_id", week.alias("act_week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("act_week", "cohort_week") / 7)
            .cast("int")
            .alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


@register(
    "q86_event_funnel",
    """
    WITH stamps AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(t_view) AS BIGINT) AS viewed,
           CAST(count(CASE WHEN t_click > t_view THEN 1 END) AS BIGINT)
             AS clicked_after_view,
           CAST(count(CASE WHEN t_buy > t_click AND t_click > t_view
                           THEN 1 END) AS BIGINT) AS full_funnel
    FROM stamps
    """,
)
def q86_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (view → click → purchase): conditional-min
    timestamps per user, then ordering predicates — a single aggregate
    pass, no self-joins per stage (the naive N-way join formulation is
    quadratic in stages)."""
    events = _t(spark, sf_dir, "events")

    def first_of(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stamps = events.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_buy"),
    )
    return stamps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.count("t_view").cast("bigint").alias("viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1))
        .cast("bigint")
        .alias("clicked_after_view"),
        F.count(
            F.when(
                (F.col("t_buy") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        )
        .cast("bigint")
        .alias("full_funnel"),
    )


@register(
    "q87_ratio_to_report",
    """
    SELECT n_name,
           round(sum(s_acctbal), 2) AS nation_bal,
           round(round(sum(s_acctbal), 2)
                 / sum(round(sum(s_acctbal), 2)) OVER (), 6) AS share,
           CAST(rank() OVER (ORDER BY round(sum(s_acctbal), 2) DESC)
                AS INT) AS balance_rank
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n_name
    """,
)
def q87_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report) + rank over an aggregate: a
    window over the AGGREGATED rows (25 nations), so the unpartitioned
    window is bounded by the group count, never the fact table — the safe
    place for an OVER () at scale."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    agg = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("s_acctbal"), 2).alias("nation_bal"))
    )
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.col("nation_bal").desc())
    return agg.select(
        "n_name",
        "nation_bal",
        F.round(
            F.col("nation_bal") / F.sum("nation_bal").over(w_all), 6
        ).alias("share"),
        F.rank().over(w_rank).cast("int").alias("balance_rank"),
    )


# ===========================================================================
# q93: LATERAL correlated subquery — the per-row dependent-subquery join
# (top-2 orders per rich customer). The identical ANSI string runs on both
# engines, pinning Spark's lateral-subquery decorrelation against DuckDB.
# ===========================================================================


_Q93_SQL = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    WHERE c.c_acctbal > 9000
"""


@register("q93_lateral_topk", _Q93_SQL)
def q93_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with ORDER BY + LIMIT (SQL:1999 lateral
    derived table; Spark 3.4+ decorrelates it to a ranked join). Expressed
    through the SQL surface so the IDENTICAL string runs on both engines —
    the same q50/q51 parity convention."""
    register_views(spark, sf_dir)
    return spark.sql(_Q93_SQL)


@register(
    "q99_skew_report",
    """
    WITH per_key AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY l_suppkey
    ),
    totals AS (
      SELECT CAST(sum(n_rows) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM per_key
    )
    SELECT l_suppkey, n_rows,
           round(n_rows / total, 6) AS share,
           round(n_rows / (total / n_keys), 2) AS skew_factor,
           n_rows / total > 1.0 / 32 AS hot
    FROM per_key CROSS JOIN totals
    ORDER BY n_rows DESC, l_suppkey
    LIMIT 20
    """,
)
def q99_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnosis on lineitem's supplier key (operators/diagnostics):
    the decide-before-salting report, hash-oracled. The threshold pins the
    session's 32 shuffle partitions so both engines compute the same flag."""
    li = _t(spark, sf_dir, "lineitem")
    return key_skew_report(
        li, ["l_suppkey"], top_n=20, reducer_share_threshold=1.0 / 32
    )


# ===========================================================================
# q104_ewma — bounded-span EWMA per key (operators/timeseries.py): the
# sequential recurrence recast as a trailing-window weighted fold — one
# window Exchange, O(span) state, no per-key sequential dependency. The
# oracle replays the identical most-recent-first fold with list_reduce
# over the frame-ordered array_agg; α=0.5 makes every weight an exact
# power of two, so the pre-rounding doubles agree bit-for-bit.
# ===========================================================================

_EWMA_SQL = """
    SELECT user_id, event_id,
           round(
             list_reduce(list_transform(list_reverse(w),
                          (x, j) -> x * power(0.5, CAST(j - 1 AS DOUBLE))),
                         (a, b) -> a + b)
             / list_reduce(list_transform(list_reverse(w),
                            (x, j) -> power(0.5, CAST(j - 1 AS DOUBLE))),
                           (a, b) -> a + b),
             6) AS ewma
    FROM (
      SELECT user_id, event_id,
             array_agg(CAST(value AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS w
      FROM events
    )
"""


@register("q104_ewma", _EWMA_SQL)
def q104_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-10 EWMA of event values per user, ordered by (ts, event_id)."""
    events = _t(spark, sf_dir, "events")
    return ewma(
        events, "value", key_cols=["user_id"], order_cols=["ts", "event_id"],
        alpha=0.5, span=10,
    ).select("user_id", "event_id", "ewma")


# ===========================================================================
# q109_cumulative_distinct — running COUNT(DISTINCT) per key, the window
# SQL can't express directly (no `count(distinct) OVER`): first-occurrence
# flag via a (user, event_type) window, then a running sum. Both windows
# are partitioned by user — no global funnel; this is the standard
# "distinct items seen so far" engagement metric.
# ===========================================================================


@register(
    "q109_cumulative_distinct",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
             AS distinct_types_so_far
    FROM flagged
    """,
)
def q109_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: how many DISTINCT event types the user had produced as of
    each event (ties broken by event_id — a unique ordering, the engine's
    window-determinism contract)."""
    ev = _t(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn(
            "first_seen",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
        )
        .select(
            "user_id",
            "event_id",
            F.sum("first_seen").over(w_run).cast("bigint")
            .alias("distinct_types_so_far"),
        )
    )


# ===========================================================================
# q110_interval_merge — gaps-and-islands interval coalescing: merge each
# user's overlapping/adjacent event intervals [ts, ts + value minutes]
# into maximal spans. The classic two-window form: a new island starts
# where the running max of prior ends leaves a gap; islands then aggregate.
# Everything is partitioned by user — the 100 TB cost is one hash Exchange.
# ===========================================================================


@register(
    "q110_interval_merge",
    """
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(round(value * 60000000, 0) AS BIGINT) AS e,
             event_id
      FROM events
    ),
    marked AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN max(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  >= s
                  THEN 0 ELSE 1 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             CAST(sum(new_island) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS island
      FROM marked
    )
    SELECT user_id, island,
           CAST(min(s) AS BIGINT) AS span_start_us,
           CAST(max(e) AS BIGINT) AS span_end_us,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM islands GROUP BY user_id, island
    """,
)
def q110_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user intervals [ts, ts + value minutes] into
    maximal spans (microsecond integer arithmetic on both engines)."""
    ev = _t(spark, sf_dir, "events")
    s = F.unix_micros("ts")
    e = s + F.round(F.col("value") * 60000000, 0).cast("bigint")
    iv = ev.select(
        "user_id", s.alias("s"), e.alias("e"), "event_id"
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "new_island",
        F.when(F.max("e").over(w_prev) >= F.col("s"), 0).otherwise(1),
    )
    # Unique ordering key (s, event_id) on BOTH engines: a ROWS frame over a
    # non-unique order is peer-order-nondeterministic and diverges from
    # DuckDB's default RANGE frame on ties (round-8 advice).
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.withColumn(
        "island", F.sum("new_island").over(w_run).cast("bigint")
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("s").cast("bigint").alias("span_start_us"),
        F.max("e").cast("bigint").alias("span_end_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
    )


# ===========================================================================
# q111_table_profile — ANALYZE-style per-column statistics over orders
# (the stats collection a CBO consumes and the first look at any table):
# the table unpivots through a narrow stack generator to (column, value)
# rows, then ONE key-partitioned aggregation computes rows / nulls /
# exact distincts / lexicographic string min-max for every column — one
# scan + one shuffle regardless of column count. At 100 TB the same
# operator runs with exact_distinct=False (HLL) — the exact form here is
# the differential tier. The oracle mirrors it as per-column UNION ALL
# aggregates over the identical string forms.
# ===========================================================================

_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _profile_sql() -> str:
    parts = [
        f"""
    SELECT '{c}' AS column,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           min(CAST({c} AS VARCHAR)) AS min_value,
           max(CAST({c} AS VARCHAR)) AS max_value
    FROM orders"""
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts)


@register("q111_table_profile", _profile_sql())
def q111_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column statistics of orders: one stack unpivot + one
    aggregation."""
    return profile_table(
        _t(spark, sf_dir, "orders"), _PROFILE_COLS, exact_distinct=True
    )
