"""Round 3: lakehouse tier, subquery shapes, graph, quantized ANN, product analytics.

Split from the original monolithic queries.py in round 5. Registration
ORDER is load-bearing (the driver's correctness window samples the first 50
registrations), so modules are imported in the original file order by
queries/__init__.py, which also asserts the canonical order afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark import lsh_oracles  # noqa: F401
from crowdsorsa_etl_spark.queries._shared import (
    _at_rest,
    _sf_cache_dir,
    _t,
    register,
)

# ===========================================================================
# Round 3: CDC diff, quantized ANN, TPC-H correlated/subquery shapes, ...
# ===========================================================================


@register(
    "q54_table_diff",
    """
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0
    ),
    classified AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                       THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey, change_type FROM classified
    WHERE change_type <> 'unchanged'
    """,
)
def q54_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (``operators/diff.table_diff``): classify rows
    between two table versions as added / removed / changed with one
    co-partitioned full-outer join on the key; compare columns are hashed
    into a per-side fingerprint BEFORE the join so wide rows never inflate
    the join payload. The 'new' snapshot is derived deterministically from
    orders: ~1% of keys dropped, 'F'-status prices bumped 10%, ~1% new
    keys appended. Reference analogue: the season-over-season re-run that
    re-POSTs everything (crowdsorsa-etl-2023.R script-per-year structure)
    becomes ship-the-delta."""
    from crowdsorsa_etl_spark.operators.diff import table_diff

    orders = _t(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_totalprice")
    new = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderstatus") == "F", F.col("o_totalprice") * 1.1
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    return table_diff(old, new, ["o_orderkey"], ["o_totalprice"])


@register(
    "llm_quantized_topk",
    """
    WITH e AS (
      SELECT vec_id,
             unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    s AS (
      SELECT vec_id,
             CASE WHEN max(abs(x)) > 0 THEN 127.0 / max(abs(x))
                  ELSE 0.0 END AS scale
      FROM e GROUP BY vec_id
    ),
    q AS (
      SELECT e.vec_id, e.i,
             CAST(round(e.x * s.scale) AS BIGINT) AS qx
      FROM e JOIN s ON e.vec_id = s.vec_id
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             CAST(sum(a.qx * b.qx) AS BIGINT) AS dot,
             CAST(sum(a.qx * a.qx) AS BIGINT) AS na,
             CAST(sum(b.qx * b.qx) AS BIGINT) AS nb
      FROM q a JOIN q b ON a.i = b.i AND b.vec_id <> a.vec_id
      WHERE a.vec_id < 5
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, vec_id,
             round(CAST(dot AS DOUBLE)
                   / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))),
                   6) AS cosine_q
      FROM pairs
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_q,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cosine_q DESC, vec_id
             ) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine_q, rank FROM ranked WHERE rank <= 10
    """,
)
def llm_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine over int8-quantized embeddings
    (``operators/quantize``): 4x narrower vectors, dot/norms computed
    entirely on integers JVM-side (the per-vector scale cancels in
    cosine), query set broadcast so the corpus never shuffles. The oracle
    re-derives the same symmetric quantization in SQL (unnest +
    per-vector scale + integer dot)."""
    from crowdsorsa_etl_spark.operators.quantize import (
        cosine_topk_quantized,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    corpus_q = quantize_embeddings(emb)
    queries_q = quantize_embeddings(emb.filter(F.col("vec_id") < 5))
    return cosine_topk_quantized(corpus_q, queries_q, k=10)


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


_STRATA_RATES = {"en": 128, "de": 64, "zh": 26, "fr": 64, "es": 64}  # of 256


def _stratified_sql() -> str:
    nib1 = "instr('0123456789abcdef', substr(md5('strat:' || CAST(doc_id AS VARCHAR(20))), 1, 1)) - 1"
    nib2 = "instr('0123456789abcdef', substr(md5('strat:' || CAST(doc_id AS VARCHAR(20))), 2, 1)) - 1"
    case = "CASE lang " + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _STRATA_RATES.items()
    ) + " ELSE 0 END"
    return f"""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(({nib1}) * 16 + ({nib2}) AS INT) AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket FROM b
    WHERE bucket < {case}
    """


@register("q62_stratified_sample", _stratified_sql())
def q62_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates (here: per-language
    down-sampling, the domain-rebalancing primitive of corpus curation),
    via the engine-stable md5-bucket trick — joinless, deterministic across
    runs/engines, fuses into the scan. The oracle CASE is generated from
    the same rates dict so the two sides cannot drift."""
    from crowdsorsa_etl_spark.operators.curation import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    rate = F.lit(0)
    expr = None
    for k, v in _STRATA_RATES.items():
        expr = (
            F.when(F.col("lang") == k, F.lit(v))
            if expr is None
            else expr.when(F.col("lang") == k, F.lit(v))
        )
    rate = expr.otherwise(F.lit(0))
    return (
        docs.withColumn(
            "bucket",
            hash_bucket(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))),
        )
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
    )


@register(
    "q63_latest_per_key",
    """
    SELECT user_id, event_id, event_type, round(value, 2) AS value,
           epoch_us(ts) AS ts_us
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q63_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key (the CDC-upsert read / SCD type-1 collapse):
    one window per key ordered by (ts, id) descending, keep rank 1. The
    window shuffle on user_id is the only exchange; at scale this key is
    high-cardinality so no skew concentration."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.unix_micros("ts").alias("ts_us"),
        )
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


@register("q65_pagerank", lsh_oracles.pagerank_sql(iterations=5))
def q65_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier->part shipment graph (distinct
    (l_suppkey, l_partkey) edges, part keys offset into their own id
    space). Oracle since round 6: the iteration count is FIXED, so the
    DuckDB SQL unrolls the 5 power iterations as CTE stages with the same
    Python-float constants and dangling-mass redistribution
    (lsh_oracles.pagerank_sql); summation-order drift (~1e-16) is absorbed
    by the 8-dp rounding. tests/test_graph.py's exact numpy-reference
    comparison remains the semantic gate."""
    from crowdsorsa_etl_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 500)
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1_000_000).alias("dst"),
    )
    pr = pagerank(edges, iterations=5)
    return pr.select("node", F.round("rank", 8).alias("rank")).orderBy(
        F.col("rank").desc(), "node"
    ).limit(100)


@register(
    "q66_histogram_quantiles",
    """
    WITH hist AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice / 1000) AS BIGINT) AS bin,
             count(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, bin, cnt,
             sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER (PARTITION BY l_returnflag) AS total
      FROM hist
    )
    SELECT l_returnflag,
           CAST(min(CASE WHEN 2 * cum >= total THEN bin * 1000 END) AS BIGINT)
             AS est_p50,
           CAST(min(CASE WHEN 20 * cum >= 19 * total THEN bin * 1000 END)
                AS BIGINT) AS est_p95,
           CAST(max(total) AS BIGINT) AS n_rows
    FROM cum GROUP BY l_returnflag
    """,
)
def q66_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-width-histogram quantile sketch: bucket counts are
    a plain partial-aggregable groupBy (merge = add counts — the property
    that makes this a sketch), quantile estimates read off the cumulative
    histogram. Fully deterministic (integer math only) unlike
    percentile_approx, and the per-group state is bounded by the bin
    count, not the row count."""
    li = _t(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") / 1000).cast("bigint").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col("bin") * 1000))
        .cast("bigint")
        .alias("est_p50"),
        F.min(
            F.when(20 * F.col("cum") >= 19 * F.col("total"), F.col("bin") * 1000)
        )
        .cast("bigint")
        .alias("est_p95"),
        F.max("total").cast("bigint").alias("n_rows"),
    )


@register(
    "llm_repetition_filter",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    uni AS (
      SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2
    ),
    uni_stats AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_tok,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(cnt) AS BIGINT) AS top_cnt
      FROM uni GROUP BY doc_id
    ),
    bi AS (
      SELECT a.doc_id, a.tok || ' ' || b.tok AS bigram, count(*) AS cnt
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2
    ),
    bi_stats AS (
      SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bigram_cnt,
             CAST(sum(cnt) AS BIGINT) AS n_bigrams
      FROM bi GROUP BY doc_id
    )
    SELECT u.doc_id, u.n_tok,
           round(1.0 - CAST(u.n_distinct AS DOUBLE) / u.n_tok, 6)
             AS dup_word_frac,
           round(CAST(u.top_cnt AS DOUBLE) / u.n_tok, 6) AS top_word_frac,
           round(CAST(b.top_bigram_cnt AS DOUBLE) / b.n_bigrams, 6)
             AS top_bigram_frac,
           (round(CAST(u.top_cnt AS DOUBLE) / u.n_tok, 6) <= 0.2
            AND round(CAST(b.top_bigram_cnt AS DOUBLE) / b.n_bigrams, 6)
                <= 0.08) AS keep
    FROM uni_stats u JOIN bi_stats b ON u.doc_id = b.doc_id
    """,
)
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-word fraction, top-word
    fraction, top-bigram fraction, and the keep/drop verdict. One explode
    + two partial-aggregable groupBys sharing the doc_id shuffle key; the
    bigram stream comes from a lead() window over the same exploded rows
    (no self-join on the Spark side — the oracle's pos+1 self-join is the
    SQL spelling of the same thing)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    uni_stats = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tok"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.max("cnt").cast("bigint").alias("top_cnt"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi_stats = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").cast("bigint").alias("top_bigram_cnt"),
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
        )
    )
    dup = F.round(1.0 - F.col("n_distinct").cast("double") / F.col("n_tok"), 6)
    topw = F.round(F.col("top_cnt").cast("double") / F.col("n_tok"), 6)
    topb = F.round(
        F.col("top_bigram_cnt").cast("double") / F.col("n_bigrams"), 6
    )
    return uni_stats.join(bi_stats, "doc_id").select(
        "doc_id",
        "n_tok",
        dup.alias("dup_word_frac"),
        topw.alias("top_word_frac"),
        topb.alias("top_bigram_frac"),
        ((topw <= 0.2) & (topb <= 0.08)).alias("keep"),
    )


@register(
    "q67_incremental_agg",
    """
    SELECT o_orderpriority,
           round(sum(o_totalprice), 2) AS total,
           CAST(count(o_totalprice) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS vmin,
           round(max(o_totalprice), 2) AS vmax,
           round(sum(o_totalprice), 2) / count(o_totalprice) AS vavg
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q67_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (``operators/incremental``): the
    history is split into three year batches, each reduced to a mergeable
    partial state (sum/cnt/min/max), and the merged+finalized result must
    equal the oracle's direct full-history aggregate — the
    materialized-view-maintenance equivalence, verified by hash."""
    from crowdsorsa_etl_spark.operators.incremental import (
        finalize,
        merge_states,
        partial_state,
    )

    orders = _t(spark, sf_dir, "orders")
    keys, val = ["o_orderpriority"], "o_totalprice"
    base = partial_state(
        orders.filter(F.col("o_orderdate") < "1997-01-01"), keys, val
    )
    delta1 = partial_state(
        orders.filter(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1999-01-01")
        ),
        keys,
        val,
    )
    delta2 = partial_state(
        orders.filter(F.col("o_orderdate") >= "1999-01-01"), keys, val
    )
    return finalize(merge_states(base, delta1, delta2))


_SPAN_SQL = """
    toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS l
      FROM documents
    ),
    sp AS (
      SELECT doc_id, i, array_to_string(l[i:i+7], ' ') AS s
      FROM (SELECT doc_id, l,
                   unnest(generate_series(1, greatest(len(l) - 7, 1))) AS i
            FROM toks)
    )
"""


@register(
    "llm_span_dedup",
    "WITH " + _SPAN_SQL + """,
    xdoc AS (
      SELECT s FROM sp GROUP BY s HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT sp.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(x.s) AS BIGINT) AS n_dup_spans,
           round(CAST(count(x.s) AS DOUBLE) / count(*), 6) AS dup_span_frac
    FROM sp LEFT JOIN xdoc x ON sp.s = x.s
    GROUP BY sp.doc_id
    """,
)
def llm_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document span dedup signal: 8-token spans occurring
    in >= 2 distinct documents, counted per position per doc. Two
    partial-aggregable groupBys + one equi-join on the span key; at corpus
    scale the span key is xxhash64'd to fixed width before the join (the
    dedup.py convention) — string keys here only so the oracle join is
    byte-identical."""
    docs = _t(spark, sf_dir, "documents")
    # tokenize once; the span builder references the materialized array
    # instead of re-evaluating split(lower(trim())) per sub-expression
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), "\\s+").alias("l")
    )
    sp = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "CASE WHEN size(l) < 8 THEN array(concat_ws(' ', l)) "
                "ELSE transform(sequence(0, size(l) - 8),"
                "  i -> concat_ws(' ', slice(l, i + 1, 8))) END"
            )
        ).alias("i", "s"),
    )
    # ONE explode pass (r16, guide §2.4): ``sp`` used to be computed twice
    # (once for the cross-doc distinct count, once as the join probe) and
    # the corpus-wide span stream then joined on the span STRING. Instead:
    # partial-agg to (doc_id, s, n_occ) — map-side combined, shrinks the
    # shuffle to distinct spans per doc — then the distinct-doc count per
    # span is simply rows-per-s over that grid (a window count, no join),
    # and the per-doc fold sums occurrence counts. Integer arithmetic
    # identical: n_spans = Σ n_occ, n_dup_spans = Σ n_occ where the span
    # occurs in ≥2 distinct docs.
    grp = sp.groupBy("doc_id", "s").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_occ")
    )
    nd = grp.withColumn(
        "_nd", F.count(F.lit(1)).over(Window.partitionBy("s"))
    )
    return (
        nd.groupBy("doc_id")
        .agg(
            F.sum("_n_occ").cast("bigint").alias("n_spans"),
            F.coalesce(
                F.sum(F.when(F.col("_nd") >= 2, F.col("_n_occ"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6
            ).alias("dup_span_frac"),
        )
    )


@register(
    "q68_zone_map_scan",
    """
    SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS ship_month,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <= TIMESTAMP '1996-03-31 23:59:59'
    GROUP BY 1
    """,
)
def q68_zone_map_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping (``operators/skipping``): lineitem is laid
    out range-clustered on l_shipdate (16 files), per-file min/max stats
    are collected into an explicit manifest table, and the quarter scan
    reads ONLY the files whose zone maps intersect the range — the
    Iceberg/Delta manifest-pruning idea with the file list coming from the
    stats table, verified against the oracle's full-table filter."""
    import datetime

    from crowdsorsa_etl_spark.operators.skipping import (
        collect_file_stats,
        read_pruned,
    )

    base = _at_rest(
        _sf_cache_dir(sf_dir, "zonemap", "lineitem"),
        lambda stage: _t(spark, sf_dir, "lineitem")
        .repartitionByRange(16, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.parquet(stage),
    )
    stats = collect_file_stats(spark, base, ["l_shipdate"])
    lo = datetime.datetime(1996, 1, 1)
    hi = datetime.datetime(1996, 3, 31, 23, 59, 59)
    pruned = read_pruned(spark, stats, {"l_shipdate": (lo, hi)})
    return pruned.groupBy(
        F.date_trunc("month", F.to_date("l_shipdate"))
        .cast("date")
        .alias("ship_month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
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
    "llm_unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vocab)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           round(sum(ln((v.cnt + 1.0) / (tot.n + 1.0))) / count(*), 6)
             AS avg_logprob
    FROM toks t JOIN vocab v ON t.tok = v.tok CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram log-probability scorer — the shape of a
    KenLM-style perplexity filter (CCNet/RedPajama) with the LM reduced to
    add-one-smoothed unigrams so both engines agree bit-for-bit. Two
    passes over the exploded tokens sharing one shuffle key (tok) for the
    vocab build, then a vocab join (at real scale: the vocab is Zipf-small
    and broadcastable — AQE decides from observed size) and a per-doc
    aggregate."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = vocab.agg(F.sum("cnt").cast("bigint").alias("n"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.round(
                F.sum(F.log((F.col("cnt") + 1.0) / (F.col("n") + 1.0)))
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
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
    "q76_fuzzy_match",
    """
    WITH variants AS (
      SELECT n_nationkey AS v_id,
             'X' || substring(n_name, 2) AS variant
      FROM nation
    ),
    scored AS (
      SELECT v.v_id, v.variant, n.n_name,
             CAST(levenshtein(v.variant, n.n_name) AS INT) AS dist
      FROM variants v CROSS JOIN nation n
    )
    SELECT v_id, variant, n_name AS best_match, dist
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY v_id ORDER BY dist, n_name
      ) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def q76_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: edit-distance nearest dictionary entry per
    corrupted variant (entity-resolution / spell-repair shape). The
    dictionary side is tiny → broadcast nested-loop scoring then a per-key
    min; at scale the standard prefilter is an n-gram blocking join before
    levenshtein (same pattern as the dedup candidate tiers)."""
    nation = _t(spark, sf_dir, "nation")
    variants = nation.select(
        F.col("n_nationkey").alias("v_id"),
        F.concat(F.lit("X"), F.expr("substring(n_name, 2)")).alias("variant"),
    )
    scored = variants.crossJoin(F.broadcast(nation.select("n_name"))).select(
        "v_id",
        "variant",
        "n_name",
        F.levenshtein("variant", "n_name").cast("int").alias("dist"),
    )
    w = Window.partitionBy("v_id").orderBy("dist", "n_name")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("v_id", "variant", F.col("n_name").alias("best_match"), "dist")
    )


@register("llm_semdedup", lsh_oracles.semdedup_sql(n_clusters=16, epsilon=0.45))
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (embedding-space semantic dedup): cluster-bounded pairwise
    removal (``operators/similarity.semdedup``). Oracle since round 6: the
    sample trainer replay (lsh_oracles._kmeans_ctes) plus the per-cluster
    ranking and higher-ranked-neighbor removal rule, with centroid_sim at
    the same float32 centroid precision Spark uses. The keep-set-invariant
    test in tests/test_graph.py (planted near-duplicates, numpy-verified)
    stays as the semantic gate. The fixture embeddings are random (max
    pairwise cosine ~0.5) so epsilon 0.45 exercises the removal path at
    this scale."""
    from crowdsorsa_etl_spark.operators.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    out = semdedup(emb, n_clusters=16, epsilon=0.45)
    return out.orderBy("vec_id")


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
    "q81_snapshot_time_travel",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderstatus
    """,
)
def q81_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end versioned-snapshot gate (``sinks/snapshots``): write
    orders-before-1997 as v1 and the full table as v2, then TIME-TRAVEL
    back to v1 and aggregate — the result must hash-match the oracle's
    direct filter, proving the manifest-pointer layout round-trips data
    bit-exactly and old versions stay readable after later writes."""
    import os
    import tempfile

    from crowdsorsa_etl_spark.sinks.snapshots import (
        snapshot_read,
        snapshot_versions,
        snapshot_write,
    )

    orders = _t(spark, sf_dir, "orders")
    base = _sf_cache_dir(sf_dir, "snap", "orders")
    if len(snapshot_versions(base)) < 2:  # build v1+v2 once per sf fixture
        snapshot_write(
            orders.filter(F.col("o_orderdate") < "1997-01-01"), base
        )
        snapshot_write(orders, base)
    v1 = snapshot_read(spark, base, version=1)
    return v1.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "llm_image_decode",
    """
    WITH hx AS (
      SELECT doc_id, substr(hex(encode(coalesce(text, ''))), 1, 512) AS h
      FROM documents WHERE doc_id < 200
    ),
    b AS (
      SELECT doc_id, CASE WHEN length(h) = 0 THEN '00' ELSE h END AS h
      FROM hx
    ),
    sized AS (SELECT doc_id, h, length(h) / 2 AS nbody FROM b),
    idx AS (
      SELECT doc_id, h, nbody,
             unnest(generate_series(1, CAST(nbody AS BIGINT))) AS i
      FROM sized
    ),
    bytes AS (
      SELECT doc_id, nbody, i,
             (strpos('0123456789ABCDEF', substr(h, CAST(2*i-1 AS INT), 1))
              - 1) * 16
             + strpos('0123456789ABCDEF', substr(h, CAST(2*i AS INT), 1))
             - 1 AS v
      FROM idx
    )
    SELECT doc_id,
           'png' AS format,
           CAST(8 AS INT) AS width,
           CAST(ceil(max(nbody) / 8.0) AS INT) AS height,
           CAST(sum(v) AS BIGINT) AS pix_sum,
           CAST(sum(v * i) AS BIGINT) AS pix_wsum
    FROM bytes GROUP BY doc_id ORDER BY doc_id
    """,
)
def llm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real multimodal decode surface, now FULLY hash-oracled: render each
    document into a genuine PNG (stdlib encoder: one gray pixel per UTF-8
    byte, 8 wide, zero-padded tail row), run the REAL decode path (no fake
    fallback), and emit exact integer pixel checksums. The DuckDB oracle
    never touches a PNG: it re-derives the expected pixels straight from
    the text's UTF-8 bytes (hex(encode(text)) → per-byte values) and
    replays both the plain and the position-weighted sum — so a bug in
    EITHER the encoder or the decoder (shifted rows, wrong filter, palette
    mixups, byte-order flips) breaks the position-weighted sum and the
    hash. Integer-only output: no cross-engine float-rounding risk.
    mean_luma/n_bytes stay covered by tests/test_imagecodec.py +
    test_multimodal e2e."""
    from crowdsorsa_etl_spark.operators.multimodal import (
        attach_png_payload,
        image_checksums,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    png = attach_png_payload(docs)
    return image_checksums(png).orderBy("doc_id")


@register(
    "llm_curation_funnel_v2",
    """
    WITH toks_r AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    uni AS (SELECT doc_id, tok, count(*) AS cnt FROM toks_r GROUP BY 1, 2),
    us AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok,
                  CAST(max(cnt) AS BIGINT) AS top FROM uni GROUP BY 1),
    bi AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bg, count(*) AS cnt
           FROM toks_r a JOIN toks_r b
             ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           GROUP BY 1, 2),
    bs AS (SELECT doc_id, CAST(max(cnt) AS BIGINT) AS topb,
                  CAST(sum(cnt) AS BIGINT) AS nb FROM bi GROUP BY 1),
    rep_kept AS (
      SELECT us.doc_id FROM us JOIN bs ON us.doc_id = bs.doc_id
      WHERE round(CAST(us.top AS DOUBLE) / us.n_tok, 6) <= 0.2
        AND round(CAST(bs.topb AS DOUBLE) / bs.nb, 6) <= 0.08
    ),
    toks_l AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
              FROM toks_l GROUP BY tok),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vocab),
    lp AS (
      SELECT t.doc_id,
             round(sum(ln((v.cnt + 1.0) / (tot.n + 1.0))) / count(*), 6)
               AS avg_logprob
      FROM toks_l t JOIN vocab v ON t.tok = v.tok CROSS JOIN tot
      GROUP BY t.doc_id
    ),
    lp_kept AS (
      SELECT r.doc_id FROM rep_kept r JOIN lp ON r.doc_id = lp.doc_id
      WHERE lp.avg_logprob >= -3.41
    ),
    toks_s AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS l
      FROM documents
    ),
    sp AS (
      SELECT doc_id, i, array_to_string(l[i:i+7], ' ') AS s
      FROM (SELECT doc_id, l,
                   unnest(generate_series(1, greatest(len(l) - 7, 1))) AS i
            FROM toks_s)
    ),
    xdoc AS (SELECT s FROM sp GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
    spanf AS (
      SELECT sp.doc_id,
             round(CAST(count(x.s) AS DOUBLE) / count(*), 6) AS f
      FROM sp LEFT JOIN xdoc x ON sp.s = x.s GROUP BY sp.doc_id
    ),
    span_kept AS (
      SELECT k.doc_id FROM lp_kept k JOIN spanf ON k.doc_id = spanf.doc_id
      WHERE spanf.f <= 0.5
    )
    SELECT '00_total' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
    UNION ALL
    SELECT '10_repetition_kept', CAST(count(*) AS BIGINT) FROM rep_kept
    UNION ALL
    SELECT '20_logprob_kept', CAST(count(*) AS BIGINT) FROM lp_kept
    UNION ALL
    SELECT '30_spandedup_kept', CAST(count(*) AS BIGINT) FROM span_kept
    """,
)
def llm_curation_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 curation funnel: repetition gate (Gopher signals) →
    unigram-LM perplexity gate → cross-doc span-dedup gate, reported as
    per-stage survivor counts. Composes the three standalone round-3
    operators by semi-joining their keep sets — each stage keeps its own
    shuffle shape (all partial-aggregable; the funnel adds only doc_id
    semi joins), and the oracle composes the same CTEs, so the composition
    itself is what the hash verifies."""
    docs = _t(spark, sf_dir, "documents")
    rep = llm_repetition_filter(spark, sf_dir).filter(F.col("keep"))
    rep_kept = rep.select("doc_id")
    lp_kept = (
        llm_unigram_logprob(spark, sf_dir)
        .filter(F.col("avg_logprob") >= -3.41)
        .join(rep_kept, "doc_id", "left_semi")
        .select("doc_id")
    )
    span_kept = (
        llm_span_dedup(spark, sf_dir)
        .filter(F.col("dup_span_frac") <= 0.5)
        .join(lp_kept, "doc_id", "left_semi")
        .select("doc_id")
    )

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
            F.lit(name).alias("stage"), "n"
        )

    return (
        stage("00_total", docs)
        .unionByName(stage("10_repetition_kept", rep_kept))
        .unionByName(stage("20_logprob_kept", lp_kept))
        .unionByName(stage("30_spandedup_kept", span_kept))
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
    "llm_vocab_stats",
    """
    WITH toks AS (
      SELECT source, doc_id,
             unnest(string_split(lower(trim(text)), ' ')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(CASE WHEN cnt = 1 THEN 1 END) AS BIGINT) AS n_hapax,
           round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS type_token_ratio,
           CAST(max(cnt) AS BIGINT) AS top_freq
    FROM tf GROUP BY source
    """,
)
def llm_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics (corpus profiling: vocabulary
    size, hapax legomena, type-token ratio, modal frequency) — the
    Heaps/Zipf sanity report a tokenizer-training run starts from. Explode
    → two stacked partial-aggregable groupBys sharing the (source, tok)
    shuffle."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.trim("text")), " ")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.when(F.col("cnt") == 1, 1)).cast("bigint").alias("n_hapax"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("cnt"), 6
        ).alias("type_token_ratio"),
        F.max("cnt").cast("bigint").alias("top_freq"),
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


