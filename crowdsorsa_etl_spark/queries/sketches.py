"""Mergeable sketches and samplers: HLL, KLL, KMV, count-min, Misra-Gries
heavy hitters, histogram quantiles, frequent pairs and seeded reservoirs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark import lsh_oracles
from crowdsorsa_etl_spark.functions.portable_hash import hex60_spark, hex60_sql
from crowdsorsa_etl_spark.functions.text import (
    normalize_text,
    normalized_tokens,
)
from crowdsorsa_etl_spark.operators.checkpointing import materialize
from crowdsorsa_etl_spark.operators.cmsketch import (
    count_min_estimate,
    count_min_sketch,
)
from crowdsorsa_etl_spark.operators.heavyhitters import (
    heavy_hitters,
    heavy_hitters_grouped,
)
from crowdsorsa_etl_spark.operators.hll import (
    HLL_M,
    HLL_WBITS,
    hll_est_case_sql,
    hll_estimate_expr,
    hll_fold_sql,
    hll_registers,
    hll_registers_sql,
    hll_summary_sql,
)
from crowdsorsa_etl_spark.operators.kll import (
    kll_cells_grouped,
    kll_cells_sorted,
    kll_fold_sql,
    kll_grouped_sql,
    kll_merge,
    kll_sql,
)
from crowdsorsa_etl_spark.operators.kmv import (
    KMV_K,
    kmv_setops_sql,
    kmv_sketch,
    theta_estimates,
)
from crowdsorsa_etl_spark.operators.topk import topk_per_group
from crowdsorsa_etl_spark.queries._shared import _NORM_SQL, _t, register


@register(
    "q40_approx_aggs",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
           TRUE AS hll_within_bound,
           TRUE AS median_within_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q40_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct, t-digest percentile) — the
    100 TB substitutes for q10/q21 — under an ERROR-BOUND oracle (round 7).

    Sketch estimates are engine-specific by design, so the raw values can
    never hash-match a different engine; instead both sides emit the EXACT
    per-group distinct count plus boolean bound verdicts. A hash match
    therefore proves (a) the exact counts agree with DuckDB and (b) Spark's
    sketch landed within its documented bound of that independently-checked
    truth — falsifiable, unlike the old rows-only record:
    * HLL: |approx − exact| ≤ 3·rsd·exact (rsd = 0.02 → 6%, a ≥3σ bound);
    * percentile_approx(accuracy=1000): returned value must lie between the
      exact 0.495 and 0.505 quantiles (rank error ≤ 1/accuracy · n/2·5).
    """
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx_parts"),
        F.countDistinct("l_partkey").alias("n_exact"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("_approx_median"),
        F.expr(
            "percentile(l_extendedprice, array(0.495, 0.505))"
        ).alias("_median_band"),
    )
    return agg.select(
        "l_returnflag",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(F.col("_approx_parts") - F.col("n_exact"))
            <= 3 * 0.02 * F.col("n_exact")
        ).alias("hll_within_bound"),
        F.col("_approx_median").between(
            F.col("_median_band")[0], F.col("_median_band")[1]
        ).alias("median_within_bound"),
    )


@register(
    "q47_hll_sketches",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
           TRUE AS sketch_within_bound
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL' AS l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
           TRUE AS sketch_within_bound
    FROM lineitem
    """,
)
def q47_hll_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via hll_sketch_agg) —
    the re-aggregatable distinct-count pattern 100 TB rollups need: group
    sketches persist/merge WITHOUT rescanning the facts (the 'ALL' row is
    built by unioning the per-group sketches, not by a second scan).

    ERROR-BOUND oracle (round 7; see q40 for the scheme): sketch estimates
    can't hash-match across engines, so both sides emit the exact distinct
    counts (per group AND for the merged-'ALL' row) plus a boolean asserting
    the estimate is within 5% of exact — the per-round falsifiable form of
    the accuracy gate that also lives in tests/test_queries.py."""
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
        F.countDistinct("l_partkey").alias("n_exact"),
    )
    per_est = per.select(
        "l_returnflag",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("sketch_within_bound"),
    )
    # the ALL row merges the per-group SKETCHES (no second fact scan for the
    # estimate); its exact count needs its own distinct, computed here once
    exact_all = li.agg(F.countDistinct("l_partkey").alias("n_exact"))
    total = (
        per.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_approx_all")
        )
        .crossJoin(exact_all)
        .select(
            F.lit("ALL").alias("l_returnflag"),
            F.col("n_exact").cast("bigint").alias("n_exact"),
            (
                F.abs(F.col("_approx_all") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("sketch_within_bound"),
        )
    )
    return per_est.unionByName(total)


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


# ===========================================================================
# q92: Count-Min heavy hitters — mergeable frequency sketch with the
# portable CW hash family, so the d×w sketch and every estimate derive
# identically in DuckDB (operators/cmsketch.py + lsh_oracles.countmin_sql).
# ===========================================================================


@register("q92_countmin_heavy", lsh_oracles.countmin_sql())
def q92_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for the corpus's top-20 exact tokens:
    (token, exact_cnt, cm_est). The sketch is one partial-aggregable
    groupBy over d bucket assignments per token; estimates join |probes|·d
    keys against the ≤ d·w-cell sketch. est ≥ exact by construction
    (gated in tests/test_operators.py); the driver hash gate pins the
    exact cell layout against DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    sketch = materialize(count_min_sketch(docs))
    exact = (
        normalized_tokens(docs, "text")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "token")
        .limit(20)
    )
    est = count_min_estimate(sketch, exact.select("token"))
    return exact.join(est, "token").select(
        "token", "exact_cnt", F.col("cm_est").cast("bigint")
    )


# ===========================================================================
# q103_heavy_hitters — Misra–Gries frequent tokens with O(k) memory: a
# per-partition bounded summary (mapInPandas fold) proposes candidates,
# an exact candidate-restricted second pass confirms. Because MG cannot
# miss an item above n/(capacity+1) and the query threshold sits above
# that bound, the OUTPUT is deterministically the exact ≥2%-share token
# set — the oracle is a plain HAVING over exact counts, and any sketch
# false-negative shows up as a missing row (hash mismatch).
# ===========================================================================

_HEAVY_HITTERS_SQL = f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM_SQL}, ' ')) AS token FROM documents
    ),
    t AS (SELECT token FROM toks WHERE token <> ''),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t)
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM t CROSS JOIN n
    GROUP BY token, n.total
    HAVING count(*) >= greatest(CAST(ceil(0.02 * n.total) AS BIGINT), 1)
"""


@register("q103_heavy_hitters", _HEAVY_HITTERS_SQL)
def q103_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens with ≥2% corpus share, found via the bounded MG sketch +
    exact confirm (operators/heavyhitters.py) — never a |vocab| groupBy."""
    docs = _t(spark, sf_dir, "documents")
    return heavy_hitters(docs, "text", capacity=64, min_share=0.02)


# ===========================================================================
# q107_frequent_pairs — apriori-pruned co-occurrence mining (market-basket
# over document token sets). The apriori bound: pairs are enumerated only
# between FREQUENT items, so the per-doc quadratic term is (frequent items
# per doc)^2, not (vocabulary)^2. Supports are exact; lift replays as the
# same double expression.
# ===========================================================================


@register(
    "q107_frequent_pairs",
    """
    WITH dtok AS (
      SELECT DISTINCT doc_id,
             unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS tok
      FROM documents
    ),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dtok),
    items AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS item_support
      FROM dtok GROUP BY tok
      HAVING count(*) * 4 >= (SELECT n_docs FROM n)
    ),
    ftok AS (
      SELECT d.doc_id, d.tok, i.item_support
      FROM dtok d JOIN items i USING (tok)
    )
    SELECT a.tok AS tok_a, b.tok AS tok_b,
           CAST(count(*) AS BIGINT) AS support,
           round(count(*) * 1.0 * (SELECT n_docs FROM n)
                 / (any_value(a.item_support) * any_value(b.item_support)), 6) AS lift
    FROM ftok a JOIN ftok b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY 1, 2
    HAVING count(*) * 10 >= (SELECT n_docs FROM n)
    """,
)
def q107_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-occurring token pairs: items at >=25% doc support, pairs
    at >=10%, exact counts, lift attached."""
    docs = _t(spark, sf_dir, "documents")
    dtok = (
        docs.select(
            "doc_id",
            F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
        )
        .distinct()
    )
    n = dtok.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    items = (
        dtok.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("item_support"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("item_support") * 4 >= F.col("n_docs"))
        .select("tok", "item_support")
    )
    # items is vocabulary-sized after the support cut — broadcast it
    ftok = dtok.join(F.broadcast(items), "tok")
    a = ftok.alias("a")
    b = ftok.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("support"),
            F.first(F.col("a.item_support")).alias("sa"),
            F.first(F.col("b.item_support")).alias("sb"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .filter(F.col("support") * 10 >= F.col("n_docs"))
        .select(
            "tok_a",
            "tok_b",
            "support",
            F.round(
                F.col("support") * 1.0 * F.col("n_docs")
                / (F.col("sa") * F.col("sb")),
                6,
            ).alias("lift"),
        )
    )


# ===========================================================================
# llm_reservoir_sample_k — exactly k uniform-without-replacement docs per
# (lang, source) stratum. The draw is the k smallest seeded-hash keys per
# stratum — distribution-identical to reservoir sampling but a pure
# function of the data, so it replays identically on any engine/cluster.
# Executes via operators/topk.topk_per_group: Spark plants a
# WindowGroupLimit partial top-k below the shuffle, so only k rows per
# stratum per input partition move — per-stratum skew never concentrates
# a full stratum in one task's sort buffer.
# ===========================================================================

_RSV_SEED = "rsv:v1:"
_RSV_K = 3


def _reservoir_sql() -> str:
    key = hex60_sql(f"'{_RSV_SEED}' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH k AS (
      SELECT lang, source, doc_id, {key} AS key FROM documents
    ),
    r AS (
      SELECT lang, source, doc_id,
             CAST(row_number() OVER (PARTITION BY lang, source
                                     ORDER BY key, doc_id) AS INT)
               AS sample_rank
      FROM k
    )
    SELECT lang, source, sample_rank, doc_id
    FROM r WHERE sample_rank <= {_RSV_K}
    """


@register("llm_reservoir_sample_k", _reservoir_sql())
def llm_reservoir_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k (k=3) seeded uniform sample per (lang, source) stratum."""
    docs = _t(spark, sf_dir, "documents")
    key = hex60_spark(
        F.concat(F.lit(_RSV_SEED), F.col("doc_id").cast("string"))
    )
    keyed = docs.select("lang", "source", "doc_id", key.alias("_k"))
    return topk_per_group(
        keyed,
        ["lang", "source"],
        "_k",
        _RSV_K,
        descending=False,
        tiebreak="doc_id",
    ).select(
        "lang",
        "source",
        F.col("rank").cast("int").alias("sample_rank"),
        "doc_id",
    )


# ===========================================================================
# q113_kll_quantiles — mergeable quantile sketch with a rank-error bound
# (KLL, derandomized; operators/kll.py docstring has the full contract).
# q66's histogram answers "how many per fixed bin"; the KLL cells answer
# ANY rank/quantile query within 2^max_level ranks, from O(k log(n/k))
# state. The closed form makes the whole sketch ONE distributed global
# rank (two-phase, no SinglePartition window) + 16 narrow integer
# filters; the oracle replays every cell from row_number() alone, so the
# hash gate pins the exact sketch content, not an estimate. Value domain
# is exact cents (round(l_extendedprice*100) as BIGINT) — integer state
# end to end, no float drift for the cells.
# ===========================================================================

_KLL_K = 32


def _kll_sql() -> str:
    return kll_sql(
        "SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,"
        " l_orderkey, l_linenumber FROM lineitem",
        "cents",
        "cents, l_orderkey, l_linenumber",
        k=_KLL_K,
    )


@register("q113_kll_quantiles", _kll_sql())
def q113_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KLL sketch cells over exact price cents: (level,
    pos, value, weight), sum(weight) == |lineitem| exactly."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    return kll_cells_sorted(
        li, "cents", ["l_orderkey", "l_linenumber"], k=_KLL_K
    )


# ===========================================================================
# q114_hll_distinct — HyperLogLog cardinality sketch over lineitem
# l_orderkey: completes the mergeable-sketch triad (q92_countmin =
# frequency, q113_kll_quantiles = quantiles, this = distinct count).
# operators/hll.py has the portability contract: md5-derived hex60 item
# hash, rho from bin()-string length (no libm log2), EXACT BIGINT
# 2^-M fold via shifts — the one-row output pins every register through
# the ordered reg_md5 chain plus the integer fold, so the hash gate
# checks the sketch cell-exactly, and est/rel_err ride one final float
# division with literal constants (the pagerank FX posture).
# ===========================================================================


def _hll_sql() -> str:
    return hll_summary_sql(
        "SELECT l_orderkey FROM lineitem", "l_orderkey"
    )


@register("q114_hll_distinct", _hll_sql())
def q114_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-256 register sketch + estimate over distinct order keys."""
    li = _t(spark, sf_dir, "lineitem")
    regs = hll_registers(li, "l_orderkey")
    fold = regs.agg(
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("bigint").alias("v_zero"),
        (
            F.coalesce(
                # shiftleft with a COLUMN bit count needs the SQL form —
                # the python F.shiftleft only takes a literal int
                F.sum(
                    F.expr(
                        f"shiftleft(cast(1 as bigint), {HLL_WBITS + 1} - r)"
                    )
                ),
                F.lit(0),
            )
            + (F.lit(HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << (HLL_WBITS + 1)).cast("bigint")
        )
        .cast("bigint")
        .alias("sum_fx"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("idx").alias("idx"),
                                F.concat_ws(
                                    ":",
                                    F.col("idx").cast("string"),
                                    F.col("r").cast("string"),
                                ).alias("txt"),
                            )
                        )
                    ),
                    lambda s: s["txt"],
                ),
            )
        ).alias("reg_md5"),
    )
    ex = li.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_exact"))
    est = hll_estimate_expr(F.col("sum_fx"), F.col("v_zero"))
    return fold.crossJoin(F.broadcast(ex)).select(
        F.lit(HLL_M).cast("int").alias("m"),
        "v_zero",
        "sum_fx",
        "reg_md5",
        "n_exact",
        F.round(est, 6).alias("est"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_err"
        ),
    )


# ===========================================================================
# q115_hll_windows — sketches x event time: per-day HLL of distinct
# active users over events, PLUS the rollup row proving mergeability
# in-query: the month row's registers are the per-register max of the
# 30 daily sketches AND must chain-hash identical to a direct
# whole-range sketch (merged_eq_direct pinned TRUE by the oracle). This
# is the shape a 100 TB metrics pipeline stores — daily register tables,
# any ad-hoc range answered by max-merge, never a re-scan. Daily
# cardinalities sit in HLL's linear-counting regime (V > 0, raw E <=
# 2.5m) — the LC branch selects on exact integers so both engines take
# the same branch; ln() is the one float, absorbed by 6-dp rounding.
# ===========================================================================


def _hll_windows_sql() -> str:
    day = "strftime(date_trunc('day', ts), '%Y-%m-%d')"
    est = hll_est_case_sql("f.sum_fx", "f.v_zero")
    direct = hll_registers_sql("SELECT user_id FROM events", "user_id")
    pow_w = 1 << HLL_WBITS
    h = hex60_sql("'hll:v1:' || CAST(user_id AS VARCHAR)")
    return f"""
    WITH ev AS MATERIALIZED (SELECT {day} AS day, user_id FROM events),
    hr AS MATERIALIZED (
      SELECT day, CAST(h // {pow_w} AS INT) AS idx,
             CAST(max(CASE WHEN h % {pow_w} = 0 THEN {HLL_WBITS + 1}
                      ELSE {HLL_WBITS} - length(bin(h % {pow_w})) + 1
                      END) AS INT) AS r
      FROM (SELECT day, {h} AS h FROM ev)
      GROUP BY 1, 2
    ),
    dayfold AS ({hll_fold_sql("hr", "day")}),
    dayexact AS (
      SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM ev GROUP BY day
    ),
    merged AS (SELECT idx, max(r) AS r FROM hr GROUP BY idx),
    mergedfold AS ({hll_fold_sql("merged")}),
    direct AS ({direct}),
    directfold AS ({hll_fold_sql("direct")}),
    allexact AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM ev
    )
    SELECT day, x.n_exact, f.v_zero,
           round({est}, 6) AS est,
           round(abs({est} - x.n_exact) / x.n_exact, 6) AS rel_err,
           f.reg_md5,
           CAST(NULL AS BOOLEAN) AS merged_eq_direct
    FROM dayfold f JOIN dayexact x USING (day)
    UNION ALL
    SELECT 'ALL' AS day, x.n_exact, f.v_zero,
           round({est}, 6) AS est,
           round(abs({est} - x.n_exact) / x.n_exact, 6) AS rel_err,
           f.reg_md5,
           (f.reg_md5 = (SELECT reg_md5 FROM directfold)) AS merged_eq_direct
    FROM mergedfold f, allexact x
    """


@register("q115_hll_windows", _hll_windows_sql())
def q115_hll_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day HLL distinct-user sketches + the max-merged month rollup
    hash-verified against a direct whole-range sketch."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        "user_id",
    )
    h = hex60_spark(F.concat(F.lit("hll:v1:"), F.col("user_id").cast("string")))
    pow_w = 1 << HLL_WBITS
    hashed = ev.select("day", h.alias("_h")).select(
        "day",
        F.expr(f"_h div {pow_w}").cast("int").alias("idx"),
        (F.col("_h") % F.lit(pow_w)).alias("_w"),
    )
    rho = (
        F.when(F.col("_w") == 0, HLL_WBITS + 1)
        .otherwise(F.lit(HLL_WBITS) - F.length(F.bin(F.col("_w"))) + 1)
        .cast("int")
    )
    hr = (
        hashed.select("day", "idx", rho.alias("_rho"))
        .groupBy("day", "idx")
        .agg(F.max("_rho").cast("int").alias("r"))
    )

    def fold(regs: DataFrame, keys: list[str]) -> DataFrame:
        gb = regs.groupBy(*keys) if keys else regs.groupBy()
        return gb.agg(
            (F.lit(HLL_M) - F.count(F.lit(1))).cast("bigint").alias("v_zero"),
            (
                F.coalesce(
                    F.sum(
                        F.expr(
                            f"shiftleft(cast(1 as bigint), {HLL_WBITS + 1} - r)"
                        )
                    ),
                    F.lit(0),
                )
                + (F.lit(HLL_M) - F.count(F.lit(1)))
                * F.lit(1 << (HLL_WBITS + 1)).cast("bigint")
            )
            .cast("bigint")
            .alias("sum_fx"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("idx").alias("idx"),
                                    F.concat_ws(
                                        ":",
                                        F.col("idx").cast("string"),
                                        F.col("r").cast("string"),
                                    ).alias("txt"),
                                )
                            )
                        ),
                        lambda s: s["txt"],
                    ),
                )
            ).alias("reg_md5"),
        )

    est = hll_estimate_expr(F.col("sum_fx"), F.col("v_zero"))
    dayfold = fold(hr, ["day"])
    dayexact = ev.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    day_rows = dayfold.join(dayexact, "day").select(
        "day",
        "n_exact",
        "v_zero",
        F.round(est, 6).alias("est"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_err"
        ),
        "reg_md5",
        F.lit(None).cast("boolean").alias("merged_eq_direct"),
    )
    merged = hr.groupBy("idx").agg(F.max("r").cast("int").alias("r"))
    mergedfold = fold(merged, [])
    directfold = fold(hll_registers(ev, "user_id"), []).select(
        F.col("reg_md5").alias("_direct_md5")
    )
    allexact = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    all_row = (
        mergedfold.crossJoin(F.broadcast(allexact))
        .crossJoin(F.broadcast(directfold))
        .select(
            F.lit("ALL").alias("day"),
            "n_exact",
            "v_zero",
            F.round(est, 6).alias("est"),
            F.round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_err"),
            "reg_md5",
            (F.col("reg_md5") == F.col("_direct_md5")).alias(
                "merged_eq_direct"
            ),
        )
    )
    return day_rows.unionAll(all_row)


# ===========================================================================
# q116_kll_grouped — one KLL sketch PER GROUP (l_returnflag): the
# per-domain quantile table a curation pipeline materializes (length
# quantiles per source, score quantiles per language) — q113's closed
# form with the stream length m carried as the group-size COLUMN, and
# ranking a group-PARTITIONED window (parallel across groups, no global
# sort at all). Cells are hash-pinned per group; weights conserve the
# group sizes exactly.
# ===========================================================================


def _kll_grouped_sql() -> str:
    return kll_grouped_sql(
        "SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT)"
        " AS cents, l_orderkey, l_linenumber FROM lineitem",
        "l_returnflag",
        "cents",
        "cents, l_orderkey, l_linenumber",
        k=_KLL_K,
    )


@register("q116_kll_grouped", _kll_grouped_sql())
def q116_kll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag KLL sketch cells over exact price cents."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    return kll_cells_grouped(
        li, ["l_returnflag"], "cents", ["l_orderkey", "l_linenumber"], k=_KLL_K
    ).withColumnRenamed("l_returnflag", "grp")


# ===========================================================================
# llm_hll_setops — sketch ALGEBRA on HLL registers: union is native
# (per-register max, exact in sketch space), intersection is
# inclusion-exclusion est(A)+est(B)-est(A∪B) — the standard trick and
# its standard caveat (errors COMPOUND: the intersection estimate's
# relative error scales with |A∪B|/|A∩B|, not 1.04/√m), so the query
# ships the measured error next to exact truth (the fp_rate posture).
# A = buyers (event_type 'purchase'-ish: first type by name), B =
# another type's users; at 100 TB this is the audience-overlap question
# answered from two O(m)-byte register tables instead of a key shuffle.
# ===========================================================================


def _hll_setops_sql() -> str:
    est = hll_est_case_sql("f.sum_fx", "f.v_zero")

    def regs(name: str, pred: str) -> str:
        return f"""{name} AS MATERIALIZED (
        {hll_registers_sql(f"SELECT user_id FROM events WHERE {pred}", "user_id")}
        )"""

    tmin = "(SELECT min(event_type) FROM events)"
    tmax = "(SELECT max(event_type) FROM events)"
    return f"""
    WITH {regs("ra", f"event_type = {tmin}")},
    {regs("rb", f"event_type = {tmax}")},
    ru AS (
      SELECT idx, max(r) AS r
      FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY idx
    ),
    fa AS ({hll_fold_sql("ra")}), fb AS ({hll_fold_sql("rb")}),
    fu AS ({hll_fold_sql("ru")}),
    ea AS (SELECT round({est.replace("f.", "fa.")}, 6) AS est_a FROM fa),
    eb AS (SELECT round({est.replace("f.", "fb.")}, 6) AS est_b FROM fb),
    eu AS (SELECT round({est.replace("f.", "fu.")}, 6) AS est_union FROM fu),
    ex AS (
      SELECT CAST(count(DISTINCT CASE WHEN event_type = {tmin}
                                      THEN user_id END) AS BIGINT) AS n_a,
             CAST(count(DISTINCT CASE WHEN event_type = {tmax}
                                      THEN user_id END) AS BIGINT) AS n_b,
             CAST(count(DISTINCT CASE WHEN event_type IN
                    ({tmin}, {tmax}) THEN user_id END) AS BIGINT) AS n_union
      FROM events
    ),
    ix AS (
      SELECT CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_inter
      FROM (SELECT DISTINCT user_id FROM events WHERE event_type = {tmin}) a
      JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = {tmax}) b
        ON a.user_id = b.user_id
    )
    SELECT ex.n_a, ex.n_b, ex.n_union, ix.n_inter,
           ea.est_a, eb.est_b, eu.est_union,
           round(ea.est_a + eb.est_b - eu.est_union, 6) AS est_inter,
           round(abs(ea.est_a + eb.est_b - eu.est_union - ix.n_inter)
                 / greatest(ix.n_inter, 1), 6) AS inter_rel_err
    FROM ex, ix, ea, eb, eu
    """


@register("llm_hll_setops", _hll_setops_sql())
def llm_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra: native union (register max) + inclusion-exclusion
    intersection, with its compounded error measured against truth."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    bounds = ev.agg(
        F.min("event_type").alias("tmin"), F.max("event_type").alias("tmax")
    ).collect()[0]
    tmin, tmax = bounds["tmin"], bounds["tmax"]
    a = ev.filter(F.col("event_type") == tmin).select("user_id")
    b = ev.filter(F.col("event_type") == tmax).select("user_id")
    ra = hll_registers(a, "user_id")
    rb = hll_registers(b, "user_id")
    ru = ra.unionAll(rb).groupBy("idx").agg(F.max("r").cast("int").alias("r"))

    def fold_est(regs: DataFrame, name: str) -> DataFrame:
        fold = regs.agg(
            (F.lit(HLL_M) - F.count(F.lit(1))).cast("bigint").alias("v_zero"),
            (
                F.coalesce(
                    F.sum(
                        F.expr(
                            f"shiftleft(cast(1 as bigint), {HLL_WBITS + 1} - r)"
                        )
                    ),
                    F.lit(0),
                )
                + (F.lit(HLL_M) - F.count(F.lit(1)))
                * F.lit(1 << (HLL_WBITS + 1)).cast("bigint")
            )
            .cast("bigint")
            .alias("sum_fx"),
        )
        return fold.select(
            F.round(
                hll_estimate_expr(F.col("sum_fx"), F.col("v_zero")), 6
            ).alias(name)
        )

    ex = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == tmin, F.col("user_id"))
        )
        .cast("bigint")
        .alias("n_a"),
        F.countDistinct(
            F.when(F.col("event_type") == tmax, F.col("user_id"))
        )
        .cast("bigint")
        .alias("n_b"),
        F.countDistinct(
            F.when(
                F.col("event_type").isin([tmin, tmax]), F.col("user_id")
            )
        )
        .cast("bigint")
        .alias("n_union"),
    )
    ix = (
        a.distinct()
        .join(b.distinct(), "user_id")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_inter"))
    )
    out = (
        ex.crossJoin(F.broadcast(ix))
        .crossJoin(F.broadcast(fold_est(ra, "est_a")))
        .crossJoin(F.broadcast(fold_est(rb, "est_b")))
        .crossJoin(F.broadcast(fold_est(ru, "est_union")))
    )
    inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return out.select(
        "n_a",
        "n_b",
        "n_union",
        "n_inter",
        "est_a",
        "est_b",
        "est_union",
        F.round(inter, 6).alias("est_inter"),
        F.round(
            F.abs(inter - F.col("n_inter"))
            / F.greatest(F.col("n_inter"), F.lit(1)),
            6,
        ).alias("inter_rel_err"),
    )


# ===========================================================================
# q117_kll_stream_fold — a carried-sketch KLL fold in batch form: the
# lineitem cents stream splits into 3 deterministic arrival batches
# (l_orderkey % 3, fold order 0,1,2); each batch builds its closed-form
# deterministic KLL cells DISTRIBUTED (one per-batch rank + one
# projection, operators/kll.py), and the sketch-sized cell lists fold
# driver-side through kll_merge, as a stream would per micro-batch. The
# oracle replays every batch sketch from row_number() arithmetic AND the
# two merges from the same complete-block even-keep recurrence
# (kll_merge_sql_parts), so the hash gate pins the exact carried-state cells a
# stream would hold after epoch 3 — not an estimate. NOTE: merged cells
# are deliberately NOT the one-shot sketch of the union (KLL merge
# preserves the rank-error bound, not the cell set — unlike HLL's
# idempotent max-merge); tests/test_round17.py pins this fold against
# its oracle, weight conservation, and the merge-degraded rank bound.
# ===========================================================================

_N_BATCHES = 3


def _fold_sql() -> str:
    return kll_fold_sql(
        [
            (
                "SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,"
                f" l_orderkey, l_linenumber FROM lineitem"
                f" WHERE l_orderkey % {_N_BATCHES} = {i}",
                "cents",
                "cents, l_orderkey, l_linenumber",
            )
            for i in range(_N_BATCHES)
        ],
        k=_KLL_K,
    )


@register("q117_kll_stream_fold", _fold_sql())
def q117_kll_stream_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carried-sketch cells after folding 3 arrival batches of lineitem
    price cents — the exact state a KLL stream holds after epoch 3.

    ONE grouped two-phase rank partitioned by the batch id (the q116
    `kll_cells_grouped` machinery) builds all three per-batch sketches
    in a single scan + shuffle; the round-14 form ran 3 SEQUENTIAL
    global ranks, each re-scanning all of lineitem to filter its third
    (VERDICT r14 weak: 5.5 s for the slowest headline query). Per-batch
    cells are EXACTLY what kll_cells_sorted(batch_i) emits — the
    grouped rank subtracts per-group offsets from the same (value,
    ties) order and carries the identical m_l recurrence as group-size
    columns — so the sketch-sized driver fold through kll_merge (the
    per-epoch stream semantics) and the oracle are unchanged."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % _N_BATCHES).cast("int").alias("batch"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    by_batch: dict[int, list] = {i: [] for i in range(_N_BATCHES)}
    for r in kll_cells_grouped(
        li, ["batch"], "cents", ["l_orderkey", "l_linenumber"], k=_KLL_K
    ).collect():  # sketch-sized: 3 × O(k·levels) rows
        by_batch[r["batch"]].append(
            (r["level"], r["pos"], r["value"], r["weight"])
        )
    acc: list | None = None
    for i in range(_N_BATCHES):
        cells = sorted(by_batch[i])
        acc = cells if acc is None else kll_merge(acc, cells, _KLL_K)
    return spark.createDataFrame(
        acc, "level int, pos bigint, value bigint, weight bigint"
    )


# ===========================================================================
# q118_kll_group_quantiles — the table a curation pipeline actually
# stores: per-group p50/p95/p99 DERIVED from the grouped KLL cells
# (q116's sketch), never from re-ranking the data. All thresholds are
# exact integers (cum_weight * 100 >= phi_pct * total — no float rank
# math), and the per-group window runs over SKETCH CELLS (O(k·levels)
# rows per group — bounded aggregate, not corpus data). The selected
# value is order-invariant among equal-value cells, so the hash gate is
# deterministic. At 100 TB: sketch once, answer every phi from KBs.
# ===========================================================================

_QUANT_PHIS = (50, 95, 99)


def _gq_sql() -> str:
    cells = kll_grouped_sql(
        "SELECT l_returnflag AS g,"
        " CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,"
        " l_orderkey, l_linenumber FROM lineitem",
        "g",
        "cents",
        "cents, l_orderkey, l_linenumber",
        k=_KLL_K,
    )
    phis = ", ".join(f"({p})" for p in _QUANT_PHIS)
    return f"""
    WITH cells AS MATERIALIZED ({cells}),
    cum AS (
      SELECT grp, value,
             CAST(sum(weight) OVER (PARTITION BY grp
                   ORDER BY value, level, pos
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
             CAST(sum(weight) OVER (PARTITION BY grp) AS BIGINT) AS total
      FROM cells
    ),
    phis(phi_pct) AS (VALUES {phis})
    SELECT grp AS l_returnflag,
           CAST(phi_pct AS INT) AS phi_pct,
           CAST(min(CASE WHEN cw * 100 >= phi_pct * total THEN value END)
                AS BIGINT) AS est_cents,
           total AS n
    FROM cum CROSS JOIN phis
    GROUP BY grp, phi_pct, total
    """


@register("q118_kll_group_quantiles", _gq_sql())
def q118_kll_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag p50/p95/p99 price cents read off the grouped KLL
    sketch cells — integer cumulative-weight thresholds end to end."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    cells = kll_cells_grouped(
        li, ["g"], "cents", ["l_orderkey", "l_linenumber"], k=_KLL_K
    )
    # windows over SKETCH CELLS: O(k·levels) rows per group — bounded
    w = Window.partitionBy("g").orderBy("value", "level", "pos")
    cum = cells.select(
        "g",
        "value",
        F.sum("weight").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint").alias("cw"),
        F.sum("weight").over(Window.partitionBy("g")).cast("bigint").alias("total"),
    )
    phis = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _QUANT_PHIS])).alias("phi_pct")
    )
    return (
        cum.crossJoin(F.broadcast(phis))
        .groupBy(
            F.col("g").alias("l_returnflag"),
            F.col("phi_pct").cast("int").alias("phi_pct"),
            "total",
        )
        .agg(
            F.min(
                F.when(
                    F.col("cw") * 100 >= F.col("phi_pct") * F.col("total"),
                    F.col("value"),
                )
            )
            .cast("bigint")
            .alias("est_cents")
        )
        .select(
            "l_returnflag", "phi_pct", "est_cents", F.col("total").alias("n")
        )
    )


# ===========================================================================
# llm_kll_equidepth — the sketch USED, not just built: equi-depth binning
# of every lineitem row from B=8 boundaries read off the global KLL
# cells, with the per-bucket deviation from ideal n/B measured in-query
# (the fp_rate/suffix-audit posture: the approximation ships with its
# loss). Boundaries are sketch-derived integers collected driver-side
# (B-1 values — the pagerank-constants posture) and folded into a
# literal comparison chain, so the assignment pass is one map-side-
# combined count agg over a codegen projection: zero joins, zero extra
# shuffles of the fact table. At 100 TB this replaces a global sort.
# ===========================================================================

_ED_BUCKETS = 8


def _equidepth_sql() -> str:
    cells = kll_sql(
        "SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,"
        " l_orderkey, l_linenumber FROM lineitem",
        "cents",
        "cents, l_orderkey, l_linenumber",
        k=_KLL_K,
    )
    B = _ED_BUCKETS
    return f"""
    WITH cells AS MATERIALIZED ({cells}),
    cum AS (
      SELECT value,
             CAST(sum(weight) OVER (ORDER BY value, level, pos
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
             CAST(sum(weight) OVER () AS BIGINT) AS total
      FROM cells
    ),
    bounds AS (
      SELECT b, CAST(min(CASE WHEN cw * {B} >= b * total THEN value END)
                     AS BIGINT) AS bv
      FROM cum CROSS JOIN (SELECT unnest(range(1, {B})) AS b)
      GROUP BY b
    ),
    assigned AS (
      SELECT (SELECT CAST(count(*) AS INT) FROM bounds
              WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > bv)
               AS bucket
      FROM lineitem
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(count(*) * {B} * 1.0 / (SELECT CAST(count(*) AS BIGINT)
                                         FROM lineitem) - 1.0, 6)
             AS rel_dev
    FROM assigned
    GROUP BY bucket
    """


@register("llm_kll_equidepth", _equidepth_sql())
def llm_kll_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth bucket assignment from sketch boundaries + measured
    per-bucket deviation from the ideal n/B depth."""
    B = _ED_BUCKETS
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    cells = kll_cells_sorted(li, "cents", ["l_orderkey", "l_linenumber"], k=_KLL_K)
    w = Window.orderBy("value", "level", "pos")
    cum = cells.select(
        "value",
        F.sum("weight").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint").alias("cw"),
        F.sum("weight").over(
            Window.partitionBy(F.lit(1))
        ).cast("bigint").alias("total"),
    )
    # bounded-aggregate window: cum runs over SKETCH CELLS (O(k log n)
    # rows), never corpus data — the single partition is sketch-sized
    bound_rows = (
        cum.crossJoin(
            F.broadcast(
                spark.range(1, B).select(F.col("id").alias("b"))
            )
        )
        .groupBy("b")
        .agg(
            F.min(
                F.when(
                    F.col("cw") * B >= F.col("b") * F.col("total"),
                    F.col("value"),
                )
            ).alias("bv"),
            F.min("total").alias("_n"),
        )
        .collect()
    )
    bounds = sorted(r["bv"] for r in bound_rows)
    bucket = sum(
        (F.col("cents") > F.lit(int(bv))).cast("int") for bv in bounds
    ).alias("bucket")
    # total sketch weight == n exactly (weight conservation, the KLL
    # invariant pinned in tests) — read it off the bounds collect instead
    # of paying a separate lineitem count scan
    n = int(bound_rows[0]["_n"])
    return (
        li.select(bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            "bucket",
            "n_rows",
            F.round(F.col("n_rows") * B / F.lit(n) - 1.0, 6).alias("rel_dev"),
        )
    )


# ===========================================================================
# q119_kmv_setops — theta-sketch set algebra next to llm_hll_setops' HLL
# tier: SAME audience-overlap question (users of the min vs max event
# type), but the intersection comes from retained SAMPLES under a shared
# threshold θ instead of inclusion–exclusion, so its error scales like
# 1/√(J·k) instead of compounding with |A∪B|/|A∩B| (operators/kmv.py has
# the full contract). Exact truth + the intersection's relative error
# ship in-row (the fp_rate posture), so the two tiers' measured errors
# are directly comparable in the registry.
# ===========================================================================


def _kmv_sql() -> str:
    tmin = "(SELECT min(event_type) FROM events)"
    tmax = "(SELECT max(event_type) FROM events)"
    return kmv_setops_sql(
        f"SELECT user_id FROM events WHERE event_type = {tmin}",
        f"SELECT user_id FROM events WHERE event_type = {tmax}",
        "user_id",
    )


@register("q119_kmv_setops", _kmv_sql())
def q119_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch audience overlap: est_a/b/union/inter from two KMV
    sketches under shared θ, next to exact truth + measured error."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    bounds = ev.agg(
        F.min("event_type").alias("tmin"), F.max("event_type").alias("tmax")
    ).collect()[0]
    a = ev.filter(F.col("event_type") == bounds["tmin"]).select("user_id")
    b = ev.filter(F.col("event_type") == bounds["tmax"]).select("user_id")
    est = theta_estimates(
        kmv_sketch(a, "user_id"), kmv_sketch(b, "user_id")
    )
    truth = ev.filter(
        F.col("event_type").isin(bounds["tmin"], bounds["tmax"])
    ).agg(
        F.countDistinct(
            F.when(F.col("event_type") == bounds["tmin"], F.col("user_id"))
        ).cast("bigint").alias("n_a"),
        F.countDistinct(
            F.when(F.col("event_type") == bounds["tmax"], F.col("user_id"))
        ).cast("bigint").alias("n_b"),
        F.countDistinct("user_id").cast("bigint").alias("n_union"),
    ).collect()[0]
    n_inter = truth["n_a"] + truth["n_b"] - truth["n_union"]
    err = (
        round(abs(est["est_inter"] - n_inter) / n_inter, 6)
        if n_inter
        else None
    )
    return spark.createDataFrame(
        [
            (
                KMV_K,
                est["est_a"],
                est["est_b"],
                est["est_union"],
                est["est_inter"],
                truth["n_a"],
                truth["n_b"],
                truth["n_union"],
                n_inter,
                err,
            )
        ],
        "k int, est_a double, est_b double, est_union double,"
        " est_inter double, n_a bigint, n_b bigint, n_union bigint,"
        " n_inter bigint, inter_rel_err double",
    )


# ===========================================================================
# llm_weighted_reservoir — Efraimidis–Spirakis (A-ES) weighted sampling
# without replacement: each item draws u_i from a SEEDED portable hash
# (u = (hex60+1)/2^60, an exact rational in (0,1]) and is ranked by
# key_i = ln(u_i)/w_i (the log form of u^(1/w); higher is better since
# ln(u) < 0); the top-s keys are the weighted sample — the quality-
# weighted corpus subsample selection every data-mixing pipeline runs.
# Determinism: the key is ROUNDED to 6 dp before ranking with doc_id as
# the tie-break (the cosine_topk convention — raw-double ordering would
# hinge on sub-ulp libm agreement). Scale: one narrow projection + a
# TakeOrdered(s); no shuffle beyond the top-k.
# ===========================================================================

_RES_SEED = "wres:v1:"
_RES_S = 20


def _wres_sql() -> str:
    h = hex60_sql(f"'{_RES_SEED}' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH keyed AS (
      SELECT doc_id, n_chars AS w,
             round(ln(({h} + 1) / 1152921504606846976.0)
                   / CAST(n_chars AS DOUBLE), 6) AS key6
      FROM documents WHERE n_chars > 0
    )
    SELECT CAST(row_number() OVER (ORDER BY key6 DESC, doc_id ASC) AS INT)
             AS rank,
           doc_id, CAST(w AS BIGINT) AS w, key6
    FROM keyed
    ORDER BY key6 DESC, doc_id ASC LIMIT {_RES_S}
    """


@register("llm_weighted_reservoir", _wres_sql())
def llm_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-s A-ES weighted sample of documents, weight = n_chars."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = hex60_spark(
        F.concat(F.lit(_RES_SEED), F.col("doc_id").cast("string"))
    )
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("w"),
        F.round(
            F.log((h + 1) / F.lit(1152921504606846976.0))
            / F.col("n_chars").cast("double"),
            6,
        ).alias("key6"),
    )
    top = keyed.orderBy(F.col("key6").desc(), F.col("doc_id").asc()).limit(
        _RES_S
    )
    w = Window.orderBy(F.col("key6").desc(), F.col("doc_id").asc())
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "w",
        "key6",
    )


# ===========================================================================
# llm_source_percentile — per-source percent-rank normalization of a
# quality proxy (n_chars): scores from different sources are not
# comparable raw (each crawl has its own length/quality distribution),
# so cross-source selection thresholds operate on the WITHIN-SOURCE
# percentile instead — the standard score-calibration step before a
# global quality cut. percent_rank = (rank−1)/(n−1) is exact integer
# arithmetic + one division on both engines; RANK() gives ties the same
# percentile (the convention that makes equal scores interchangeable).
# Output is the bounded doc_id < 50 probe slice (exact rank/n carried
# for audit); the corpus-wide term is one hash-partitioned window by
# source — the honest shuffle, skew-bounded by |sources|.
# ===========================================================================

_SRC_PCTL_SQL = """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             CAST(rank() OVER (PARTITION BY source ORDER BY n_chars)
                  AS BIGINT) AS rnk,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
      FROM documents
    )
    SELECT doc_id, source, n_chars, rnk, n_src,
           round(CASE WHEN n_src = 1 THEN 0.0
                      ELSE (rnk - 1) / CAST(n_src - 1 AS DOUBLE) END, 6)
             AS pctl
    FROM ranked WHERE doc_id < 50
    """


@register("llm_source_percentile", _SRC_PCTL_SQL)
def llm_source_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source percent-rank of n_chars for the probe slice."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("n_src"),
    )
    return ranked.filter(F.col("doc_id") < 50).select(
        "doc_id",
        "source",
        "n_chars",
        "rnk",
        "n_src",
        F.round(
            F.when(F.col("n_src") == 1, F.lit(0.0)).otherwise(
                (F.col("rnk") - 1) / (F.col("n_src") - 1).cast("double")
            ),
            6,
        ).alias("pctl"),
    )


# ===========================================================================
# llm_source_heavy_hitters — GROUPED Misra-Gries: per-source tokens with
# within-source share ≥ 2% (the per-crawl boilerplate/top-token table —
# the grouped rung of q103). Pass 1 keeps one capacity-k MG table per
# (partition, source) — the per-group no-false-negative bound holds
# exactly as in the global case — pass 2 confirms candidates EXACTLY per
# (source, token), so the output is deterministically the exact
# per-source frequent set and the oracle is a plain HAVING over exact
# counts; any sketch miss is a missing row = a hash mismatch. Scale:
# pass-1 movement is ≤ (k+1)·partitions·|sources| summary rows; pass-2
# shuffle carries only candidate keys.
# ===========================================================================


_SRC_HH_SQL = f"""
    WITH toks AS (
      SELECT source AS g, unnest(string_split({_NORM_SQL}, ' ')) AS token
      FROM documents
    ),
    t AS (SELECT g, token FROM toks WHERE token <> ''),
    n AS (SELECT g, CAST(count(*) AS BIGINT) AS total FROM t GROUP BY g)
    SELECT g, token, CAST(count(*) AS BIGINT) AS cnt
    FROM t JOIN n USING (g)
    GROUP BY g, token, n.total
    HAVING count(*) >= greatest(CAST(ceil(0.02 * n.total) AS BIGINT), 1)
    """


@register("llm_source_heavy_hitters", _SRC_HH_SQL)
def llm_source_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ≥2%-share tokens via grouped MG + exact confirm."""
    docs = _t(spark, sf_dir, "documents")
    return heavy_hitters_grouped(
        docs, "source", "text", capacity=64, min_share=0.02
    )
