"""Corpus drift and tail statistics between snapshots: PSI, two-sample KS
(exact and from KLL sketches), Jensen-Shannon, CUSUM, robust MAD outliers,
n-gram novelty and the Hill tail index.

Float-parity posture (the repo's standard, see _shared.py): every
transcendental is a single ``ln`` over ONE double division of exact
BIGINT products, rounded to 6 dp (the kneser_ney convention); sums of
float terms cross engines as exact BIGINT micro-units, never as
order-dependent double addition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import normalize_text
from crowdsorsa_etl_spark.operators.checkpointing import materialize
from crowdsorsa_etl_spark.operators.global_rank import with_global_cumsum_multi
from crowdsorsa_etl_spark.operators.kll import kll_cells_grouped, kll_grouped_sql
from crowdsorsa_etl_spark.operators.substring import _NORM
from crowdsorsa_etl_spark.queries._shared import _doc_shingles, _t, register

# ===========================================================================
# q106_drift_psi — population stability index between two corpus slices
# (the train-vs-incoming drift monitor run before a retraining decision).
# Equal-width bins over a fixed range, Laplace-smoothed proportions (the
# standard zero-bin guard), psi_term = (p_a - p_e) * ln(p_a / p_e).
# Everything is one aggregation + a 10-row post-agg window — the 100 TB
# cost is the single groupBy(bin) shuffle with map-side combine.
# ===========================================================================

_PSI_BINS = 10
_PSI_WIDTH = 60  # n_chars bin width; fixture range is [48, 553]


@register(
    "q106_drift_psi",
    f"""
    WITH binned AS (
      SELECT least(CAST(floor(n_chars / {_PSI_WIDTH}) AS INT), {_PSI_BINS - 1}) AS bin,
             CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_expected,
             CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_actual
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_expected) AS BIGINT) AS te,
             CAST(sum(n_actual) AS BIGINT) AS ta FROM binned
    ),
    terms AS (
      SELECT bin, n_expected, n_actual,
             ((n_actual + 1.0) / (ta + {_PSI_BINS}.0)
              - (n_expected + 1.0) / (te + {_PSI_BINS}.0))
             * ln(((n_actual + 1.0) / (ta + {_PSI_BINS}.0))
                  / ((n_expected + 1.0) / (te + {_PSI_BINS}.0))) AS term
      FROM binned, tot
    )
    SELECT bin, n_expected, n_actual,
           round(term, 6) AS psi_term,
           round(sum(term) OVER (), 6) AS psi_total
    FROM terms
    """,
)
def q106_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift between the even-doc_id slice (expected) and the odd slice
    (actual) over an equal-width n_chars histogram."""
    docs = _t(spark, sf_dir, "documents")
    binned = (
        docs.select(
            F.least(
                F.floor(F.col("n_chars") / _PSI_WIDTH).cast("int"),
                F.lit(_PSI_BINS - 1),
            ).alias("bin"),
            (F.col("doc_id") % 2 == 0).cast("int").alias("is_e"),
        )
        .groupBy("bin")
        .agg(
            F.sum("is_e").cast("bigint").alias("n_expected"),
            F.sum(1 - F.col("is_e")).cast("bigint").alias("n_actual"),
        )
    )
    # totals ride a size-10 broadcast (bin cardinality is a constant)
    tot = binned.agg(
        F.sum("n_expected").cast("bigint").alias("te"),
        F.sum("n_actual").cast("bigint").alias("ta"),
    )
    k = float(_PSI_BINS)
    pe = (F.col("n_expected") + 1.0) / (F.col("te") + k)
    pa = (F.col("n_actual") + 1.0) / (F.col("ta") + k)
    term = (pa - pe) * F.log(pa / pe)
    terms = binned.crossJoin(F.broadcast(tot)).select(
        "bin", "n_expected", "n_actual", term.alias("term")
    )
    return terms.select(
        "bin",
        "n_expected",
        "n_actual",
        F.round("term", 6).alias("psi_term"),
        # post-aggregation: at most _PSI_BINS rows ride this global window
        F.round(F.sum("term").over(Window.partitionBy()), 6).alias("psi_total"),
    )


# ===========================================================================
# q120_psi_drift — PSI between the doc_id-parity halves of the corpus
# (ref = even ids, cur = odd ids: a deterministic stand-in for "last
# snapshot vs this snapshot") over the `lang` mix. Laplace-(+1)-smoothed
# so a category absent from one side stays finite:
#
#   p_i = (c_ref_i + 1) / (n_ref + L),  q_i = (c_cur_i + 1) / (n_cur + L)
#   psi_i = (p_i - q_i) * ln(p_i / q_i)
#
# Exactness: both factors reduce to arithmetic on BIGINTs — the log
# argument is (sc_r*sn_c)/(sc_c*sn_r) as ONE double division of exact
# integer products, the difference is (sc_r*sn_c - sc_c*sn_r)/(sn_r*sn_c)
# likewise — so each engine performs the identical two divisions, one
# multiply, and two 6-dp rounds. Per-category rows (the actionable
# output: WHICH slice drifted); the scalar total is an exact BIGINT sum
# of the rounded terms in micro-units, order-free by construction.
# Scale: one map-side-combined (lang, side) count agg; everything
# downstream runs on the |langs|-row grid.
# ===========================================================================

_PSI_SQL = """
    WITH sides AS (
      SELECT lang,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS c_r,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS c_c
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
             CAST(sum(c_c) AS BIGINT) AS n_c,
             CAST(count(*) AS BIGINT) AS l
      FROM sides
    ),
    terms AS (
      SELECT lang, c_r, c_c,
             round(ln(CAST((c_r + 1) * (n_c + l) AS DOUBLE)
                      / CAST((c_c + 1) * (n_r + l) AS DOUBLE)), 6) AS lr,
             CAST((c_r + 1) * (n_c + l) - (c_c + 1) * (n_r + l) AS BIGINT)
               AS d_num,
             CAST((n_r + l) * (n_c + l) AS BIGINT) AS d_den
      FROM sides, tot
    )
    SELECT lang,
           c_r AS n_ref,
           c_c AS n_cur,
           lr AS log_ratio,
           round((d_num / CAST(d_den AS DOUBLE)) * lr, 6) AS psi_term,
           CAST(round((d_num / CAST(d_den AS DOUBLE)) * lr * 1000000.0)
                AS BIGINT) AS psi_micro
    FROM terms
    """


@register("q120_psi_drift", _PSI_SQL)
def q120_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language PSI terms between the doc_id-parity corpus halves."""
    docs = _t(spark, sf_dir, "documents")
    sides = docs.groupBy("lang").agg(
        F.count(F.when(F.col("doc_id") % 2 == 0, 1))
        .cast("bigint")
        .alias("c_r"),
        F.count(F.when(F.col("doc_id") % 2 == 1, 1))
        .cast("bigint")
        .alias("c_c"),
    )
    tot = sides.agg(
        F.sum("c_r").cast("bigint").alias("n_r"),
        F.sum("c_c").cast("bigint").alias("n_c"),
        F.count(F.lit(1)).cast("bigint").alias("l"),
    )
    t = sides.crossJoin(F.broadcast(tot))
    num = (F.col("c_r") + 1) * (F.col("n_c") + F.col("l"))
    den = (F.col("c_c") + 1) * (F.col("n_r") + F.col("l"))
    lr = F.round(F.log(num.cast("double") / den.cast("double")), 6)
    d_num = (num - den).cast("bigint")
    d_den = ((F.col("n_r") + F.col("l")) * (F.col("n_c") + F.col("l"))).cast(
        "bigint"
    )
    term = (F.col("d_num") / F.col("d_den").cast("double")) * F.col("lr")
    return (
        t.select(
            "lang",
            F.col("c_r").alias("n_ref"),
            F.col("c_c").alias("n_cur"),
            lr.alias("lr"),
            d_num.alias("d_num"),
            d_den.alias("d_den"),
        )
        .select(
            "lang",
            "n_ref",
            "n_cur",
            F.col("lr").alias("log_ratio"),
            F.round(term, 6).alias("psi_term"),
            F.round(term * 1000000.0).cast("bigint").alias("psi_micro"),
        )
    )


# ===========================================================================
# q121_ks_drift — two-sample KS on n_chars between the same parity
# halves. D = max_v |F_a(v) - F_b(v)| is kept EXACT until the end:
# the deviation at value v is |cum_a(v)*n_b - cum_b(v)*n_a| — a BIGINT —
# and the single division d_num/(n_a*n_b) happens once on the selected
# max. The argmax value ties-break to the SMALLEST v attaining the max
# (deterministic on both engines). Scale: one map-side (value, side)
# count agg; the cumsum window runs over the distinct-value grid only
# (bounded aggregate — the q99-class documented window), never corpus
# rows.
# ===========================================================================

_KS_SQL = """
    WITH grid AS (
      SELECT n_chars AS v,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS a,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS b
      FROM documents GROUP BY n_chars
    ),
    cum AS (
      SELECT v,
             CAST(sum(a) OVER (ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
             CAST(sum(b) OVER (ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb,
             CAST(sum(a) OVER () AS BIGINT) AS na,
             CAST(sum(b) OVER () AS BIGINT) AS nb
      FROM grid
    ),
    dev AS (
      SELECT v, na, nb, abs(ca * nb - cb * na) AS d FROM cum
    )
    SELECT na AS n_a,
           nb AS n_b,
           CAST(max(d) AS BIGINT) AS d_num,
           CAST(min(v) FILTER (WHERE d = (SELECT max(d) FROM dev))
                AS BIGINT) AS at_value,
           round(max(d) / CAST(na * nb AS DOUBLE), 6) AS ks_d
    FROM dev GROUP BY na, nb
    """


@register("q121_ks_drift", _KS_SQL)
def q121_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic on n_chars between the parity halves."""
    docs = _t(spark, sf_dir, "documents")
    grid = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.when(F.col("doc_id") % 2 == 0, 1))
        .cast("bigint")
        .alias("a"),
        F.count(F.when(F.col("doc_id") % 2 == 1, 1))
        .cast("bigint")
        .alias("b"),
    )
    # materialize the (bounded, one row per distinct value) grid so
    # the range exchange's sampling pass reads blocks instead of
    # re-running the documents scan + aggregation
    cum, (na, nb) = with_global_cumsum_multi(
        materialize(grid, eager=False),
        [F.col("v")],
        ["a", "b"],
        cum_cols=["ca", "cb"],
    )
    # grand totals fall out of the offset fold as exact BIGINTs and
    # enter as literals; integer arithmetic matches the oracle's windows
    dev = cum.select(
        "v",
        F.abs(F.col("ca") * F.lit(nb) - F.col("cb") * F.lit(na)).alias("d"),
        F.lit(na).cast("bigint").alias("na"),
        F.lit(nb).cast("bigint").alias("nb"),
    )
    mx = dev.agg(F.max("d").alias("dmax"))
    return (
        dev.crossJoin(F.broadcast(mx))
        .filter(F.col("d") == F.col("dmax"))
        .groupBy("na", "nb", "dmax")
        .agg(F.min("v").cast("bigint").alias("at_value"))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.col("dmax").cast("bigint").alias("d_num"),
            "at_value",
            F.round(
                F.col("dmax") / (F.col("na") * F.col("nb")).cast("double"), 6
            ).alias("ks_d"),
        )
    )


# ===========================================================================
# llm_hill_tail — Hill estimator of the Zipf tail index over word
# frequencies: alpha = [ (1/(k-1)) * sum_{i<k} ln(c_i / c_k) ]^{-1}
# with (c_i) the top-k counts (count desc, word asc — a total order, so
# both engines pick the identical k rows). Each ln term is one double
# division of two exact BIGINTs rounded to integer MICRO-units, the sum
# is exact BIGINT (order-free), and alpha is one final division + 6-dp
# round. Scale: one word-keyed map-side-combined count agg + a top-k
# (TakeOrdered) — the dictionary-statistics shape of llm_pmi_collocations;
# the driver sees k-1 micro rows, never corpus data.
# ===========================================================================

# k = 20 of the fixture's 31-word synthetic vocabulary; a real corpus
# would run k = O(1000) — the shape (one count agg + TakeOrdered(k) +
# k-1 micro terms) is identical at any k
_HILL_K = 20

# ===========================================================================
# llm_ngram_novelty — snapshot-over-snapshot n-gram novelty: what fraction
# of the "current" half's distinct 8-token shingles were never seen in
# the "reference" half? The memorization/freshness audit a continual-
# pretraining pipeline runs before adding a crawl snapshot (novelty ~0 →
# the new data is rehash; novelty ~1 → distribution break, check PSI/KS).
# Reuses the _doc_shingles artifact at rest (the substring tier's md5
# window table) — the LIVE work is two distinct projections and one hash
# anti-join, the production posture at 100 TB (shingle index is built
# once per snapshot; novelty is an index-vs-index anti-join). Counts are
# exact BIGINTs; the rate is one division + 6-dp round.
# ===========================================================================

_NOVELTY_K = 8


def _novelty_sql() -> str:
    k = _NOVELTY_K

    def keys(pred: str) -> str:
        return f"""
        SELECT DISTINCT md5(array_to_string(
                 arr[CAST(i AS INT):CAST(i + {k} - 1 AS INT)], ' ')) AS s
        FROM (SELECT doc_id, string_split({_NORM}, ' ') AS arr
              FROM documents WHERE {pred}) toks,
             UNNEST(range(1, len(arr) - {k} + 2)) AS t(i)
        """

    return f"""
    WITH ref AS MATERIALIZED ({keys("doc_id % 2 = 0")}),
    cur AS MATERIALIZED ({keys("doc_id % 2 = 1")}),
    novel AS (SELECT s FROM cur WHERE s NOT IN (SELECT s FROM ref))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM ref) AS n_ref,
           (SELECT CAST(count(*) AS BIGINT) FROM cur) AS n_cur,
           (SELECT CAST(count(*) AS BIGINT) FROM novel) AS n_novel,
           round((SELECT count(*) FROM novel)
                 / CAST((SELECT count(*) FROM cur) AS DOUBLE), 6)
             AS novelty_rate
    """


@register("llm_ngram_novelty", _novelty_sql())
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-shingle novelty of the odd-id half vs the even-id half."""
    sh = _doc_shingles(spark, sf_dir, _NOVELTY_K)
    ref = sh.filter(F.col("doc_id") % 2 == 0).select("sh").distinct()
    cur = sh.filter(F.col("doc_id") % 2 == 1).select("sh").distinct()
    novel = cur.join(ref, "sh", "left_anti")
    counts = (
        ref.agg(F.count(F.lit(1)).cast("bigint").alias("n_ref"))
        .crossJoin(cur.agg(F.count(F.lit(1)).cast("bigint").alias("n_cur")))
        .crossJoin(
            novel.agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
        )
    )
    return counts.select(
        "n_ref",
        "n_cur",
        "n_novel",
        F.round(
            F.col("n_novel") / F.col("n_cur").cast("double"), 6
        ).alias("novelty_rate"),
    )


_HILL_SQL = f"""
    WITH words AS (
      SELECT unnest(string_split(
               lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '))
               AS w
      FROM documents
    ),
    counts AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM words WHERE w <> '' GROUP BY w
    ),
    topk AS (
      SELECT w, c, row_number() OVER (ORDER BY c DESC, w ASC) AS rn
      FROM counts
      ORDER BY c DESC, w ASC LIMIT {_HILL_K}
    ),
    ck AS (SELECT c AS ck FROM topk WHERE rn = {_HILL_K}),
    micro AS (
      SELECT CAST(sum(CAST(round(ln(CAST(c AS DOUBLE) / CAST(ck AS DOUBLE))
                                 * 1000000.0) AS BIGINT)) AS BIGINT) AS s
      FROM topk, ck WHERE rn < {_HILL_K}
    )
    SELECT CAST({_HILL_K} AS INT) AS k,
           (SELECT ck FROM ck) AS c_k,
           s AS sum_micro,
           CASE WHEN s = 0 THEN CAST(NULL AS DOUBLE)
                ELSE round(({_HILL_K} - 1) * 1000000.0 / s, 6)
           END AS alpha
    FROM micro
    """


@register("llm_hill_tail", _HILL_SQL)
def llm_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate from the top-k word frequencies."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    counts = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    topk = (
        counts.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(_HILL_K)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("w").asc()))
            .alias("rn"),
        )
    )
    ck = topk.filter(F.col("rn") == _HILL_K).select(F.col("c").alias("ck"))
    micro = (
        topk.filter(F.col("rn") < _HILL_K)
        .crossJoin(F.broadcast(ck))
        .agg(
            F.sum(
                F.round(
                    F.log(F.col("c").cast("double") / F.col("ck").cast("double"))
                    * 1000000.0
                )
                .cast("bigint")
            )
            .cast("bigint")
            .alias("s")
        )
    )
    return micro.crossJoin(F.broadcast(ck)).select(
        F.lit(_HILL_K).cast("int").alias("k"),
        F.col("ck").alias("c_k"),
        F.col("s").alias("sum_micro"),
        F.when(F.col("s") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.lit((_HILL_K - 1) * 1000000.0) / F.col("s"), 6))
        .alias("alpha"),
    )


# ===========================================================================
# llm_ks_sketch — the 100 TB SCALE PATH for q121_ks_drift: the KS
# statistic estimated from two KLL sketches instead of the exact
# distinct-value grid, with its loss MEASURED in-row against the exact
# tier (the fp_rate/suffix-audit posture: an approximation ships with
# its error). At 100 TB the exact grid may be unbounded (continuous
# metric) — the sketch caps state at O(k·levels) cells per side while
# the rank-error bound caps |ks_est − ks_exact|. All comparisons stay
# exact integers: cumulative WEIGHTS (BIGINT, conserved == side counts)
# replace cumulative counts, deviation = |ca·n_b − cb·n_a|, one division
# per output. Builds both side sketches in ONE grouped rank (the q116
# machinery, side = doc_id % 2).
# ===========================================================================

_KS_SK_K = 32


def _ks_sketch_sql() -> str:
    cells = kll_grouped_sql(
        "SELECT doc_id % 2 AS side, n_chars, doc_id FROM documents",
        "side",
        "n_chars",
        "n_chars, doc_id",
        k=_KS_SK_K,
    )
    return f"""
    WITH cells AS MATERIALIZED ({cells}),
    wv AS (
      SELECT grp AS side, value, CAST(sum(weight) AS BIGINT) AS w
      FROM cells GROUP BY 1, 2
    ),
    grid AS (
      SELECT value,
             CAST(coalesce(sum(w) FILTER (WHERE side = 0), 0) AS BIGINT)
               AS wa,
             CAST(coalesce(sum(w) FILTER (WHERE side = 1), 0) AS BIGINT)
               AS wb
      FROM wv GROUP BY value
    ),
    cum AS (
      SELECT CAST(sum(wa) OVER (ORDER BY value
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
             CAST(sum(wb) OVER (ORDER BY value
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb,
             CAST(sum(wa) OVER () AS BIGINT) AS na,
             CAST(sum(wb) OVER () AS BIGINT) AS nb
      FROM grid
    ),
    est AS (
      SELECT na, nb, CAST(max(abs(ca * nb - cb * na)) AS BIGINT) AS d_est
      FROM cum GROUP BY na, nb
    ),
    egrid AS (
      SELECT n_chars AS v,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS a,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS b
      FROM documents GROUP BY n_chars
    ),
    ecum AS (
      SELECT CAST(sum(a) OVER (ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
             CAST(sum(b) OVER (ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb
      FROM egrid
    ),
    ex AS (
      SELECT CAST(max(abs(ca * (SELECT nb FROM est)
                          - cb * (SELECT na FROM est))) AS BIGINT) AS d_ex
      FROM ecum
    )
    SELECT na AS n_a, nb AS n_b,
           round(d_ex / CAST(na * nb AS DOUBLE), 6) AS ks_exact,
           round(d_est / CAST(na * nb AS DOUBLE), 6) AS ks_est,
           round(abs(d_est - d_ex) / CAST(na * nb AS DOUBLE), 6) AS est_err
    FROM est, ex
    """


@register("llm_ks_sketch", _ks_sketch_sql())
def llm_ks_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS drift from two KLL sketches, exact tier + loss in-row."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        (F.col("doc_id") % 2).alias("side"), "n_chars", "doc_id"
    )
    cells = kll_cells_grouped(
        base, ["side"], "n_chars", ["doc_id"], k=_KS_SK_K
    )
    wv = cells.groupBy("side", "value").agg(
        F.sum("weight").cast("bigint").alias("w")
    )
    grid = wv.groupBy("value").agg(
        F.coalesce(F.sum(F.when(F.col("side") == 0, F.col("w"))), F.lit(0))
        .cast("bigint")
        .alias("wa"),
        F.coalesce(F.sum(F.when(F.col("side") == 1, F.col("w"))), F.lit(0))
        .cast("bigint")
        .alias("wb"),
    )
    wcum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = grid.select(
        F.sum("wa").over(wcum).cast("bigint").alias("ca"),
        F.sum("wb").over(wcum).cast("bigint").alias("cb"),
        F.sum("wa").over(wall).cast("bigint").alias("na"),
        F.sum("wb").over(wall).cast("bigint").alias("nb"),
    )
    est = cum.groupBy("na", "nb").agg(
        F.max(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")))
        .cast("bigint")
        .alias("d_est")
    )
    egrid = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.when(F.col("doc_id") % 2 == 0, 1))
        .cast("bigint")
        .alias("a"),
        F.count(F.when(F.col("doc_id") % 2 == 1, 1))
        .cast("bigint")
        .alias("b"),
    )
    ecum = egrid.select(
        F.sum("a").over(wcum.orderBy("v")).cast("bigint").alias("ca"),
        F.sum("b").over(wcum.orderBy("v")).cast("bigint").alias("cb"),
    )
    ex = (
        ecum.crossJoin(F.broadcast(est.select("na", "nb")))
        .agg(
            F.max(
                F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
            )
            .cast("bigint")
            .alias("d_ex")
        )
    )
    return est.crossJoin(F.broadcast(ex)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(
            F.col("d_ex") / (F.col("na") * F.col("nb")).cast("double"), 6
        ).alias("ks_exact"),
        F.round(
            F.col("d_est") / (F.col("na") * F.col("nb")).cast("double"), 6
        ).alias("ks_est"),
        F.round(
            F.abs(F.col("d_est") - F.col("d_ex"))
            / (F.col("na") * F.col("nb")).cast("double"),
            6,
        ).alias("est_err"),
    )


# ===========================================================================
# q122_cusum_days — CUSUM changepoint scan over the daily event rate:
# cusum(d) = Σ_{d'≤d} (n_{d'} − N/D), the classic level-shift detector
# (Page 1954) a pipeline runs over ingest volume to find WHEN a feed
# broke or a crawler doubled. Exactness: denominators cleared —
# dev_d = n_d·D − N is a BIGINT, the cumsum stays BIGINT, and the only
# doubles are the two 6-dp display ratios. The peak day ties-break to
# the EARLIEST day attaining max |cusum| (deterministic both engines).
# Scale: one map-side day-count agg; cumsum + peak run over the bounded
# day grid (the q99-class documented window).
# ===========================================================================

_CUSUM_SQL = """
    WITH days AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_d
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_d) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS d FROM days
    ),
    cum AS (
      SELECT day, n_d,
             CAST(sum(n_d * d - n) OVER (ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_num,
             n, d
      FROM days, tot
    ),
    peak AS (
      SELECT CAST(max(abs(cusum_num)) AS BIGINT) AS peak_abs FROM cum
    )
    SELECT day, n_d, cusum_num,
           round(cusum_num / CAST(d AS DOUBLE), 6) AS cusum_events,
           CAST(abs(cusum_num) = (SELECT peak_abs FROM peak)
                AND day = (SELECT min(day) FROM cum, peak
                           WHERE abs(cusum_num) = peak_abs)
                AS BOOLEAN) AS is_peak
    FROM cum
    """


@register("q122_cusum_days", _CUSUM_SQL)
def q122_cusum_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-rate CUSUM with the earliest peak day flagged."""
    ev = _t(spark, sf_dir, "events")
    days = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_d")
    )
    tot = days.agg(
        F.sum("n_d").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("d"),
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        days.crossJoin(F.broadcast(tot))
        .withColumn(
            "cusum_num",
            F.sum(F.col("n_d") * F.col("d") - F.col("n"))
            .over(wcum)
            .cast("bigint"),
        )
    )
    peak = cum.agg(
        F.max(F.abs(F.col("cusum_num"))).cast("bigint").alias("peak_abs")
    )
    with_peak = cum.crossJoin(F.broadcast(peak))
    first_peak = with_peak.filter(
        F.abs(F.col("cusum_num")) == F.col("peak_abs")
    ).agg(F.min("day").alias("peak_day"))
    return (
        with_peak.crossJoin(F.broadcast(first_peak))
        .select(
            "day",
            "n_d",
            "cusum_num",
            F.round(F.col("cusum_num") / F.col("d").cast("double"), 6).alias(
                "cusum_events"
            ),
            (
                (F.abs(F.col("cusum_num")) == F.col("peak_abs"))
                & (F.col("day") == F.col("peak_day"))
            ).alias("is_peak"),
        )
    )


# ===========================================================================
# q123_jsd_drift — Jensen–Shannon divergence per category between the
# parity halves: the BOUNDED (≤ ln 2), symmetric, smoothing-free member
# of the divergence family (PSI needs Laplace smoothing to stay finite;
# JSD's mixture denominator m = (p+q)/2 is positive wherever either
# side has mass, and an absent side contributes exactly 0 by the
# 0·ln 0 = 0 convention). Exactness: p/m = 2·c_r·n_c/(c_r·n_c + c_c·n_r)
# — ONE double division of exact BIGINT products per log (the PSI
# posture), each side's term carried as exact micro-units. Scale:
# identical to q120 — one map-side (lang, side) count agg, then
# |categories|-grid arithmetic.
# ===========================================================================

_JSD_SQL = """
    WITH sides AS (
      SELECT lang,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS c_r,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS c_c
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
             CAST(sum(c_c) AS BIGINT) AS n_c
      FROM sides
    ),
    terms AS (
      SELECT lang, c_r, c_c,
             CASE WHEN c_r = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(round((c_r / CAST(n_r AS DOUBLE))
                       * round(ln(2.0 * c_r * n_c
                                  / CAST(c_r * n_c + c_c * n_r AS DOUBLE)), 6)
                       * 1000000.0) AS BIGINT)
             END AS tp_micro,
             CASE WHEN c_c = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(round((c_c / CAST(n_c AS DOUBLE))
                       * round(ln(2.0 * c_c * n_r
                                  / CAST(c_r * n_c + c_c * n_r AS DOUBLE)), 6)
                       * 1000000.0) AS BIGINT)
             END AS tq_micro
      FROM sides, tot
    )
    SELECT lang, c_r AS n_ref, c_c AS n_cur, tp_micro, tq_micro,
           round((tp_micro + tq_micro) / 2000000.0, 6) AS jsd_term
    FROM terms
    """


@register("q123_jsd_drift", _JSD_SQL)
def q123_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Jensen–Shannon divergence terms, parity halves."""
    docs = _t(spark, sf_dir, "documents")
    sides = docs.groupBy("lang").agg(
        F.count(F.when(F.col("doc_id") % 2 == 0, 1))
        .cast("bigint")
        .alias("c_r"),
        F.count(F.when(F.col("doc_id") % 2 == 1, 1))
        .cast("bigint")
        .alias("c_c"),
    )
    tot = sides.agg(
        F.sum("c_r").cast("bigint").alias("n_r"),
        F.sum("c_c").cast("bigint").alias("n_c"),
    )
    t = sides.crossJoin(F.broadcast(tot))
    mix = (F.col("c_r") * F.col("n_c") + F.col("c_c") * F.col("n_r")).cast(
        "double"
    )
    lrp = F.round(F.log(2.0 * F.col("c_r") * F.col("n_c") / mix), 6)
    lrq = F.round(F.log(2.0 * F.col("c_c") * F.col("n_r") / mix), 6)
    tp = F.when(F.col("c_r") == 0, F.lit(0).cast("bigint")).otherwise(
        F.round(
            (F.col("c_r") / F.col("n_r").cast("double")) * lrp * 1000000.0
        ).cast("bigint")
    )
    tq = F.when(F.col("c_c") == 0, F.lit(0).cast("bigint")).otherwise(
        F.round(
            (F.col("c_c") / F.col("n_c").cast("double")) * lrq * 1000000.0
        ).cast("bigint")
    )
    return t.select(
        "lang",
        F.col("c_r").alias("n_ref"),
        F.col("c_c").alias("n_cur"),
        tp.alias("tp_micro"),
        tq.alias("tq_micro"),
    ).select(
        "lang",
        "n_ref",
        "n_cur",
        "tp_micro",
        "tq_micro",
        F.round((F.col("tp_micro") + F.col("tq_micro")) / 2000000.0, 6).alias(
            "jsd_term"
        ),
    )


# ===========================================================================
# q124_robust_outliers — per-language robust (median/MAD) outlier gate
# over n_chars: mean/stddev outlier rules break exactly when outliers
# are present (the outliers inflate the stddev that is supposed to
# catch them); the robust z-score |x − med|/MAD with the 3.5 cutoff is
# the standard replacement (Iglewicz–Hoaglin). Kept EXACT end to end by
# clearing halves: med2 = v_lo + v_hi (twice the interpolated median,
# an integer), per-row deviation d = |2x − med2| (integer), mad2 =
# d_lo + d_hi, and the cutoff |x−med|/MAD > 3.5 becomes the integer
# comparison 4·d > 7·mad2 (×: d = 2|x−med|, mad2 = 2·MAD ⇒
# d/mad2 = |x−med|/(2·MAD)·2 … 3.5·mad2/2·2 → 7·mad2/4). Zero floats
# anywhere except the 6-dp display ratio. Scale: two lang-partitioned
# rank windows over the corpus (the honest per-group shuffle,
# skew-bounded by |langs|) + one broadcast of the |langs|-row med/mad
# table.
# ===========================================================================

_ROBUST_SQL = """
    WITH ranked AS (
      SELECT lang, n_chars,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM documents
    ),
    med AS (
      SELECT lang, n,
             CAST(sum(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2
                           THEN n_chars * (CASE WHEN (n + 1) // 2
                                                     = (n + 2) // 2
                                           THEN 2 ELSE 1 END)
                      END) AS BIGINT) AS med2
      FROM ranked GROUP BY lang, n
    ),
    dev AS (
      SELECT r.lang, r.n_chars, m.n, m.med2,
             abs(2 * r.n_chars - m.med2) AS d,
             CAST(row_number() OVER (
               PARTITION BY r.lang
               ORDER BY abs(2 * r.n_chars - m.med2), r.n_chars
             ) AS BIGINT) AS drn
      FROM ranked r JOIN med m USING (lang)
    ),
    mad AS (
      SELECT lang,
             CAST(sum(CASE WHEN drn = (n + 1) // 2 OR drn = (n + 2) // 2
                           THEN d * (CASE WHEN (n + 1) // 2 = (n + 2) // 2
                                     THEN 2 ELSE 1 END)
                      END) AS BIGINT) AS mad2
      FROM dev GROUP BY lang, n
    )
    SELECT d.lang,
           CAST(max(d.n) AS BIGINT) AS n_docs,
           CAST(max(d.med2) AS BIGINT) AS med2,
           CAST(max(mad.mad2) AS BIGINT) AS mad2,
           CAST(count(*) FILTER (WHERE 4 * d.d > 7 * mad.mad2) AS BIGINT)
             AS n_outliers,
           round(count(*) FILTER (WHERE 4 * d.d > 7 * mad.mad2)
                 / CAST(max(d.n) AS DOUBLE), 6) AS outlier_rate
    FROM dev d JOIN mad USING (lang)
    GROUP BY d.lang
    """


@register("q124_robust_outliers", _ROBUST_SQL)
def q124_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language median/MAD outlier counts over n_chars, all-integer."""
    docs = _t(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("lang").orderBy("n_chars")
    w_all = Window.partitionBy("lang")
    ranked = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w_rank).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
    )
    med = ranked.groupBy("lang", "n").agg(
        F.sum(
            F.when(
                (F.col("rn") == F.floor((F.col("n") + 1) / 2))
                | (F.col("rn") == F.floor((F.col("n") + 2) / 2)),
                F.col("n_chars")
                * F.when(
                    F.floor((F.col("n") + 1) / 2)
                    == F.floor((F.col("n") + 2) / 2),
                    2,
                ).otherwise(1),
            )
        )
        .cast("bigint")
        .alias("med2")
    )
    dev = ranked.join(F.broadcast(med.select("lang", "med2")), "lang").select(
        "lang",
        "n_chars",
        "n",
        "med2",
        F.abs(2 * F.col("n_chars") - F.col("med2")).alias("d"),
    )
    w_drank = Window.partitionBy("lang").orderBy("d", "n_chars")
    dev = dev.withColumn(
        "drn", F.row_number().over(w_drank).cast("bigint")
    )
    mad = dev.groupBy("lang", "n").agg(
        F.sum(
            F.when(
                (F.col("drn") == F.floor((F.col("n") + 1) / 2))
                | (F.col("drn") == F.floor((F.col("n") + 2) / 2)),
                F.col("d")
                * F.when(
                    F.floor((F.col("n") + 1) / 2)
                    == F.floor((F.col("n") + 2) / 2),
                    2,
                ).otherwise(1),
            )
        )
        .cast("bigint")
        .alias("mad2")
    )
    joined = dev.join(F.broadcast(mad.select("lang", "mad2")), "lang")
    return joined.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.max("med2").cast("bigint").alias("med2"),
        F.max("mad2").cast("bigint").alias("mad2"),
        F.count(F.when(4 * F.col("d") > 7 * F.col("mad2"), 1))
        .cast("bigint")
        .alias("n_outliers"),
    ).select(
        "lang",
        "n_docs",
        "med2",
        "mad2",
        "n_outliers",
        F.round(
            F.col("n_outliers") / F.col("n_docs").cast("double"), 6
        ).alias("outlier_rate"),
    )
