"""Exact set-similarity join via prefix filtering (AllPairs / PPJoin family)
and an edit-distance join with LSH candidate generation.

The existing dedup tier answers "probably similar" (MinHash, SimHash) or
"similar within a blocking key" (``token_jaccard_pairs``). This module adds
the EXACT-threshold join with NO blocking column and NO probability of a
miss: every pair with Jaccard(shingles(a), shingles(b)) >= t is returned,
yet no all-pairs comparison ever happens.

Algorithm (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07;
Xiao et al., PPJoin, ICDE'08):

1. canonical element order — every doc's shingle set is sorted by GLOBAL
   shingle frequency ascending (rarest first), ties by shingle text;
2. prefix — for Jaccard >= t a doc of size n need only expose its first
   ``n - ceil(t*n) + 1`` elements: two qualifying sets MUST share a prefix
   element (a set can't reach overlap ``ceil(t*n)`` purely from its suffix);
3. candidates — equi-join the prefixes on the shingle value. Because
   prefixes hold the RAREST shingles, join fan-out stays near-linear even
   on skewed vocabularies;
4. length filter — |b| >= t*|a| is necessary for Jaccard >= t, applied
   inside the join condition (integer cross-multiplication, no float);
5. verify — exact intersection count over the candidates only, then the
   exact Jaccard test, again in integer arithmetic.

Threshold arithmetic is INTEGER-EXACT on both engines: t is taken as a
rational p/q (``Fraction(threshold).limit_denominator(10**6)``) so
``ceil(t*n) = (n*p + q - 1) // q`` and the final test is
``c*q >= p*(sa + sb - c)`` — no float rounding can flip a boundary pair,
and the DuckDB oracle replays the identical integer decisions.

At 100 TB: shingle frequencies are one map-side-combined aggregation; the
frequency attach is a shuffle on the shingle key (AQE broadcasts it when the
vocabulary is small); the canonical-rank window shuffles on doc id (uniform);
the prefix join shuffles only prefix rows — a small, rare-element subset of
the corpus. Nothing is quadratic in the corpus; the quadratic term is
confined to true near-duplicate groups, which is the output size itself.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import normalize_text as _norm
from crowdsorsa_etl_spark.operators.checkpointing import materialize
from crowdsorsa_etl_spark.operators.dedup import minhash_lsh_candidates
from crowdsorsa_etl_spark.operators.fanout import cpu_fanout

__all__ = ["shingle_sets", "setsim_prefix_join", "editdist_join"]


def threshold_fraction(threshold: float) -> tuple[int, int]:
    """(p, q) with p/q == threshold exactly for any threshold a human writes
    (0.5, 0.8, 0.75 …); raises on degenerate values."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    frac = Fraction(threshold).limit_denominator(10**6)
    return frac.numerator, frac.denominator


def shingle_sets(df: DataFrame, *, shingle_k: int = 3) -> DataFrame:
    """(id, shingle) DISTINCT rows: word ``shingle_k``-grams of the shared
    normalized text. Docs with fewer than ``shingle_k`` tokens produce no
    rows (they have no k-shingle set to compare).

    The normalize regex + per-shingle slice/concat chain is CPU-bound and
    partly interpreted; a small fixture arrives as ONE scan split, which
    serialized the whole shingle pass on one task (r16: 7.7 s of a 21 s
    cold llm_setsim_join profile) — widen first (``cpu_fanout`` is a
    no-op whenever the scan already yields session parallelism, i.e. at
    cluster scale)."""
    df = cpu_fanout(df.select(F.col("doc_id"), F.col("text")))
    toks = F.split(_norm(F.col("text")), " ")
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(shingle_k - 1))
    return (
        df.select(
            F.col("doc_id").alias("id"),
            F.explode(
                F.when(F.size(toks) >= shingle_k, idx).otherwise(
                    F.array().cast("array<int>")
                )
            ).alias("i"),
            toks.alias("toks"),
        )
        .select(
            "id",
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), shingle_k)).alias(
                "shingle"
            ),
        )
        .distinct()
    )


def setsim_prefix_join(
    df: DataFrame,
    *,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """All pairs (id_a < id_b) with exact shingle-set Jaccard >= threshold.

    Output: (id_a, id_b, n_common, jaccard) — jaccard rounded to 6 dp.
    Guaranteed-complete (no probabilistic misses), never all-pairs: see the
    module docstring for the prefix-filter argument and the scale shape.
    """
    p, q = threshold_fraction(threshold)
    # the shingle table feeds the rank window AND both verify sides —
    # pin it once instead of re-running the explode+distinct three times
    # (at cluster scale: persist to storage rather than executor memory)
    sh = materialize(shingle_sets(df, shingle_k=shingle_k))

    # global canonical order: rare shingles first (minimizes prefix-join
    # fan-out). The frequency attaches via a window over the shingle key —
    # ONE exchange on shingle instead of the agg+join pair a dimension
    # table would cost.
    ranked = (
        sh.withColumn(
            "gfreq", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("id").orderBy("gfreq", "shingle")
            ),
        )
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )

    # prefix length n - ceil(t*n) + 1, division-free integer form:
    # pos <= n - ceil(n*p/q) + 1  <=>  n*p <= (n - pos + 1)*q
    prefix = ranked.filter(
        F.col("sz") * p <= (F.col("sz") - F.col("pos") + 1) * q
    ).select("id", "shingle", "sz", "pos")

    # PPJoin positional filter (Xiao et al. §3.2 — r16, guide §3): a pair
    # matching at prefix positions (i, j) can reach overlap at most
    # 1 + min(sa - i, sb - j); requiring that to meet the minimum overlap
    # α = ceil(t·(sa+sb)/(1+t)) = ceil(p·(sa+sb)/(p+q)) prunes candidates
    # BEFORE the dedup + verify. Complete: if the true overlap is ≥ α,
    # the pair's FIRST common element satisfies the bound, so the pair
    # always survives through that row — only redundant rows and
    # can't-qualify pairs are dropped. Integer-exact:
    # (1 + min(..)) · (p+q) >= p·(sa+sb).
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            # size filter: t*max <= min, as q*min >= p*max in int64
            & (F.least("a.sz", "b.sz") * q >= F.greatest("a.sz", "b.sz") * p)
            & (
                (
                    F.lit(1)
                    + F.least(
                        F.col("a.sz") - F.col("a.pos"),
                        F.col("b.sz") - F.col("b.pos"),
                    )
                )
                * (p + q)
                >= (F.col("a.sz") + F.col("b.sz")) * p
            ),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sa"),
            F.col("b.sz").alias("sb"),
        )
        .distinct()
    )

    # exact verify over candidates only — as ARRAY INTERSECTION, not an
    # explode join (r16, guide §2.3): the old form fanned every candidate
    # pair out to ALL of a's shingles and shuffled that (|cand| × set
    # size) string stream into a second join; this form materializes the
    # (small) candidate pair set once, builds each CANDIDATE doc's
    # shingle array once (semi-join prune + collect_list — docs outside
    # any candidate pair never ship a set), attaches both arrays to the
    # pair row, and counts the intersection in codegen. n_common is
    # identical: sh is distinct per id, and array_intersect returns the
    # distinct common elements.
    cand = materialize(cand)
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sets = (
        sh.join(cand_ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.collect_list("shingle").alias("_set"))
    )
    inter = (
        cand.join(
            sets.select(F.col("id").alias("id_a"), F.col("_set").alias("_sa")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("_set").alias("_sb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "sa",
            "sb",
            F.size(F.array_intersect("_sa", "_sb"))
            .cast("long")
            .alias("n_common"),
        )
    )
    c, sa, sb = F.col("n_common"), F.col("sa"), F.col("sb")
    return (
        inter.filter(c * q >= p * (sa + sb - c))
        .select(
            "id_a",
            "id_b",
            c.cast("bigint").alias("n_common"),
            F.round(c / (sa + sb - c), 6).alias("jaccard"),
        )
    )


def editdist_join(
    df: DataFrame,
    *,
    max_dist: int = 6,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Pairs (id_a < id_b) with levenshtein(norm(a), norm(b)) <= max_dist.

    Candidate generation is banded MinHash-LSH over word shingles (reusing
    ``dedup.minhash_lsh_candidates`` — a small edit distance on real text
    implies high shingle-Jaccard, so LSH recall is high); a cheap length
    filter (|len_a - len_b| <= max_dist is NECESSARY for ed <= max_dist)
    runs before the O(len^2) levenshtein verify. The exact alternative with
    a worst-case guarantee is PassJoin-style segment signatures; on corpora
    where edits are scattered (near-duplicate detection, the case here) the
    LSH prefilter does the same work for one signature pass.

    At 100 TB: identical shape to the minhash dedup tier (banded buckets,
    never all-pairs); levenshtein runs only on candidate pairs.
    """
    cand = minhash_lsh_candidates(
        df,
        num_hashes=num_hashes,
        bands=bands,
    ).select("id_a", "id_b")

    texts = df.select(
        F.col("doc_id").alias("id"), _norm(F.col("text")).alias("txt")
    )
    ta = texts.select(
        F.col("id").alias("id_a"), F.col("txt").alias("txt_a")
    )
    tb = texts.select(
        F.col("id").alias("id_b"), F.col("txt").alias("txt_b")
    )
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        # necessary condition first — skips the quadratic verify cheaply
        .filter(
            F.abs(F.length("txt_a") - F.length("txt_b")) <= max_dist
        )
        .select(
            "id_a",
            "id_b",
            # thresholded levenshtein (Spark 3.5+) runs the banded O(n*d)
            # algorithm and returns -1 past the bound — the verify step is
            # linear in text length instead of quadratic
            F.levenshtein(F.col("txt_a"), F.col("txt_b"), max_dist)
            .cast("int")
            .alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )
