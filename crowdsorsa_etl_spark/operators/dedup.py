"""Deduplication operators for LLM-scale corpora (SURVEY.md §2.2 extension).

Four strategies, all shuffle-bounded and driver-free:

* exact            — hash the normalized text, keep the first doc per hash.
                     ONE shuffle on a 64/128-bit key; at 100 TB hash first so
                     the shuffle key is fixed-width, not the document body.
* minhash_lsh      — word-shingle → k minhashes → band keys → candidates from
                     same-band buckets. Built-in exprs only (explode +
                     md5 token words + Carter-Wegman combines +
                     map-side-combined min aggregates);
                     cost is |bands| rows per doc shuffled, never |docs|².
* simhash          — 64-bit simhash from token hashes; near-dups = equal
                     simhash bucket (exact tier) or hamming ≤ r via
                     pigeonhole bit-band LSH (simhash_hamming_candidates).
* token_jaccard    — exact pairwise Jaccard over distinct-token sets, scoped
                     by a blocking key (e.g. lang) to bound the pair blowup;
                     the SQL-oracle-checkable ground truth for the approximate
                     methods.

Every hash is built from ``functions/portable_hash``, which DuckDB computes
bit-identically, so ``lsh_oracles.py`` replays each signature pipeline.
"""

from __future__ import annotations

import binascii
import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.portable_hash import (
    combine_cw_spark,
    cw_hash_spark,
    h64_spark,
    hex60_spark,
)
from crowdsorsa_etl_spark.functions.text import normalize_text as _norm
from crowdsorsa_etl_spark.operators.checkpointing import materialize

_NUM_HASHES = 16
_BANDS = 8
_SHINGLE_K = 3
_BUCKET_PREFIXES = 64


def exact_dedup(df: DataFrame) -> DataFrame:
    """One row per distinct normalized text: keeper id + duplicate count."""
    return (
        df.select(F.col("doc_id"), F.md5(_norm(F.col("text"))).alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_keep_first(df: DataFrame) -> DataFrame:
    """The deduplicated corpus itself (keep min-id row per text hash)."""
    w = Window.partitionBy(F.md5(_norm(F.col("text")))).orderBy(F.col("doc_id"))
    return df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    ).drop("_rn")


# One hash family, derived from md5 via functions/portable_hash, so every
# signature pipeline here is expressible as DuckDB SQL (see lsh_oracles.py)
# and the oracle gate hash-compares the output. md5 is paid once per TOKEN
# (``hex60``); multi-value combines (shingles, band buckets, k-grams) use
# the integer Carter-Wegman polynomial — one multiply-add per word, no
# per-shingle digest — and skip NULL words, so trailing positions past the
# doc end hash the shorter sub-shingle.
#
# Seeds: the unseeded combine is family member 0, and band callers pass
# seed=b+1, so every band — including band 0 — uses a family member
# distinct from the shingle combine.
def _token_hashes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, th): one ``hex60`` word per normalized token."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(_norm(F.col(text_col)), " ")).alias("pos", "t"),
    ).select("id", "pos", hex60_spark(F.col("t")).alias("th"))


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(id, h) per token position: the combine of the ``shingle_k`` token
    words starting there. Positions near the doc end combine fewer words
    (the lead() nulls are skipped)."""
    w = Window.partitionBy("id").orderBy("pos")
    return _token_hashes(df, id_col, text_col).select(
        "id",
        combine_cw_spark(
            F.col("th"),
            *[F.lead("th", j).over(w) for j in range(1, shingle_k)],
        ).alias("h"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """k minhashes per doc as columns mh0..mh{k-1}.

    A shingle's identity is the TUPLE OF ITS TOKEN HASHES, not the joined
    string: posexplode tokens → hash each once → combine ``shingle_k``
    consecutive hashes with lead() over a per-doc window → min-aggregate the
    k family hashes. No per-shingle string slicing/concatenation (measured
    6× faster than string shingles at sf0.1, which itself was 60× faster
    than nested transform()/array_min() lambdas).

    Shuffle shape: ONE hash shuffle on id — the window sort and the final
    groupBy share the same partitioning, and map-side partial mins shrink
    the agg exchange to |docs| × k values per partition. Trailing positions
    hash fewer than ``shingle_k`` tokens (nulls skipped), so short docs
    still get a full signature.
    """
    sh = _shingle_hashes(df, id_col, text_col, shingle_k)
    # family members: Carter-Wegman (a_i·x + b_i) mod 2^31-1 over the
    # shingle word — integer-multiply cost instead of num_hashes md5
    # digests PER SHINGLE, bit-identical in DuckDB
    aggs = [
        F.min(cw_hash_spark(F.col("h"), i)).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def _banded(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) rows from a signature table — |bands| per doc."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        combine_cw_spark(
                            *[
                                F.col(f"mh{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                            seed=b + 1,  # b+1: band 0 ≠ unseeded combine
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bucket")


def _band_rows(docs: DataFrame) -> DataFrame:
    """(id, band, bucket) under the module's signature parameterization —
    the rows the cross-corpus match and the index at rest compare."""
    sig = minhash_signatures(docs, "text", "doc_id", _NUM_HASHES, _SHINGLE_K)
    return _banded(sig, _NUM_HASHES, _BANDS)


def minhash_lsh_candidates_cross(corpus: DataFrame, probe: DataFrame) -> DataFrame:
    """Cross-corpus banded MinHash-LSH: candidate (corpus, probe) pairs —
    the FUZZY decontamination primitive (exact n-gram contamination checks
    miss paraphrases; banded signature collisions catch them).

    Output: (id_a = corpus doc, id_b = probe doc, n_bands_matched). The
    probe side (an eval/benchmark set — small by definition) broadcasts,
    so the corpus never shuffles for the match: signature build is the
    corpus's one hash shuffle, then a broadcast hash join on (band,
    bucket).
    """
    a = _band_rows(corpus).alias("a")
    b = F.broadcast(_band_rows(probe).alias("b"))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands_matched"))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    rows_per_band = num_hashes // bands; two docs collide when any band of
    their signatures is identical. Output: (id_a, id_b, n_bands_matched).
    """
    # materialize signatures once — the a/b sides of the self-join would
    # otherwise each recompute the whole explode→window→agg pipeline
    sig = materialize(
        minhash_signatures(df, "text", "doc_id", num_hashes, shingle_k)
    )
    banded = _banded(sig, num_hashes, bands)

    # same-band-bucket self-join; dedup ordered pairs. The join key
    # (band, bucket) is uniform under the CW combine, so no skew salting.
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_bands_matched"))
    )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash per doc: for each bit j, sum ±1 votes of token-hash
    bit j over all tokens; bit j of the result = (sum > 0).

    Same explode + partial-aggregate formulation as minhash_signatures:
    token hashing happens once, the shuffle carries 64 ints per doc per
    partition (map-side combine), bit packing is a final narrow projection.
    (The nested transform()/aggregate() expression form re-evaluates the
    token array per bit — 64x the string work.)
    """
    # the FULL 64-bit md5 word (h64), not hex60 — every bit position
    # carries a vote, so a 60-bit word would pin bits 60-63
    ex = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(_norm(F.col("text")), " ")).alias("t"),
    ).select("id", h64_spark(F.col("t")).alias("h"))

    def vote(j: int):
        mask = F.shiftleft(F.lit(1).cast("bigint"), j)
        return F.sum(
            F.when(F.col("h").bitwiseAND(mask) != 0, 1).otherwise(-1)
        ).alias(f"v{j}")

    votes = ex.groupBy("id").agg(*[vote(j) for j in range(64)])
    packed = F.lit(0).cast("bigint")
    for j in range(64):
        # bit 63 is the sign bit of the packed bigint (1<<63 overflows a
        # python-literal long, so shift JVM-side)
        packed = packed.bitwiseOR(
            F.when(
                F.col(f"v{j}") > 0, F.shiftleft(F.lit(1).cast("bigint"), j)
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return votes.select("id", packed.alias("simhash"))


def simhash_buckets(
    df: DataFrame, *, signatures: DataFrame | None = None
) -> DataFrame:
    """Docs grouped by identical simhash (the exact-collision tier; hamming-r
    search is `simhash_hamming_candidates` below).

    ``ids`` is a sorted comma-joined string, not an array: collect_list order
    depends on task scheduling, so the raw array is nondeterministic across
    runs — sort_array + concat_ws makes the output stable and hashable.
    """
    sig = signatures if signatures is not None else simhash_signatures(df)
    return (
        sig
        .groupBy("simhash")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("id")), lambda c: c.cast("string")
                ),
            ).alias("ids"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") > 1)
    )


def simhash_hamming_candidates(
    df: DataFrame,
    *,
    radius: int = 8,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs with simhash hamming distance ≤ ``radius``.

    Pigeonhole LSH over bit bands: split the 64-bit signature into
    ``radius + 1`` contiguous bit bands. Two signatures within hamming
    ``radius`` differ in at most ``radius`` bands, so at least one band
    matches EXACTLY — candidates
    are found with an equi-join on (band, band_bits), never an all-pairs
    scan. Full hamming distance is then verified with
    ``bit_count(sig_a XOR sig_b)`` on candidates only.

    Shuffle shape mirrors MinHash-LSH: ``radius + 1`` rows per doc,
    |pairs| bounded by real band collisions — 100 TB-safe.

    Output: (id_a, id_b, hamming), id_a < id_b, one row per pair.
    """
    bands = radius + 1
    if bands > 64:
        raise ValueError("radius + 1 bands must be ≤ 64 (64-bit signatures)")
    width = 64 // bands  # last band absorbs the remainder bits

    sig = (
        signatures
        if signatures is not None
        else materialize(simhash_signatures(df))
    )

    def band_bits(b: int):
        shifted = F.shiftrightunsigned("simhash", b * width)
        if b == bands - 1:  # take all remaining high bits
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    banded = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_bits(b).alias("bits"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.bits")

    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        # a pair can collide in several bands → reduce to one row first
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.first(F.col("a.simhash")).alias("_sa"),
            F.first(F.col("b.simhash")).alias("_sb"),
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int"),
        )
        .filter(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
    )


def token_jaccard_pairs(df: DataFrame, *, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard similarity over distinct-token sets for all doc pairs
    sharing ``lang``. Blocking bounds the quadratic term; at 100 TB use
    LSH first and this only to verify candidates.

    Output: (id_a, id_b, jaccard) with jaccard rounded to 6 dp.
    """
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.col("lang").alias("blk"),
        F.explode(F.array_distinct(F.split(_norm(F.col("text")), " "))).alias("tok"),
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n_toks"))

    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )

    # sizes is O(|docs|) — NOT broadcast; AQE converts to broadcast when the
    # runtime size allows, otherwise these stay shuffle joins on the id key.
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("sa.n_toks") + F.col("sb.n_toks") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def shingle_jaccard_pairs(
    df: DataFrame, *, max_df: int | None = None
) -> DataFrame:
    """Exact Jaccard over distinct-SHINGLE-hash sets — the ground truth for
    the banded MinHash tier (MinHash estimates shingle-set resemblance, so
    auditing its candidates against token-set Jaccard would measure the
    wrong quantity). Shingle identity is the same Carter-Wegman combine of
    ``_SHINGLE_K`` consecutive token hashes that ``minhash_signatures``
    min-aggregates, trailing short shingles included, so the two tiers see
    the identical set universe.

    Pair generation is an inverted-index join on the shingle hash (AllPairs
    shape): only pairs sharing >= 1 shingle materialize, never |docs|^2.
    The per-shingle blowup is sum_h C(df_h, 2); ``max_df`` removes shingles
    hotter than the cap from the set universe entirely — sizes,
    intersections, and pair generation all see the capped universe (the
    corpus-wide stop-fingerprint discipline of the multimodal dup tiers,
    i.e. stopword-removal semantics): boilerplate shingles that appear in
    thousands of docs carry no resemblance signal but dominate the join
    cost at corpus scale. None = no cap (exact oracle tier).

    Output: (id_a, id_b, jaccard) for every pair with >= 1 shared
    (surviving) shingle; jaccard = |A∩B| / |A∪B| over the distinct-shingle
    sets of the (possibly capped) universe, rounded 6 dp.
    """
    sh = _shingle_hashes(df, "doc_id", "text", _SHINGLE_K).distinct()
    if max_df is not None:
        hot = (
            sh.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("h")
        )
        sh = sh.join(hot, "h", "left_anti")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    paired = sh
    a = paired.alias("a")
    b = paired.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def shingle_containment_pairs(
    df: DataFrame, *, threshold: float = 0.5
) -> DataFrame:
    """ASYMMETRIC containment over the distinct-shingle sets: c(A→B) =
    |A∩B| / |A| — the quantity Jaccard structurally underestimates when a
    small document is wholly quoted inside a much larger one (|A∩B|/|A∪B|
    shrinks with the big doc's size; |A∩B|/|A| does not). This is the
    quote-farm / boilerplate-wrapper detector of crawl pipelines, the
    set-containment-join literature's problem shape.

    Same set universe and pair generation (inverted-index AllPairs join)
    as :func:`shingle_jaccard_pairs` (without its heat cap), so the two
    tiers are directly comparable on the same pairs. Output keeps both
    directions' exact integers — (id_a, id_b, n_shared, n_a, n_b,
    containment_a, containment_b) — filtered to pairs where EITHER
    direction reaches ``threshold`` (the unrounded single-division ratio,
    bit-identical across engines)."""
    sh = _shingle_hashes(df, "doc_id", "text", _SHINGLE_K).distinct()
    sizes = sh.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    c_a = F.col("n_shared") * F.lit(1.0) / F.col("sa.n_sh")
    c_b = F.col("n_shared") * F.lit(1.0) / F.col("sb.n_sh")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .filter((c_a >= threshold) | (c_b >= threshold))
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.col("sa.n_sh").alias("n_a"),
            F.col("sb.n_sh").alias("n_b"),
            F.round(c_a, 6).alias("containment_a"),
            F.round(c_b, 6).alias("containment_b"),
        )
    )


def jaccard_verify_pairs(
    cand: DataFrame,
    docs: DataFrame,
    *,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard scoring of CANDIDATE pairs — the verify tier
    behind every LSH candidate generator (one shared implementation so the
    normalization/rounding conventions cannot drift between call sites).

    ``cand`` carries (id_a, id_b, ...); all its columns pass through with
    ``jaccard`` appended, filtered to ≥ ``threshold``. Cost is bounded by
    |candidates|: docs prune to candidate ids with a broadcast semi-join
    BEFORE the token explode (LSH output is small by construction), so
    the explode + size aggregate never touch non-candidate documents —
    previously both ran over the whole corpus and the joins discarded
    the non-candidates only afterwards.
    """
    # materialize the candidate set and the candidate-token table ONCE
    # (r16, guide §2.4): ``cand`` is referenced three times below (both
    # id unions + the intersection join) and ``toks`` three times (two
    # join sides + sizes) — without the checkpoints each reference
    # re-ran the ENTIRE upstream LSH signature pipeline, blowing the
    # fuzzy-decontamination plan up to 22 parquet scans / 40 explodes /
    # 24 exchanges (plans/r16/llm_fuzzy_decontamination_before.txt).
    # Both tables are candidate-bounded — small by LSH construction.
    cand = materialize(cand)
    ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionAll(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    toks = materialize(
        docs.join(F.broadcast(ids), "doc_id", "left_semi")
        .select(
            F.col("doc_id").alias("_tid"),
            F.explode(
                F.array_distinct(F.split(_norm(F.col("text")), " "))
            ).alias("tok"),
        )
    )
    sizes = toks.groupBy("_tid").agg(F.count(F.lit(1)).alias("_n"))
    inter = (
        cand.join(toks.select(F.col("_tid").alias("id_a"), "tok"), "id_a")
        .join(toks.select(F.col("_tid").alias("id_b"), "tok"), ["id_b", "tok"])
        .groupBy(*cand.columns)
        .agg(F.count(F.lit(1)).alias("_n_common"))
    )
    jac = F.round(
        F.col("_n_common") / (F.col("_na") + F.col("_nb") - F.col("_n_common")),
        6,
    )
    return (
        inter.join(
            sizes.select(F.col("_tid").alias("id_a"), F.col("_n").alias("_na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("_tid").alias("id_b"), F.col("_n").alias("_nb")),
            "id_b",
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(*cand.columns, "jaccard")
    )


def winnow_fingerprints(
    df: DataFrame,
    *,
    k: int = 4,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., the MOSS
    algorithm): rolling k-gram hashes, one fingerprint per sliding window
    of ``window`` consecutive hashes (the minimum), distinct per doc.

    Guarantee: any shared run of at least k + window - 1 tokens between two
    documents yields at least one shared fingerprint — position-robust
    overlap detection at ~|tokens| / window fingerprints per doc.

    Plan shape mirrors minhash_signatures: ONE shuffle on the doc id; the
    k-gram combine (lead), the window minimum (min over a rows frame), and
    the dedup all share that partitioning.

    Output: (id, fp) — one row per distinct fingerprint hash per doc.
    """
    toks = _token_hashes(df, "doc_id", "text")
    w_doc = Window.partitionBy("id").orderBy("pos")
    kg = toks.select(
        "id",
        "pos",
        combine_cw_spark(
            F.col("th"),
            *[F.lead("th", j).over(w_doc) for j in range(1, k)],
        ).alias("h"),
        # standard winnowing hashes only FULL k-grams: the combine skips
        # null inputs, so trailing positions (lead beyond doc end) would hash
        # sub-k-grams and could surface as spurious window minima shared
        # between unrelated docs with common suffixes — drop them.
        F.lead("th", k - 1).over(w_doc).alias("_last"),
    ).filter(F.col("_last").isNotNull())
    w_win = w_doc.rowsBetween(0, window - 1)
    return (
        kg.select("id", F.min("h").over(w_win).alias("fp"))
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    *,
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints — the
    copy-detection join. Fingerprints occurring in more than 100
    documents (boilerplate k-grams) are dropped BEFORE the
    self-join, bounding the per-key blowup the way stop-shingle removal
    does — without the cap one ubiquitous phrase makes the join quadratic.

    Output: (id_a, id_b, n_shared).
    """
    fps = winnow_fingerprints(df, k=k, window=window)
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= 100)
        .select("fp")
    )
    fps = fps.join(rare, "fp")  # semi-join shape; AQE broadcasts when small
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Signature index at rest: incremental near-dup dedup against a corpus
# ---------------------------------------------------------------------------


def _index_rows(docs: DataFrame) -> DataFrame:
    """``_band_rows`` plus the bucket-prefix partition column ``pfx``."""
    return _band_rows(docs).withColumn(
        "pfx", F.pmod(F.col("bucket"), F.lit(_BUCKET_PREFIXES)).cast("int")
    )


def lsh_write_index(docs: DataFrame, path: str) -> None:
    """Materialize the corpus's banded MinHash rows under ``path``/bands,
    PARTITIONED by a bucket prefix (``pmod(bucket, _BUCKET_PREFIXES)``) — the
    dedup analogue of the IVF/BM25 index-at-rest tier: an incoming batch
    reads only the partitions its own buckets hash into, so per-batch match
    cost is driven by batch size, not corpus size (the scan shows
    PartitionFilters, asserted in tests). The module constants fix the
    signature parameterization, so every index is comparable with every
    batch.
    """
    _index_rows(docs).write.mode("overwrite").partitionBy("pfx").parquet(
        path.rstrip("/") + "/bands"
    )


def lsh_append_index(new_docs: DataFrame, path: str) -> None:
    """Corpus APPEND: the delta's banded rows land as new files in the same
    prefix partitions — existing rows are never read or rewritten (banded
    signatures are distributive over documents, like BM25 postings).
    Contract: ``new_docs`` ids are new; dedupe upstream (the curation
    ledger) before appending."""
    _index_rows(new_docs).write.mode("append").partitionBy("pfx").parquet(
        path.rstrip("/") + "/bands"
    )


def lsh_match_index(spark, path: str, batch: DataFrame) -> DataFrame:
    """Candidate (corpus, batch) near-dup pairs against the index at rest:
    (id_a = corpus id, id_b = batch id, n_bands_matched) — identical output
    to ``minhash_lsh_candidates_cross`` over the same corpus (gated by
    llm_dedup_index's oracle), without recomputing a single corpus
    signature.

    The batch's distinct bucket prefixes (≤ ``_BUCKET_PREFIXES`` ints — a
    bounded driver round-trip, like IVF's probed lists) become a partition
    filter on the index scan; the batch side broadcasts, so the corpus
    index is never shuffled. Per-batch cost: batch signature build + a
    pruned index read."""
    # prefix collect + join reuse one computation
    b = materialize(_index_rows(batch))
    pfxs = sorted(r["pfx"] for r in b.select("pfx").distinct().collect())
    corpus = spark.read.parquet(path.rstrip("/") + "/bands").filter(
        F.col("pfx").isin(pfxs)
    )
    probe = F.broadcast(b.alias("b"))
    return (
        corpus.alias("a")
        .join(
            probe,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands_matched"))
    )


def cdc_chunk_stats(df: DataFrame, *, k: int = 4) -> DataFrame:
    """Content-defined chunking dedup (LBFS/rsync discipline — the
    storage-level dedup a blob lake runs): a k-byte polynomial rolling
    hash cuts each payload at content-determined boundaries
    (``h % 16 == 0``), so an insertion shifts ONE chunk instead of
    re-aligning every fixed-size block; identical chunks across documents
    then collapse in a hash-keyed groupBy. Output: duplicated chunks only
    — (chunk_md5, chunk_len, n_copies, n_docs).

    Exactness: integer rolling hash (all mod arithmetic in int64),
    chunk identity = md5 of the chunk's UPPERCASE hex — both replayed
    verbatim by the SQL oracle from hex(encode(text)).

    Scale shape: boundary detection is LOCAL (one Arrow pass, numpy
    per-position hash, no shuffle); the only exchange is the chunk-hash
    groupBy with map-side combine — a data-lake-sized corpus dedups with
    one shuffle whose keys are content hashes (uniform by construction).
    The first 256 bytes of each payload are chunked.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    pows = [pow(31, j, 1 << 20) for j in range(k)]

    def gen(batches):
        for pdf in batches:
            ids: list = []
            md5s: list = []
            lens: list = []

            def emit(did, chunk: bytes) -> None:
                ids.append(did)
                md5s.append(
                    hashlib.md5(binascii.hexlify(chunk).upper()).hexdigest()
                )
                lens.append(len(chunk))

            for did, text in zip(pdf["doc_id"], pdf["text"]):
                body = (text or "").encode("utf-8")[:256]
                n = len(body)
                if n == 0:
                    continue
                b = np.frombuffer(body, dtype=np.uint8).astype(np.int64)
                h = np.zeros(n, dtype=np.int64)
                for j, pw in enumerate(pows):
                    h[k - 1 :] += b[k - 1 - j : n - j] * pw
                bound = np.zeros(n, dtype=bool)
                bound[k - 1 :] = (h[k - 1 :] % (1 << 20)) % 16 == 0
                start = 0
                for i in np.flatnonzero(bound):
                    emit(did, body[start : i + 1])
                    start = int(i) + 1
                if start < n:
                    emit(did, body[start:n])
            yield pd.DataFrame(
                {"doc_id": ids, "chunk_md5": md5s, "chunk_len": lens}
            )

    chunks = df.select("doc_id", "text").mapInPandas(
        gen, "doc_id long, chunk_md5 string, chunk_len int"
    )
    return (
        chunks.groupBy("chunk_md5", "chunk_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .filter(F.col("n_copies") > 1)
    )
