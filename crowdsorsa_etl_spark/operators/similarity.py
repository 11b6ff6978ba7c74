"""Similarity search over an embedding column (array<float>).

Two tiers (SURVEY.md §2.2):

* brute-force cosine top-k — exact; |Q|×|N| dot products. The arithmetic is
  a pure column expression (``zip_with`` multiply + ``aggregate`` sum) so it
  runs JVM-side; queries are broadcast so the corpus never shuffles. This is
  also the DuckDB-oracle ground truth.
* LSH-bucketed (random hyperplane / SRP) — approximate; each vector maps to
  ``n_tables`` signature buckets built from deterministic xxhash64-seeded
  hyperplanes; candidates = same-bucket pairs, then exact re-rank. Corpus
  shuffles only on fixed-width bucket keys → scales to 100 TB.

Sequential left-to-right double accumulation in ``F.aggregate`` matches
DuckDB's ``list_dot_product`` evaluation order, so oracle hashes agree
bit-for-bit after rounding.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crowdsorsa_etl_spark.operators.checkpointing import materialize
from crowdsorsa_etl_spark.operators.fanout import cpu_fanout

_ITERATIONS = 5
_SAMPLE_SIZE = 2048


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


#: default ceiling for driver-side query collection — ~64k × dim-64 float
#: vectors ≈ 32 MB, comfortably inside driver memory; anything bigger is a
#: caller error (a fact-scale DataFrame on the query side), not a workload.
MAX_QUERY_ROWS = 65_536


def _collect_bounded(df: DataFrame, limit: int, what: str) -> list:
    """collect() with a hard row bound: raise instead of OOMing the driver
    when a caller passes a fact-scale DataFrame where a bounded query set is
    required (round-6 advice). Costs one limit(n+1) scan — negligible next
    to the collect itself."""
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"{what} has more than {limit} rows; this operator collects the "
            f"{what} to the driver and is contractually bounded — repartition "
            "the workload (e.g. self-join tiers) or raise max_queries "
            "explicitly if the driver really has the memory"
        )
    return rows


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    queries (small) are broadcast against the corpus — the corpus side never
    shuffles; the only wide op is the per-query top-k, done with a window on
    (query_id) after filtering to candidate scores.
    """
    # norms precomputed per ROW (|Q|+|N| sqrt-dot evaluations), not per pair
    # (|Q|×|N|) — higher-order-function exprs are interpreted, so hoisting
    # them out of the join is a ~3x win on the scoring stage
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        l2_norm(F.col("embedding")).alias("_qnorm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cvec"),
        l2_norm(F.col("embedding")).alias("_cnorm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("_qvec"), F.col("_cvec"))
                / (F.col("_qnorm") * F.col("_cnorm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    query_id_col: str | None = None,
) -> DataFrame:
    """Hard-negative mining for retrieval/contrastive training: for each
    query vector, the top-k most-similar corpus vectors whose ``label``
    DIFFERS from the query's — the highest-scoring wrong answers, which is
    what a contrastive batch wants next to its positives (random negatives
    are too easy to carry gradient signal).

    Plan shape is :func:`cosine_topk` with the label-mismatch predicate
    folded into the broadcast join: the query set (small by definition)
    broadcasts, the corpus never shuffles, scoring is one narrow codegen
    stage, and the only wide op is the per-query top-k window — partitioned
    by query_id, never SinglePartition. At corpus scale, swap the exact
    scan for the IVF/PQ candidate tiers (ivf_topk / ivfpq_topk) and rescore
    candidates exactly; the mismatch filter and ranking are unchanged.

    Output: (query_id, query_label, neighbor_id, neighbor_label, cosine,
    rank) with cosine rounded 6 dp and rank 1..k per query.
    """
    qid = query_id_col or "vec_id"
    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("_qvec"),
        l2_norm(F.col("embedding")).alias("_qnorm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("_cvec"),
        l2_norm(F.col("embedding")).alias("_cnorm"),
    )
    # The self-exclusion predicate is only meaningful when query ids live
    # in the corpus id domain; with a separate query_id_col, a corpus id
    # that merely COLLIDES with a query id is a legitimate hard negative
    # and must not be dropped (ADVICE r11).
    mismatch = F.col("query_label") != F.col("neighbor_label")
    if query_id_col is None or query_id_col == "vec_id":
        mismatch = (F.col("query_id") != F.col("neighbor_id")) & mismatch
    scored = c.join(
        F.broadcast(q),
        mismatch,
    ).withColumn(
        "cosine",
        F.round(
            dot(F.col("_qvec"), F.col("_cvec"))
            / (F.col("_qnorm") * F.col("_cnorm")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "cosine",
            "rank",
        )
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    max_queries: int = MAX_QUERY_ROWS,
) -> DataFrame:
    """Exact cosine top-k with numpy matrix math per Arrow batch.

    The hot loop is ``C_normed @ Q_normed.T`` inside ``mapInPandas`` — BLAS
    does |batch|×|Q| dot products at memory bandwidth instead of one
    interpreted expression per pair. The query set (bounded; raises past
    ``max_queries``) is collected once and broadcast to executors; the
    corpus streams through in Arrow batches, so executor memory is one
    batch, never the corpus.

    BIT-EXACT contract (round 7): BLAS scores only SELECT candidates — the
    top ``k + 16`` per query — which are then re-scored with
    the expression path (``dot / (norm·norm)``, round 6) and re-ranked, so
    the output is identical to :func:`cosine_topk` and the DuckDB oracle.
    BLAS pairwise summation differs from sequential accumulation by ≲1e-12;
    the margin makes candidate-set misses from such last-ulp ordering
    effectively impossible.

    Round 8 (the round-7 advice's flagged 2× regression): each batch's
    surviving candidate rows CARRY their raw vector out of the Arrow
    stage, so the exact re-score runs on |Q|·(k+margin) bounded rows with
    no second corpus scan and no corpus-wide broadcast join — the corpus
    is read exactly once. The carried floats are the same float32 array
    values the corpus scan holds, so the expression-path cosine stays
    bit-identical.
    """

    q_rows = _collect_bounded(
        queries.select(F.col("vec_id"), F.col("embedding")), max_queries, "query set"
    )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat))
    n_cand = k + 16

    def score(batches):
        ids, mat = bc.value
        for pdf in batches:
            c_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_mat @ mat.T  # (batch, n_queries)
            n_ids = pdf["vec_id"].to_numpy()
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(ids, len(n_ids)),
                    "neighbor_id": np.tile(n_ids, len(ids)),
                    "cosine_blas": sims.T.ravel(),
                }
            )
            out = out[out.query_id != out.neighbor_id]
            # per-batch partial top-(k+margin): bounds the shuffle to
            # |Q|·(k+margin) rows per batch instead of |Q|·|batch|.
            # neighbor_id is a SORT KEY, not just payload: with ≥ n_cand
            # exactly-tied scores (duplicate vectors) the kept subset must
            # be the lowest ids — the same tie-break the global window and
            # the exact re-rank apply — or a true top-k member could be
            # dropped here and the bit-exact contract would break.
            kept = out.sort_values(
                ["query_id", "cosine_blas", "neighbor_id"],
                ascending=[True, False, True],
            ).groupby("query_id", sort=False).head(n_cand)
            # survivors carry their raw vector out of the Arrow stage —
            # the exact re-score then needs no second corpus scan
            vec_by_id = dict(zip(n_ids, pdf["embedding"]))
            kept = kept.assign(_cvec=kept["neighbor_id"].map(vec_by_id))
            yield kept

    scored = corpus.select("vec_id", "embedding").mapInPandas(
        score,
        "query_id long, neighbor_id long, cosine_blas double,"
        " _cvec array<float>",
    )
    w_blas = Window.partitionBy("query_id").orderBy(
        F.col("cosine_blas").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        scored.withColumn("_r", F.row_number().over(w_blas))
        .filter(F.col("_r") <= n_cand)
        .select("query_id", "neighbor_id", "_cvec")
    )

    # exact re-score of the candidates: same expression, same rounding, same
    # tie-break as cosine_topk → bit-identical output (the carried _cvec
    # holds the same float32 values the corpus column does)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        l2_norm(F.col("embedding")).alias("_qnorm"),
    )
    rescored = cand.join(F.broadcast(q), "query_id").withColumn(
        "cosine",
        F.round(
            dot(F.col("_qvec"), F.col("_cvec"))
            / (F.col("_qnorm") * l2_norm(F.col("_cvec"))),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Signed-random-projection LSH (deterministic, dependency-free)
# ---------------------------------------------------------------------------


def _srp_plane(dim: int, table: int, bit: int) -> list[float]:
    """Deterministic pseudo-random hyperplane via integer hashing (no RNG
    state, reproducible across runs/cluster nodes)."""
    vals = []
    for d in range(dim):
        h = (table * 1_000_003 + bit * 10_007 + d * 101 + 12345) & 0xFFFFFFFF
        h ^= h >> 13
        h = (h * 0x5BD1E995) & 0xFFFFFFFF
        h ^= h >> 15
        vals.append((h / 0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def srp_buckets_arrow(vec: Column, dim: int, n_tables: int, n_bits: int) -> Column:
    """All ``n_tables`` SRP bucket keys in ONE BLAS matmul per Arrow batch.

    The expression form costs one interpreted dim-length fold PER PLANE per
    row (n_tables × n_bits of them) — ~70 µs each at dim 64. Here the full
    plane matrix multiplies each batch once: X @ P.T, sign, pack bits.
    Returns array<bigint> of length n_tables (index = table id); explode
    with posexplode to get (table, bucket) rows. Bit ``b`` of table ``t``
    is set where the projection onto ``_srp_plane(dim, t, b)`` is positive.
    """
    planes = np.array(
        [
            _srp_plane(dim, t, b)
            for t in range(n_tables)
            for b in range(n_bits)
        ],
        dtype=np.float64,
    )  # (n_tables*n_bits, dim)
    weights = (1 << np.arange(n_bits, dtype=np.int64))  # bit packing

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(xs: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="object")
        x = np.stack(xs.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = (x @ planes.T) > 0  # (batch, n_tables*n_bits)
        packed = bits.reshape(len(x), n_tables, n_bits) @ weights  # (batch, n_tables)
        return pd.Series(list(packed))

    return _buckets(vec)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: SRP-bucket both sides per table (4 tables of 8
    bits), equi-join on (table, bucket), exact cosine re-rank of
    candidates only."""

    def bucketize(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(out_id),
            F.col("embedding").alias(f"_{out_id}_vec"),
            F.posexplode(
                srp_buckets_arrow(F.col("embedding"), dim, 4, 8)
            ).alias("table", "bucket"),
        )

    cb = bucketize(corpus, "neighbor_id")
    qb = bucketize(queries, "query_id")

    cand = (
        cb.join(
            qb,
            (cb.table == qb.table)
            & (cb.bucket == qb.bucket)
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", "_query_id_vec", "_neighbor_id_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "cosine",
            F.round(cosine(F.col("_query_id_vec"), F.col("_neighbor_id_vec")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (dedup by embedding)
# ---------------------------------------------------------------------------


def embedding_cosine_pairs(emb: DataFrame, *, threshold: float) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold — the oracle-checkable ground
    truth for embedding near-dup detection. Quadratic (|N|²/2 dot products,
    broadcast-nested-loop self-join): at 100 TB use
    :func:`embedding_cosine_pairs_lsh` for candidates and this form only to
    verify them (mirrors token_jaccard_pairs vs MinHash-LSH).

    Output: (id_a, id_b, cosine) with id_a < id_b, cosine rounded to 6 dp.
    """
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_av"),
        l2_norm(F.col("embedding")).alias("_an"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_bv"),
        l2_norm(F.col("embedding")).alias("_bn"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(dot(F.col("_av"), F.col("_bv")) / (F.col("_an") * F.col("_bn")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


@F.pandas_udf(T.DoubleType())
def _cosine_arrow(xa: pd.Series, xb: pd.Series) -> pd.Series:
    """Vectorized cosine of two array<float> columns (BLAS per Arrow batch).

    The interpreted ``aggregate``/``zip_with`` expression costs ~µs per
    pair — fine for a per-row projection, ruinous for millions of candidate
    pairs. This pandas UDF does the same math at memory bandwidth. Values
    can differ from the expression path in the last ulp (pairwise
    summation), so use it for candidate VERIFICATION (id-pair outputs), not
    for oracle-hash-compared scores.
    """
    if len(xa) == 0:
        return pd.Series([], dtype="float64")
    ma = np.stack(xa.to_numpy()).astype(np.float64)
    mb = np.stack(xb.to_numpy()).astype(np.float64)
    num = (ma * mb).sum(axis=1)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    return pd.Series(np.round(num / np.maximum(den, 1e-300), 6))


def embedding_cosine_pairs_lsh(
    emb: DataFrame,
    *,
    dim: int,
    threshold: float,
) -> DataFrame:
    """Approximate embedding near-dup pairs: SRP-bucket self-join candidates
    + vectorized exact cosine verification — the 100 TB path (fixed-width
    bucket keys shuffle; candidate count bounded by real bucket collisions,
    never |N|²).

    Geometry: 12 tables of 3 bits. P(two vectors share one table's
    bucket) = (1 - θ/π)^3 with θ = arccos(threshold); recall =
    1 - (1 - p)^12 — recall ≳0.95 at threshold ≈ 0.35.

    Shuffle discipline: the banded self-join and the pair dedup carry ONLY
    (id, table, bucket) — fixed-width keys, no vectors. Vectors are
    re-attached to the DEDUPED pair set with two id-key joins (broadcast
    when the embedding table allows, shuffle otherwise), so each embedding
    crosses the Arrow boundary once per surviving pair side, not once per
    raw bucket collision — the Arrow transfer into the vectorized verifier
    is the measured bottleneck, so minimizing verified rows wins over
    minimizing shuffles here.

    Output: (id_a, id_b, cosine) — a subset of embedding_cosine_pairs
    (candidates missed by every table are lost; recall is gated in tests).

    The BLAS pandas UDF is the bulk filter; the surviving pairs are
    rescored with the sequential expression-path cosine (``dot``/``l2_norm``
    fold), so the values match DuckDB's ``list_dot_product`` evaluation
    order bit-for-bit after rounding (lsh_oracles.embedding_dups_lsh_sql).
    """
    # materialize buckets once — the a/b sides of the self-join would each
    # re-run the projection UDF otherwise
    bucketed = materialize(emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(
            srp_buckets_arrow(F.col("embedding"), dim, 12, 3)
        ).alias("table", "bucket"),
    ))
    # widen the CHECKPOINTED bucket table (fixed-width rows, no vectors)
    # so the banded self-join + pair dedup probe in parallel instead of
    # on the scan's split count — at fixture scale the embeddings file is
    # one split and the whole join ran on one task. This is NOT the r16
    # reverted experiment (fanout BEFORE the SRP projection, which paid a
    # shuffle+sort of the vectors ahead of the UDF); the widen here moves
    # |ids|*n_tables short rows once, after the UDF already ran.
    bucketed = cpu_fanout(bucketed)

    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # norms hoisted per VECTOR (|N| fold evaluations, before the pair
    # join) — the norm is a deterministic function of the vector, so the
    # value is identical to computing it per pair, at 1/|pairs| the cost
    ea = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("_av")
    ).withColumn("_an", l2_norm(F.col("_av")))
    eb = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("_bv")
    ).withColumn("_bn", l2_norm(F.col("_bv")))
    # BLAS is the bulk filter (with last-ulp slack so it can never drop a
    # pair the sequential score would keep); the interpreted expression-path
    # cosine — DuckDB's evaluation order — is recomputed only on the
    # ~threshold-surviving pairs, so oracle parity costs one fold over
    # survivors, not three folds over every candidate.
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cosine", _cosine_arrow(F.col("_av"), F.col("_bv")))
        .filter(F.col("cosine") >= threshold - 1e-4)
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("_av"), F.col("_bv")) / (F.col("_an") * F.col("_bn")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse k-means quantizer + probed re-rank
# ---------------------------------------------------------------------------


def ivf_train_centroids(
    corpus: DataFrame,
    *,
    n_lists: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 2048,
):
    """Spherical k-means on a deterministic bounded sample (first
    ``sample_size`` vectors by id) — driver-side numpy, like FAISS's train
    step. The sample is bounded by definition (the 100 TB corpus trains on
    the same fixed-size sample); everything downstream is distributed.

    Returns a unit-normalized (n_lists, dim) ndarray.
    """

    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_size).collect()
    x = np.array([r[1] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    centroids = x[:n_lists].copy()  # deterministic init
    for _ in range(_ITERATIONS):
        assign = np.argmax(x @ centroids.T, axis=1)
        for j in range(n_lists):
            members = x[assign == j]
            if len(members):
                c = members.mean(axis=0)
                centroids[j] = c / max(np.linalg.norm(c), 1e-12)
    return centroids


def kmeans_train_distributed(
    corpus: DataFrame,
    *,
    n_clusters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means trained on the FULL corpus with distributed Lloyd
    iterations — the 100 TB replacement for :func:`ivf_train_centroids`'s
    bounded driver sample, which caps usable cluster counts at ~sample_size
    while IVF wants n_lists≈√N and SemDeDup ~1e5 clusters at web scale.

    Per iteration:

    1. centroids (k×dim — broadcast-sized by construction, ≤ ~100 MB even at
       k=1e5/dim=128) are broadcast;
    2. ``mapInPandas`` streams the corpus in Arrow batches and keeps ONE
       k×dim partial-sum matrix + k-length count vector per PARTITION
       (map-side combine: the partition yields ≤ k rows no matter how many
       vectors it holds);
    3. a ``groupBy(cid)`` folds the ≤ n_partitions partial vectors per
       centroid JVM-side (``zip_with`` add), so the driver collects exactly
       k rows per iteration — never corpus rows.

    Initialization is deterministic and identical to the sample trainer:
    the first ``n_clusters`` vectors by id. With the same init and the same
    argmax-cosine assignment rule, this matches ``ivf_train_centroids``
    trained on the whole corpus up to float summation order (gated at 1e-6
    in tests).

    Returns a unit-normalized (n_clusters, dim) ndarray.
    """
    spark = corpus.sparkSession
    init_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(n_clusters).collect()
    )
    cents = np.array([r[1] for r in init_rows], dtype=np.float64)
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    dim = cents.shape[1]
    vec_only = corpus.select(vec_col)  # column-pruned: training never needs ids

    for _ in range(_ITERATIONS):
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches):
            cent = bc.value
            k = cent.shape[0]
            sums = np.zeros_like(cent)
            counts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
                assign = np.argmax(x @ cent.T, axis=1)
                np.add.at(sums, assign, x)
                counts += np.bincount(assign, minlength=k)
            hit = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {
                    "cid": hit.astype("int32"),
                    "psum": [sums[j] for j in hit],
                    "cnt": counts[hit],
                }
            )

        part = vec_only.mapInPandas(partials, "cid int, psum array<double>, cnt long")
        # array_sort before the fold: collect_list order is task-completion
        # order, so without the sort the float summation order — and the
        # trainer's last-ulp output — varies RUN TO RUN. Sorted partials
        # make the trainer deterministic for a fixed partitioning, which is
        # what lets the _scaled registry queries carry DuckDB oracles
        # (integer k-means decisions are robust to the remaining fixed
        # cross-engine summation-order difference).
        agg = (
            part.groupBy("cid")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list("psum")),
                    F.array_repeat(F.lit(0.0), dim),
                    lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
                ).alias("csum"),
                F.sum("cnt").alias("cnt"),
            )
            .collect()  # exactly ≤ k rows — the only driver-side data
        )
        bc.unpersist()
        new_cents = cents.copy()  # empty clusters keep their previous centroid
        for r in agg:
            if r["cnt"]:
                new_cents[r["cid"]] = np.asarray(r["csum"]) / r["cnt"]
        cents = new_cents / np.maximum(
            np.linalg.norm(new_cents, axis=1, keepdims=True), 1e-12
        )
    return cents


def _train(
    corpus: DataFrame,
    *,
    n_lists: int,
    id_col: str,
    vec_col: str,
    sample_size: int,
    trainer: str,
):
    """Dispatch to the bounded-sample or full-corpus distributed trainer."""
    if trainer == "distributed":
        return kmeans_train_distributed(
            corpus, n_clusters=n_lists, id_col=id_col, vec_col=vec_col
        )
    if trainer != "sample":
        raise ValueError(f"trainer must be 'sample' or 'distributed', got {trainer!r}")
    return ivf_train_centroids(
        corpus, n_lists=n_lists, id_col=id_col, vec_col=vec_col, sample_size=sample_size
    )


def ivf_assign(
    corpus: DataFrame,
    centroids,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """corpus + ``list_id`` (nearest centroid by cosine). BLAS argmax per
    Arrow batch; at scale, WRITE the result partitioned by list_id so probes
    prune partitions at scan time (the parquet analog of FAISS's inverted
    lists)."""

    bc = corpus.sparkSession.sparkContext.broadcast(centroids)

    def assign(batches):
        c = bc.value
        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            out = pdf[[id_col, vec_col]].copy()
            out["list_id"] = np.argmax(mat @ c.T, axis=1).astype("int32")
            yield out

    schema = f"{id_col} long, {vec_col} array<float>, list_id int"
    return corpus.select(id_col, vec_col).mapInPandas(assign, schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    trainer: str = "sample",
    max_queries: int = MAX_QUERY_ROWS,
) -> DataFrame:
    """Approximate top-k via IVF: score only the corpus vectors whose list
    is among each query's ``n_probe`` nearest centroids (~n_probe/n_lists of
    the corpus instead of all of it), then exact cosine re-rank.

    The query set is collected once (bounded by definition, as in
    cosine_topk_vectorized); the corpus is assigned distributedly and never
    fully scored. Same output contract as cosine_topk.

    ``trainer="distributed"`` trains the coarse quantizer on the FULL corpus
    (:func:`kmeans_train_distributed`) so n_lists can track √N at scale;
    the default bounded sample mirrors FAISS's train step.
    """

    centroids = _train(
        corpus,
        n_lists=n_lists,
        id_col="vec_id",
        vec_col="embedding",
        sample_size=_SAMPLE_SIZE,
        trainer=trainer,
    )
    assigned = ivf_assign(corpus, centroids)

    q_rows = _collect_bounded(
        queries.select("vec_id", "embedding"), max_queries, "query set"
    )
    spark = corpus.sparkSession
    probes = []
    for r in q_rows:
        qv = np.asarray(r[1], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        top_lists = np.argsort(-(centroids @ qv))[:n_probe]
        probes.extend((int(r[0]), int(l)) for l in top_lists)
    probe_df = spark.createDataFrame(probes, "query_id long, list_id int")
    q_df = spark.createDataFrame(
        [(int(r[0]), [float(v) for v in r[1]]) for r in q_rows],
        f"query_id long, _qv array<float>",
    ).withColumn("_qn", l2_norm(F.col("_qv")))

    cand = (
        # corpus-side norm hoisted BELOW the probe joins: the interpreted
        # dim-length fold evaluates once per corpus vector, and every
        # (query, candidate) pair the joins fan it into reuses the value —
        # a deterministic function of the vector, so bit-identical to the
        # per-pair form (r16; the same hoist embedding_cosine_pairs_lsh
        # documents)
        assigned.withColumn("_nn", l2_norm(F.col("embedding")))
        .join(F.broadcast(probe_df), "list_id")
        .join(F.broadcast(q_df), "query_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("embedding"), F.col("_qv"))
                / (F.col("_nn") * F.col("_qn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


def ivf_topk_curve(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_lists: int = 16,
    probe_list: tuple[int, ...] = (1, 2, 4, 8, 16),
) -> DataFrame:
    """:func:`ivf_topk` at EVERY probe budget in ``probe_list``, from ONE
    shared pass: train once, assign once, score each (query, candidate)
    once against the max-probe probe set with its PROBE RANK attached, and
    rank per budget by filtering probe_rank <= p — so the recall-vs-probes
    operating curve costs one corpus scan + one scoring stage + one
    bounded window per budget, never |probe_list| index rebuilds.

    Identical per-budget output to ivf_topk(n_probe=p) by construction:
    budget p's probe set is the first p entries of the same centroid
    argsort, candidates and scores are shared, ranking is the same
    (cosine DESC, neighbor ASC) window.

    Output: (n_probe int, query_id, neighbor_id, cosine, rank).
    """

    probe_list = tuple(sorted(set(int(p) for p in probe_list)))
    if not probe_list or probe_list[0] < 1 or probe_list[-1] > n_lists:
        raise ValueError(
            f"probe_list must be within [1, n_lists={n_lists}]: {probe_list}"
        )
    max_probe = probe_list[-1]
    centroids = _train(
        corpus,
        n_lists=n_lists,
        id_col="vec_id",
        vec_col="embedding",
        sample_size=_SAMPLE_SIZE,
        trainer="sample",
    )
    assigned = ivf_assign(corpus, centroids)

    q_rows = _collect_bounded(
        queries.select("vec_id", "embedding"), MAX_QUERY_ROWS, "query set"
    )
    spark = corpus.sparkSession
    probes = []
    for r in q_rows:
        qv = np.asarray(r[1], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        top_lists = np.argsort(-(centroids @ qv))[:max_probe]
        probes.extend(
            (int(r[0]), int(l), rank + 1)
            for rank, l in enumerate(top_lists)
        )
    probe_df = spark.createDataFrame(
        probes, "query_id long, list_id int, probe_rank int"
    )
    q_df = spark.createDataFrame(
        [(int(r[0]), [float(v) for v in r[1]]) for r in q_rows],
        "query_id long, _qv array<float>",
    ).withColumn("_qn", l2_norm(F.col("_qv")))

    scored = materialize(  # score once; every budget's window reuses it
        # corpus-side norm hoisted below the probe joins (see ivf_topk):
        # one fold per corpus vector, not one per (query, candidate) pair
        assigned.withColumn("_nn", l2_norm(F.col("embedding")))
        .join(F.broadcast(probe_df), "list_id")
        .join(F.broadcast(q_df), "query_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("embedding"), F.col("_qv"))
                / (F.col("_nn") * F.col("_qn")),
                6,
            ),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                "cosine", "probe_rank")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    out = None
    for p in probe_list:
        tk = (
            scored.filter(F.col("probe_rank") <= p)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                F.lit(p).cast("int").alias("n_probe"),
                "query_id",
                "neighbor_id",
                "cosine",
                "rank",
            )
        )
        out = tk if out is None else out.unionAll(tk)
    return out


def semdedup(
    corpus: DataFrame,
    *,
    n_clusters: int = 16,
    epsilon: float = 0.9,
    trainer: str = "sample",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication in embedding
    space. Cluster with spherical k-means, then WITHIN each cluster remove
    every vector that has a higher-ranked neighbor (rank = cosine-to-centroid
    desc, id asc) with pairwise cosine > ``epsilon``. The clustering is what
    makes the pairwise step tractable: candidate pairs exist only inside a
    cluster (|c|² per cluster, never n² globally) — the paper's recipe,
    expressed as one equi-join on list_id.

    ``trainer="distributed"`` trains on the full corpus
    (:func:`kmeans_train_distributed`) — required at scale, where n_clusters
    must grow with the corpus (the paper uses ~1e5 clusters) to keep the
    in-cluster |c|² pair step bounded; the bounded-sample default caps
    n_clusters at ~2048, the sample size.

    Output: (id, list_id, centroid_sim, keep) — one row per corpus vector.
    """
    cents = _train(
        corpus,
        n_lists=n_clusters,
        id_col="vec_id",
        vec_col="embedding",
        sample_size=_SAMPLE_SIZE,
        trainer=trainer,
    )
    assigned = ivf_assign(corpus, cents)
    cent_df = corpus.sparkSession.createDataFrame(
        [(int(i), [float(v) for v in c]) for i, c in enumerate(cents)],
        "list_id int, centroid array<float>",
    )
    ranked = (
        assigned.join(F.broadcast(cent_df), "list_id")
        .withColumn(
            "centroid_sim",
            F.round(cosine(F.col("embedding"), F.col("centroid")), 6),
        )
        .drop("centroid")
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("list_id").orderBy(
                    F.col("centroid_sim").desc(), F.col("vec_id")
                )
            ),
        )
    )
    a = ranked.select(
        "list_id",
        F.col("vec_id").alias("_a_id"),
        F.col("embedding").alias("_a_vec"),
        F.col("rank").alias("_a_rank"),
    )
    b = ranked.select(
        "list_id",
        F.col("vec_id").alias("_b_id"),
        F.col("embedding").alias("_b_vec"),
        F.col("rank").alias("_b_rank"),
    )
    removed = (
        a.join(b, "list_id")
        .filter(F.col("_a_rank") < F.col("_b_rank"))
        # Arrow-vectorized pair scoring: in-cluster pair counts are |c|² —
        # the interpreted zip_with/aggregate expression costs ~70 µs/pair,
        # the BLAS batch path ~100× less (same lesson as the LSH verifier)
        .filter(_cosine_arrow(F.col("_a_vec"), F.col("_b_vec")) > epsilon)
        .select(F.col("_b_id").alias("vec_id"))
        .distinct()
        .withColumn("_rm", F.lit(1))
    )
    return (
        ranked.join(removed, "vec_id", "left")
        .select(
            F.col("vec_id"),
            "list_id",
            "centroid_sim",
            F.col("_rm").isNull().alias("keep"),
        )
    )


def merge_topk(parts: list[DataFrame], *, k: int = 5) -> DataFrame:
    """Merge per-slice cosine top-k results into the corpus-wide top-k.

    Top-k under (cosine DESC, neighbor_id ASC) is a MONOID: the true
    top-k over a union of corpus slices is the top-k of the slices'
    top-k unions. That makes similarity search incrementally maintainable
    under corpus APPEND — score only the delta slice against the queries,
    merge with the standing result, never rescan history (the same
    incremental-MV algebra as operators/incremental.py and the BM25
    postings index). Inputs carry (query_id, neighbor_id, cosine, rank);
    ranks are recomputed after the merge.
    """
    if not parts:
        raise ValueError("merge_topk needs at least one part")
    merged = parts[0].select("query_id", "neighbor_id", "cosine")
    for p in parts[1:]:
        merged = merged.unionByName(
            p.select("query_id", "neighbor_id", "cosine")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    *,
    k: int = 4,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    LASER/CCMatrix method that mined billions of parallel sentence pairs):
    raw cosine over-selects hub vectors, so each candidate pair is scored
    by its cosine RELATIVE to both endpoints' k-NN neighborhoods,

        margin(x, y) = cos(x, y) / ((avgNNk(x) + avgNNk(y)) / 2),

    and each source keeps its best target by (margin DESC, tgt id ASC).

    Cross-engine float discipline: cosines round to 6 dp (house
    convention), then move to EXACT BIGINT fixed point (×1e6) — the two
    neighborhood sums are integer sums (no float summation order), and the
    margin is ONE correctly-rounded double division of exact integers,
    identical on both engines.

    This demo tier scores the full src×tgt cross ONCE and derives both
    neighborhoods from the same matrix (|src|·|tgt| bounded by the
    caller's pushdown predicate). At corpus scale the cross is replaced by
    the ANN ladder's candidate pairs (IVF/SRP-LSH — same modules) and the
    k-NN averages come from the retrieved lists; the margin arithmetic is
    unchanged.

    Output: (src_id, tgt_id, cosine, margin) — one row per source.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    s = src.select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("_sv"),
        l2_norm(F.col("embedding")).alias("_sn"),
    )
    t = tgt.select(
        F.col("vec_id").alias("tgt_id"),
        F.col("embedding").alias("_tv"),
        l2_norm(F.col("embedding")).alias("_tn"),
    )
    scored = materialize(
        s.join(F.broadcast(t))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("_sv"), F.col("_tv"))
                / (F.col("_sn") * F.col("_tn")),
                6,
            ),
        )
        .select(
            "src_id",
            "tgt_id",
            "cosine",
            F.round(F.col("cosine") * 1e6, 0).cast("long").alias("c6"),
        )
        # both windows and the final argmax rescan the scored cross —
        # materialize the (bounded) score matrix once
    )
    wf = Window.partitionBy("src_id").orderBy(
        F.col("c6").desc(), F.col("tgt_id").asc()
    )
    fwd = (
        scored.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= k)
        .groupBy("src_id")
        .agg(F.sum("c6").alias("fa_sum"))
    )
    wb = Window.partitionBy("tgt_id").orderBy(
        F.col("c6").desc(), F.col("src_id").asc()
    )
    bwd = (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= k)
        .groupBy("tgt_id")
        .agg(F.sum("c6").alias("fb_sum"))
    )
    margins = (
        scored.join(fwd, "src_id")
        .join(F.broadcast(bwd), "tgt_id")
        .filter(F.col("fa_sum") + F.col("fb_sum") != 0)
        .withColumn(
            "margin",
            F.round(
                (F.col("c6") * 2 * k).cast("double")
                / (F.col("fa_sum") + F.col("fb_sum")),
                6,
            ),
        )
    )
    wbest = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id").asc()
    )
    return (
        margins.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select("src_id", "tgt_id", "cosine", "margin")
    )


def bitext_margin_sql(
    *,
    k: int = 4,
    src_pred: str = "vec_id % 2 = 0",
    tgt_pred: str = "vec_id % 2 = 1",
) -> str:
    """DuckDB oracle for :func:`bitext_margin_pairs`: identical cosine
    rounding, identical ×1e6 fixed point, identical window top-k sums and
    the one exact-integer double division."""
    return f"""
    WITH s AS (
      SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE {src_pred}
    ),
    t AS (
      SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS tv
      FROM embeddings WHERE {tgt_pred}
    ),
    sc AS (
      SELECT src_id, tgt_id,
             round(list_dot_product(sv, tv)
                   / (sqrt(list_dot_product(sv, sv))
                      * sqrt(list_dot_product(tv, tv))), 6) AS cosine
      FROM s CROSS JOIN t
    ),
    c6t AS (
      SELECT *, CAST(round(cosine * 1e6) AS BIGINT) AS c6 FROM sc
    ),
    fwd AS (
      SELECT src_id, CAST(sum(c6) AS BIGINT) AS fa_sum FROM (
        SELECT src_id, c6, row_number() OVER (
          PARTITION BY src_id ORDER BY c6 DESC, tgt_id ASC) AS rn
        FROM c6t
      ) WHERE rn <= {k} GROUP BY src_id
    ),
    bwd AS (
      SELECT tgt_id, CAST(sum(c6) AS BIGINT) AS fb_sum FROM (
        SELECT tgt_id, c6, row_number() OVER (
          PARTITION BY tgt_id ORDER BY c6 DESC, src_id ASC) AS rn
        FROM c6t
      ) WHERE rn <= {k} GROUP BY tgt_id
    ),
    m AS (
      SELECT c.src_id, c.tgt_id, c.cosine,
             round(CAST(c.c6 * 2 * {k} AS DOUBLE)
                   / (f.fa_sum + b.fb_sum), 6) AS margin
      FROM c6t c
      JOIN fwd f USING (src_id)
      JOIN bwd b USING (tgt_id)
      WHERE f.fa_sum + b.fb_sum != 0
    )
    SELECT src_id, tgt_id, cosine, margin FROM (
      SELECT *, row_number() OVER (
        PARTITION BY src_id ORDER BY margin DESC, tgt_id ASC) AS rk
      FROM m
    ) WHERE rk = 1
    """
