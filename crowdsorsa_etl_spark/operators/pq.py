"""Product quantization (PQ) ANN — the FAISS-style compressed tier.

Completes the engine's similarity ladder: brute force (exact oracle tier) →
SRP-LSH (bucketed) → IVF (partition-pruned) → int8 SQ → **PQ** (this module):
vectors compress to ``m`` byte-ish codes (64-float32 → 4-8 ints, 32-64×),
and queries score the WHOLE corpus through per-subspace distance lookup
tables (ADC — asymmetric distance computation) instead of full-width dot
products. At 100 TB the encoded corpus is what you keep hot; raw vectors
page in only for the final exact re-rank of a bounded candidate set.

Determinism contract (what makes the DuckDB oracle possible, mirroring the
IVF trainer at similarity.ivf_train_centroids):
* the train sample is the first ``sample_size`` vectors by id; codebook init
  is the first ``k_codes`` sample subvectors per subspace;
* assignment is argmin squared-L2 with ties to the lowest code index —
  integer decisions, robust to last-ulp summation differences;
* distance-table entries round to 6 dp BEFORE the ADC sum, so both engines
  sum identical multiples of 1e-6 and the rounded ADC score is
  engine-independent regardless of summation order;
* the final output re-scores ADC candidates with the sequential
  expression-path cosine (bit-identical to cosine_topk's values).

Scale shape: codebooks are (m × k_codes × subdim) doubles — broadcast-sized
at any realistic setting; encoding is one mapInPandas pass (batch matmuls);
ADC scoring is |corpus| × |Q| rows of m array lookups (whole-stage codegen,
no Python), followed by a per-query top-(k+margin) window and a broadcast
join back to raw vectors for the exact re-rank.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.operators.similarity import (
    MAX_QUERY_ROWS,
    _collect_bounded,
    _train,
    dot,
    ivf_assign,
    l2_norm,
)


def pq_train_codebooks(
    corpus: DataFrame,
    *,
    m: int = 4,
    k_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 2048,
    iterations: int = 4,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Per-subspace k-means codebooks over unit-normalized vectors.

    Returns an (m, k_codes, dim//m) float64 ndarray. Subspace trainers are
    independent classic k-means (squared-L2, mean update, no
    re-normalization — PQ codebooks live in subvector space, not on the
    sphere); empty clusters keep their previous centroid.

    With ``centroids`` (IVF coarse centroids), trains on RESIDUALS
    ``x − c_assigned`` — FAISS's ``by_residual`` default, which centers
    each inverted list's distribution so the shared codebook spends its
    codes on within-list variation. Assignment is the same
    argmax-cosine / ties-to-lowest rule as similarity.ivf_assign.
    """
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_size).collect()
    )
    x = np.array([r[1] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    if centroids is not None:
        x = x - centroids[np.argmax(x @ centroids.T, axis=1)]
    if len(x) < k_codes:
        raise ValueError(
            f"corpus sample has {len(x)} vectors but k_codes={k_codes}; "
            "codebook init needs at least k_codes training vectors — "
            "lower k_codes or grow the corpus/sample"
        )
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.zeros((m, k_codes, sub))
    for mi in range(m):
        xs = x[:, mi * sub : (mi + 1) * sub]
        cent = xs[:k_codes].copy()  # deterministic init
        for _ in range(iterations):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # ties → lowest index
            for j in range(k_codes):
                members = xs[assign == j]
                if len(members):
                    cent[j] = members.mean(axis=0)
        books[mi] = cent
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Encode each (normalized) vector as ``m`` codes: (id, codes array<int>).

    One mapInPandas pass; per batch the work is m batched matmul-style
    distance computations against the broadcast codebooks. With
    ``centroids``, encodes RESIDUALS vs the assigned coarse centroid
    (same assignment rule as training — see pq_train_codebooks).
    """
    m, k_codes, sub = codebooks.shape
    bc = corpus.sparkSession.sparkContext.broadcast((codebooks, centroids))

    def encode(batches):
        books, cents = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            if cents is not None:
                x = x - cents[np.argmax(x @ cents.T, axis=1)]
            codes = np.zeros((len(x), m), dtype=np.int32)
            for mi in range(m):
                xs = x[:, mi * sub : (mi + 1) * sub]
                d2 = ((xs[:, None, :] - books[mi][None, :, :]) ** 2).sum(axis=2)
                codes[:, mi] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, "id long, codes array<int>"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    m: int = 4,
    k_codes: int = 32,
    candidate_margin: int = 16,
    sample_size: int = 2048,
    iterations: int = 4,
    max_queries: int = MAX_QUERY_ROWS,
) -> DataFrame:
    """Approximate cosine top-k via PQ/ADC with exact re-rank.

    Candidates = ADC top-(k + candidate_margin) per query (squared-L2 on
    unit vectors is 2 − 2·cos, so ascending ADC ≈ descending cosine); the
    output re-scores those exactly and returns (query_id, neighbor_id,
    cosine, rank). Recall vs the exact brute force is gated in tests.
    """
    books = pq_train_codebooks(
        corpus,
        m=m,
        k_codes=k_codes,
        sample_size=sample_size,
        iterations=iterations,
    )
    sub = books.shape[2]
    enc = pq_encode(corpus, books)

    q_rows = _collect_bounded(
        queries.select("vec_id", "embedding"), max_queries, "query set"
    )
    spark = corpus.sparkSession
    q_data = []
    for r in q_rows:
        qv = np.asarray(r[1], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        # distance tables rounded to 6 dp — the engine-portability contract
        tables = [
            [
                round(float(((qv[mi * sub : (mi + 1) * sub] - books[mi][c]) ** 2).sum()), 6)
                for c in range(k_codes)
            ]
            for mi in range(m)
        ]
        q_data.append((int(r[0]), tables))
    q_df = spark.createDataFrame(
        q_data, "query_id long, dists array<array<double>>"
    )

    adc = (
        enc.crossJoin(F.broadcast(q_df))
        .filter(F.col("id") != F.col("query_id"))
        .withColumn(
            "adc",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("dists"),
                        F.col("codes"),
                        lambda d, c: F.element_at(d, c + 1),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("id").asc()
    )
    cand = (
        adc.withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= k + candidate_margin)
        .select("query_id", F.col("id").alias("neighbor_id"))
    )

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cvec"),
        l2_norm(F.col("embedding")).alias("_cnorm"),
    )
    q_vecs = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        l2_norm(F.col("embedding")).alias("_qnorm"),
    )
    rescored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
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
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivfpq_write_index(
    corpus: DataFrame,
    path: str,
    *,
    n_lists: int = 16,
    m: int = 4,
    k_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 2048,
    pq_iterations: int = 4,
    trainer: str = "sample",
    by_residual: bool = False,
) -> None:
    """Persist an IVF-PQ index — the FAISS production tier and the capstone
    of the ANN ladder: PQ codes stored PARTITIONED BY IVF list, so a search
    that probes ``n_probe`` lists reads ~n_probe/n_lists of the (already
    32×-compressed) code bytes, runs codegen ADC over that slice only, and
    pages in raw vectors just for the final exact re-rank.

    Layout under ``path``:

    * ``list_id=<n>/``  — (id, codes, embedding) rows of that inverted
      list. ADC scans prune to probed directories AND read only the
      ``codes`` column (parquet column pruning); the ``embedding`` column
      is touched only by the candidate re-rank join.
    * ``_centroids``    — IVF coarse centroids (list_id, centroid), stored
      float64 (the residual path's distance tables subtract them — a
      float32 roundtrip would desync the 6-dp oracle parity).
    * ``_codebooks``    — PQ codebooks (mi, code, cv).
    * ``_meta``         — (by_residual,) so search picks the right tables.

    ``by_residual=False`` (shared codebook over raw unit vectors) is
    FAISS's ``IVFx,PQy`` with ``by_residual=false``; ``by_residual=True``
    is the FAISS DEFAULT — codes encode ``x − c_assigned``, which centers
    each list's distribution and buys recall at the cost of per-(query,
    probed-list) distance tables (still broadcast-sized:
    |Q|·n_probe·m·k_codes doubles).

    Determinism matches pq_train_codebooks + similarity.ivf_train_centroids,
    so the composed DuckDB oracles (lsh_oracles.ivfpq_topk_sql /
    ivfpq_residual_topk_sql) replay the whole index build symbolically.
    """

    centroids = _train(
        corpus,
        n_lists=n_lists,
        id_col=id_col,
        vec_col=vec_col,
        sample_size=sample_size,
        trainer=trainer,
    )
    books = pq_train_codebooks(
        corpus,
        m=m,
        k_codes=k_codes,
        id_col=id_col,
        vec_col=vec_col,
        sample_size=sample_size,
        iterations=pq_iterations,
        centroids=centroids if by_residual else None,
    )
    assigned = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)
    enc = pq_encode(
        corpus,
        books,
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids if by_residual else None,
    ).withColumnRenamed("id", id_col)
    (
        assigned.join(enc, id_col)
        .select(id_col, "codes", vec_col, "list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(path)
    )
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "list_id int, centroid array<double>",
    ).repartition(1).write.mode(  # repartition, NOT coalesce: coalesce(1)
        # on a local-list frame evaluates all 32 pickled slices serially
        # through Python workers (~4.5s/call measured); the 1-row shuffle
        # is ~0.5s
        "overwrite"
    ).parquet(path.rstrip("/") + "/_centroids")
    book_rows = [
        (int(mi), int(c), [float(x) for x in books[mi][c]])
        for mi in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    spark.createDataFrame(
        book_rows, "mi int, code int, cv array<double>"
    ).repartition(1).write.mode("overwrite").parquet(path.rstrip("/") + "/_codebooks")
    spark.createDataFrame(
        [(bool(by_residual),)], "by_residual boolean"
    ).repartition(1).write.mode("overwrite").parquet(path.rstrip("/") + "/_meta")


def _load_index_artifacts(spark, path: str):
    """(centroids ndarray, books ndarray, by_residual) from a persisted
    IVF-PQ index — the frozen training artifacts every post-build
    operation (search, append) shares."""
    cent_rows = spark.read.parquet(path.rstrip("/") + "/_centroids").collect()
    centroids = np.zeros((len(cent_rows), len(cent_rows[0].centroid)))
    for r in cent_rows:
        centroids[r.list_id] = r.centroid
    book_rows = spark.read.parquet(path.rstrip("/") + "/_codebooks").collect()
    m = 1 + max(r.mi for r in book_rows)
    k_codes = 1 + max(r.code for r in book_rows)
    sub = len(book_rows[0].cv)
    books = np.zeros((m, k_codes, sub))
    for r in book_rows:
        books[r.mi][r.code] = r.cv
    try:  # pre-_meta indexes (round-8 flat layout) default to flat
        meta = spark.read.parquet(path.rstrip("/") + "/_meta").collect()
        by_residual = bool(meta[0].by_residual) if meta else False
    except Exception:  # noqa: BLE001 — missing _meta dir only
        by_residual = False
    return centroids, books, by_residual


def ivfpq_append_index(new_vectors: DataFrame, path: str) -> None:
    """Append a vector batch into an existing IVF-PQ index — the
    index-maintenance tier matching dedup.lsh_append_index and
    bm25.bm25_append_index.

    Centroids and codebooks are FROZEN (read from the index, never
    retrained): assignment and encoding are deterministic per-vector given
    the artifacts, so append-then-search is IDENTICAL to a full rebuild
    whose training sample lies inside the base corpus — the property the
    llm_ivfpq_incremental oracle proves cross-engine. Cost is
    batch-sized: one assign + encode pass over the new vectors and a pure
    file append into the affected ``list_id=`` partitions; existing rows
    are never read, rewritten, or shuffled. Per-partition search pruning
    (PartitionFilters) is unchanged — appended files land inside the same
    directory layout.

    When the corpus distribution drifts from the frozen centroids, append
    quality degrades (falling within-list centroid cosine, skewing list
    sizes); retraining rebuilds the index from scratch.
    """

    spark = new_vectors.sparkSession
    centroids, books, by_residual = _load_index_artifacts(spark, path)
    assigned = ivf_assign(new_vectors, centroids)
    enc = pq_encode(
        new_vectors,
        books,
        centroids=centroids if by_residual else None,
    ).withColumnRenamed("id", "vec_id")
    (
        assigned.join(enc, "vec_id")
        .select("vec_id", "codes", "embedding", "list_id")
        .write.mode("append")
        .partitionBy("list_id")
        .parquet(path)
    )


def ivfpq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 4,
    candidate_margin: int = 16,
) -> DataFrame:
    """Search a persisted IVF-PQ index: probe ``n_probe`` lists per query
    driver-side (bounded centroid set), scan ONLY those partitions'
    ``codes`` column, score by 6-dp-rounded ADC lookup tables (pure
    whole-stage-codegen array ops — encoding happened at WRITE time, so
    the query plan has ZERO Python stages), take the top-(k+margin) ADC
    candidates per query, and re-rank them exactly against the stored
    raw vectors. Output contract matches cosine_topk:
    (query_id, neighbor_id, cosine, rank).

    A ``by_residual`` index (``_meta``) gets per-(query, probed-list)
    distance tables over ``q − c_list`` — |Q|·n_probe·m·k_codes doubles,
    still broadcast-sized — joined on (query_id, list_id) so every code
    row is scored against the table of ITS list's residual space."""

    def table_for(qv):
        return [
            [
                round(
                    float(
                        ((qv[mi * sub : (mi + 1) * sub] - books[mi][c]) ** 2).sum()
                    ),
                    6,
                )
                for c in range(k_codes)
            ]
            for mi in range(m)
        ]

    centroids, books, by_residual = _load_index_artifacts(spark, path)
    m, k_codes, sub = books.shape

    q_rows = _collect_bounded(
        queries.select("vec_id", "embedding"), MAX_QUERY_ROWS, "query set"
    )
    probes = []
    q_data = []
    for r in q_rows:
        qv = np.asarray(r[1], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        probed = [int(l) for l in np.argsort(-(centroids @ qv))[:n_probe]]
        probes.extend((int(r[0]), l) for l in probed)
        if by_residual:
            q_data.extend(
                (int(r[0]), l, table_for(qv - centroids[l])) for l in probed
            )
        else:
            q_data.append((int(r[0]), table_for(qv)))
    probe_df = spark.createDataFrame(probes, "query_id long, list_id int")
    probed_lists = sorted({l for _, l in probes})
    if by_residual:
        q_df = spark.createDataFrame(
            q_data, "query_id long, list_id int, dists array<array<double>>"
        )
    else:
        q_df = spark.createDataFrame(
            q_data, "query_id long, dists array<array<double>>"
        )

    # list_id isin → PARTITION filter: only probed directories are scanned,
    # and the ADC branch reads only (id, codes) of them (column pruning)
    index = spark.read.parquet(path).filter(F.col("list_id").isin(probed_lists))
    scored = index.select("vec_id", "codes", "list_id")
    if by_residual:
        # q_df already carries (query_id, list_id): the equi-join on
        # list_id pairs each code row with every query probing its list,
        # each against the table of that list's residual space
        scored = scored.join(F.broadcast(q_df), "list_id")
    else:
        scored = scored.join(F.broadcast(probe_df), "list_id").join(
            F.broadcast(q_df), "query_id"
        )
    adc = (
        scored.filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "adc",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("dists"),
                        F.col("codes"),
                        lambda d, c: F.element_at(d, c + 1),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    cand = (
        adc.withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= k + candidate_margin)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )

    c = spark.read.parquet(path).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cvec"),
        l2_norm(F.col("embedding")).alias("_cnorm"),
    )
    q_vecs = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        l2_norm(F.col("embedding")).alias("_qnorm"),
    )
    rescored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
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
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
