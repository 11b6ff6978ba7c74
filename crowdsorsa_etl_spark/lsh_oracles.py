"""DuckDB oracle SQL generators for the LSH operators.

Each generator mirrors, fragment by fragment, the Spark plan built by the
corresponding ``operators/dedup.py`` function: same normalization, same
md5-derived token words (functions/portable_hash), same null-skipping
Carter-Wegman polynomial combines, same band layout. Parameters are the
single source of truth — the band loop that builds the Spark ``F.struct``
array also unrolls the SQL ``UNION ALL`` here, so a parameter change cannot
desynchronize the two engines.

These exist so the driver's correctness gate can hash-compare the LSH
queries (llm_minhash_lsh, llm_simhash, llm_simhash_hamming,
llm_winnow_overlap) against DuckDB instead of recording rows-only.
"""

from __future__ import annotations

from crowdsorsa_etl_spark.functions.portable_hash import (
    combine_cw_sql,
    cw_hash_sql,
    h64_sql,
    hex60_sql,
)

# must match dedup._norm (Spark: lower(regexp_replace(trim(text), '\s+', ' ')))
_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

# token explode with 0-based positions, matching F.posexplode over F.split.
# generate_subscripts is 1-based → subtract 1 (only relative order matters,
# but keeping the exact values makes the fragments directly comparable).
_TOKS = f"""
  raw AS (
    SELECT doc_id AS id,
           unnest(string_split({_NORM}, ' ')) AS t,
           generate_subscripts(string_split({_NORM}, ' '), 1) - 1 AS pos
    FROM documents
  )
"""


def _shingle_ctes(shingle_k: int) -> str:
    """CTE text raw→toks→sh0→sh producing (id, h): the portable shingle
    pipeline shared by the MinHash candidate generator and the exact
    shingle-Jaccard ground truth (one fragment so the two tiers cannot see
    different set universes)."""
    lead_cols = ", ".join(
        f"lead(th, {j}) OVER w AS t{j}" for j in range(1, shingle_k)
    )
    shingle = combine_cw_sql("th", *[f"t{j}" for j in range(1, shingle_k)])
    return f"""{_TOKS},
    toks AS (SELECT id, pos, {hex60_sql('t')} AS th FROM raw),
    sh0 AS (
      SELECT id, th, {lead_cols}
      FROM toks
      WINDOW w AS (PARTITION BY id ORDER BY pos)
    ),
    sh AS (SELECT id, {shingle} AS h FROM sh0)"""


def minhash_lsh_sql(
    num_hashes: int = 16, bands: int = 8, shingle_k: int = 3
) -> str:
    """Oracle for minhash_lsh_candidates."""
    rows_per_band = num_hashes // bands
    mh_aggs = ",\n           ".join(
        f"min({cw_hash_sql('h', i)}) AS mh{i}" for i in range(num_hashes)
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT id, {b} AS band, {bucket} AS bucket FROM sig".format(
            b=b,
            bucket=combine_cw_sql(
                *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)],
                seed=b + 1,  # lockstep with dedup._combine_hash band seeding
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH {_shingle_ctes(shingle_k)},
    sig AS (
      SELECT id,
           {mh_aggs}
      FROM sh GROUP BY id
    ),
    banded AS (
{band_selects}
    )
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_bands_matched
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    GROUP BY 1, 2
    """


def _simhash_sig_cte() -> str:
    """CTEs raw→tok→votes→sig producing (id, simhash) — the portable
    simhash_signatures pipeline. Bit masks are Python-computed literals so
    neither engine shifts by 63 (DuckDB overflows on 1<<63; bit 63's mask is
    the INT64_MIN literal, whose single set bit is the sign bit)."""
    votes = ",\n             ".join(
        "sum(CASE WHEN (h & ({m})) != 0 THEN 1 ELSE -1 END) AS v{j}".format(
            m=(1 << j) if j < 63 else -(1 << 63), j=j
        )
        for j in range(64)
    )
    pack_terms = " + ".join(
        "(CASE WHEN v{j} > 0 THEN CAST({m} AS BIGINT) ELSE 0 END)".format(
            j=j, m=(1 << j) if j < 63 else -(1 << 63)
        )
        for j in range(64)
    )
    return f"""{_TOKS},
    tok AS (SELECT id, {h64_sql('t')} AS h FROM raw),
    votes AS (
      SELECT id,
             {votes}
      FROM tok GROUP BY id
    ),
    sig AS (SELECT id, ({pack_terms}) AS simhash FROM votes)"""


def containment_pairs_sql(
    threshold: float = 0.5, shingle_k: int = 3
) -> str:
    """Oracle for dedup.shingle_containment_pairs:
    the same shingle CTE fragment as the MinHash/Jaccard tiers (one set
    universe), distinct sets, inverted-index pair join, exact integer
    counts, single-division unrounded threshold."""
    return f"""
    WITH {_shingle_ctes(shingle_k)},
    u AS (SELECT DISTINCT id, h FROM sh),
    sz AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY id),
    pair AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM u a JOIN u b ON a.h = b.h AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared, sa.n AS n_a, sb.n AS n_b,
           round(n_shared * 1.0 / sa.n, 6) AS containment_a,
           round(n_shared * 1.0 / sb.n, 6) AS containment_b
    FROM pair
    JOIN sz sa ON id_a = sa.id
    JOIN sz sb ON id_b = sb.id
    WHERE n_shared * 1.0 / sa.n >= {threshold}
       OR n_shared * 1.0 / sb.n >= {threshold}
    """


def simhash_buckets_sql() -> str:
    """Oracle for simhash_buckets."""
    return f"""
    WITH {_simhash_sig_cte()}
    SELECT simhash,
           array_to_string(list_sort(list(id)), ',') AS ids,
           count(*) AS n
    FROM sig GROUP BY simhash HAVING count(*) > 1
    """


def simhash_hamming_sql(radius: int = 4, bands: int | None = None) -> str:
    """Oracle for simhash_hamming_candidates.

    Spark extracts band bits with shiftrightunsigned; DuckDB's >> is an
    arithmetic shift, so every band — including the last, which Spark leaves
    unmasked — applies an explicit width mask: (h >> s) & ((1 << (64-s)) - 1)
    equals the unsigned shift for s > 0.
    """
    if bands is None:
        bands = radius + 1
    width = 64 // bands
    selects = []
    for b in range(bands):
        shift = b * width
        nbits = width if b < bands - 1 else 64 - shift
        mask = (1 << nbits) - 1
        selects.append(
            f"    SELECT id, simhash, {b} AS band,"
            f" ((simhash >> {shift}) & {mask}) AS bits FROM sig"
        )
    band_union = "\n    UNION ALL\n".join(selects)
    return f"""
    WITH {_simhash_sig_cte()},
    banded AS (
{band_union}
    ),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             min(a.simhash) AS sa, min(b.simhash) AS sb
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bits = b.bits AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {radius}
    """


# ---------------------------------------------------------------------------
# SRP (signed-random-projection) oracles — the round-6 pattern extension.
#
# The hyperplanes are deterministic Python literals (similarity._srp_plane:
# integer hash → float in [-1, 1], no RNG state), so the oracle simply embeds
# the SAME plane values as full-precision decimal literals (repr() round-trips
# float64 exactly; DuckDB parses back to the identical double) and replays
# bucket assignment with list_dot_product. Spark computes the projections in a
# float64 numpy matmul (srp_buckets_arrow) while DuckDB folds sequentially —
# the sign of the projection only disagrees when |proj| is within summation-
# reordering error (~1e-13) of zero, measure-zero for real embeddings, and
# llm_cosine_topk's green oracle already proves float-sum parity at 6 dp on
# this fixture. Candidate sets therefore match exactly, and the re-rank
# cosine uses the sequential expression path on both engines.
# ---------------------------------------------------------------------------

_COSINE = (
    "round(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)


def _srp_bucket_sql(vec: str, dim: int, table: int, n_bits: int) -> str:
    """One table's packed bucket key: sum of bit weights where the projection
    onto plane (table, bit) is positive — mirrors similarity.srp_buckets_arrow
    bit packing exactly."""
    from crowdsorsa_etl_spark.operators.similarity import _srp_plane

    terms = []
    for bit in range(n_bits):
        plane = ", ".join(repr(v) for v in _srp_plane(dim, table, bit))
        terms.append(
            f"(CASE WHEN list_dot_product({vec}, [{plane}]) > 0"
            f" THEN {1 << bit} ELSE 0 END)"
        )
    return "(" + "\n         + ".join(terms) + ")"


def _srp_banded_cte(dim: int, n_tables: int, n_bits: int) -> str:
    """UNION ALL of per-table (id, tbl, bucket) rows over CTE ``e(id, v)`` —
    the SQL image of posexplode(srp_buckets_arrow(...))."""
    return "\n    UNION ALL\n".join(
        f"    SELECT id, {t} AS tbl,\n"
        f"        {_srp_bucket_sql('v', dim, t, n_bits)} AS bucket FROM e"
        for t in range(n_tables)
    )


def lsh_topk_sql(
    dim: int = 64,
    k: int = 5,
    n_tables: int = 4,
    n_bits: int = 8,
    query_pred: str = "id < 10",
) -> str:
    """Oracle for similarity.lsh_topk on the embeddings table: SRP-bucket
    corpus and queries per table, equi-join candidates, exact-cosine re-rank
    of candidates only, row_number top-k. ``query_pred`` is over CTE
    ``e(id, v)`` (id = vec_id)."""
    cos = _COSINE.format(a="qa.v", b="nb.v")
    return f"""
    WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    banded AS (
{_srp_banded_cte(dim, n_tables, n_bits)}
    ),
    q AS (SELECT id FROM e WHERE {query_pred}),
    cand AS (
      SELECT DISTINCT qb.id AS query_id, cb.id AS neighbor_id
      FROM banded cb
      JOIN banded qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
                    AND cb.id != qb.id
      JOIN q ON qb.id = q.id
    ),
    s AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
      FROM cand
      JOIN e qa ON qa.id = cand.query_id
      JOIN e nb ON nb.id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM (SELECT *, CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
          FROM s)
    WHERE rank <= {k}
    """


def embedding_dups_lsh_sql(
    dim: int = 64,
    threshold: float = 0.35,
    n_tables: int = 12,
    n_bits: int = 3,
) -> str:
    """Oracle for similarity.embedding_cosine_pairs_lsh:
    SRP-bucket self-join candidates (id_a < id_b), dedup, sequential-cosine
    verify against the threshold."""
    cos = _COSINE.format(a="ea.v", b="eb.v")
    return f"""
    WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    banded AS (
{_srp_banded_cte(dim, n_tables, n_bits)}
    ),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a
      JOIN banded b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
    ),
    s AS (
      SELECT id_a, id_b, {cos} AS cosine
      FROM pairs
      JOIN e ea ON ea.id = pairs.id_a
      JOIN e eb ON eb.id = pairs.id_b
    )
    SELECT id_a, id_b, cosine FROM s WHERE cosine >= {threshold}
    """


def multimodal_embed_topk_sql(dim: int = 16, k: int = 5) -> str:
    """Oracle for the llm_multimodal_embed_topk composition: binary payload
    (magic header + UTF-8 text bytes) → byte-histogram feature embedding →
    float32 quantization → exact cosine top-k.

    Replays multimodal.attach_binary_payload + extract_features in SQL: the
    projection matrix is pure integer arithmetic
    ((b*31 + d*17 + 7) * 2654435761 % 1000, exact in int64 on both engines)
    so no literals are needed; byte values come from hex(payload) two-char
    slices; the normalized embedding is CAST to FLOAT exactly as Spark's
    array<float> schema quantizes the UDF output, then widened back to
    double for the cosine re-rank — bit-identical quantization on both
    engines (IEEE round-to-nearest), with the numpy-vs-SQL summation-order
    ulp absorbed by the float32 rounding step.
    """
    cos = _COSINE.format(a="q.v", b="c.v")
    return f"""
    WITH h AS (
      SELECT doc_id, hex('\\x89IMG'::BLOB || encode(text)) AS hx
      FROM documents
    ),
    byt AS (
      SELECT doc_id,
             strpos('0123456789ABCDEF',
                    substr(hx, CAST(2 * i + 1 AS INT), 1)) * 16
             + strpos('0123456789ABCDEF',
                      substr(hx, CAST(2 * i + 2 AS INT), 1)) - 17 AS b
      FROM h, unnest(range(CAST(length(hx) / 2 AS BIGINT))) AS t(i)
    ),
    hist AS (SELECT doc_id, b, count(*) AS cnt FROM byt GROUP BY 1, 2),
    tot AS (SELECT doc_id, sum(cnt) AS total FROM hist GROUP BY 1),
    comp AS (
      SELECT hist.doc_id, d,
             sum((CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                 * ((((b * 31 + d * 17 + 7) * 2654435761) % 1000)
                    / 500.0 - 1.0)) AS vraw
      FROM hist
      JOIN tot ON hist.doc_id = tot.doc_id,
           unnest(range({dim})) AS t(d)
      GROUP BY 1, 2
    ),
    nrm AS (SELECT doc_id, sqrt(sum(vraw * vraw)) AS nn
            FROM comp GROUP BY 1),
    e AS (
      SELECT comp.doc_id AS vec_id,
             CAST(list(CAST(vraw / nn AS FLOAT) ORDER BY d) AS DOUBLE[]) AS v
      FROM comp JOIN nrm ON comp.doc_id = nrm.doc_id
      GROUP BY 1
    ),
    s AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
      FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM (SELECT *, CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
          FROM s)
    WHERE rank <= {k}
    """


def countmin_sql(depth: int = 4, width: int = 1024, top_n: int = 20) -> str:
    """Oracle for the Count-Min heavy-hitter query: derive the identical
    d×w sketch from the same CW-over-md5 bucket assignments, estimate the
    top-N exact tokens, report (token, exact_cnt, cm_est)."""
    def cells(src: str) -> str:
        return "\n    UNION ALL\n".join(
            f"      SELECT {'token, ' if src == 'ptoks' else ''}{i} AS i,"
            f" ({cw_hash_sql('th', i)}) % {width} AS bucket FROM {src}"
            for i in range(depth)
        )

    return f"""
    WITH raw AS (
      SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents
    ),
    toks0 AS (SELECT token FROM raw WHERE token != ''),
    cnts AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
             FROM toks0 GROUP BY 1),
    probes AS (SELECT token, exact_cnt FROM cnts
               ORDER BY exact_cnt DESC, token LIMIT {top_n}),
    toks AS (SELECT {hex60_sql('token')} AS th FROM toks0),
    cells AS (
{cells('toks')}
    ),
    sketch AS (SELECT i, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
    ptoks AS (SELECT token, {hex60_sql('token')} AS th FROM probes),
    pcells AS (
{cells('ptoks')}
    ),
    est AS (
      SELECT token, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cm_est
      FROM pcells LEFT JOIN sketch USING (i, bucket)
      GROUP BY 1
    )
    SELECT p.token, p.exact_cnt, est.cm_est
    FROM probes p JOIN est USING (token)
    """


def dedup_clusters_sql(
    num_hashes: int = 16, bands: int = 8, shingle_k: int = 3
) -> str:
    """Oracle for the full near-dedup pipeline (portable minhash edges →
    connected components → per-doc cluster + keep flag). The Spark side
    iterates pointer-doubling min-label propagation; the RESULT — component
    = minimum doc id in the component — is iteration-free and deterministic,
    so the oracle computes it directly with a recursive transitive-closure
    CTE over the same edges (near-dup components are small by construction,
    so the closure's row count stays bounded)."""
    pairs = minhash_lsh_sql(num_hashes, bands, shingle_k)
    return f"""
    WITH RECURSIVE
    pairs AS ({pairs}),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, r) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT reach.id, s.dst
      FROM reach JOIN sym s ON reach.r = s.src
      WHERE s.dst != reach.id
    ),
    comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS cluster_id,
           (d.doc_id = COALESCE(c.component, d.doc_id)) AS keep
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """


def pagerank_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """Oracle for q65_pagerank: unroll the fixed-count power iterations as
    CTE stages over the same supplier→part edge list. Every constant that
    Spark computes driver-side in Python floats ((1-d)/n, d, 1/n) is emitted
    with the same operation order and CAST AS DOUBLE so both engines do
    identical IEEE arithmetic; per-iteration sums differ only in summation
    order (~1e-16 relative), absorbed by the 8-dp rounding. The final
    ORDER BY rounded-rank DESC, node LIMIT 100 matches the Spark query."""
    base = f"CAST({1.0 - damping!r} AS DOUBLE)"  # Python-computed, repr-exact
    d = f"CAST({damping!r} AS DOUBLE)"
    parts = [
        f"""
    e AS (SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
          FROM lineitem WHERE l_partkey < 500),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
    r0 AS (
      SELECT node, deg.deg, CAST(1 AS DOUBLE) / nn.n AS rank
      FROM nodes LEFT JOIN deg ON nodes.node = deg.src, nn
    )"""
    ]
    prev = "r0"
    for it in range(1, iterations + 1):
        parts.append(f"""
    dang{it} AS (SELECT coalesce(sum(rank), 0.0) AS dm
                 FROM {prev} WHERE deg IS NULL),
    contrib{it} AS (
      SELECT e.dst, sum(r.rank / r.deg) AS incoming
      FROM {prev} r JOIN e ON r.node = e.src
      WHERE r.deg IS NOT NULL GROUP BY 1
    ),
    r{it} AS (
      SELECT r.node, r.deg,
             {base} / nn.n
             + {d} * (coalesce(c.incoming, CAST(0 AS DOUBLE)) + g.dm / nn.n)
               AS rank
      FROM {prev} r
      LEFT JOIN contrib{it} c ON r.node = c.dst, dang{it} g, nn
    )""")
        prev = f"r{it}"
    parts.append(f"""
    fin AS (SELECT node, round(rank, 8) AS rank FROM {prev})
    SELECT node, rank FROM fin ORDER BY rank DESC, node LIMIT 100""")
    return "WITH " + ",".join(parts)


# ---------------------------------------------------------------------------
# IVF ANN oracle — replay the driver-side numpy k-means in SQL.
#
# ivf_train_centroids is fully deterministic: the sample is the first
# sample_size vectors by id, init is the first n_lists of them, assignment is
# first-occurrence argmax (ties → lowest centroid index), probes come from a
# stable argsort. All of those are INTEGER decisions, robust to the last-ulp
# float differences between numpy's pairwise summation and SQL's sequential
# folds (decision boundaries on real embeddings are ~1e-2 wide vs ~1e-15
# drift); the final re-rank uses raw vectors with the proven sequential
# cosine. The Lloyd iterations are unrolled as generated CTE blocks in
# long (cid, d, value) format.
# ---------------------------------------------------------------------------


def _l2norm_sql(v: str) -> str:
    """Unit-normalize a DOUBLE[] with the trainers' 1e-12 floor."""
    return (
        f"list_transform({v}, a -> a /"
        f" greatest(sqrt(list_dot_product({v}, {v})), 1e-12))"
    )


def _kmeans_ctes(n_lists: int, sample_size: int, iterations: int) -> tuple[str, str]:
    """Shared CTE chain for the sample-trainer replay: embeddings → e(id, v)
    / xn(id, xv normalized) / samp / unrolled Lloyd iterations /
    assignF(id, list_id). Returns (sql_fragment, final_centroid_cte)."""
    norm = _l2norm_sql
    parts = [
        f"""
    e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    xn AS (SELECT id, {norm('v')} AS xv FROM e),
    samp AS (SELECT id, xv FROM xn ORDER BY id LIMIT {sample_size}),
    cent0 AS (
      SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS c, xv AS cv
      FROM (SELECT id, xv FROM samp ORDER BY id LIMIT {n_lists})
    )"""
    ]
    prev = "cent0"
    for it in range(1, iterations + 1):
        parts.append(f"""
    assign{it} AS (
      SELECT id, xv, c AS cid FROM (
        SELECT s.id, s.xv, ct.c,
               row_number() OVER (PARTITION BY s.id
                 ORDER BY list_dot_product(s.xv, ct.cv) DESC, ct.c ASC) AS rn
        FROM samp s, {prev} ct) t
      WHERE rn = 1
    ),
    m{it} AS (
      SELECT cid, d, sum(val) / count(*) AS mv
      FROM (SELECT cid, unnest(xv) AS val, generate_subscripts(xv, 1) AS d
            FROM assign{it}) t
      GROUP BY 1, 2
    ),
    craw{it} AS (SELECT cid, list(mv ORDER BY d) AS cv FROM m{it} GROUP BY 1),
    cent{it} AS (
      SELECT p.c,
             CASE WHEN r.cv IS NULL THEN p.cv
                  ELSE {norm('r.cv')} END AS cv
      FROM {prev} p LEFT JOIN craw{it} r ON p.c = r.cid
    )""")
        prev = f"cent{it}"
    parts.append(f"""
    assignF AS (
      SELECT id, c AS list_id FROM (
        SELECT x.id, ct.c,
               row_number() OVER (PARTITION BY x.id
                 ORDER BY list_dot_product(x.xv, ct.cv) DESC, ct.c ASC) AS rn
        FROM xn x, {prev} ct) t
      WHERE rn = 1
    )""")
    return ",".join(parts), prev


def ivf_topk_sql(
    dim: int = 64,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 8,
    sample_size: int = 2048,
    iterations: int = 5,
    query_pred: str = "id < 10",
) -> str:
    """Oracle for similarity.ivf_topk (trainer='sample') on the embeddings
    table. ``query_pred`` is over CTE ``xn(id, xv)`` (id = vec_id)."""
    kmeans, cent = _kmeans_ctes(n_lists, sample_size, iterations)
    parts = [kmeans]
    parts.append(f"""
    probes AS (
      SELECT qid, c AS list_id FROM (
        SELECT q.id AS qid, ct.c,
               row_number() OVER (PARTITION BY q.id
                 ORDER BY list_dot_product(q.xv, ct.cv) DESC, ct.c ASC) AS rn
        FROM (SELECT id, xv FROM xn WHERE {query_pred}) q, {cent} ct) t
      WHERE rn <= {n_probe}
    ),
    cand AS (
      SELECT p.qid AS query_id, a.id AS neighbor_id
      FROM assignF a JOIN probes p ON a.list_id = p.list_id AND a.id != p.qid
    ),
    s AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(eq.v, en.v)
                   / (sqrt(list_dot_product(eq.v, eq.v))
                      * sqrt(list_dot_product(en.v, en.v))), 6) AS cosine
      FROM cand
      JOIN e eq ON eq.id = cand.query_id
      JOIN e en ON en.id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM (SELECT *, CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
          FROM s) t
    WHERE rank <= {k}""")
    return "WITH " + ",".join(parts)


def semdedup_sql(
    n_clusters: int = 16,
    epsilon: float = 0.45,
    sample_size: int = 2048,
    iterations: int = 5,
) -> str:
    """Oracle for similarity.semdedup (trainer='sample'): same k-means
    replay, then per-cluster centroid-similarity ranking and the
    higher-ranked-neighbor removal rule. centroid_sim uses the FLOAT32-
    quantized centroids (Spark ships them via an array<float> DataFrame)
    while assignment uses the full float64 centroids — the oracle mirrors
    both precisions."""
    kmeans, cent = _kmeans_ctes(n_clusters, sample_size, iterations)
    pair_cos = (
        "round(list_dot_product(ea.v, eb.v)"
        " / (sqrt(list_dot_product(ea.v, ea.v))"
        " * sqrt(list_dot_product(eb.v, eb.v))), 6)"
    )
    return "WITH " + kmeans + f""",
    cq AS (SELECT c, CAST(CAST(cv AS FLOAT[]) AS DOUBLE[]) AS cvq
           FROM {cent}),
    ranked AS (
      SELECT e.id, a.list_id,
             round(list_dot_product(e.v, cq.cvq)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(cq.cvq, cq.cvq))), 6)
               AS centroid_sim
      FROM assignF a
      JOIN e ON e.id = a.id
      JOIN cq ON cq.c = a.list_id
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY list_id
                 ORDER BY centroid_sim DESC, id ASC) AS rank
      FROM ranked
    ),
    rm AS (
      SELECT DISTINCT b.id
      FROM rk a
      JOIN rk b ON a.list_id = b.list_id AND a.rank < b.rank
      JOIN e ea ON ea.id = a.id
      JOIN e eb ON eb.id = b.id
      WHERE {pair_cos} > {epsilon}
    )
    SELECT rk.id AS vec_id, rk.list_id, rk.centroid_sim,
           (rm.id IS NULL) AS keep
    FROM rk LEFT JOIN rm ON rk.id = rm.id
    """


def winnow_overlap_sql(
    k: int = 4, window: int = 4, min_shared: int = 2, max_doc_freq: int = 100
) -> str:
    """Oracle for winnow_overlap_pairs."""
    lead_cols = ", ".join(f"lead(th, {j}) OVER w AS t{j}" for j in range(1, k))
    kgram = combine_cw_sql("th", *[f"t{j}" for j in range(1, k)])
    return f"""
    WITH {_TOKS},
    toks AS (SELECT id, pos, {hex60_sql('t')} AS th FROM raw),
    kg0 AS (
      SELECT id, pos, th, {lead_cols}
      FROM toks
      WINDOW w AS (PARTITION BY id ORDER BY pos)
    ),
    kg AS (
      SELECT id, pos, {kgram} AS h
      FROM kg0 WHERE t{k - 1} IS NOT NULL
    ),
    fps AS (
      SELECT DISTINCT id,
             min(h) OVER (PARTITION BY id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
               AS fp
      FROM kg
    ),
    rare AS (
      SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {max_doc_freq}
    ),
    fr AS (SELECT fps.id, fps.fp FROM fps JOIN rare USING (fp))
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
    FROM fr a JOIN fr b ON a.fp = b.fp AND a.id < b.id
    GROUP BY 1, 2 HAVING count(*) >= {min_shared}
    """


# ---------------------------------------------------------------------------
# Product quantization (operators/pq.py) — per-subspace k-means replayed in
# long (subspace, centroid) format, ADC scoring through 6-dp-rounded
# distance tables, exact sequential-cosine re-rank. Same integer-decision
# robustness contract as the IVF replay above (argmin/argmax + ties-to-
# lowest-index survive last-ulp summation differences; every float that
# reaches a comparison is either rounded to a 1e-6 grid or feeds an
# integer decision with ~1e-2-wide boundaries).
# ---------------------------------------------------------------------------


_PQ_D2 = (
    "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}))"
)


def _pq_train_ctes(
    dim: int,
    m: int,
    k_codes: int,
    iterations: int,
    query_pred: str,
    prefix: str = "",
    src_samp: str = "samp",
    src_full: str = "xn",
    emit_query_tables: bool = True,
) -> tuple[str, str]:
    """Shared CTE chain replaying pq_train_codebooks + pq_encode + the
    per-query distance tables. ``src_samp``/``src_full`` are (id, xv)
    CTEs for the training sample and the full corpus — ``samp``/``xn``
    for the raw-vector form, residual CTEs for by_residual (see
    ivfpq_residual_topk_sql). Emits CTEs ``{p}mdim {p}subv {p}cent0..N
    {p}assign/mean/craw{it} {p}subfull {p}codes(id, mi, code)`` and, when
    ``emit_query_tables``, ``{p}qsub {p}dt(qid, mi, code, dist)`` over
    raw query vectors from ``xn``; returns (sql_fragment, prefix)."""
    p = prefix
    sub = dim // m
    slice_expr = f"xv[mi * {sub} + 1 : mi * {sub} + {sub}]"
    d2 = _PQ_D2
    parts = [
        f"""
    {p}mdim AS (SELECT CAST(unnest(range(0, {m})) AS INT) AS mi),
    {p}subv AS (SELECT id, mi, {slice_expr} AS sv
                FROM {src_samp} CROSS JOIN {p}mdim),
    {p}cent0 AS (
      SELECT mi, CAST(rn - 1 AS INT) AS c, sv AS cv
      FROM (SELECT mi, sv,
                   row_number() OVER (PARTITION BY mi ORDER BY id) AS rn
            FROM {p}subv) t
      WHERE rn <= {k_codes}
    )"""
    ]
    prev = f"{p}cent0"
    for it in range(1, iterations + 1):
        assign_d2 = d2.format(a="s.sv", b="ct.cv")
        parts.append(f"""
    {p}assign{it} AS (
      SELECT id, mi, sv, c AS cid FROM (
        SELECT s.id, s.mi, s.sv, ct.c,
               row_number() OVER (PARTITION BY s.id, s.mi
                 ORDER BY {assign_d2} ASC, ct.c ASC) AS rn
        FROM {p}subv s JOIN {prev} ct ON s.mi = ct.mi) t
      WHERE rn = 1
    ),
    {p}mean{it} AS (
      SELECT mi, cid, d, sum(val) / count(*) AS mv
      FROM (SELECT mi, cid, unnest(sv) AS val, generate_subscripts(sv, 1) AS d
            FROM {p}assign{it}) t
      GROUP BY 1, 2, 3
    ),
    {p}craw{it} AS (
      SELECT mi, cid, list(mv ORDER BY d) AS cv
      FROM {p}mean{it} GROUP BY 1, 2
    ),
    {p}cent{it} AS (
      SELECT p.mi, p.c, coalesce(r.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN {p}craw{it} r ON p.mi = r.mi AND p.c = r.cid
    )""")
        prev = f"{p}cent{it}"
    code_d2 = d2.format(a="s.sv", b="ct.cv")
    dt_d2 = d2.format(a="q.qv", b="ct.cv")
    parts.append(f"""
    {p}subfull AS (SELECT id, mi, {slice_expr} AS sv
                   FROM {src_full} CROSS JOIN {p}mdim),
    {p}codes AS (
      SELECT id, mi, c AS code FROM (
        SELECT s.id, s.mi, ct.c,
               row_number() OVER (PARTITION BY s.id, s.mi
                 ORDER BY {code_d2} ASC, ct.c ASC) AS rn
        FROM {p}subfull s JOIN {prev} ct ON s.mi = ct.mi) t
      WHERE rn = 1
    )""")
    if emit_query_tables:
        parts.append(f"""
    {p}qsub AS (
      SELECT id AS qid, mi, {slice_expr} AS qv
      FROM (SELECT id, xv FROM xn WHERE {query_pred}) q CROSS JOIN {p}mdim
    ),
    {p}dt AS (
      SELECT q.qid, q.mi, ct.c AS code, round({dt_d2}, 6) AS dist
      FROM {p}qsub q JOIN {prev} ct ON q.mi = ct.mi
    )""")
    return ",".join(parts), p


def _exact_rerank_sql(k: int) -> str:
    """Closing CTE+SELECT shared by the PQ oracles: exact cosine re-rank of
    ``cand(query_id, neighbor_id)`` against ``e(id, v)``."""
    return f"""
    s AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(eq.v, en.v)
                   / (sqrt(list_dot_product(eq.v, eq.v))
                      * sqrt(list_dot_product(en.v, en.v))), 6) AS cosine
      FROM cand
      JOIN e eq ON eq.id = cand.query_id
      JOIN e en ON en.id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM (SELECT *, CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
          FROM s) t
    WHERE rank <= {k}"""


def pq_topk_sql(
    dim: int = 64,
    m: int = 4,
    k_codes: int = 32,
    k: int = 5,
    candidate_margin: int = 16,
    sample_size: int = 2048,
    iterations: int = 4,
    query_pred: str = "id < 10",
) -> str:
    """Oracle for operators/pq.pq_topk on the embeddings table."""
    norm = _l2norm_sql
    base = f"""
    e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    xn AS (SELECT id, {norm('v')} AS xv FROM e),
    samp AS (SELECT id, xv FROM xn ORDER BY id LIMIT {sample_size})"""
    train, p = _pq_train_ctes(dim, m, k_codes, iterations, query_pred)
    parts = [base, train]
    parts.append(f"""
    adc AS (
      SELECT d.qid AS query_id, c.id AS neighbor_id,
             round(sum(d.dist), 6) AS adc
      FROM {p}codes c
      JOIN {p}dt d ON c.mi = d.mi AND c.code = d.code AND c.id != d.qid
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY adc ASC, neighbor_id ASC) AS rn
        FROM adc) t
      WHERE rn <= {k + candidate_margin}
    ),{_exact_rerank_sql(k)}""")
    return "WITH " + ",".join(parts)


def ivfpq_topk_sql(
    dim: int = 64,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 8,
    m: int = 4,
    k_codes: int = 32,
    candidate_margin: int = 16,
    sample_size: int = 2048,
    ivf_iterations: int = 5,
    pq_iterations: int = 4,
    query_pred: str = "id < 10",
) -> str:
    """Oracle for operators/pq.ivfpq_write_index + ivfpq_query_index
    (trainer='sample') on the embeddings table — the COMPOSED replay: the
    IVF coarse k-means chain (_kmeans_ctes, shared with ivf_topk_sql)
    yields assignF (corpus→list) and the query probes; the PQ chain
    (_pq_train_ctes, shared with pq_topk_sql, 'pq'-prefixed names) yields
    codes and per-query distance tables; ADC then scores ONLY (query,
    neighbor) pairs whose list is probed by that query — exactly the
    partition-pruned scan the Spark index does — before the exact
    re-rank."""
    kmeans, cent = _kmeans_ctes(n_lists, sample_size, ivf_iterations)
    train, p = _pq_train_ctes(
        dim, m, k_codes, pq_iterations, query_pred, prefix="pq"
    )
    parts = [kmeans, train]
    parts.append(f"""
    probes AS (
      SELECT qid, c AS list_id FROM (
        SELECT q.id AS qid, ct.c,
               row_number() OVER (PARTITION BY q.id
                 ORDER BY list_dot_product(q.xv, ct.cv) DESC, ct.c ASC) AS rn
        FROM (SELECT id, xv FROM xn WHERE {query_pred}) q, {cent} ct) t
      WHERE rn <= {n_probe}
    ),
    pairs AS (
      SELECT p.qid, a.id
      FROM assignF a JOIN probes p ON a.list_id = p.list_id AND a.id != p.qid
    ),
    adc AS (
      SELECT pr.qid AS query_id, pr.id AS neighbor_id,
             round(sum(d.dist), 6) AS adc
      FROM pairs pr
      JOIN {p}codes c ON c.id = pr.id
      JOIN {p}dt d ON d.qid = pr.qid AND d.mi = c.mi AND d.code = c.code
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY adc ASC, neighbor_id ASC) AS rn
        FROM adc) t
      WHERE rn <= {k + candidate_margin}
    ),{_exact_rerank_sql(k)}""")
    return "WITH " + ",".join(parts)


def ivfpq_residual_topk_sql(
    dim: int = 64,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 8,
    m: int = 4,
    k_codes: int = 32,
    candidate_margin: int = 16,
    sample_size: int = 2048,
    ivf_iterations: int = 5,
    pq_iterations: int = 4,
    query_pred: str = "id < 10",
) -> str:
    """Oracle for operators/pq.ivfpq_write_index(by_residual=True) +
    ivfpq_query_index — the FAISS-default residual form: the PQ chain
    trains and encodes over RESIDUAL vectors (x − assigned coarse
    centroid, CTEs xnr/sampr), and the per-query distance tables are
    built per PROBED LIST over (q − c_list), joined into ADC on
    (query, neighbor's list)."""
    sub = dim // m
    kmeans, cent = _kmeans_ctes(n_lists, sample_size, ivf_iterations)
    train, p = _pq_train_ctes(
        dim, m, k_codes, pq_iterations, query_pred,
        prefix="pq", src_samp="sampr", src_full="xnr",
        emit_query_tables=False,
    )
    dt_d2 = _PQ_D2.format(a="q.qv", b="ct.cv")
    pq_cent = f"{p}cent{pq_iterations}"
    # MATERIALIZED is load-bearing: every PQ Lloyd iteration references
    # the residual frames, and without it DuckDB re-inlines (and therefore
    # re-runs) the entire coarse k-means chain once per reference —
    # hundreds of seconds instead of seconds.
    resid = f"""
    xnr AS MATERIALIZED (
      SELECT x.id,
             list_transform(range(1, {dim} + 1),
               i -> x.xv[i] - ct.cv[i]) AS xv
      FROM xn x
      JOIN assignF a ON x.id = a.id
      JOIN {cent} ct ON a.list_id = ct.c
    ),
    sampr AS MATERIALIZED (
      SELECT r.id, r.xv FROM xnr r JOIN samp s ON r.id = s.id)"""
    tail = f"""
    probes AS (
      SELECT qid, c AS list_id FROM (
        SELECT q.id AS qid, ct.c,
               row_number() OVER (PARTITION BY q.id
                 ORDER BY list_dot_product(q.xv, ct.cv) DESC, ct.c ASC) AS rn
        FROM (SELECT id, xv FROM xn WHERE {query_pred}) q, {cent} ct) t
      WHERE rn <= {n_probe}
    ),
    {p}qres AS (
      SELECT q.id AS qid, pr.list_id,
             list_transform(range(1, {dim} + 1),
               i -> q.xv[i] - ct.cv[i]) AS rv
      FROM (SELECT id, xv FROM xn WHERE {query_pred}) q
      JOIN probes pr ON pr.qid = q.id
      JOIN {cent} ct ON pr.list_id = ct.c
    ),
    {p}qsub AS (
      SELECT qid, list_id, mi,
             rv[mi * {sub} + 1 : mi * {sub} + {sub}] AS qv
      FROM {p}qres CROSS JOIN {p}mdim
    ),
    {p}dt AS (
      SELECT q.qid, q.list_id, q.mi, ct.c AS code,
             round({dt_d2}, 6) AS dist
      FROM {p}qsub q JOIN {pq_cent} ct ON q.mi = ct.mi
    ),
    pairs AS (
      SELECT p.qid, a.id, a.list_id
      FROM assignF a JOIN probes p ON a.list_id = p.list_id AND a.id != p.qid
    ),
    adc AS (
      SELECT pr.qid AS query_id, pr.id AS neighbor_id,
             round(sum(d.dist), 6) AS adc
      FROM pairs pr
      JOIN {p}codes c ON c.id = pr.id
      JOIN {p}dt d ON d.qid = pr.qid AND d.list_id = pr.list_id
                  AND d.mi = c.mi AND d.code = c.code
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY adc ASC, neighbor_id ASC) AS rn
        FROM adc) t
      WHERE rn <= {k + candidate_margin}
    ),{_exact_rerank_sql(k)}"""
    return "WITH " + ",".join([kmeans, resid, train, tail])


def fuzzy_decontamination_sql(
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    corpus_pred: str = "id % 50 != 0",
    probe_pred: str = "id % 50 = 0",
    threshold: float = 0.5,
) -> str:
    """Oracle for llm_fuzzy_decontamination: cross-corpus banded-LSH
    candidates (corpus side vs probe/eval side) verified with exact
    token-set Jaccard — the same signature CTEs as minhash_lsh_sql, a
    predicate-split cross join instead of the id< self-join, then the
    llm_token_jaccard verification replayed on candidate pairs only."""
    rows_per_band = num_hashes // bands
    lead_cols = ", ".join(
        f"lead(th, {j}) OVER w AS t{j}" for j in range(1, shingle_k)
    )
    shingle = combine_cw_sql("th", *[f"t{j}" for j in range(1, shingle_k)])
    mh_aggs = ",\n           ".join(
        f"min({cw_hash_sql('h', i)}) AS mh{i}" for i in range(num_hashes)
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT id, {b} AS band, {bucket} AS bucket FROM sig".format(
            b=b,
            bucket=combine_cw_sql(
                *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)],
                seed=b + 1,
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH {_TOKS},
    toks AS (SELECT id, pos, {hex60_sql('t')} AS th FROM raw),
    sh0 AS (
      SELECT id, th, {lead_cols}
      FROM toks
      WINDOW w AS (PARTITION BY id ORDER BY pos)
    ),
    sh AS (SELECT id, {shingle} AS h FROM sh0),
    sig AS (
      SELECT id,
           {mh_aggs}
      FROM sh GROUP BY id
    ),
    banded AS (
{band_selects}
    ),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(count(*) AS BIGINT) AS n_bands_matched
      FROM (SELECT * FROM banded WHERE {corpus_pred}) a
      JOIN (SELECT * FROM banded WHERE {probe_pred}) b
        ON a.band = b.band AND a.bucket = b.bucket
      GROUP BY 1, 2
    ),
    dtok AS (
      SELECT DISTINCT id, t FROM raw
    ),
    sizes AS (SELECT id, count(*) AS n FROM dtok GROUP BY id),
    inter AS (
      SELECT c.id_a, c.id_b, c.n_bands_matched, count(*) AS n_common
      FROM cand c
      JOIN dtok ta ON ta.id = c.id_a
      JOIN dtok tb ON tb.id = c.id_b AND tb.t = ta.t
      GROUP BY 1, 2, 3
    )
    SELECT id_a AS doc_id, id_b AS eval_id, n_bands_matched,
           round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE round(n_common / (sa.n + sb.n - n_common), 6) >= {threshold}
    """


def setsim_join_sql(threshold: float = 0.5, shingle_k: int = 3) -> str:
    """Oracle for operators/setsim.setsim_prefix_join: brute-force all-pairs
    exact shingle-set Jaccard, deliberately IGNORANT of the prefix filter —
    if the filter ever drops a qualifying pair (an unsoundness in the prefix
    length or the size bound), the hash comparison breaks. Threshold
    decisions replay the identical integer cross-multiplication."""
    from crowdsorsa_etl_spark.operators.setsim import threshold_fraction

    p, q = threshold_fraction(threshold)
    gram = " || ' ' || ".join(f"arr[i+{j}]" for j in range(shingle_k))
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split({_NORM}, ' ') AS arr FROM documents
    ),
    sh AS (
      SELECT DISTINCT id, {gram} AS shingle
      FROM toks, UNNEST(range(1, len(arr) - {shingle_k} + 2)) AS t(i)
    ),
    sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS ia, b.id AS ib, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT ia AS id_a, ib AS id_b,
           CAST(c AS BIGINT) AS n_common,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON ia = sa.id
    JOIN sizes sb ON ib = sb.id
    WHERE c * {q} >= {p} * (sa.n + sb.n - c)
    """


def editdist_join_sql(max_dist: int = 6) -> str:
    """Oracle for operators/setsim.editdist_join: all-pairs levenshtein over
    the shared normalized text, prefiltered only by the length-difference
    NECESSARY condition (ed(a,b) >= |len(a)-len(b)|, so the filter cannot
    drop a qualifying pair). Independent of the Spark side's LSH candidate
    generation — an LSH recall miss breaks the hash."""
    return f"""
    WITH s AS (
      SELECT doc_id AS id, {_NORM} AS txt, length({_NORM}) AS l
      FROM documents
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.txt, b.txt) AS INT) AS dist
    FROM s a JOIN s b
      ON a.id < b.id AND abs(a.l - b.l) <= {max_dist}
    WHERE levenshtein(a.txt, b.txt) <= {max_dist}
    """


def lsh_audit_sql(
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    thresholds: tuple[float, ...] = (0.2, 0.3, 0.5, 0.7),
) -> str:
    """Oracle for the llm_lsh_audit query: precision/recall of the banded
    MinHash candidate set against exact shingle-set Jaccard ground truth
    (operators/dedup.shingle_jaccard_pairs).

    Both sides are rebuilt here from the SAME shingle CTE fragment the
    candidate oracle uses (_shingle_ctes), so the audit measures the real
    quantity MinHash estimates — a drift between the signature universe and
    the truth universe would silently bias both precision and recall.
    Truth pairs are every pair sharing >= 1 distinct shingle (pairs sharing
    none have jaccard 0 < every threshold); candidates missing from truth
    (possible only via band-bucket hash collision) score jaccard 0.
    """
    rows_per_band = num_hashes // bands
    mh_aggs = ",\n           ".join(
        f"min({cw_hash_sql('h', i)}) AS mh{i}" for i in range(num_hashes)
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT id, {b} AS band, {bucket} AS bucket FROM sig".format(
            b=b,
            bucket=combine_cw_sql(
                *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)],
                seed=b + 1,
            ),
        )
        for b in range(bands)
    )
    nt_cols = ",\n             ".join(
        f"CAST(coalesce(sum(CASE WHEN jac >= CAST({t} AS DOUBLE) THEN 1 "
        f"ELSE 0 END), 0) AS BIGINT) AS nt{i}"
        for i, t in enumerate(thresholds)
    )
    nh_cols = ",\n             ".join(
        f"CAST(coalesce(sum(CASE WHEN jac >= CAST({t} AS DOUBLE) THEN 1 "
        f"ELSE 0 END), 0) AS BIGINT) AS nh{i}"
        for i, t in enumerate(thresholds)
    )
    rows_per_band = num_hashes // bands

    def _scurve(t: float) -> str:
        # analytic banding S-curve 1 - (1 - t^r)^b via an exact multiply
        # chain (no libm pow): both engines do the identical IEEE
        # multiplies, so the column hashes without rounding tricks
        base = f"(1.0 - {'*'.join([f'CAST({t} AS DOUBLE)'] * rows_per_band)})"
        prod = "*".join([base] * bands)
        return f"round(1.0 - {prod}, 6)"

    rows = [
        f"""SELECT CAST({t} AS DOUBLE) AS threshold,
               nt{i} AS n_true, n_cand AS n_candidates, nh{i} AS n_hit,
               round(nh{i} * 1.0 / nullif(n_cand, 0), 6) AS precision,
               round(nh{i} * 1.0 / nullif(nt{i}, 0), 6) AS recall,
               {_scurve(t)} AS expected_collision_prob
        FROM tstats, cstats"""
        for i, t in enumerate(thresholds)
    ]
    return f"""
    WITH {_shingle_ctes(shingle_k)},
    shd AS MATERIALIZED (SELECT DISTINCT id, h FROM sh),
    sizes AS (
      SELECT id, CAST(count(*) AS BIGINT) AS n_sh FROM shd GROUP BY id
    ),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS c
      FROM shd a JOIN shd b ON a.h = b.h AND a.id < b.id
      GROUP BY 1, 2
    ),
    truth AS MATERIALIZED (
      SELECT i.id_a, i.id_b,
             round(i.c * 1.0 / (sa.n_sh + sb.n_sh - i.c), 6) AS jac
      FROM inter i
      JOIN sizes sa ON i.id_a = sa.id
      JOIN sizes sb ON i.id_b = sb.id
    ),
    sig AS (
      SELECT id,
           {mh_aggs}
      FROM sh GROUP BY id
    ),
    banded AS (
{band_selects}
    ),
    cand AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
      GROUP BY 1, 2
    ),
    candj AS (
      SELECT coalesce(t.jac, 0.0) AS jac
      FROM cand c LEFT JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b
    ),
    tstats AS (
      SELECT {nt_cols}
      FROM truth
    ),
    cstats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cand,
             {nh_cols}
      FROM candj
    )
    {" UNION ALL ".join(rows)}
    """


def lpa_sql(
    rounds: int = 4,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
) -> str:
    """Oracle for llm_lpa_communities: unroll the fixed-round synchronous
    label propagation as CTE stages over the same portable-MinHash edges
    (operators/clusters.lpa_communities contract). Per round: neighbor-
    label counts, then the (count DESC, label ASC) argmax via row_number —
    the same deterministic tie-break the Spark side takes with
    max(struct(c, -label)). All-integer state, so the replay is exact."""
    pairs = minhash_lsh_sql(num_hashes, bands, shingle_k)
    parts = [
        f"""
    pairs AS MATERIALIZED ({pairs}),
    sym AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS id, CAST(src AS BIGINT) AS label FROM sym)"""
    ]
    prev = "l0"
    for t in range(1, rounds + 1):
        parts.append(f"""
    cnt{t} AS (
      SELECT s.src AS id, l.label, CAST(count(*) AS BIGINT) AS c
      FROM sym s JOIN {prev} l ON s.dst = l.id
      GROUP BY 1, 2
    ),
    l{t} AS (
      SELECT id, label FROM (
        SELECT id, label,
               row_number() OVER (
                 PARTITION BY id ORDER BY c DESC, label ASC
               ) AS rn
        FROM cnt{t}
      ) WHERE rn = 1
    )""")
        prev = f"l{t}"
    parts.append(f"""
    sizes AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n FROM {prev} GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(l.label, d.doc_id) AS BIGINT) AS community,
           CAST(coalesce(s.n, 1) AS BIGINT) AS community_size
    FROM documents d
    LEFT JOIN {prev} l ON d.doc_id = l.id
    LEFT JOIN sizes s ON l.label = s.label""")
    return "WITH " + ",".join(parts)


def kcore_sql(
    k: int = 2,
    rounds: int = 4,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
) -> str:
    """Oracle for llm_kcore_filter: unroll the fixed-round k-core peel
    (operators/clusters.kcore_filter contract) as CTE stages over the
    same portable-MinHash edges — per round a degree HAVING plus two IN
    filters; all-integer state, exact replay."""
    pairs = minhash_lsh_sql(num_hashes, bands, shingle_k)
    parts = [
        f"""
    pairs AS MATERIALIZED ({pairs}),
    sym AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    e0 AS MATERIALIZED (SELECT src, dst FROM sym)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(f"""
    k{t} AS MATERIALIZED (
      SELECT src AS id FROM e{t - 1} GROUP BY src HAVING count(*) >= {k}
    ),
    e{t} AS MATERIALIZED (
      SELECT src, dst FROM e{t - 1}
      WHERE src IN (SELECT id FROM k{t}) AND dst IN (SELECT id FROM k{t})
    )""")
    parts.append(f"""
    fdeg AS (
      SELECT src AS id, CAST(count(*) AS BIGINT) AS core_deg
      FROM e{rounds} GROUP BY src
    ),
    conv AS (
      SELECT (SELECT count(*) FROM e{rounds})
             = (SELECT count(*) FROM e{rounds - 1}) AS converged
    )
    SELECT v.id,
           CAST(coalesce(fdeg.core_deg, 0) AS BIGINT) AS core_deg,
           fdeg.id IS NOT NULL AS in_core,
           conv.converged
    FROM (SELECT DISTINCT src AS id FROM sym) v
    LEFT JOIN fdeg ON v.id = fdeg.id
    CROSS JOIN conv""")
    return "WITH " + ",".join(parts)
