"""Graphs and entity resolution: PageRank, triangles, recursive CTE,
label propagation, k-core, Fellegi-Sunter record linkage and golden
records.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crowdsorsa_etl_spark import lsh_oracles
from crowdsorsa_etl_spark.lsh_oracles import kcore_sql, lpa_sql
from crowdsorsa_etl_spark.operators.checkpointing import materialize
from crowdsorsa_etl_spark.operators.clusters import (
    connected_components,
    kcore_filter,
    lpa_communities,
)
from crowdsorsa_etl_spark.operators.graph import pagerank, triangle_counts
from crowdsorsa_etl_spark.operators.linkage import (
    fs_link,
    fs_link_multipass,
    fs_weights_sql,
)
from crowdsorsa_etl_spark.queries._shared import (
    _at_rest,
    _lsh_pairs,
    _sf_cache_dir,
    _t,
    register,
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
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 500)
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1_000_000).alias("dst"),
    )
    pr = pagerank(edges, iterations=5)
    return pr.select("node", F.round("rank", 8).alias("rank")).orderBy(
        F.col("rank").desc(), "node"
    ).limit(100)


# ===========================================================================
# q101_triangle_count — triangle counting over the part co-purchase graph
# (parts appearing in the same order), completing the graph tier next to
# PageRank and connected components. Oriented-edge enumeration: each
# triangle is produced exactly once as a < b < c; per-node counts explode
# the corners. The oracle replays the same joins in DuckDB.
# ===========================================================================


@register(
    "q101_triangle_count",
    """
    WITH lp AS (
      SELECT DISTINCT l_orderkey, l_partkey
      FROM lineitem WHERE l_partkey < 300
    ),
    e AS (
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM lp x JOIN lp y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (SELECT unnest([a, b, c]) AS node FROM tri)
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 20
    """,
)
def q101_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by triangle participation in the co-purchase graph."""
    lp = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 300)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        lp.alias("x")
        .join(lp.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
        )
    )
    return (
        triangle_counts(pairs)
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(20)
    )


# ===========================================================================
# q102_recursive_cte — WITH RECURSIVE (Spark 4's recursive CTE support):
# bounded-depth BFS hop distance over the undirected part co-purchase
# graph. The SAME SQL text runs on both engines (SQL-entry parity, the
# q50 pattern lifted to iteration): seeds = parts < 5, edges = co-purchase
# pairs, min hop distance within 2 hops.
# ===========================================================================

_RECURSIVE_SQL = """
    WITH RECURSIVE lp AS (
      SELECT DISTINCT l_orderkey, l_partkey
      FROM lineitem WHERE l_partkey < 100
    ),
    e0 AS (
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM lp x JOIN lp y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
    reach(node, d) AS (
      SELECT DISTINCT a AS node, 0 AS d FROM e WHERE a < 5
      UNION ALL
      SELECT e.b, r.d + 1 FROM reach r JOIN e ON e.a = r.node WHERE r.d < 2
    )
    SELECT node, CAST(min(d) AS INT) AS dist
    FROM reach GROUP BY node ORDER BY node
"""


@register("q102_recursive_cte", _RECURSIVE_SQL)
def q102_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE BFS, one SQL text for both engines."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_RECURSIVE_SQL)


# ===========================================================================
# llm_record_linkage — probabilistic entity resolution (Fellegi–Sunter):
# a deterministic "dirty copy" of customer is derived in-query (char
# dropped from name at custkey%3, synthesized phone digit mangled at %4, segment
# blanked at %5), then linked back against the clean table via blocking
# (nationkey + last-2-digits-of-name — the one equi-join) and literal m/u
# agreement weights. Ground truth is known (same custkey), so the test
# suite can assert recall; the oracle replays blocking, perturbation, and
# the identical python-computed weight literals.
# ===========================================================================

_FS_WEIGHTS = {
    "name": (0.9, 0.001),
    "phone": (0.95, 0.01),
    "acct": (0.99, 0.0005),
    "mkt": (0.95, 0.2),
}
_FS_UPPER, _FS_LOWER = 15.0, 0.0


def _linkage_sql() -> str:
    feats = {
        "name": "d.d_name = c.c_name",
        "phone": "d.d_phone = c.c_phone",
        "acct": "d.d_acctbal = c.c_acctbal",
        "mkt": "d.d_mkt = c.c_mktsegment",
    }
    score = fs_weights_sql(feats, _FS_WEIGHTS)
    return f"""
    WITH dirty AS (
      SELECT c_custkey AS d_custkey, c_nationkey AS d_nationkey,
             CASE WHEN c_custkey % 3 = 0
                  THEN substr(c_name, 1, 2) || substr(c_name, 4)
                  ELSE c_name END AS d_name,
             CASE WHEN c_custkey % 4 = 0
                  THEN substr(printf('%02d-%07d', c_nationkey, c_custkey),
                              1, 9) || '9'
                  ELSE printf('%02d-%07d', c_nationkey, c_custkey)
                  END AS d_phone,
             c_acctbal AS d_acctbal,
             CASE WHEN c_custkey % 5 = 0
                  THEN 'UNKNOWN' ELSE c_mktsegment END AS d_mkt,
             substr(c_name, len(c_name) - 1, 2) AS d_blk
      FROM customer
    ),
    clean AS (
      SELECT c_custkey, c_nationkey, c_name,
             printf('%02d-%07d', c_nationkey, c_custkey) AS c_phone,
             c_acctbal, c_mktsegment,
             substr(c_name, len(c_name) - 1, 2) AS c_blk
      FROM customer
    ),
    scored AS (
      SELECT c.c_custkey, d.d_custkey, round({score}, 6) AS fs_score
      FROM clean c JOIN dirty d
        ON c.c_nationkey = d.d_nationkey AND c.c_blk = d.d_blk
    )
    SELECT c_custkey, d_custkey, fs_score,
           CASE WHEN fs_score >= {_FS_UPPER} THEN 'match'
                WHEN fs_score >= {_FS_LOWER} THEN 'possible'
                ELSE 'nonmatch' END AS fs_class
    FROM scored
    """


@register("llm_record_linkage", _linkage_sql())
def llm_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Fellegi–Sunter linkage of a derived dirty customer copy
    back to the clean table."""
    cust = _t(spark, sf_dir, "customer")
    blk = F.expr("substr(c_name, length(c_name) - 1, 2)")
    clean = cust.select(
        "c_custkey",
        F.col("c_nationkey").alias("blk_nation"),
        "c_name",
        F.format_string("%02d-%07d", "c_nationkey", "c_custkey").alias(
            "c_phone"
        ),
        "c_acctbal",
        "c_mktsegment",
        blk.alias("blk_tail"),
    )
    dirty = cust.select(
        F.col("c_custkey").alias("d_custkey"),
        F.col("c_nationkey").alias("blk_nation"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.expr("substr(c_name, 1, 2)"), F.expr("substr(c_name, 4)")
            ),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
        F.when(
            F.col("c_custkey") % 4 == 0,
            F.concat(
                F.substring(
                    F.format_string(
                        "%02d-%07d", "c_nationkey", "c_custkey"
                    ),
                    1,
                    9,
                ),
                F.lit("9"),
            ),
        )
        .otherwise(
            F.format_string("%02d-%07d", "c_nationkey", "c_custkey")
        )
        .alias("d_phone"),
        F.col("c_acctbal").alias("d_acctbal"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_mkt"),
        blk.alias("blk_tail"),
    )
    out = fs_link(
        clean,
        dirty,
        block_on=["blk_nation", "blk_tail"],
        features={
            "name": F.col("d_name") == F.col("c_name"),
            "phone": F.col("d_phone") == F.col("c_phone"),
            "acct": F.col("d_acctbal") == F.col("c_acctbal"),
            "mkt": F.col("d_mkt") == F.col("c_mktsegment"),
        },
        weights=_FS_WEIGHTS,
        upper=_FS_UPPER,
        lower=_FS_LOWER,
    )
    return out.select("c_custkey", "d_custkey", "fs_score", "fs_class")


# ===========================================================================
# llm_record_linkage_multipass — F-S linkage with the UNION-of-blocking-
# passes discipline (Winkler), upgrading llm_record_linkage's single
# block. Realism upgrade over the r11 entry: the dirty copy's blocking
# keys derive from its own DIRTY fields (you only ever have the dirty
# record), and the name perturbation (k%3: drop the LAST char) genuinely
# breaks the name-tail key — so pass 1 alone misses every %3 record.
# Pass 2 blocks on the phone suffix (k%4 mangles the last digit to
# (d+1)%10, guaranteed different), so it alone misses every %4 record.
# The union's honest residual false negatives are exactly the records
# mangled in BOTH pass keys (k%12 == 0) — asserted by the recall test.
# Candidates dedup on the pair key before ONE scoring pass. The oracle
# replays both passes, the UNION DISTINCT, and the identical weight
# literals — a dropped pass, a double-scored pair, or a wrong blocking
# derivation each break the hash.
# ===========================================================================


def _mp_linkage_sql() -> str:
    feats = {
        "name": "d.d_name = c.c_name",
        "phone": "d.d_phone = c.c_phone",
        "acct": "d.d_acctbal = c.c_acctbal",
        "mkt": "d.d_mkt = c.c_mktsegment",
    }
    score = fs_weights_sql(feats, _FS_WEIGHTS)
    return f"""
    WITH clean AS (
      SELECT c_custkey, c_nationkey, c_name,
             printf('%02d-%07d', c_nationkey, c_custkey) AS c_phone,
             c_acctbal, c_mktsegment,
             substr(c_name, len(c_name) - 1, 2) AS blk_tail,
             substr(printf('%02d-%07d', c_nationkey, c_custkey), 8, 3)
               AS blk_ph
      FROM customer
    ),
    dirty0 AS (
      SELECT c_custkey AS d_custkey, c_nationkey AS d_nationkey,
             CASE WHEN c_custkey % 3 = 0
                  THEN substr(c_name, 1, len(c_name) - 1)
                  ELSE c_name END AS d_name,
             CASE WHEN c_custkey % 4 = 0
                  THEN substr(printf('%02d-%07d', c_nationkey, c_custkey),
                              1, 9)
                       || CAST((c_custkey % 10 + 1) % 10 AS VARCHAR)
                  ELSE printf('%02d-%07d', c_nationkey, c_custkey)
                  END AS d_phone,
             c_acctbal AS d_acctbal,
             CASE WHEN c_custkey % 5 = 0
                  THEN 'UNKNOWN' ELSE c_mktsegment END AS d_mkt
      FROM customer
    ),
    dirty AS (
      SELECT *, substr(d_name, len(d_name) - 1, 2) AS blk_tail,
             substr(d_phone, 8, 3) AS blk_ph
      FROM dirty0
    ),
    cands AS (
      SELECT DISTINCT c_custkey, d_custkey FROM (
        SELECT c.c_custkey, d.d_custkey
        FROM clean c JOIN dirty d
          ON c.c_nationkey = d.d_nationkey AND c.blk_tail = d.blk_tail
        UNION ALL
        SELECT c.c_custkey, d.d_custkey
        FROM clean c JOIN dirty d
          ON c.c_nationkey = d.d_nationkey AND c.blk_ph = d.blk_ph
      )
    ),
    scored AS (
      SELECT c.c_custkey, d.d_custkey, round({score}, 6) AS fs_score
      FROM cands
      JOIN clean c USING (c_custkey)
      JOIN dirty d USING (d_custkey)
    )
    SELECT c_custkey, d_custkey, fs_score,
           CASE WHEN fs_score >= {_FS_UPPER} THEN 'match'
                WHEN fs_score >= {_FS_LOWER} THEN 'possible'
                ELSE 'nonmatch' END AS fs_class
    FROM scored
    """


def _mp_linkage_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multipass linkage plan itself (two blocking passes over
    dirty-derived keys, unioned + deduped, one F-S scoring pass) —
    materialized per fixture by queries/_shared._fs_scored_pairs and
    shared with llm_entity_resolution."""
    cust = _t(spark, sf_dir, "customer")
    phone = F.format_string("%02d-%07d", "c_nationkey", "c_custkey")
    clean = cust.select(
        "c_custkey",
        F.col("c_nationkey").alias("blk_nation"),
        "c_name",
        phone.alias("c_phone"),
        "c_acctbal",
        "c_mktsegment",
        F.expr("substr(c_name, length(c_name) - 1, 2)").alias("blk_tail"),
        F.substring(phone, 8, 3).alias("blk_ph"),
    )
    d_name = F.when(
        F.col("c_custkey") % 3 == 0,
        F.expr("substr(c_name, 1, length(c_name) - 1)"),
    ).otherwise(F.col("c_name"))
    d_phone = F.when(
        F.col("c_custkey") % 4 == 0,
        F.concat(
            F.substring(phone, 1, 9),
            ((F.col("c_custkey") % 10 + 1) % 10).cast("string"),
        ),
    ).otherwise(phone)
    dirty = cust.select(
        F.col("c_custkey").alias("d_custkey"),
        F.col("c_nationkey").alias("blk_nation"),
        d_name.alias("d_name"),
        d_phone.alias("d_phone"),
        F.col("c_acctbal").alias("d_acctbal"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_mkt"),
    ).select(
        "*",
        F.expr("substr(d_name, length(d_name) - 1, 2)").alias("blk_tail"),
        F.substring(F.col("d_phone"), 8, 3).alias("blk_ph"),
    )
    out = fs_link_multipass(
        clean,
        dirty,
        left_id="c_custkey",
        right_id="d_custkey",
        block_passes=[
            ["blk_nation", "blk_tail"],
            ["blk_nation", "blk_ph"],
        ],
        features={
            "name": F.col("d_name") == F.col("c_name"),
            "phone": F.col("d_phone") == F.col("c_phone"),
            "acct": F.col("d_acctbal") == F.col("c_acctbal"),
            "mkt": F.col("d_mkt") == F.col("c_mktsegment"),
        },
        weights=_FS_WEIGHTS,
        upper=_FS_UPPER,
        lower=_FS_LOWER,
    )
    return out.select("c_custkey", "d_custkey", "fs_score", "fs_class")


def _fs_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fixture materialized multipass Fellegi–Sunter pair table
    (c_custkey, d_custkey, fs_score, fs_class) — the scored linkage
    output shared by llm_record_linkage_multipass and
    llm_entity_resolution (VERDICT r11 next-#1: the ER chain rebuilt the
    candidate pairs from scratch per query). Deterministic: blocking keys
    and score literals are pure functions of the customer fixture."""
    path = _at_rest(
        os.path.join(
            _sf_cache_dir(sf_dir, "fspairs_v1", "customer"), "pairs.parquet"
        ),
        lambda stage: _mp_linkage_frame(spark, sf_dir).write.parquet(stage),
    )
    return spark.read.parquet(path)


@register("llm_record_linkage_multipass", _mp_linkage_sql())
def llm_record_linkage_multipass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two blocking passes (nation+name-tail, nation+phone-suffix) over
    dirty-derived keys, unioned + deduped, then one F-S scoring pass —
    served from the per-fixture materialized pair table (the registry-at-
    rest posture the downstream ER chain reads)."""
    return _fs_scored_pairs(spark, sf_dir)


# ===========================================================================
# llm_entity_resolution — the end-to-end ER pipeline a metadata
# reconciliation run ships: multipass-blocked Fellegi–Sunter pairs
# (llm_record_linkage_multipass), 'match'-class edges only, connected
# components over the bipartite clean/dirty node set (pointer-doubling
# min-label propagation, O(log diameter) rounds), then ONE aggregation to
# the golden-record table: members per entity and the canonical clean
# record (min clean custkey — every component contains a clean node
# because edges are bipartite). Nodes encode as 2·key (clean) / 2·key+1
# (dirty); at a key domain near 2^62 switch to a (kind, key) struct —
# the encoding is a fixture convenience, not a design constraint.
# The oracle replays the full chain: both blocking passes, the score
# literals, the match threshold, a recursive transitive closure for the
# components (entity clusters are small by construction), and the same
# golden-record aggregation.
# ===========================================================================


def _entity_resolution_sql() -> str:
    return f"""
    WITH RECURSIVE
    scored AS ({_mp_linkage_sql()}),
    m AS (SELECT c_custkey, d_custkey FROM scored WHERE fs_class = 'match'),
    edges AS (
      SELECT 2 * c_custkey AS src, 2 * d_custkey + 1 AS dst FROM m
    ),
    sym AS (
      SELECT src, dst FROM edges
      UNION
      SELECT dst AS src, src AS dst FROM edges
    ),
    reach(id, r) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT reach.id, s.dst
      FROM reach JOIN sym s ON reach.r = s.src
      WHERE s.dst != reach.id
    ),
    comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
    nodes AS (
      SELECT DISTINCT node, ck, is_clean FROM (
        SELECT 2 * c_custkey AS node, c_custkey AS ck, true AS is_clean
        FROM m
        UNION ALL
        SELECT 2 * d_custkey + 1 AS node, d_custkey AS ck, false AS is_clean
        FROM m
      )
    ),
    labeled AS (
      SELECT n.node, n.ck, n.is_clean, c.component
      FROM nodes n JOIN comp c ON n.node = c.id
    ),
    ent AS (
      SELECT component AS entity_id,
             CAST(count(*) AS BIGINT) AS n_records,
             CAST(sum(CASE WHEN is_clean THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clean,
             CAST(sum(CASE WHEN is_clean THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dirty,
             min(CASE WHEN is_clean THEN ck END) AS canonical_custkey
      FROM labeled GROUP BY component
    )
    SELECT e.entity_id, e.n_records, e.n_clean, e.n_dirty,
           e.canonical_custkey, c.c_name AS canonical_name
    FROM ent e JOIN customer c ON e.canonical_custkey = c.c_custkey
    """


@register("llm_entity_resolution", _entity_resolution_sql())
def llm_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record table: match-class F-S pairs -> connected components
    -> per-entity member counts + canonical clean record."""
    pairs = _fs_scored_pairs(spark, sf_dir).filter(
        F.col("fs_class") == "match"
    )
    # materialize the match-pair set ONCE (r16, guide §2.4): ``m`` feeds
    # the edge list AND both node-union branches — without this each
    # reference re-ran the full F-S blocking + scoring pipeline. Match
    # pairs are the bounded output of the blocking join.
    m = materialize(pairs.select("c_custkey", "d_custkey"))
    edges = m.select(
        (F.col("c_custkey") * 2).alias("id_a"),
        (F.col("d_custkey") * 2 + 1).alias("id_b"),
    )
    comp = connected_components(edges)
    nodes = (
        m.select(
            (F.col("c_custkey") * 2).alias("node"),
            F.col("c_custkey").alias("ck"),
            F.lit(True).alias("is_clean"),
        )
        .unionAll(
            m.select(
                (F.col("d_custkey") * 2 + 1).alias("node"),
                F.col("d_custkey").alias("ck"),
                F.lit(False).alias("is_clean"),
            )
        )
        .distinct()
    )
    labeled = nodes.join(comp, nodes.node == comp.id).select(
        "node", "ck", "is_clean", "component"
    )
    ent = labeled.groupBy(F.col("component").alias("entity_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        F.sum(F.when(F.col("is_clean"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clean"),
        F.sum(F.when(F.col("is_clean"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_dirty"),
        F.min(F.when(F.col("is_clean"), F.col("ck"))).alias(
            "canonical_custkey"
        ),
    )
    cust = _t(spark, sf_dir, "customer")
    return ent.join(
        cust.select("c_custkey", F.col("c_name").alias("canonical_name")),
        ent.canonical_custkey == F.col("c_custkey"),
    ).select(
        "entity_id",
        "n_records",
        "n_clean",
        "n_dirty",
        "canonical_custkey",
        "canonical_name",
    )


# ===========================================================================
# llm_lpa_communities — label-propagation communities over the SAME
# memoized dup-graph edges the cluster registry consumes: CC answers
# "reachable at all" (one bridge doc chains two 50-doc templates into
# one 100-doc cluster), LPA answers "densely tied" (each template keeps
# its own label; the bridge joins whichever side out-votes). Synchronous,
# fixed 4 rounds, (count DESC, label ASC) argmax — deterministic on both
# engines, so the oracle replays every round as unrolled CTE stages over
# the same portable-MinHash edge SQL (the pagerank_sql posture). Output
# joins the corpus: isolated docs form their own singleton community.
# Scale: O(rounds * |E|) — two uniform-key shuffles per round, lineage
# truncated; no transitive closure, no component-sized skew (a vertex's
# round state is its neighbor multiset, never the whole community).
# ===========================================================================

_LPA_ROUNDS = 4


def _lpa_sql() -> str:
    return lpa_sql(rounds=_LPA_ROUNDS)


@register("llm_lpa_communities", _lpa_sql())
def llm_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round synchronous LPA communities over the memoized LSH dup
    graph, every doc labeled (singletons keep their own id)."""
    docs = _t(spark, sf_dir, "documents")
    labels = lpa_communities(
        _lsh_pairs(spark, sf_dir).select("id_a", "id_b"), rounds=_LPA_ROUNDS
    )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # sizes is one row per community — broadcastable; lab is one row per
    # VERTEX in the dup graph (corpus-proportional), so the docs join must
    # stay planner-chosen (a forced broadcast would OOM the driver at the
    # scales this query is positioned for)
    lab = labels.join(F.broadcast(sizes), "label")
    return docs.join(lab, docs.doc_id == lab.id, "left").select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id"))
        .cast("bigint")
        .alias("community"),
        F.coalesce(F.col("n"), F.lit(1))
        .cast("bigint")
        .alias("community_size"),
    )


# ===========================================================================
# llm_kcore_filter — fixed-round k-core peel over the memoized LSH dup
# graph: the density rung between CC ("reachable") and LPA ("densely
# tied") — a doc chained in through ONE bridge edge is not 2-core, which
# is the template-farm/spam-ring membership test. Same engine-portable
# contract as LPA: synchronous rounds, fixed count, converged flag, SQL
# oracle replaying every peel round as unrolled CTEs over the identical
# portable-MinHash edge derivation. Scale: O(rounds·|E|) — one degree
# agg + two semi-joins per round, lineage truncated, no force-broadcast
# of the corpus-proportional keep list.
# ===========================================================================

_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_sql() -> str:
    return kcore_sql(k=_KCORE_K, rounds=_KCORE_ROUNDS)


@register("llm_kcore_filter", _kcore_sql())
def llm_kcore_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core membership + core degree per dup-graph vertex."""
    return kcore_filter(
        _lsh_pairs(spark, sf_dir).select("id_a", "id_b"),
        k=_KCORE_K,
        rounds=_KCORE_ROUNDS,
    )
