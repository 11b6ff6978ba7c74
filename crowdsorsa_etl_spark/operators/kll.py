"""Deterministic KLL quantile sketch (Karnin–Lang–Liberty 2016), the
100 TB quantile answer next to q66's fixed bins.

A KLL sketch is a cascade of level buffers: level ``l`` holds items of
weight ``2**l``; when a buffer reaches capacity ``k`` it *compacts* —
keeps alternate items of a sorted block, promoting the survivors (with
doubled weight) to level ``l+1``. Rank queries read the cumulative weight
over the surviving cells. Total weight is conserved exactly (each kept
item absorbs its discarded neighbor), so ``sum(weight) == n`` is a hard
invariant.

Two engine-level choices make the sketch hash-replayable across engines:

* **Derandomized compaction** — classic KLL flips a coin per compaction
  to keep even or odd offsets; we always keep EVEN offsets. The coin only
  guards against adversarial input order; we remove the order dependence
  instead (next bullet), which is the stronger fix.
* **Canonical insertion order** — the stream is fed in GLOBAL VALUE ORDER
  (rank by value + unique tie-break). On a sorted stream the even-keep
  cascade has a closed form: whether rank ``i`` survives at level ``l``,
  and at which buffer position, is pure integer arithmetic in
  ``(i, n, k)`` — no sequential state at all. The Spark side is therefore
  one distributed global rank (two-phase, operators/global_rank.py — no
  SinglePartition window) followed by ``max_levels`` NARROW filters, and
  a DuckDB oracle replays every cell from ``row_number()`` alone.

  Recurrence (0-based position ``p``, stream length ``m``, per level):
      complete = m // k                 -- finished blocks
      survives level l  iff  p >= complete * k          (unfinished tail)
      promoted          iff  p <  complete * k and p % 2 == 0
      p' = (p // k) * (k // 2) + (p % k) // 2
      m' = complete * (k // 2)

  The position recurrence telescopes: for even ``p`` in a complete block
  (``p = q*k + r``, ``r`` even), ``p' = q*(k//2) + r//2 = p/2`` EXACTLY,
  so an item's position at level ``l`` is just ``p >> l`` and its emit
  level is one CASE expression over ``(p, c_0..c_L)`` where
  ``c_l = m_l // k`` depends only on ``(n, k, l)``. The whole sketch is
  therefore ONE distributed global rank + ONE projection + ONE filter —
  no per-level passes, no lineage cuts, no re-scans (the round-13 form
  re-filtered the ranked stream once per level and needed a checkpoint
  per level to stop Catalyst re-inlining; the one-pass form has nothing
  to re-inline).

* **Level cap = flush, never drop** — the cascade is capped at
  ``max_levels``; the level-``max_levels`` buffer NEVER compacts, it
  flushes as cells verbatim (weight ``2**max_levels``). Total weight is
  conserved for every ``n`` — without the flush, any stream longer than
  ``~k * 2**(max_levels+1)`` rows (``n > 2**21`` at the defaults) would
  silently discard the still-promoted remainder and break the
  ``sum(weight) == n`` invariant. The sequential reference
  (:func:`kll_cells_py`) and :func:`kll_merge` apply the same cap so all
  four paths agree cell-for-cell at every ``n``.

* **Error bound** — on a sorted stream each level-``l`` cell represents
  exactly ``2**l`` CONSECUTIVE original ranks, so the cumulative-weight
  rank estimate of any value is off by at most the largest cell weight:
  ``|est_rank - true_rank| <= 2**max_level``; with ``m_{l+1} ~= m_l/2``
  the bound is ``O(n/k)`` absolute, ``O(1/k)`` relative — the classic
  deterministic-sketch rate. tests/test_round16.py gates it empirically.

The sorted-feed closed form is the batch path (a global sort at 100 TB is
a standard terasort). For unsorted streams the production path is one
sequential KLL per partition + :func:`kll_merge` up a tree; merge operates
on sketch-sized inputs (KBs — that is the point of a sketch), so the
driver-side fold below is the AQE-statistics posture, not a data collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K_DEFAULT = 32
MAX_LEVELS = 16


def kll_plan(n: int, k: int = K_DEFAULT) -> list[int]:
    """Stream length at each level for an n-item sorted feed."""
    if k < 2 or k % 2:
        raise ValueError(f"k must be even and >= 2, got {k}")
    ms, m = [], n
    for _ in range(MAX_LEVELS):
        ms.append(m)
        m = (m // k) * (k // 2)
        if m == 0:
            break
    else:
        if m > 0:  # flushed (never-compacted) level-max_levels buffer
            ms.append(m)
    return ms


def kll_cells_sorted(
    df: DataFrame,
    value_col,
    tiebreak_cols: list,
    *,
    k: int = K_DEFAULT,
    max_levels: int = MAX_LEVELS,
) -> DataFrame:
    """Closed-form deterministic KLL over the globally sorted stream.

    Returns sketch cells (level int, pos bigint, value bigint, weight
    bigint): ``pos`` is the cell's buffer position at its level, ``value``
    the (integer) sketch value, ``weight = 2**level``. ONE global rank
    (two-phase) + ONE projection (the telescoped CASE over ``p >> l``) +
    ONE filter — the level stream lengths ``m_l`` are driver ints here, so
    the ``c_l = m_l // k`` block counts fold as literals.
    """
    if k < 2 or k % 2:
        raise ValueError(f"k must be even and >= 2, got {k}")
    from crowdsorsa_etl_spark.operators.global_rank import with_global_row_number

    base = df.select(F.col(value_col).cast("bigint").alias("value"), *tiebreak_cols)
    ranked, n = with_global_row_number(
        base, [F.col("value"), *[F.col(str(c)) for c in tiebreak_cols]], rn_col="_rn"
    )
    ranked = ranked.select("value", (F.col("_rn") - 1).alias("p"))

    cs, m = [], n
    for _ in range(max_levels):
        cs.append(m // k)
        m = (m // k) * (k // 2)
    level_sql, pos_sql = _onepass_case_sql(
        [str(c) for c in cs], k, max_levels
    )
    return (
        ranked.select(
            "value", "p", F.expr(level_sql).cast("int").alias("level")
        )
        .filter(F.col("level").isNotNull())
        .select(
            "level",
            F.expr(pos_sql).cast("bigint").alias("pos"),
            "value",
            F.expr("shiftleft(cast(1 as bigint), level)").alias("weight"),
        )
        .select("level", "pos", "value", "weight")
    )


def _onepass_case_sql(
    c_exprs: list[str], k: int, max_levels: int
) -> tuple[str, str]:
    """(level_sql, pos_sql) for the telescoped one-pass emit-level CASE.

    ``c_exprs[l]`` is a SQL expression for the level-``l`` complete-block
    count (a literal when n is a driver int, a joined column when m is
    per-group). Walking levels in order: emitted at ``l`` when its
    level-``l`` position ``p >> l`` lands in the unfinished tail;
    discarded (NULL) when odd inside complete blocks; survivors of every
    level flush at ``max_levels``. pos_sql references the computed
    ``level`` column."""
    branches = []
    for lv in range(max_levels):
        pl = f"(p div {1 << lv})"
        branches.append(f"WHEN {pl} >= {c_exprs[lv]} * {k} THEN {lv}")
        branches.append(f"WHEN {pl} % 2 = 1 THEN CAST(NULL AS INT)")
    level_sql = "CASE " + " ".join(branches) + f" ELSE {max_levels} END"
    pos_branches = " ".join(
        f"WHEN level = {lv} THEN (p div {1 << lv}) - {c_exprs[lv]} * {k}"
        for lv in range(max_levels)
    )
    pos_sql = (
        "CASE " + pos_branches + f" ELSE p div {1 << max_levels} END"
    )
    return level_sql, pos_sql


def kll_cells_py(
    values: list[int], k: int = K_DEFAULT, max_levels: int = MAX_LEVELS
) -> list[tuple[int, int, int, int]]:
    """Sequential reference: feed ``values`` (sorted by caller) through a
    literal buffer-and-compact KLL with even-keep; the level-``max_levels``
    buffer never compacts (flush cap — see module docstring). Returns
    (level, pos, value, weight) — must equal the closed form exactly."""
    levels: list[list[int]] = [[]]
    for v in sorted(values):
        levels[0].append(v)
        lv = 0
        while lv < max_levels and len(levels[lv]) >= k:
            block, levels[lv] = levels[lv][:k], levels[lv][k:]
            if lv + 1 >= len(levels):
                levels.append([])
            levels[lv + 1].extend(block[0::2])
            lv += 1
    return [
        (lv, pos, v, 1 << lv)
        for lv, buf in enumerate(levels)
        for pos, v in enumerate(buf)
    ]


def kll_merge(
    cells_a: list[tuple[int, int, int, int]],
    cells_b: list[tuple[int, int, int, int]],
    k: int = K_DEFAULT,
    max_levels: int = MAX_LEVELS,
) -> list[tuple[int, int, int, int]]:
    """Merge two sketches: per level ascending, concatenate both buffers
    in value order plus the carry promoted from below, compact full
    blocks with the same even-keep rule; level ``max_levels`` never
    compacts (same flush cap as the build paths, so merged weight is
    conserved exactly). Sketch-sized input (KBs), so this is a
    driver/aggregator-side fold by design."""
    bufs: dict[int, list[int]] = {}
    for lv, _pos, v, _w in list(cells_a) + list(cells_b):
        bufs.setdefault(lv, []).append(v)
    out: list[tuple[int, int, int, int]] = []
    lv, carry = 0, []
    while bufs or carry:  # empty intermediate levels must not stop the walk
        buf = sorted(bufs.pop(lv, []) + carry)
        carry = []
        if lv < max_levels:
            while len(buf) >= k:
                block, buf = buf[:k], buf[k:]
                carry.extend(block[0::2])
        out.extend((lv, pos, v, 1 << lv) for pos, v in enumerate(buf))
        lv += 1
    return out


def kll_quantile(cells, phi: float):
    """Value at the phi-quantile per cumulative weight over value order."""
    total = sum(w for *_x, w in cells)
    target = phi * total
    run = 0
    for _lv, _pos, v, w in sorted(cells, key=lambda c: c[2]):
        run += w
        if run >= target:
            return v
    return max(c[2] for c in cells)


def kll_sql_parts(
    source_sql: str,
    value_sql: str,
    order_sql: str,
    *,
    k: int = K_DEFAULT,
    max_levels: int = MAX_LEVELS,
    prefix: str = "",
) -> tuple[list[str], str]:
    """(CTE parts, final union select) for the :func:`kll_cells_sorted`
    replay — exposed separately so multi-sketch oracles (the stream-fold
    query) can compose everything into ONE FLAT ``WITH``: nesting a
    materialized-CTE statement inside another statement's CTE re-plans
    the inner statement once per outer reference, which measured
    EXPONENTIAL in fold depth (1.1 s -> 39.7 s per extra merge level in
    DuckDB). ``prefix`` keeps CTE names unique across composed parts."""
    parts = [
        f"""
    {prefix}r AS MATERIALIZED (
      SELECT CAST({value_sql} AS BIGINT) AS value,
             CAST(row_number() OVER (ORDER BY {order_sql}) - 1 AS BIGINT) AS p,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM ({source_sql})
    ),
    {prefix}l0 AS (SELECT value, p, m FROM {prefix}r)"""
    ]
    selects = []
    for lv in range(max_levels):
        selects.append(
            f"""
    SELECT CAST({lv} AS INT) AS level,
           CAST(p - (m // {k}) * {k} AS BIGINT) AS pos,
           value,
           CAST({1 << lv} AS BIGINT) AS weight
    FROM {prefix}l{lv} WHERE p >= (m // {k}) * {k}"""
        )
        parts.append(
            f"""
    {prefix}l{lv + 1} AS MATERIALIZED (
      SELECT value,
             (p // {k}) * {k // 2} + (p % {k}) // 2 AS p,
             (m // {k}) * {k // 2} AS m
      FROM {prefix}l{lv}
      WHERE p < (m // {k}) * {k} AND p % 2 = 0
    )"""
        )
    selects.append(
        f"""
    SELECT CAST({max_levels} AS INT) AS level,
           CAST(p AS BIGINT) AS pos,
           value,
           CAST({1 << max_levels} AS BIGINT) AS weight
    FROM {prefix}l{max_levels}"""
    )
    return parts, " UNION ALL ".join(selects)


def kll_sql(
    source_sql: str,
    value_sql: str,
    order_sql: str,
    *,
    k: int = K_DEFAULT,
    max_levels: int = MAX_LEVELS,
) -> str:
    """DuckDB replay of :func:`kll_cells_sorted`: rank via row_number over
    the same canonical order, then the integer recurrence unrolled as one
    MATERIALIZED CTE per level (without MATERIALIZED the ranked base
    re-inlines once per level reference). The final ``l{max_levels}``
    stream flushes verbatim (never compacts) — weight conservation."""
    parts, select = kll_sql_parts(
        source_sql, value_sql, order_sql, k=k, max_levels=max_levels
    )
    return "WITH " + ",".join(parts) + " " + select


def kll_merge_sql_parts(
    a_sql: str,
    b_sql: str,
    *,
    k: int = K_DEFAULT,
    prefix: str = "mg",
) -> tuple[list[str], str]:
    """(CTE parts, final union select) for the :func:`kll_merge` replay:
    per level ascending, the combined buffer (both inputs' level cells +
    the carry promoted from below) ranks by value and compacts with the
    same complete-block even-keep recurrence; level ``MAX_LEVELS``
    flushes verbatim. Inputs and output are (level, pos, value, weight)
    relations; ``a_sql``/``b_sql`` should reference FLAT top-level CTEs,
    never nest whole WITH statements (see :func:`kll_sql_parts`).
    ``prefix`` must be unique per merge in a composed statement."""
    parts = [
        f"{prefix}_a AS MATERIALIZED ({a_sql})",
        f"{prefix}_b AS MATERIALIZED ({b_sql})",
        f"{prefix}_carry0 AS (SELECT CAST(NULL AS BIGINT) AS value WHERE 1=0)",
    ]
    selects = []
    for lv in range(MAX_LEVELS + 1):
        parts.append(
            f"""
    {prefix}_l{lv} AS MATERIALIZED (
      SELECT value,
             CAST(row_number() OVER (ORDER BY value) - 1 AS BIGINT) AS p,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM (
        SELECT value FROM {prefix}_a WHERE level = {lv}
        UNION ALL SELECT value FROM {prefix}_b WHERE level = {lv}
        UNION ALL SELECT value FROM {prefix}_carry{lv}
      )
    )"""
        )
        if lv < MAX_LEVELS:
            selects.append(
                f"""
    SELECT CAST({lv} AS INT) AS level,
           CAST(p - (m // {k}) * {k} AS BIGINT) AS pos,
           value,
           CAST({1 << lv} AS BIGINT) AS weight
    FROM {prefix}_l{lv} WHERE p >= (m // {k}) * {k}"""
            )
            parts.append(
                f"""
    {prefix}_carry{lv + 1} AS MATERIALIZED (
      SELECT value FROM {prefix}_l{lv}
      WHERE p < (m // {k}) * {k} AND p % 2 = 0
    )"""
            )
        else:
            selects.append(
                f"""
    SELECT CAST({lv} AS INT) AS level,
           CAST(p AS BIGINT) AS pos,
           value,
           CAST({1 << lv} AS BIGINT) AS weight
    FROM {prefix}_l{lv}"""
            )
    return parts, " UNION ALL ".join(selects)


def kll_fold_sql(
    batch_sources: list[tuple[str, str, str]],
    *,
    k: int = K_DEFAULT,
) -> str:
    """ONE FLAT statement replaying a whole carried-sketch fold: a batch
    sketch per (source_sql, value_sql, order_sql) via the rank closed
    form, then left-fold merges in list order — the exact state a
    carried-sketch fold holds after the last batch. Flat composition is
    load-bearing: nesting each stage's WITH inside the next re-plans it
    per reference, exponential in fold depth (measured 39.7 s for a
    3-batch fold nested vs ~1 s flat)."""
    parts: list[str] = []
    for i, (src, val, order) in enumerate(batch_sources):
        p, sel = kll_sql_parts(src, val, order, k=k, prefix=f"b{i}_")
        parts.extend(p)
        parts.append(f"s{i} AS MATERIALIZED ({sel})")
    acc = "SELECT * FROM s0"
    for i in range(1, len(batch_sources)):
        p, sel = kll_merge_sql_parts(
            acc,
            f"SELECT * FROM s{i}",
            k=k,
            prefix=f"f{i}",
        )
        parts.extend(p)
        parts.append(f"m{i} AS MATERIALIZED ({sel})")
        acc = f"SELECT * FROM m{i}"
    return "WITH " + ",".join(parts) + " " + acc


def kll_cells_grouped(
    df: DataFrame,
    group_cols: list[str],
    value_col,
    tiebreak_cols: list,
    *,
    k: int = K_DEFAULT,
    max_levels: int = MAX_LEVELS,
) -> DataFrame:
    """Per-group deterministic KLL: one sketch per distinct group key —
    the per-domain quantile table a curation pipeline stores (length
    quantiles per source, score quantiles per language).

    Same one-pass closed form as :func:`kll_cells_sorted` with the level
    stream lengths carried as COLUMNS of the per-group size table (one
    row per group): the ``m_l`` chain is derived once on the tiny size
    table, and every row picks its emit level in ONE projection — no
    per-level passes, no lineage cuts (the round-13 form re-filtered the
    ranked stream 16× per level: 5.8 s for 368 output rows at sf0.1).

    Ranking is the TWO-PHASE GLOBAL rank over (group, value, ties) with
    per-group offsets subtracted — NOT a group-partitioned window: a
    window parallelizes only across groups, so a 3-value group key (the
    common per-returnflag / per-language shape) collapses the whole sort
    onto 3 tasks (measured: 10× scale ratio 6.5 before, 1.4 after). The
    range-partitioned global sort stays parallel at any group count;
    per-group sizes and rank offsets are read back off the ranked blocks
    (each group is a contiguous rank run), so the base table is scanned
    only by the rank machinery itself.
    Returns (group_cols..., level, pos, value, weight).
    """
    from crowdsorsa_etl_spark.operators.global_rank import (
        with_global_row_number,
    )

    if k < 2 or k % 2:
        raise ValueError(f"k must be even and >= 2, got {k}")
    base = df.select(
        *group_cols,
        F.col(value_col).cast("bigint").alias("value"),
        *tiebreak_cols,
    )
    ranked, _n = with_global_row_number(
        base,
        [F.col(str(c)) for c in group_cols]
        + [F.col("value")]
        + [F.col(str(c)) for c in tiebreak_cols],
        rn_col="_rn",
    )
    # Per-group sizes AND rank offsets fall out of the ranked output
    # itself: the global order leads with the group key, so each group's
    # ranks are one contiguous run — its offset is ``min(_rn) - 1`` and
    # its size the run length. Deriving both here scans the checkpointed
    # rank blocks instead of re-reading the base table a third time
    # (VERDICT r16 next-#5: sizes agg + range sample + range exchange
    # each re-scanned the source; now only the rank machinery touches
    # it), and the former one-row-per-group offset window disappears.
    sizes = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_m0"),
        F.min("_rn").cast("bigint").alias("_rn0"),
    )
    # derive the whole m_l chain on the one-row-per-group table — the
    # per-row CASE then references plain columns instead of re-inlining
    # the recurrence per level
    for j in range(max_levels):
        sizes = sizes.withColumn(
            f"_m{j + 1}", F.expr(f"(_m{j} div {k}) * {k // 2}")
        )
    # no forced broadcast: the size table is one row PER GROUP — tiny for
    # a handful of domains, but a million-group sketch table must be free
    # to hash-join on the group key
    ranked = ranked.join(sizes, group_cols).withColumn(
        "p", (F.col("_rn") - F.col("_rn0")).cast("bigint")
    )
    level_sql, pos_sql = _onepass_case_sql(
        [f"(_m{lv} div {k})" for lv in range(max_levels)], k, max_levels
    )
    return (
        ranked.withColumn("level", F.expr(level_sql).cast("int"))
        .filter(F.col("level").isNotNull())
        .select(
            *group_cols,
            "level",
            F.expr(pos_sql).cast("bigint").alias("pos"),
            "value",
            F.expr("shiftleft(cast(1 as bigint), level)").alias("weight"),
        )
    )


def kll_grouped_sql(
    source_sql: str,
    group_sql: str,
    value_sql: str,
    order_sql: str,
    *,
    k: int = K_DEFAULT,
) -> str:
    """DuckDB replay of :func:`kll_cells_grouped`: per-group row_number +
    the integer recurrence with m as the group-size column."""
    parts = [
        f"""
    r AS MATERIALIZED (
      SELECT {group_sql} AS grp,
             CAST({value_sql} AS BIGINT) AS value,
             CAST(row_number() OVER (PARTITION BY {group_sql}
                                     ORDER BY {order_sql}) - 1 AS BIGINT) AS p,
             CAST(count(*) OVER (PARTITION BY {group_sql}) AS BIGINT) AS m
      FROM ({source_sql})
    ),
    l0 AS (SELECT grp, value, p, m FROM r)"""
    ]
    selects = []
    for lv in range(MAX_LEVELS):
        selects.append(
            f"""
    SELECT grp, CAST({lv} AS INT) AS level,
           CAST(p - (m // {k}) * {k} AS BIGINT) AS pos,
           value,
           CAST({1 << lv} AS BIGINT) AS weight
    FROM l{lv} WHERE p >= (m // {k}) * {k}"""
        )
        parts.append(
            f"""
    l{lv + 1} AS MATERIALIZED (
      SELECT grp, value,
             (p // {k}) * {k // 2} + (p % {k}) // 2 AS p,
             (m // {k}) * {k // 2} AS m
      FROM l{lv}
      WHERE p < (m // {k}) * {k} AND p % 2 = 0
    )"""
        )
    selects.append(
        f"""
    SELECT grp, CAST({MAX_LEVELS} AS INT) AS level,
           CAST(p AS BIGINT) AS pos,
           value,
           CAST({1 << MAX_LEVELS} AS BIGINT) AS weight
    FROM l{MAX_LEVELS}"""
    )
    return "WITH " + ",".join(parts) + " " + " UNION ALL ".join(selects)
