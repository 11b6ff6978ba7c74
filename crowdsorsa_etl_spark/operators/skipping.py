"""File-level data-skipping indexes: min/max zone maps AND bloom filters.

What Iceberg/Delta manifests and parquet row-group stats do, lifted to an
explicit, queryable table: one row per data file with min/max/count for the
clustered columns. Works hand-in-hand with ``operators/zorder.py`` — after a
Z-order (or range-sort) write, per-file ranges are tight, so a point/range
predicate intersects few files and the scan lists only those.

Zone maps only help when the predicate column correlates with file layout.
For EQUALITY lookups on an UNCLUSTERED high-cardinality column (customer id
in a time-partitioned fact table — the classic "all orders of customer K"
probe), every file's min/max straddles every key and nothing prunes; that is
what the per-file BLOOM index covers (Delta's bloom file index): k hashed
bit positions per value, one sparse bitset per file, probe = all-k-bits-set.
Sound, not complete — a pruned file CANNOT contain the value; a surviving
file may not (false-positive rate ≈ (1 - e^(-k·n/m))^k).

Scale shape: ``collect_file_stats``/``collect_bloom_stats`` are one
partial-aggregable groupBy on ``_metadata.file_path`` (the stats scan itself
is column-pruned to the indexed columns); the stats tables have |files| (or
|files|×|set words|) rows — kilobytes per terabyte — so pruning evaluates
driver-free as a plain filter, and the pruned file list feeds
``spark.read.parquet(*files)`` directly. At 100 TB this is the difference
between listing 2 files and scanning 20,000.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# one bloom geometry for build and probe: ~0.2% false positives at ~1.1k
# distinct values per file; a power of two, because positions slice into
# word/bit with shifts
_BLOOM_BITS = 8192
_BLOOM_HASHES = 5


def collect_file_stats(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Per-file zone maps: (file_path, n_rows, <c>_min, <c>_max per col)."""
    df = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("file_path"), *cols
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return df.groupBy("file_path").agg(*aggs)


def prune_files(
    stats: DataFrame, predicates: dict[str, tuple]
) -> DataFrame:
    """Files whose zone maps intersect every ``col: (lo, hi)`` range
    (inclusive; None = unbounded on that side). Sound, not complete: a
    surviving file MAY contain matches, a pruned file CANNOT."""
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        if lo is not None:
            cond = cond & (F.col(f"{c}_max") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(f"{c}_min") <= F.lit(hi))
    return stats.filter(cond)


#: hash-type canonicalization for the bloom index: xxhash64 hashes INT and
#: BIGINT (and FLOAT and DOUBLE) differently, so build and probe must agree
#: on ONE physical type per type class. Integrals → bigint, fractionals →
#: double, everything else → string: any probe value's python type then
#: canonicalizes to the same class as the column it probes.
def _canonical_hash_type(spark_type_name: str) -> str:
    if spark_type_name in {"tinyint", "smallint", "int", "integer", "bigint", "long"}:
        return "bigint"
    if spark_type_name in {"float", "double", "decimal"}:
        return "double"
    return "string"


def canonical_type_for_value(value) -> str:
    """The canonical hash type for a probe VALUE (mirror of the column-side
    derivation in collect_bloom_stats)."""
    if isinstance(value, bool):
        return "string"
    if isinstance(value, int):
        return "bigint"
    if isinstance(value, float):
        return "double"
    return "string"


def collect_bloom_stats(spark: SparkSession, path: str, col: str) -> DataFrame:
    """Per-file bloom bitsets for equality probes on ``col``:
    (file_path, bloom map<int, bigint>) — the bitset stored sparsely as
    64-bit words keyed by word index (only non-zero words materialize).

    Build and probe share the ``_BLOOM_BITS``/``_BLOOM_HASHES`` geometry
    (a filter built with other positions than it is probed with prunes
    files that hold the value). Built with ONE partial-aggregable groupBy chain: explode the k positions per row,
    bit_or the masks per (file, word), collect the sparse words per file.

    Build and probe must hash the SAME physical type (xxhash64 hashes INT
    and BIGINT differently — a mismatch silently prunes every file). The
    type derives from the column's declared type by CLASS — integrals →
    bigint, fractionals → double, else string — and
    ``bloom_prune``/``read_bloom_pruned`` derive the identical class from
    the probe value's python type, so both sides agree for
    int32/int64/string/double columns alike.
    """
    base = spark.read.parquet(path)
    value_type = _canonical_hash_type(dict(base.dtypes)[col].split("(")[0])
    df = base.select(
        F.col("_metadata.file_path").alias("file_path"),
        F.col(col).cast(value_type).alias("_v"),
    )
    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col("_v"), F.lit(i)), F.lit(_BLOOM_BITS))
                for i in range(_BLOOM_HASHES)
            ]
        )
    ).alias("pos")
    words = (
        df.select("file_path", pos)
        .select(
            "file_path",
            F.shiftright(F.col("pos"), 6).cast("int").alias("word"),
            # shift count is a column → SQL form (the function API only
            # takes a literal count)
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
            ).alias("mask"),
        )
        .groupBy("file_path", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    return words.groupBy("file_path").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("word", "bits")))
        ).alias("bloom")
    )


def _bloom_positions(spark: SparkSession, value, value_type: str) -> list[int]:
    """The probe value's k bit positions, computed with the SAME xxhash64
    the index builder used (one bounded 1-row job — hashing must happen
    where the build hashing happened, on the JVM)."""
    row = (
        spark.range(1)
        .select(
            *[
                F.pmod(
                    F.xxhash64(F.lit(value).cast(value_type), F.lit(i)),
                    F.lit(_BLOOM_BITS),
                ).alias(f"p{i}")
                for i in range(_BLOOM_HASHES)
            ]
        )
        .first()
    )
    return [row[f"p{i}"] for i in range(_BLOOM_HASHES)]


def bloom_prune(spark: SparkSession, bloom_stats: DataFrame, value) -> DataFrame:
    """Files whose bloom bitset has ALL k bits of ``value`` set. The hash
    type derives from the probe value's python type (must match the
    build-side derivation — see collect_bloom_stats)."""
    value_type = canonical_type_for_value(value)
    cond = F.lit(True)
    for p in _bloom_positions(spark, value, value_type):
        word, bit = p >> 6, p & 63
        mask = (1 << bit) if bit < 63 else -(1 << 63)  # signed int64 literal
        cond = cond & (
            F.coalesce(
                F.element_at(F.col("bloom"), F.lit(word)), F.lit(0).cast("bigint")
            ).bitwiseAND(F.lit(mask).cast("bigint"))
            != 0
        )
    return bloom_stats.filter(cond)


def read_bloom_pruned(
    spark: SparkSession, bloom_stats: DataFrame, col: str, value
) -> DataFrame:
    """Scan only the files whose bloom filter may contain ``value``, then
    re-apply the exact equality (bloom is file-granular and admits false
    positives; it never admits false negatives)."""
    survivors = bloom_prune(spark, bloom_stats, value)
    files = [r["file_path"] for r in survivors.collect()]
    if not files:  # sound: value provably absent — empty result, kept schema
        all_files = [
            r["file_path"] for r in bloom_stats.select("file_path").collect()
        ]
        if not all_files:
            raise ValueError(
                "bloom stats table lists no data files; build the index "
                "with collect_bloom_stats() over a non-empty layout first"
            )
        return spark.read.parquet(*all_files).filter(F.lit(False))
    return spark.read.parquet(*files).filter(
        F.col(col) == F.lit(value).cast(canonical_type_for_value(value))
    )


def read_pruned(
    spark: SparkSession,
    stats: DataFrame,
    predicates: dict[str, tuple],
) -> DataFrame:
    """Scan only the files surviving zone-map pruning, then re-apply the
    exact predicate (zone maps are file-granular, rows still need the
    filter). The file list is |files|-bounded — a driver-side list of
    paths, the same thing a table format's planner materializes."""
    files = [
        r["file_path"] for r in prune_files(stats, predicates).collect()
    ]
    cond = F.lit(bool(files))
    for c, (lo, hi) in predicates.items():
        if lo is not None:
            cond = cond & (F.col(c) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(c) <= F.lit(hi))
    if not files:  # keep the schema, scan nothing (filter folds to false)
        files = [r["file_path"] for r in stats.select("file_path").collect()]
    if not files:  # stats table itself is empty — no data files at all
        raise ValueError(
            "zone-map stats table lists no data files; build the index "
            "with collect_file_stats() over a non-empty layout first"
        )
    return spark.read.parquet(*files).filter(cond)
