"""Parquet source connector — the engine's canonical scan.

The reference's scan is ``sf::st_read`` over an unzipped shapefile
(``crowdsorsa-etl-2023.R:28-32``); the engine's canonical columnar source is
parquet so that Catalyst pushes predicates and prunes columns into the scan
(verify with ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).

At 100 TB the same call reads a partitioned directory tree; partition
pruning happens automatically on partition columns in the path.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from crowdsorsa_etl_spark.schemas import FIXTURE_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# path → (content fingerprint, inferred schema): one entry per path,
# replaced when the files change, so sharing it process-wide never
# serves a stale schema
_SCHEMAS: dict[str, tuple[str, StructType]] = {}


def content_fingerprint(path: str) -> str:
    """md5 hex of the file names, sizes and ``mtime_ns`` of a parquet table
    (a directory or one file); a missing path hashes to the empty digest.
    Rewriting the table in place changes it, so anything keyed on it is
    never served stale."""
    h = hashlib.md5()
    if os.path.isdir(path):
        entries = sorted(os.listdir(path))
    elif os.path.exists(path):
        entries = [os.path.basename(path)]
        path = os.path.dirname(path)
    else:
        entries = []
    for name in entries:
        st = os.stat(os.path.join(path, name))
        h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def _file_schema(spark: SparkSession, path: str) -> StructType:
    """The physical schema of ``path``, inferred (one Spark job) only when
    its content fingerprint is new; later reads of the same files reuse it."""
    fp = content_fingerprint(path)
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != fp:
        hit = _SCHEMAS[path] = (fp, spark.read.parquet(path).schema)
    return hit[1]


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one fixture table.

    The file's physical schema is inferred once per content fingerprint
    (:func:`content_fingerprint`) and passed to every later read with
    ``.schema(...)``, so re-reading an unchanged fixture launches no Spark
    job and a regenerated one is inferred again. ``FIXTURE_TABLES`` then
    fixes the column set and the timestamp normalization below.

    Session contract (applies to ANY SparkSession passed in, including an
    externally built one such as the driver harness):

    * ``spark.sql.legacy.parquet.nanosAsLong=true`` — events.parquet carries
      INT64 TIMESTAMP(NANOS) in some fixture builds; Spark refuses it
      otherwise. Runtime SQL conf, so set here rather than at session build.
    * ``spark.sql.session.timeZone=UTC`` — pinned unconditionally so that
      naive fixture timestamps (TIMESTAMP_NTZ or raw nanos) convert to
      session-TZ TIMESTAMP epoch-exactly, matching how DuckDB reads the same
      naive values. Without the pin, session-TZ-sensitive ops
      (``date_trunc``, ``F.window``) on fixture timestamps would diverge
      from the oracle on a non-UTC session for one fixture encoding but not
      the other. The pin is part of the documented load contract, not a
      data-dependent side effect: it fires on every call, for every table.
      Corollary for callers sharing an externally built session: after ANY
      load_table call the session TZ is UTC — do not rely on a non-UTC
      session TZ anywhere in a process that loads fixture tables.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.schema(_file_schema(spark, path)).parquet(path)
    expected = FIXTURE_TABLES.get(name)
    declared = {f.name: f.dataType for f in expected.fields} if expected else {}
    # Fixture timestamp columns have shipped as INT64 TIMESTAMP(NANOS) (read
    # as long nanos via nanosAsLong) and as naive TIMESTAMP(MICROS) (read as
    # TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default) in different
    # builds. Normalize every column DECLARED TimestampType to session-TZ
    # TIMESTAMP — keyed on the declared schema, not on a column name, so
    # orders.o_orderdate / lineitem.l_shipdate get the same treatment as
    # events.ts if their encoding drifts. With the session pinned to UTC the
    # NTZ→LTZ cast is epoch-exact. Downstream epoch math (unix_micros)
    # requires LTZ.
    for f in df.schema.fields:
        dec = declared.get(f.name)
        want_ts = (dec is not None and dec.simpleString() == "timestamp") or f.name == "ts"
        if not want_ts:
            continue
        actual = f.dataType.simpleString()
        if actual == "bigint":
            df = df.withColumn(f.name, F.expr(f"timestamp_micros(`{f.name}` div 1000)"))
        elif actual == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    if expected is not None:
        # project to the declared column set (order + pruning); parquet
        # supplies the physical types, which the fixtures already match.
        df = df.select(*[f.name for f in expected.fields])
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in FIXTURE_TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
