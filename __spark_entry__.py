"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship nested-document pipeline on sf0.001;
``queries()``/``oracle_sql()`` expose the engine's operator surface
(the ``crowdsorsa_etl_spark/queries/`` registry) for the DuckDB differential check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crowdsorsa_etl_spark.queries import ORACLES, QUERIES  # noqa: E402
from crowdsorsa_etl_spark.pipelines.flagship import order_documents  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return order_documents(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for the
    non-SQL-expressible rows-only entries)."""
    return dict(ORACLES)
