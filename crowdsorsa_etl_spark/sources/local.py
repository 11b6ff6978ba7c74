"""Driver-held rows → a DataFrame that starts no Python worker.

``spark.createDataFrame(list)`` plans a ``Scan ExistingRDD`` over a
PythonRDD: PySpark re-serializes the list through an identity ``map``, so
every task of every job that scans the frame starts a pickled-row Python
worker. The same values sent as a pyarrow table plan as a
``LocalTableScan``, which the JVM serves from memory; a broadcast of one
needs no job at all.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType
) -> DataFrame:
    """Rows of Python values, one per field of ``schema`` in field order."""
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
