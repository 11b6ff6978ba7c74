"""Explicit schemas for every source the engine reads.

The reference infers schemas from shapefile sidecars at read time
(``crowdsorsa-etl-2023.R:32`` — ``sf::st_read``); this engine declares them
(inference is allowed only behind an explicit flag on the readers) so that
Catalyst can prune columns at the scan and schema drift fails loudly.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Driver-provided fixture tables (/root/testdata/sf*/ — see TESTDATA.md)
# ---------------------------------------------------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),  # JSON payload
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

FIXTURE_TABLES: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# ---------------------------------------------------------------------------
# Observation-input schemas (reference input shapes — FIXTURES.md §A)
# Geometry travels as WKB bytes plus a CRS tag; the reference keeps it as an
# sf geometry column (crowdsorsa-etl-2023.R:32-40).
# ---------------------------------------------------------------------------

OBSERVATIONS_2023 = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("kuntakoodi", T.StringType(), False),
        T.StructField("havaittu", T.StringType(), False),  # yyyy-MM-dd'T'HH:mm:ss
        T.StructField("laji", T.StringType(), False),  # latin1-mangled taxon
        T.StructField("torjunta", T.StringType(), True),  # control date or NULL
        T.StructField("geometry_wkb", T.BinaryType(), True),
        # pre-derived planar/geodesic area in m2 for the no-geometry fast path
        T.StructField("area_m2", T.DoubleType(), True),
    ]
)

OBSERVATIONS_2024 = T.StructType(
    [
        T.StructField("tunniste", T.StringType(), False),
        T.StructField("kunta", T.StringType(), False),  # municipality NAME
        T.StructField("havaittu", T.StringType(), False),  # yyyy-MM-dd, may say 2026
        T.StructField("torjuttu", T.StringType(), True),
        T.StructField("laji", T.StringType(), False),  # mixed case
        T.StructField("tiheys", T.DoubleType(), False),
        T.StructField("geometry_wkb", T.BinaryType(), True),
        T.StructField("area_m2", T.DoubleType(), True),
    ]
)

MUNICIPALITY_KEY = T.StructType(
    [
        T.StructField("kunta", T.StringType(), False),
        T.StructField("municipality_name_fi", T.StringType(), False),
    ]
)
