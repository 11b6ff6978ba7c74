"""The two season pipelines, re-expressed as single declarative projections.

Reference: ``crowdsorsa-etl-2023.R`` / ``crowdsorsa-etl-2024.R`` — an eager
per-row for-loop (2023.R:46-222). Here each pipeline is one DataFrame chain:

    scan → clean → derive → broadcast dim join → nested-struct projection

No row iteration, no driver-side collect; the whole per-row body runs inside
one whole-stage-codegen span per partition. The one Arrow exit is the
season's geometry pandas UDF (``geo.geometry_2023``/``geometry_2024``), which
parses each WKB once and returns the area and the GeoJSON together. At
100 TB the input is a partitioned parquet/shapefile-derived table and the
same plan applies unchanged — the dim join is broadcast so the pipeline
stays shuffle-free end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions import geo
from crowdsorsa_etl_spark.functions.docmodel import (
    build_document,
    doc_to_json,
    taxon_id_col,
)
from crowdsorsa_etl_spark.functions.text import fix_year_typo, repair_mojibake


def documents_2023(
    observations: DataFrame,
    municipality_dim: DataFrame,
    source_id: str = "KE.1501",
) -> DataFrame:
    """2023 season: municipality recode + broadcast lookup, full datetime
    parse (hour/minute emitted), mojibake repair, geometry validity pass,
    facts only when area ≥ 1 m². (crowdsorsa-etl-2023.R:28-179)
    """
    # municipality recode BEFORE the dim lookup (2023.R:51-52, trap 5)
    obs = observations.withColumn(
        "muni_code",
        F.when(F.col("kuntakoodi") == "864", F.lit("20")).otherwise(
            F.col("kuntakoodi")
        ),
    )

    # repaired rings (2023.R:34-38), area from the repaired geometry,
    # geodesic because the 2023 CRS is WGS84 (trap 8); GeoJSON of the
    # repaired rings when area > 0, raw otherwise (2023.R:63-80, trap S14)
    obs = obs.withColumn(
        "geo", geo.geometry_2023(F.col("geometry_wkb"), F.col("area_m2"))
    )

    # the dim is ~300 rows → broadcast hash join, never a shuffle (2023.R:52-53)
    dim = F.broadcast(municipality_dim)
    obs = obs.join(dim, obs.muni_code == dim.kunta, "left")

    ts = F.to_timestamp(F.col("havaittu"), "yyyy-MM-dd'T'HH:mm:ss")
    taxon = repair_mojibake(F.col("laji"))

    doc = build_document(
        obs_id=F.col("id"),
        municipality=F.col("municipality_name_fi"),
        event_date=F.date_format(ts, "yyyy-MM-dd"),
        taxon=taxon,
        taxon_id=taxon_id_col(taxon, 2023),
        control_date=F.col("torjunta"),
        geometry_geojson=F.col("geo.geojson"),
        crs_label="WGS84",
        source_id=source_id,
        collection_id="HR.5835",
        area=F.col("geo.area"),
        facts_min_area=1.0,
        hour=F.hour(ts),
        minute=F.minute(ts),
    )

    return obs.select(
        F.col("id").alias("obs_id"),
        doc.alias("document"),
        doc_to_json(doc).alias("document_json"),
    )


def documents_2024(
    observations: DataFrame,
    source_id: str = "KE.1501",
) -> DataFrame:
    """2024 season: year-typo repair before date parse (trap 6), municipality
    name inline (no join), lowercase taxon, abundance fields, facts always
    present, planar EUREF area. (crowdsorsa-etl-2024.R:30-147)
    """
    obs = (
        observations.withColumn("havaittu_fixed", fix_year_typo(F.col("havaittu")))
        .withColumn("torjuttu_fixed", fix_year_typo(F.col("torjuttu")))
        .withColumn(
            "geo", geo.geometry_2024(F.col("geometry_wkb"), F.col("area_m2"))
        )
    )

    taxon = F.lower(F.col("laji"))
    event_date = F.date_format(
        F.to_date(F.col("havaittu_fixed"), "yyyy-MM-dd"), "yyyy-MM-dd"
    )

    doc = build_document(
        obs_id=F.col("tunniste"),
        municipality=F.col("kunta"),
        event_date=event_date,
        taxon=taxon,
        taxon_id=taxon_id_col(taxon, 2024),
        control_date=F.col("torjuttu_fixed"),
        geometry_geojson=F.col("geo.geojson"),
        crs_label="EUREF",
        source_id=source_id,
        collection_id="HR.5835",
        area=F.col("geo.area"),
        facts_min_area=None,
        abundance=F.col("tiheys"),
    )

    return obs.select(
        F.col("tunniste").alias("obs_id"),
        doc.alias("document"),
        doc_to_json(doc).alias("document_json"),
    )
