"""Schema evolution: mergeSchema reads + declared-schema drift reconciliation.

The reference's core operational reality is that its input schema drifts
season-over-season: the 2023 file has ``id / kuntakoodi / havaittu(ts) /
torjunta`` (crowdsorsa-etl-2023.R:48-58) while the 2024 file renames them to
``tunniste / kunta / havaittu(date) / torjuttu`` and ADDS ``tiheys``
(crowdsorsa-etl-2024.R:44-50). The reference handles this with a hand-written
script per season; the engine handles it with ONE declared target schema plus
a reconciler, so season N+1 needs a rename-map entry, not a new pipeline.

Semantics (SURVEY.md §1.3):

* declared ``StructType`` per source — inference only behind ``merge_schema``
  on the reader, which is Spark's native union-of-footers evolution;
* missing column → typed NULL (backfill);
* renamed column → ``rename_map`` ({old: new});
* extra column → dropped by default, ``on_extra='error'`` to fail loudly;
* type drift → safe widening casts only (int→long→double, float→double,
  date→timestamp); anything lossy raises.

Scale notes: ``conform`` is pure projection — Catalyst still prunes unused
columns at the scan and pushes filters through the aliases. ``mergeSchema``
reads every file footer at planning time; at 100 TB-many files prefer a
declared target (footer sampling off) and let ``conform`` do the work — which
is exactly what ``read_evolved(..., merge_schema=False)`` does when the union
schema is already known.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# widenings that can never lose information (plus identity)
_SAFE_WIDENINGS: set[tuple[str, str]] = {
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("int", "bigint"),
    ("tinyint", "double"),
    ("smallint", "double"),
    ("int", "double"),
    ("bigint", "double"),
    ("float", "double"),
    ("date", "timestamp"),
}


def _can_widen(src: T.DataType, dst: T.DataType) -> bool:
    if src == dst:
        return True
    return (src.simpleString(), dst.simpleString()) in _SAFE_WIDENINGS


def conform(
    df: DataFrame,
    target: T.StructType,
    *,
    rename_map: dict[str, str] | None = None,
    on_extra: str = "drop",
) -> DataFrame:
    """Project ``df`` onto the declared ``target`` schema.

    Returns a frame with exactly the target's columns, in order: renames
    applied, missing columns backfilled as typed NULLs, types widened where
    safe. ``on_extra``: 'drop' (default) or 'error'.

    When BOTH the target name and its renamed-from column exist — the normal
    state of a ``mergeSchema`` read over a directory whose newer files
    already use the new name while older files still carry the old one —
    the two are coalesced (new name wins where non-null).
    """
    if on_extra not in ("drop", "error"):
        raise ValueError(f"on_extra must be 'drop' or 'error', got {on_extra!r}")
    rename_map = rename_map or {}
    src_fields = {f.name: f for f in df.schema.fields}
    # resolve each target column to its source column(s) (post-rename)
    reverse = {new: old for old, new in rename_map.items()}
    out_cols = []
    consumed = set()
    for field in target.fields:
        candidates = [
            n
            for n in (field.name, reverse.get(field.name))
            if n is not None and n in src_fields
        ]
        if not candidates:
            out_cols.append(F.lit(None).cast(field.dataType).alias(field.name))
            continue
        parts = []
        for src_name in candidates:
            consumed.add(src_name)
            src_type = src_fields[src_name].dataType
            if not _can_widen(src_type, field.dataType):
                raise TypeError(
                    f"column {src_name!r}: cannot safely widen "
                    f"{src_type.simpleString()} → {field.dataType.simpleString()}"
                )
            col = F.col(src_name)
            if src_type != field.dataType:
                col = col.cast(field.dataType)
            parts.append(col)
        col = parts[0] if len(parts) == 1 else F.coalesce(*parts)
        out_cols.append(col.alias(field.name))
    if on_extra == "error":
        extras = [n for n in src_fields if n not in consumed]
        if extras:
            raise ValueError(f"unexpected columns not in target schema: {extras}")
    return df.select(*out_cols)


def read_evolved(
    spark: SparkSession,
    path: str,
    target: T.StructType,
    *,
    rename_map: dict[str, str] | None = None,
    merge_schema: bool = True,
) -> DataFrame:
    """Read a (possibly mixed-schema) parquet directory and conform it.

    ``merge_schema=True`` unions all file footers (Spark-native evolution) so
    files written before a column existed read as NULLs; ``False`` skips the
    footer sweep and trusts the first file's schema — use when the layout is
    already uniform or the directory is huge.
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(path)
    return conform(df, target, rename_map=rename_map)


# ---------------------------------------------------------------------------
# The reference's concrete drift, expressed as evolution config
# ---------------------------------------------------------------------------

#: Unified cross-season observation schema (the superset both seasons conform
#: to). 2023 rows backfill ``tiheys`` as NULL; both seasons' id/municipality/
#: control-date columns map onto the 2024 names via ``RENAME_2023``.
OBSERVATIONS_UNIFIED = T.StructType(
    [
        T.StructField("tunniste", T.StringType(), False),
        T.StructField("kunta_raw", T.StringType(), False),  # code (2023) or name (2024)
        T.StructField("havaittu", T.StringType(), False),
        T.StructField("torjuttu", T.StringType(), True),
        T.StructField("laji", T.StringType(), False),
        T.StructField("tiheys", T.DoubleType(), True),  # 2024-only → NULL in 2023
        T.StructField("geometry_wkb", T.BinaryType(), True),
        T.StructField("area_m2", T.DoubleType(), True),
    ]
)

#: crowdsorsa-etl-2023.R:48-58 column names → 2024/unified names.
RENAME_2023 = {
    "id": "tunniste",
    "kuntakoodi": "kunta_raw",
    "torjunta": "torjuttu",
}

#: 2024 is the unified shape except municipality arrives as a NAME.
RENAME_2024 = {"kunta": "kunta_raw"}
