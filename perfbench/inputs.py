"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` and the sizes passed in:
the same seed writes byte-identical files. Nothing in this module starts a
Spark session; generation runs before set-up and outside every timer.

* ``write_season_zip`` writes one season as a zipped ESRI shapefile through
  the package's own ``sources.shapefile.write_shapefile_zip``. The rows
  come from ``sources.observations`` so every repair path of the season
  pipelines runs: the 864 -> 20 municipality recode, mojibake ``laji``,
  unclosed and zero-area rings (2023), the 2026 year typo (2024) and an
  unknown taxon.
* ``write_oracle_parquet`` decodes a season zip with the package's own
  ``parse_shp``/``parse_dbf`` and writes the decoded observations as the
  parquet files the DuckDB season oracles read.
* ``write_fixture_tables`` writes the TPC-H-like star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables the LLM queries read,
  one parquet file per table, with the column types of
  ``crowdsorsa_etl_spark.schemas.FIXTURE_TABLES``.
"""

from __future__ import annotations

import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# DBF layouts of the two season exports (name, type, width, decimals)
FIELDS_2023 = [
    ("id", "C", 16, 0),
    ("kuntakoodi", "C", 4, 0),
    ("havaittu", "C", 19, 0),
    ("laji", "C", 40, 0),
    ("torjunta", "C", 10, 0),
]
FIELDS_2024 = [
    ("tunniste", "C", 16, 0),
    ("kunta", "C", 24, 0),
    ("havaittu", "C", 10, 0),
    ("torjuttu", "C", 10, 0),
    ("laji", "C", 30, 0),
    ("tiheys", "N", 8, 2),
]


def write_season_zip(path: str, season: int, n: int, seed: int) -> int:
    """Write ``n`` observations of ``season`` as a zipped shapefile; return
    the zip's size in bytes."""
    from crowdsorsa_etl_spark.functions.geo import _parse_wkb
    from crowdsorsa_etl_spark.sources.observations import (
        observation_rows_2023,
        observation_rows_2024,
    )
    from crowdsorsa_etl_spark.sources.shapefile import write_shapefile_zip

    if season == 2023:
        rows, fields, n_attr = observation_rows_2023(n, seed), FIELDS_2023, 5
    else:
        rows, fields, n_attr = observation_rows_2024(n, seed), FIELDS_2024, 6
    write_shapefile_zip(
        path,
        field_specs=fields,
        rows=[list(r[:n_attr]) for r in rows],
        geometries=[_parse_wkb(r[n_attr]) for r in rows],
    )
    return os.path.getsize(path)


def write_oracle_parquet(zip_path: str, out_path: str, every: int = 1) -> None:
    """Decode ``zip_path`` with the package's parsers and write every
    ``every``-th row, plus a null ``area_m2`` column, as one parquet file."""
    from crowdsorsa_etl_spark.sources.shapefile import parse_dbf, parse_shp

    with zipfile.ZipFile(zip_path) as zf:
        shp = zf.read("data.shp")
        dbf = zf.read("data.dbf")
    names, rows = parse_dbf(dbf)
    rows = rows[::every]
    geoms = parse_shp(shp)[::every]
    cols: dict[str, pa.Array] = {}
    for i, name in enumerate(names):
        values = [r[i] for r in rows]
        kind = pa.float64() if any(isinstance(v, float) for v in values) else pa.string()
        cols[name] = pa.array(values, type=kind)
    cols["geometry_wkb"] = pa.array(geoms, type=pa.binary())
    cols["area_m2"] = pa.array([None] * len(rows), type=pa.float64())
    pq.write_table(pa.table(cols), out_path)


def write_municipality_parquet(out_path: str) -> None:
    from crowdsorsa_etl_spark.sources.observations import MUNICIPALITIES

    pq.write_table(
        pa.table(
            {
                "kunta": pa.array([m[0] for m in MUNICIPALITIES], pa.string()),
                "municipality_name_fi": pa.array(
                    [m[1] for m in MUNICIPALITIES], pa.string()
                ),
            }
        ),
        out_path,
    )


# --- LLM / relational fixture tables ---------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_TS = pa.timestamp("us")


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"), _TS)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts of 10-99 words; one in twenty is a near-duplicate
    of an earlier text (one word swapped, ``dup`` appended), which is what
    the dedup and LSH queries look for."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, 30))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, 30, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
        }
    )


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf 1 = 6M lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{c} {m}" for c in _COLORS for m in _NOUNS]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": _pick(rng, _TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span_us, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), _TS),
            "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), n_ev), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_fixture_tables(out_dir: str, seed: int, sf: float) -> int:
    """Write every fixture table as ``<out_dir>/<table>.parquet``; return the
    total row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, table in fixture_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows
