#!/usr/bin/env python
"""Local approximation of the driver's t2 gate: run every queries() entry via
Spark AND its oracle_sql() via DuckDB at sf0.01; compare row count, column
names, and order-insensitive values. Exit non-zero on any mismatch.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import multiprocessing
import os
import sys
import time
from concurrent.futures import ProcessPoolExecutor

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crowdsorsa_etl_spark.queries import ORACLES, QUERIES
from crowdsorsa_etl_spark.schemas import FIXTURE_TABLES
from crowdsorsa_etl_spark.session import get_spark


def source_fingerprint() -> str:
    """md5 over every package/entry source file's CONTENT — records in the
    sweep artifact exactly which code was swept. round_close compares it
    against the live tree, so a sweep that predates any later source edit
    (the round-13 close shipped a 277/278-red sweep 6 registrations stale)
    is mechanically refused instead of silently committed."""
    import hashlib

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.md5()
    paths = [os.path.join(repo, "__spark_entry__.py")]
    for root, _dirs, files in os.walk(os.path.join(repo, "crowdsorsa_etl_spark")):
        paths.extend(
            os.path.join(root, f) for f in files if f.endswith(".py")
        )
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def memory_mb() -> tuple[int, int]:
    """(VmRSS, VmHWM) of this process in MB: its current and peak resident
    memory, from /proc/self/status (Linux; (0, 0) elsewhere)."""
    got = {}
    try:
        with open("/proc/self/status") as fh:
            for line in fh:
                key, _, value = line.partition(":")
                if key in ("VmRSS", "VmHWM"):
                    got[key] = int(value.split()[0]) // 1024
    except OSError:
        pass
    return got.get("VmRSS", 0), got.get("VmHWM", 0)


def _oracle_in_worker(sf_dir: str, sql: str) -> tuple[pd.DataFrame, int]:
    with duckdb.connect() as con:
        for t in FIXTURE_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.sql(sql).df(), memory_mb()[1]


def oracle_df(sf_dir: str, sql: str) -> tuple[pd.DataFrame, int]:
    """Run one oracle on its own DuckDB connection in a fresh process and
    return its frame and that process's peak RSS in MB. DuckDB's allocator
    keeps what a heavy oracle took after the connection closes
    (llm_bpe_merges_256 left 6.6 GB resident), so only a process exit
    holds a sweep to one oracle's memory at a time."""
    spawn = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(1, mp_context=spawn) as worker:
        return worker.submit(_oracle_in_worker, sf_dir, sql).result()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("string")
        elif df[c].dtype == object:
            df[c] = df[c].astype("string")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        errs.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return errs
    if len(spark_pdf) != len(oracle_pdf):
        errs.append(f"row count differs: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    if len(a) == len(b):
        for c in a.columns:
            ca, cb = a[c], b[c]
            if str(ca.dtype).startswith("float") or str(cb.dtype).startswith("float"):
                ok = ((ca.isna() & cb.isna()) | (ca == cb)).all()
            else:
                ok = ca.astype("string").fillna("<NA>").equals(
                    cb.astype("string").fillna("<NA>")
                )
            if not ok:
                mism = (ca.astype("string").fillna("x") != cb.astype("string").fillna("x"))
                idx = mism[mism].index[:3]
                detail = [(c, i, ca.get(i), cb.get(i)) for i in idx]
                errs.append(f"values differ in col {c}: {detail}")
    return errs


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(app_name="check_oracle")
    failures = 0
    record: dict[str, dict] = {}
    t_start = time.monotonic()
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            record[name] = {"status": "fail", "err": f"spark: {exc}"}
            failures += 1
            continue
        if name not in ORACLES:
            print(
                f"ROWS  {name}: {len(spark_pdf)} rows (rows-only, no oracle)"
                f" [{time.monotonic() - t0:.2f}s]"
            )
            record[name] = {"status": "rows_only", "rows": len(spark_pdf)}
            continue
        try:
            oracle_pdf, oracle_peak = oracle_df(sf_dir, ORACLES[name])
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            record[name] = {"status": "fail", "err": f"duckdb: {exc}"}
            failures += 1
            continue
        errs = compare(name, spark_pdf, oracle_pdf)
        if errs:
            failures += 1
            print(f"FAIL  {name}:")
            for e in errs:
                print(f"      {e}")
            record[name] = {"status": "fail", "err": "; ".join(errs)[:400]}
        else:
            rss, hwm = memory_mb()
            print(
                f"OK    {name}: {len(spark_pdf)} rows [{time.monotonic() - t0:.2f}s,"
                f" rss {rss} MB, peak {hwm} MB, oracle peak {oracle_peak} MB]"
            )
            record[name] = {"status": "hash_match", "rows": len(spark_pdf)}
    total_s = round(time.monotonic() - t_start, 1)
    print(f"TOTAL {total_s}s for {len(QUERIES) if not only else len(only)} queries")
    # full-sweep runs leave a committed machine-readable record: the local
    # mirror of the driver's CORRECTNESS artifact, covering ALL registered
    # queries instead of the driver's 50-slot window
    if not only:
        import json

        summary = {
            "sf_dir": sf_dir,
            "source_fingerprint": source_fingerprint(),
            "total_sec": total_s,
            "n_queries": len(record),
            "n_hash_match": sum(
                1 for r in record.values() if r["status"] == "hash_match"
            ),
            "n_rows_only": sum(
                1 for r in record.values() if r["status"] == "rows_only"
            ),
            "n_fail": failures,
            "queries": record,
        }
        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "CORRECTNESS_SELF.json",
        )
        with open(out, "w") as fh:
            json.dump(summary, fh, indent=1)
        print(f"wrote {out}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
