"""Versioned snapshot tables: append-only version directories + a manifest
pointer — time travel without a table-format dependency.

This is the structure ADVICE r2 suggested for the swap-based writers, made
first-class: every write lands in a NEW ``v=<n>`` directory and the tiny
``_MANIFEST.json`` pointer flips to it last (written via temp + rename, a
single-object replace — the only rename object stores do atomically enough).
A crash before the pointer flip leaves the previous version live; readers
never observe a half-written table. Old versions stay readable for time
travel / snapshot diffs (``operators/diff.table_diff``) until vacuumed.

This is exactly the Delta/Iceberg core idea (immutable data files + an
atomically swapped pointer) at directory granularity; those formats slot in
above this layout when their jars are available.

Manifest I/O here uses the local filesystem API (this image runs local[32]);
a cluster deployment swaps the three ``_manifest`` helpers for the object
store SDK / Hadoop FS — the protocol (immutable version dirs, single-object
pointer replace, pointer flips last) is what carries.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_MANIFEST.json"


class SnapshotConflictError(RuntimeError):
    """Another writer already claimed the version this write targeted."""


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def _claim_path(path: str, version: int) -> str:
    return os.path.join(path, f"_v{version}.claim")


def _read_manifest(path: str) -> dict:
    p = _manifest_path(path)
    if not os.path.exists(p):
        return {"current": None, "versions": []}
    with open(p) as fh:
        return json.load(fh)


def _write_manifest(path: str, manifest: dict) -> None:
    os.makedirs(path, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=path, prefix="._manifest_", suffix=".tmp")
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, _manifest_path(path))  # atomic single-file pointer flip


def snapshot_versions(path: str) -> list[int]:
    return list(_read_manifest(path)["versions"])


def snapshot_write(df: DataFrame, path: str) -> int:
    """Write ``df`` as the next version; returns the new version number.
    The version becomes visible only when the manifest pointer flips.

    Concurrency: the next version number is CLAIMED with an O_EXCL create of
    ``_v<n>.claim`` before any data is written. Two concurrent writers that
    both read ``current == N`` race the claim for N+1; exactly one wins, the
    other raises :class:`SnapshotConflictError` (and may retry, re-reading
    the manifest). Claim files persist after commit as commit markers —
    that persistence is what keeps a slow writer from re-claiming a version
    a faster writer already published. A writer that died AFTER claiming but
    BEFORE the pointer flip leaves a claim with no manifest entry; clear it
    with :func:`snapshot_repair`.
    """
    manifest = _read_manifest(path)
    version = (manifest["current"] or 0) + 1
    os.makedirs(path, exist_ok=True)
    try:
        os.close(
            os.open(
                _claim_path(path, version),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        )
    except FileExistsError:
        raise SnapshotConflictError(
            f"version {version} at {path} is already claimed by another "
            "writer; re-read the manifest and retry"
        ) from None
    try:
        df.write.mode("overwrite").parquet(os.path.join(path, f"v={version}"))
        manifest = _read_manifest(path)  # pick up any unrelated vacuum edits
        manifest["current"] = version
        manifest["versions"] = sorted(set(manifest["versions"]) | {version})
        _write_manifest(path, manifest)
    except BaseException:
        shutil.rmtree(os.path.join(path, f"v={version}"), ignore_errors=True)
        try:
            os.remove(_claim_path(path, version))
        except OSError:
            pass
        raise
    return version


def snapshot_repair(path: str) -> list[int]:
    """Remove claims (and partial data dirs) for versions that never made it
    into the manifest — the cleanup for a writer that died mid-commit.
    Returns the version numbers whose claims were cleared."""
    committed = set(_read_manifest(path)["versions"])
    cleared = []
    if not os.path.isdir(path):
        return cleared
    for name in os.listdir(path):
        if name.startswith("_v") and name.endswith(".claim"):
            v = int(name[2:-6])
            if v not in committed:
                os.remove(os.path.join(path, name))
                shutil.rmtree(
                    os.path.join(path, f"v={v}"), ignore_errors=True
                )
                cleared.append(v)
    return sorted(cleared)


def snapshot_read(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the current snapshot, or time-travel to ``version``."""
    manifest = _read_manifest(path)
    v = manifest["current"] if version is None else version
    if v is None or v not in manifest["versions"]:
        raise ValueError(f"no such snapshot version {version!r} at {path}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def snapshot_vacuum(path: str, *, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` versions; returns removed ones.
    The manifest shrinks first, then data dirs are deleted — a reader racing
    the vacuum sees a valid (if shorter) history, never a dangling pointer."""
    manifest = _read_manifest(path)
    versions = sorted(manifest["versions"])
    drop = versions[:-keep_last] if keep_last > 0 else versions
    drop = [v for v in drop if v != manifest["current"]]
    if not drop:
        return []
    manifest["versions"] = [v for v in versions if v not in drop]
    _write_manifest(path, manifest)
    for v in drop:
        shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
    return drop
