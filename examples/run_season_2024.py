#!/usr/bin/env python
"""End-to-end 2024 season run — the engine-side equivalent of
``Rscript crowdsorsa-etl-2024.R`` (reference EP2, SURVEY.md §3).

    zipped shapefile → typed DataFrame (WKB geometry) → year repair →
    taxon decode → nested laji-etl documents → rate-limited HTTP push
    (mock server here; set CROWDSORSA_API_URL for a real endpoint) →
    redacted JSON audit log + parquet archive of the documents.

Usage: python examples/run_season_2024.py [work_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from crowdsorsa_etl_spark.config import SinkConfig
from crowdsorsa_etl_spark.pipelines.crowdsorsa import documents_2024
from crowdsorsa_etl_spark.session import get_spark
from crowdsorsa_etl_spark.sinks.http_push import push_documents, write_audit_log
from crowdsorsa_etl_spark.sinks.writers import write_partitioned
from crowdsorsa_etl_spark.sources.observations import MUNICIPALITIES
from crowdsorsa_etl_spark.sources.shapefile import (
    read_shapefile_zip,
    write_shapefile_zip,
)


class _OkApi(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        body = json.dumps({"status": "ok"}).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="season24_")
    os.makedirs(work, exist_ok=True)
    spark = get_spark(app_name="season-2024")

    # 1. synthesize the season input zip (stands in for the game export)
    zip_path = os.path.join(work, "data2024.zip")
    import random

    rng = random.Random(4)
    rows, geoms = [], []
    taxa = ["Lupiini", "jättiputki", "kurtturuusu", "terttuselja", "tuntematon"]
    for i in range(100):
        year = "2026" if i % 13 == 0 else "2024"
        _code, name = MUNICIPALITIES[rng.randrange(len(MUNICIPALITIES))]
        rows.append(
            [
                f"S24-{i:04d}",
                name,
                f"{year}-06-{rng.randrange(10, 28)}",
                f"{year}-09-{rng.randrange(10, 28)}" if rng.random() < 0.4 else None,
                taxa[rng.randrange(len(taxa))],
                rng.choice([1.0, 2.0, 2.35, 4.5]),
            ]
        )
        x, y = 200000.0 + rng.random() * 5e5, 6700000.0 + rng.random() * 8e5
        h = 1.0 + rng.random() * 40.0
        geoms.append(
            [[[(x - h, y - h), (x + h, y - h), (x + h, y + h), (x - h, y + h), (x - h, y - h)]]]
        )
    write_shapefile_zip(
        zip_path,
        field_specs=[
            ("tunniste", "C", 20, 0),
            ("kunta", "C", 24, 0),
            ("havaittu", "C", 10, 0),
            ("torjuttu", "C", 10, 0),
            ("laji", "C", 30, 0),
            ("tiheys", "N", 8, 2),
        ],
        rows=rows,
        geometries=geoms,
    )

    # 2. scan + transform (one declarative plan, no row loop)
    obs = read_shapefile_zip(spark, zip_path).withColumn(
        "area_m2", F.lit(None).cast("double")
    )
    docs = documents_2024(obs)

    # 3. archive the documents as partitioned parquet (new vs reference)
    docs_with_date = docs.withColumn(
        "event_month",
        F.substring(F.get_json_object("document_json",
            "$.publicDocument.gatherings[0].eventDate.begin"), 1, 7),
    )
    write_partitioned(
        docs_with_date.select("obs_id", "document_json", "event_month"),
        os.path.join(work, "documents_parquet"),
        partition_by=["event_month"],
    )

    # 4. push to the API (local mock unless CROWDSORSA_API_URL is set)
    api_url = os.environ.get("CROWDSORSA_API_URL")
    server = None
    if not api_url:
        server = HTTPServer(("127.0.0.1", 0), _OkApi)
        threading.Thread(target=server.serve_forever, daemon=True).start()
        api_url = f"http://127.0.0.1:{server.server_port}/"
    cfg = SinkConfig(
        api_url=api_url,
        access_token=os.environ.get("FINBIF_ACCESS_TOKEN", "demo-token"),
        docs_per_second_per_partition=100.0,
    )
    audit = push_documents(docs, cfg, num_partitions=4)

    # 5. redacted audit log (the logs2024.json analogue)
    write_audit_log(audit, os.path.join(work, "audit_log"), cfg)
    ok = spark.read.json(os.path.join(work, "audit_log")).filter("ok").count()
    print(f"pushed {ok} documents OK; outputs in {work}")
    if server:
        server.shutdown()
    spark.stop()


if __name__ == "__main__":
    main()
