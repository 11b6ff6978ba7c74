"""The benchmark's workloads: what one pass runs, and how its output is
checked.

A workload turns a seed into inputs (``prepare``, no Spark), computes the
expected outputs with an independent engine (``expect``, DuckDB), and then
yields the steps of one pass. Every step calls only the package's public
functions, wrapped in ``Tracer`` spans named after the layer they call:

* ``shapefile.read``   - ``sources.shapefile.read_shapefile_zip``
* ``crowdsorsa.build`` - ``pipelines.crowdsorsa.documents_2023/2024``
* ``writers.write``    - ``sinks.writers.write_partitioned``
* ``push.*``/``audit.write`` - ``sinks.http_push``
* ``queries.build``    - ``queries.QUERIES[name](spark, dir)``
* ``plan`` (traced only) and the sink action (``exec``)
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.mockapi import MockApi, fault_kind
from perfbench.tracing import Tracer

DOC_ID_PREFIX = "http://tun.fi/HR.5835/"


def _md5_64(*parts: str) -> int:
    return int.from_bytes(hashlib.md5("\x00".join(parts).encode()).digest()[:8], "little")


def _xor(values) -> int:
    acc = 0
    for v in values:
        acc ^= v
    return acc


def _observe(df, **exprs):
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *[e.alias(k) for k, e in exprs.items()]), obs


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


@dataclass
class StepResult:
    rows: int
    errors: list[str] = field(default_factory=list)


class Workload:
    """Base class: subclasses fill in prepare/expect/steps/probes/final_check."""

    name = ""

    def __init__(self, work: str, nproc: int):
        self.work = work
        self.nproc = nproc
        self.input_rows = 0
        self.input_bytes = 0

    def prepare(self, seed: int) -> None:
        raise NotImplementedError

    def expect(self, duckdb_threads: int) -> None:
        raise NotImplementedError

    def steps(self) -> list[str]:
        raise NotImplementedError

    def run_step(self, spark, tr: Tracer, step: str) -> StepResult:
        raise NotImplementedError

    def probes(self, spark, tr: Tracer) -> None:
        """Extra traced-only measurements of single layers."""

    def final_check(self) -> list[str]:
        return []

    def layer_counts(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


# --- season pipelines ------------------------------------------------------


class Season(Workload):
    """The paper's pipeline, both seasons: zipped shapefile -> documents ->
    parquet archive partitioned by event month (``season2023``,
    ``season2024``); then a separate 2024 export -> documents -> HTTP push to
    the mock laji.fi API -> JSON audit log (``push2024``). The push keeps one
    request in flight per partition on ``nproc`` partitions, under a token
    bucket set far above what the sink reaches."""

    name = "season"
    archive_seasons = (2023, 2024)

    def __init__(self, work: str, nproc: int, archive_rows: int, push_rows: int,
                 oracle_every: int):
        super().__init__(work, nproc)
        self.archive_rows = archive_rows
        self.push_rows = push_rows
        self.oracle_every = oracle_every
        #: DuckDB's documents per input zip, keyed by observation id
        self.expected: dict[str, dict[str, str]] = {}
        self.digests: dict[str, int] = {}
        self.mock: dict[str, int] = {}
        self.api = MockApi()
        self.api.start()

    def close(self) -> None:
        self.api.close()

    def _zip(self, key: str) -> str:
        return os.path.join(self.work, "in", f"{key}.zip")

    def _out(self, key: str) -> str:
        return os.path.join(self.work, "out", key)

    def prepare(self, seed: int) -> None:
        os.makedirs(os.path.join(self.work, "in"), exist_ok=True)
        plan = [(f"season{s}", s, self.archive_rows) for s in self.archive_seasons]
        plan.append(("push2024", 2024, self.push_rows))
        for i, (key, season, rows) in enumerate(plan):
            self.input_bytes += inputs.write_season_zip(
                self._zip(key), season, rows, seed * 7919 + i
            )
            self.input_rows += rows

    def expect(self, duckdb_threads: int) -> None:
        """Documents from the DuckDB replay of the pipeline
        (``parity_oracles.documents_<season>_sql``) over the observations
        Spark reads: every ``oracle_every``-th one of the archive inputs, all
        of the push input."""
        import duckdb

        from crowdsorsa_etl_spark import parity_oracles

        odir = os.path.join(self.work, "oracle")
        os.makedirs(odir, exist_ok=True)
        inputs.write_municipality_parquet(os.path.join(odir, "municipality_key.parquet"))
        con = duckdb.connect()
        con.sql(f"SET threads TO {duckdb_threads}")
        try:
            for key in self.steps():
                season = int(key[-4:])
                every = 1 if key.startswith("push") else self.oracle_every
                inputs.write_oracle_parquet(
                    self._zip(key), os.path.join(odir, f"observations_{season}.parquet"), every
                )
                sql = getattr(parity_oracles, f"documents_{season}_sql")()
                sql = sql.replace(parity_oracles.observation_fixture_dir(), odir)
                self.expected[key] = dict(con.sql(sql).fetchall())
        finally:
            con.close()
        pushed = self.expected["push2024"]
        kinds = {k: fault_kind(DOC_ID_PREFIX + k) for k in pushed}
        self.n_reject = sum(1 for v in kinds.values() if v == "reject")
        self.n_flaky = sum(1 for v in kinds.values() if v == "flaky")
        self.accepted_digest = _xor(_md5_64(v) for k, v in pushed.items() if kinds[k] != "reject")

    def steps(self) -> list[str]:
        return [f"season{s}" for s in self.archive_seasons] + ["push2024"]

    def documents(self, spark, tr: Tracer, step: str, key: str):
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.pipelines.crowdsorsa import documents_2023, documents_2024
        from crowdsorsa_etl_spark.sources.observations import municipality_dim
        from crowdsorsa_etl_spark.sources.shapefile import read_shapefile_zip

        with tr.span(step, "shapefile.read"):
            obs = read_shapefile_zip(spark, self._zip(key)).withColumn(
                "area_m2", F.lit(None).cast("double")
            )
        with tr.span(step, "crowdsorsa.build"):
            if key.endswith("2023"):
                docs = documents_2023(obs, municipality_dim(spark))
            else:
                docs = documents_2024(obs)
        return obs, docs

    def run_step(self, spark, tr: Tracer, step: str) -> StepResult:
        if step.startswith("push"):
            return self._push(spark, tr, step)
        return self._archive(spark, tr, step)

    def _same_as_first_pass(self, res: StepResult, step: str, digest: int) -> None:
        if self.digests.setdefault(step, digest) != digest:
            res.errors.append(f"{step}: output differs from the first pass")

    def _archive(self, spark, tr: Tracer, step: str) -> StepResult:
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.sinks.writers import write_partitioned

        _obs, docs = self.documents(spark, tr, step, step)
        begin = docs["document.publicDocument.gatherings"][0]["eventDate"]["begin"]
        out, seen = _observe(
            docs.select("obs_id", "document_json", F.substring(begin, 1, 7).alias("event_month")),
            rows=F.count(F.lit(1)),
            digest=F.bit_xor(F.xxhash64("obs_id", "document_json")),
        )
        tr.plan(step, out)
        with tr.span(step, "writers.write"):
            write_partitioned(out, self._out(step), partition_by=["event_month"])
        got = seen.get
        res = StepResult(int(got["rows"]))
        if res.rows != self.archive_rows:
            res.errors.append(f"{step}: {res.rows} documents for {self.archive_rows} observations")
        self._same_as_first_pass(res, step, got["digest"])
        return res

    def _sink_config(self):
        from crowdsorsa_etl_spark.config import SinkConfig

        return SinkConfig(
            api_url=self.api.url,
            access_token="bench-token",
            docs_per_second_per_partition=1e6,
            max_retries=3,
            retry_backoff_s=0.005,
            timeout_s=30.0,
        )

    def _push(self, spark, tr: Tracer, step: str) -> StepResult:
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.sinks.http_push import push_documents, write_audit_log

        cfg = self._sink_config()
        self.api.reset()
        _obs, docs = self.documents(spark, tr, step, step)
        with tr.span(step, "push.build"):
            audit = push_documents(docs, cfg, num_partitions=self.nproc)
        if tr.traced:
            with tr.span(step, "push.push"):
                audit = audit.localCheckpoint()
        audit, seen = _observe(
            audit,
            rows=F.count(F.lit(1)),
            ok=F.sum(F.col("ok").cast("int")),
            rejected=F.sum((F.col("status_code") == 400).cast("int")),
        )
        tr.plan(step, audit)
        with tr.span(step, "audit.write"):
            write_audit_log(audit, self._out(step), cfg)
        got = seen.get
        self.mock = self.api.snapshot()
        res = StepResult(int(got["rows"]))
        ok = self.push_rows - self.n_reject
        for k, v in {"rows": self.push_rows, "ok": ok, "rejected": self.n_reject}.items():
            if int(got[k] or 0) != v:
                res.errors.append(f"{step}: audit {k}={got[k]}, expected {v}")
        if self.mock["status_200"] != ok:
            res.errors.append(f"{step}: API accepted {self.mock['status_200']}, audit says {ok}")
        if self.mock["status_503"] != self.n_flaky:
            res.errors.append(f"{step}: {self.mock['status_503']} 503s for {self.n_flaky} flaky")
        if self.api.accepted_digest != self.accepted_digest:
            res.errors.append(f"{step}: pushed documents differ from the DuckDB replay")
        return res

    def probes(self, spark, tr: Tracer) -> None:
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.functions import geo

        for season in self.archive_seasons:
            step = f"probe{season}"
            obs, docs = self.documents(spark, tr, step, f"season{season}")
            with tr.span(step, "crowdsorsa.exec"):
                _noop(docs.select("obs_id", "document_json"))
            crs = "WGS84" if season == 2023 else "EUREF"
            with tr.span(step, "geo.udf"):
                valid = geo.st_make_valid_multi(F.col("geometry_wkb"))
                _noop(
                    obs.select(
                        geo.area_m2(valid, crs).alias("area"),
                        geo.st_as_geojson_struct(valid).alias("geojson"),
                    )
                )

    def final_check(self) -> list[str]:
        """The last pass's outputs, read back: one parseable archived
        document per observation, equal to DuckDB's where DuckDB replayed
        it; an audit row per pushed document, without the access token."""
        errors = []
        for step in self.steps()[:-1]:
            table = pq.read_table(self._out(step), columns=["obs_id", "document_json"])
            archived = dict(zip(table.column("obs_id").to_pylist(),
                                table.column("document_json").to_pylist()))
            if len(archived) != self.archive_rows:
                errors.append(f"{step}: {len(archived)} distinct archived documents")
            try:
                for doc in archived.values():
                    json.loads(doc)
            except (TypeError, ValueError):
                errors.append(f"{step}: unparseable document_json")
            wrong = sum(archived.get(k) != v for k, v in self.expected[step].items())
            if wrong:
                errors.append(f"{step}: {wrong} documents differ from the DuckDB replay")
        rows = ok = 0
        audit_dir = self._out("push2024")
        for name in os.listdir(audit_dir):
            if name.endswith(".json"):
                with open(os.path.join(audit_dir, name)) as fh:
                    for line in fh:
                        if "bench-token" in line:
                            errors.append("audit log leaks the access token")
                        rows += 1
                        ok += bool(json.loads(line).get("ok"))
        if (rows, ok) != (self.push_rows, self.push_rows - self.n_reject):
            errors.append(f"audit log has {rows} rows, {ok} ok")
        return errors

    def layer_counts(self) -> dict[str, float]:
        files, size = 0, 0
        for step in self.steps()[:-1]:
            for root, _dirs, names in os.walk(self._out(step)):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(root, n))
        m = self.mock
        return {
            "writers.files": files,
            "writers.bytes_mb": size / 1e6,
            "push.requests": m.get("requests", 0),
            "push.connections": m.get("connections", 0),
            "push.requests_per_doc": m.get("requests", 0) / self.push_rows,
            "push.failed_docs": self.n_reject,
            "push.body_mb": m.get("body_bytes", 0) / 1e6,
        }


# --- LLM / relational query mixes -----------------------------------------


class QueryMix(Workload):
    """Registered queries over seeded fixture tables, each into the noop
    sink; the row count of every pass is checked against DuckDB running the
    query's registered oracle SQL."""

    def __init__(self, work: str, nproc: int, name: str, queries: tuple[str, ...], sf: float):
        super().__init__(work, nproc)
        self.name = name
        self.queries = queries
        self.sf = sf
        self.data = os.path.join(work, "in", "tables")
        self.expected_rows: dict[str, int] = {}

    def prepare(self, seed: int) -> None:
        self.input_rows = inputs.write_fixture_tables(self.data, seed, self.sf)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.data, f)) for f in os.listdir(self.data)
        )

    def expect(self, duckdb_threads: int) -> None:
        import duckdb

        from crowdsorsa_etl_spark.queries import ORACLES
        from crowdsorsa_etl_spark.schemas import FIXTURE_TABLES

        con = duckdb.connect()
        con.sql(f"SET threads TO {duckdb_threads}")
        try:
            for t in FIXTURE_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for q in self.queries:
                self.expected_rows[q] = con.sql(
                    f"SELECT count(*) FROM ({ORACLES[q]}) AS oracle"
                ).fetchone()[0]
        finally:
            con.close()

    def steps(self) -> list[str]:
        return list(self.queries)

    def run_step(self, spark, tr: Tracer, step: str) -> StepResult:
        from pyspark.sql import functions as F

        from crowdsorsa_etl_spark.queries import QUERIES

        with tr.span(step, "queries.build"):
            df = QUERIES[step](spark, self.data)
        df, seen = _observe(df, rows=F.count(F.lit(1)))
        tr.plan(step, df)
        with tr.span(step, "exec"):
            _noop(df)
        res = StepResult(int(seen.get["rows"]))
        if res.rows != self.expected_rows[step]:
            res.errors.append(f"{step}: {res.rows} rows, oracle has {self.expected_rows[step]}")
        return res
