#!/usr/bin/env python3
"""Repository benchmark: the season pipelines and two LLM query mixes on
``local[nproc]``, timed end to end, with a separate traced run per
workload that splits the time by layer.

Usage, from the repository root::

    python3 perfbench/run.py --workload season_archive --seed 1 --seconds 8 --trace 0

One run:

1. writes the workload's inputs from ``--seed`` (outside every timer);
2. computes the expected outputs with DuckDB (outside every timer);
3. sets up: imports the package, starts the SparkSession and runs one
   warm-up pass, which also writes the at-rest memo artifacts some queries
   build on first call. This is ``setup_s``;
4. ``--trace 0``: repeats the pass for ``--seconds`` and reports the
   end-to-end metrics as medians over the passes;
   ``--trace 1``: runs a plain pass, a traced pass (job groups, forced
   Catalyst planning, the Spark event log) and another plain pass, then
   single-layer probes, and reports the per-layer metrics;
5. checks every pass's output and prints, as its last line, one JSON object
   with ``correct``, ``attempted``, ``failed`` and ``metrics``.

All files live under ``.perfbench_work/`` in the working directory, which
the run removes when it ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402
from perfbench.tracing import Tracer, replay_event_log  # noqa: E402

#: one query whose wall is mostly driver-side build, two mostly execution
LLM_QUERIES = (
    "q100_scd2_buffered",
    "flagship_order_documents",
    "llm_embedding_dups_lsh",
)
#: input sizes: observations per archived season, observations pushed, the
#: share of archived documents DuckDB replays, and the fixture scale factor
ARCHIVE_ROWS = 6_000
PUSH_ROWS = 1_000
ORACLE_EVERY = 8
LLM_SF = 0.01

WORKLOADS = ("season", "llm")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "step_geomean_s": "s",
    "docs_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
}

PER_LAYER = {
    "shapefile.read_s": "s",
    "shapefile.rows_per_s": "1/s",
    "crowdsorsa.build_s": "s",
    "crowdsorsa.exec_s": "s",
    "geo.udf_s": "s",
    "writers.write_s": "s",
    "writers.bytes_mb": "MB",
    "writers.files": "count",
    "push.push_s": "s",
    "push.requests": "count",
    "push.connections": "count",
    "push.requests_per_doc": "count",
    "push.failed_docs": "count",
    "push.body_mb": "MB",
    "audit.write_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.single_task_stage_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "plan.python_nodes": "count",
    "plan.exchanges": "count",
    "plan.single_partition_exchanges": "count",
    "plan.bnlj": "count",
    "trace.overhead_s": "s",
    "trace.coverage_min": "ratio",
    "host.load1_before": "load",
    "host.load1_after": "load",
    "host.cpu_probe_ms_before": "ms",
    "host.cpu_probe_ms_after": "ms",
}
for _q in LLM_QUERIES:
    PER_LAYER[f"{_q}.build_s"] = "s"
    PER_LAYER[f"{_q}.exec_s"] = "s"

#: span name -> per-layer time metric it adds to
SPAN_METRIC = {
    "shapefile.read": "shapefile.read_s",
    "crowdsorsa.build": "crowdsorsa.build_s",
    "crowdsorsa.exec": "crowdsorsa.exec_s",
    "geo.udf": "geo.udf_s",
    "writers.write": "writers.write_s",
    "push.push": "push.push_s",
    "audit.write": "audit.write_s",
    "queries.build": "queries.build_s",
    "plan": "catalyst.plan_s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_probe_ms() -> float:
    """A fixed pure-Python loop; slower when the box's cores are shared."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1000.0


def contention() -> dict[str, float]:
    return {"load1": os.getloadavg()[0], "cpu_probe_ms": cpu_probe_ms()}


class RssSampler:
    """Peak resident set of this (driver) process while it runs."""

    def __init__(self, interval_s: float = 0.02):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with open("/proc/self/statm") as fh:
            self.peak = max(self.peak, int(fh.read().split()[1]) * self._page)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def make_workload(name: str, work: str, n: int):
    if name == "season":
        return W.Season(work, n, ARCHIVE_ROWS, PUSH_ROWS, ORACLE_EVERY)
    return W.QueryMix(work, n, name, LLM_QUERIES, LLM_SF)


def start_spark(work: str, n: int, traced: bool):
    from crowdsorsa_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM ignored EOF; make sure it ends
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    """Runs passes of one workload; counts the steps run and the failed
    output checks."""

    def __init__(self, spark, wl):
        self.spark = spark
        self.wl = wl
        self.attempted = 0
        self.errors: list[str] = []

    def run_pass(self, traced: bool = False):
        tr = Tracer(self.spark, traced)
        steps: dict[str, float] = {}
        rows = 0
        t_pass = time.perf_counter()
        for step in self.wl.steps():
            self.attempted += 1
            t0 = time.perf_counter()
            res = self.wl.run_step(self.spark, tr, step)
            steps[step] = time.perf_counter() - t0
            rows += res.rows
            self.errors.extend(res.errors)
        return time.perf_counter() - t_pass, steps, rows, tr


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def layer_metrics(wl, tr, plain_steps, traced_steps, replay) -> dict[str, float]:
    """Per-layer metrics of the traced pass. Probe steps (single-layer
    measurements run after the pass) feed only their own metrics."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    for span in tr.spans:
        probe = span.step.startswith("probe")
        if probe and span.name in ("shapefile.read", "crowdsorsa.build"):
            continue
        metric = SPAN_METRIC.get(span.name)
        if metric:
            m[metric] += span.seconds
        if span.name == "queries.build":
            m[f"{span.step}.build_s"] += span.seconds
        elif span.name == "exec" and f"{span.step}.exec_s" in m:
            m[f"{span.step}.exec_s"] += span.seconds
    if m["shapefile.read_s"] > 0:
        m["shapefile.rows_per_s"] = wl.input_rows / m["shapefile.read_s"]
    m.update(wl.layer_counts())
    spans = {f"{s.step}|{s.name}": s for s in tr.spans if not s.step.startswith("probe")}
    for group, g in replay.items():
        span = spans.get(group)
        if span is None:
            continue
        if span.name == "queries.build":
            m["queries.build_jobs"] += g["jobs"]
        elif span.kind == "exec":
            m["exec.exec_s"] += g["job_wall_s"]
            m["exec.jobs"] += g["jobs"]
            m["exec.tasks"] += g["tasks"]
            m["exec.task_run_s"] += g["task_run_s"]
            m["exec.single_task_stage_s"] += g["single_task_stage_s"]
            m["exec.shuffle_write_mb"] += g["shuffle_write_mb"]
            m["exec.spill_mb"] += g["spill_mb"]
    for shape in tr.plan_shapes.values():
        for k, v in shape.items():
            m[f"plan.{k}"] += v
    m["trace.overhead_s"] = sum(traced_steps.values()) - sum(plain_steps.values())
    covered = dict.fromkeys(traced_steps, 0.0)
    for span in tr.spans:
        if span.step in covered:
            covered[span.step] += span.seconds
    m["trace.coverage_min"] = min(covered[s] / w for s, w in traced_steps.items())
    return m


def timed_passes(runner: Runner, seconds: float, info: dict) -> dict[str, float]:
    """Passes for ``seconds``, and at least two; the end-to-end metrics."""
    walls, per_step, rows = [], [], 0
    t_end = time.perf_counter() + seconds
    with RssSampler() as rss:
        while len(walls) < 2 or time.perf_counter() < t_end:
            wall, steps, rows, _tr = runner.run_pass()
            walls.append(wall)
            per_step.append(steps)
    # a typical pass: the median of every step, summed
    step_medians = {s: statistics.median(p[s] for p in per_step) for s in per_step[0]}
    wall_s = sum(step_medians.values())
    info["pass_walls"] = walls
    info["step_medians"] = step_medians
    return {
        "wall_s": wall_s,
        "step_geomean_s": geomean(step_medians.values()),
        "docs_per_s": rows / wall_s,
        "driver_peak_rss_mb": rss.peak / 1e6,
    }


def traced_passes(runner: Runner):
    """A traced pass between two plain ones, so that a JIT still warming up
    does not read as negative tracing overhead."""
    _wall, before, _rows, _tr = runner.run_pass()
    _wall, traced_steps, _rows, tr = runner.run_pass(traced=True)
    _wall, after, _rows, _tr = runner.run_pass()
    plain_steps = {s: (before[s] + after[s]) / 2 for s in before}
    return tr, plain_steps, traced_steps


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the package keeps its memo artifacts under tempfile.gettempdir(); the
    # Python workers import the package from the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        return run(args, work, traced)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run(args, work: str, traced: bool) -> int:
    n = nproc()
    t_import = time.perf_counter()
    try:
        import crowdsorsa_etl_spark.queries  # noqa: F401 - registry import is set-up work
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t_import

    before = contention()
    wl = make_workload(args.workload, work, n)
    spark = None
    try:
        t0 = time.perf_counter()
        wl.prepare(args.seed)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.expect(n)
        oracle_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = start_spark(work, n, traced)
        session_s = time.perf_counter() - t0
        runner = Runner(spark, wl)
        t0 = time.perf_counter()
        runner.run_pass()
        warmup_s = time.perf_counter() - t0
        setup_s = import_s + session_s + warmup_s

        info: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": n,
            "inputs": {"rows": wl.input_rows, "bytes": wl.input_bytes, "gen_s": gen_s},
            "oracle_s": oracle_s,
            "setup": {"import_s": import_s, "session_s": session_s, "warmup_s": warmup_s},
        }
        if traced:
            tr, plain_steps, traced_steps = traced_passes(runner)
            wl.probes(spark, tr)
        else:
            metrics = timed_passes(runner, args.seconds, info)
            metrics["setup_s"] = setup_s
        runner.errors.extend(wl.final_check())
        after = contention()
        info["contention"] = {"before": before, "after": after}
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
        spark = None
        if traced:
            replay = replay_event_log(os.path.join(work, "events"), app_id)
            metrics = layer_metrics(wl, tr, plain_steps, traced_steps, replay)
            metrics["host.load1_before"] = before["load1"]
            metrics["host.load1_after"] = after["load1"]
            metrics["host.cpu_probe_ms_before"] = before["cpu_probe_ms"]
            metrics["host.cpu_probe_ms_after"] = after["cpu_probe_ms"]
            if metrics["trace.coverage_min"] < 0.95:
                runner.errors.append(
                    f"traced spans cover {metrics['trace.coverage_min']:.3f} of a step's wall"
                )
        units = PER_LAYER if traced else END_TO_END
    except Exception:  # noqa: BLE001 - a failed run still reports, as a failure
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        wl.close()

    for e in runner.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    info["errors"] = runner.errors
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": not runner.errors,
                "attempted": runner.attempted,
                "failed": min(len(runner.errors), runner.attempted),
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
