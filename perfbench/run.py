"""Benchmark runner for the martech_pipelines_spark engine.

Runs one workload of ``perfbench/workloads.py`` as a closed loop on
``local[nproc]``: one client runs the steps one after another, each step
waiting for the previous one, and passes over the steps repeat.

    python3 perfbench/run.py --workload martech_sync --seed 1 --seconds 7 --trace 0

A run:

1. sets up four times and reports the median as ``setup_s``. A set-up
   starts a Spark session through the engine's ``get_spark`` (stopping the
   previous one), generates the seed's inputs (``perfbench/gen.py``) and
   runs one warm-up query. The driver JVM gets a fixed 1 GiB heap, so that
   its resident memory does not depend on when the collector grows it, and
   a JIT compile threshold scaled to 0.1, so that more of the compilation
   happens in the priming passes;
2. times ``bench.py``'s host calibration probe once;
3. runs two untimed priming passes, so that code generation, JIT
   compilation and Python worker start-up are not billed to the timed
   passes (the first pass of a session runs about 3x slower than later
   ones; after priming, passes still get about 10% faster each);
4. runs timed passes, at least three, while the next one is expected to
   end within ``--seconds``. Before every step the engine's per-process
   index caches are emptied, so no pass reuses an index an earlier pass
   built;
5. checks every step output of every timed pass against the DuckDB oracle
   of its corpus query (expected results are cached per seed). A step
   fails when it raised or its output differs; ``failed`` and
   ``attempted`` in the result line count steps.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
each the median over the timed passes: pass wall time, CPU seconds and
peak resident memory of the engine's whole process tree (Python driver,
JVM, Python workers), and the median set-up time.

With ``--trace 1`` the session writes a plain event log, timed passes
run untraced, traced, traced, untraced, and the last line carries the
per-layer metrics of the traced passes (medians over passes).
``trace.overhead_s`` is the median traced pass minus the median untraced
pass of the same session; both kinds of pass write the event log.

The line before the last carries the host context of the run: ``nproc``,
the calibration probe time and the CPU steal share during the timed
passes. Per-step detail goes to ``.perfbench/out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import re
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

import gen
import measure
from stub import RestStub

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 4
PRIMING_PASSES = 2
MIN_TIMED_PASSES = 3

E2E_UNITS = {"pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}


def _engine_present() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import martech_pipelines_spark.plans  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as exc:
        print(f"engine not found under {ROOT}: {exc}", file=sys.stderr)
        return False
    return True


class Engine:
    """One Spark session of the engine, started with ``get_spark``."""

    def __init__(self, nproc: int, event_log: str | None):
        from martech_pipelines_spark import get_spark

        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": "-Xms1g -XX:CompileThresholdScaling=0.1",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", master=f"local[{nproc}]",
                               shuffle_partitions=nproc, extra_conf=conf)
        self.sc = self.spark.sparkContext

    def warm_up(self) -> None:
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()

    def calibrate(self) -> float:
        """``bench.py``'s host probe: a fixed CPU and shuffle job, run once."""
        t0 = time.perf_counter()
        (self.spark.range(30_000_000).selectExpr("xxhash64(id) % 1000 AS b", "id")
         .groupBy("b").agg({"id": "sum"}).count())
        return time.perf_counter() - t0

    def stop(self) -> None:
        self.spark.stop()


def _shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _reap_children(timeout_s: float = 30.0) -> None:
    """Wait until every process this run started has ended; kill stragglers."""
    deadline = time.monotonic() + timeout_s
    while (left := measure.process_tree(os.getpid())[1:]) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        print(f"killing leftover process {pid}", file=sys.stderr)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _clear_index_caches() -> None:
    """Empty the corpus' build-once-per-process index caches."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("martech_pipelines_spark.plans") and mod is not None:
            for attr, val in vars(mod).items():
                if re.fullmatch(r"_[A-Z0-9_]+_(INDEX|LAYOUT)", attr) and isinstance(val, dict):
                    val.clear()


class Runner:
    """Runs the steps of one workload, a pass at a time."""

    def __init__(self, engine: Engine, steps, data_dir: str, stub, out_dir: str, sampler):
        self.engine, self.steps, self.data_dir = engine, steps, data_dir
        self.stub, self.out_dir, self.sampler = stub, out_dir, sampler

    def run_step(self, step, tag: str, traced: bool) -> dict:
        from martech_pipelines_spark import caching
        from martech_pipelines_spark.operators import sinks
        from martech_pipelines_spark.plans import QUERIES

        sc, rec, token = self.engine.sc, {}, f"{tag}-{step.name}"
        _clear_index_caches()
        try:
            if traced:
                sc.setJobGroup(f"{tag}:{step.name}:build", step.name)
            t0 = time.perf_counter()
            df = QUERIES[step.query](self.engine.spark, self.data_dir)
            plan = df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            if traced:
                rec["exchanges"] = measure.count_exchanges(plan.toString())
                sc.setJobGroup(f"{tag}:{step.name}:action", step.name)
            if step.sink is None:
                rec["output"] = (df.columns, [tuple(r) for r in df.collect()])
            elif step.sink == "parquet":
                rec["output"] = os.path.join(self.out_dir, token)
                sinks.write_file(df, rec["output"])
            else:
                send = sinks.rest_batch_sink if step.sink == "rest_json" else sinks.rest_csv_batch_sink
                send(df, sinks.RestSinkConfig(url=self.stub.url(token)))
            t2 = time.perf_counter()
            if traced:
                rec["stored_bytes"] = sum(
                    i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
                )
            rec.update(build_s=t1 - t0, action_s=t2 - t1)
        except Exception:  # a failing step is counted and the loop goes on
            rec["error"] = traceback.format_exc(limit=4)
        finally:
            caching.release()
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        if step.sink in ("rest_json", "rest_csv"):
            rec["output"] = self.stub.take(token)
        return rec

    def run_pass(self, tag: str, traced: bool) -> dict:
        spans = measure.Spans()
        if traced:
            measure.install_layer_spans(spans)
        self.sampler.open()
        start_ms = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            steps = [self.run_step(s, tag, traced) for s in self.steps]
        finally:
            wall = time.perf_counter() - t0
            end_ms = time.time() * 1e3
            usage = self.sampler.close()
            spans.uninstall()
        return {"tag": tag, "traced": traced, "wall_s": wall, "start_ms": start_ms,
                "end_ms": end_ms, "steps": steps, "calls": dict(spans.calls),
                "self_s": dict(spans.self_s), **usage}


def _expected(workload, steps, data_dir: str, seed: int) -> dict:
    """DuckDB oracle results for the workload's queries, cached per seed and
    per version of the generator and the oracles."""
    import workloads
    from martech_pipelines_spark.plans import ORACLE

    queries = sorted({s.query for s in steps})
    key = hashlib.sha256(open(gen.__file__, "rb").read())
    for q in queries:
        key.update(ORACLE[q].encode())
    path = os.path.join(WORK, "cache", f"{workload}-seed{seed}-{key.hexdigest()[:16]}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    result = workloads.expected_results(data_dir, gen.TABLES, ORACLE, set(queries))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".part", "wb") as f:
        pickle.dump(result, f)
    os.replace(path + ".part", path)
    return result


def _check_passes(steps, passes, expected, plant: str | None) -> list[dict]:
    import workloads

    want = {s.name: workloads.expected_form(s, expected[s.query]) for s in steps}
    failures = []
    for p in passes:
        for step, rec in zip(steps, p["steps"]):
            if "error" in rec:
                reason = "raised: " + rec["error"].strip().splitlines()[-1]
            else:
                out = rec["output"]
                if step.name == plant:
                    out = workloads.plant_error(step, out)
                reason = workloads.check(step, out, want[step.name])
            if reason:
                failures.append({"pass": p["tag"], "step": step.name, "reason": reason})
    return failures


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


LAYER_UNITS = {
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.exchanges": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.stages_skipped": "count",
    "spark.tasks": "count", "spark.tasks_failed": "count", "spark.driver_gap_s": "s",
    "spark.core_util": "ratio", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.peak_exec_mem_bytes": "bytes",
    "python.worker_cpu_s": "s", "python.bytes_to_workers": "bytes",
    "python.bytes_from_workers": "bytes",
    "sources.load_s": "s", "sources.bytes_read": "bytes", "sources.rows_read": "count",
    "sinks.requests": "count", "sinks.records": "count", "sinks.bytes_posted": "bytes",
    "sinks.retries": "count", "sinks.parquet_bytes": "bytes", "sinks.request_p50_ms": "ms",
    "caching.registered": "count", "caching.stored_bytes": "bytes",
    "trace.overhead_s": "s",
}
_SUMMED = ("stages", "stages_skipped", "tasks", "tasks_failed", "executor_run_s",
           "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _layers(steps, p: dict, jobs: dict, events: dict, nproc: int) -> tuple[dict, list]:
    """Per-layer totals of one traced pass, and the per-step counts."""
    tag, layer, per_step = p["tag"], defaultdict(float), []
    intervals, latencies = [], []
    for step, rec in zip(steps, p["steps"]):
        groups = [f"{tag}:{step.name}:{phase}" for phase in ("build", "action")]
        ev = [events.get(g, {}) for g in groups]
        build_jobs, n_jobs = jobs[groups[0]], jobs[groups[0]] + jobs[groups[1]]
        stages = sum(e.get("stages", 0) for e in ev)
        per_step.append({"step": step.name, "build_jobs": build_jobs, "jobs": n_jobs,
                         "stages": stages, "exchanges": rec.get("exchanges", 0),
                         "build_s": rec.get("build_s"), "action_s": rec.get("action_s")})
        layer["plans.build_s"] += rec.get("build_s", 0.0)
        layer["plans.build_jobs"] += build_jobs
        layer["plans.exchanges"] += rec.get("exchanges", 0)
        layer["spark.jobs"] += n_jobs
        for e in ev:
            for k in _SUMMED:
                layer[f"spark.{k}"] += e.get(k, 0)
            layer["spark.peak_exec_mem_bytes"] = max(
                layer["spark.peak_exec_mem_bytes"], e.get("peak_exec_mem_bytes", 0))
            layer["sources.bytes_read"] += e.get("bytes_read", 0)
            layer["sources.rows_read"] += e.get("rows_read", 0)
            layer["python.bytes_to_workers"] += e.get("python_bytes_to_workers", 0)
            layer["python.bytes_from_workers"] += e.get("python_bytes_from_workers", 0)
            intervals += e.get("intervals", [])
        layer["caching.stored_bytes"] = max(layer["caching.stored_bytes"], rec.get("stored_bytes", 0))
        if step.sink == "parquet" and "error" not in rec:
            layer["sinks.parquet_bytes"] += _dir_bytes(rec["output"])
        elif step.sink:
            d = rec["output"]
            layer["sinks.requests"] += len(d.batch_ids)
            layer["sinks.records"] += len(d.records)
            layer["sinks.bytes_posted"] += d.bytes_posted
            layer["sinks.retries"] += d.duplicate_batches()
            latencies += d.latencies_s
    wall = p["wall_s"]
    layer["spark.driver_gap_s"] = wall - measure.busy_seconds(intervals, p["start_ms"], p["end_ms"])
    layer["spark.core_util"] = layer["spark.executor_cpu_s"] / (wall * nproc)
    layer["python.worker_cpu_s"] = p["python_cpu_s"]
    layer["sinks.request_p50_ms"] = statistics.median(latencies) * 1e3 if latencies else 0.0
    layer["sources.load_s"] = p["self_s"].get("sources", 0.0)
    layer["caching.registered"] = p["calls"].get("caching", 0)
    for mod in measure.OPERATOR_LAYERS:
        layer[f"operators.{mod}.calls"] = p["calls"].get(f"operators.{mod}", 0)
        layer[f"operators.{mod}.self_s"] = p["self_s"].get(f"operators.{mod}", 0.0)
    return dict(layer), per_step


def layer_units() -> dict[str, str]:
    units = dict(LAYER_UNITS)
    for mod in measure.OPERATOR_LAYERS:
        units[f"operators.{mod}.calls"] = "count"
        units[f"operators.{mod}.self_s"] = "s"
    return units


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", metavar="STEP",
                    help="corrupt this step's output before the check (proves the check fails)")
    args = ap.parse_args(argv)
    if not _engine_present():
        return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    steps = workloads.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    tmp = _fresh_dir(os.path.join(WORK, "tmp"))
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=_fresh_dir(os.path.join(WORK, "spark-local")),
                      JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    tempfile.tempdir = tmp
    data_dir = os.path.join(WORK, "data", f"seed{args.seed}")
    event_dir = _fresh_dir(os.path.join(WORK, "eventlog")) if args.trace else None
    out_dir = os.path.join(tmp, "out")

    setups, engine, app_id, jobs = [], None, None, {}
    phases = {"start": time.perf_counter()}
    try:
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if engine is not None:
                engine.stop()
            engine = Engine(nproc, event_dir)
            gen.generate(data_dir, args.seed)
            engine.warm_up()
            setups.append(time.perf_counter() - t0)
        phases["setups"] = time.perf_counter()
        calib_s = engine.calibrate()
        phases["calib"] = time.perf_counter()
        sampler = measure.TreeSampler(os.getpid())
        with RestStub(max_connections=nproc) as stub:
            runner = Runner(engine, steps, data_dir, stub, out_dir, sampler)
            for i in range(PRIMING_PASSES):
                runner.run_pass(f"prime{i}", traced=False)
            phases["prime"] = time.perf_counter()
            steal0, passes, t0 = measure.cpu_ticks(), [], time.perf_counter()
            while True:
                # untraced, traced, traced, untraced, ...: both kinds sit at the
                # same mean position, so warm-up drift cancels in the overhead
                traced = bool(args.trace) and len(passes) % 4 in (1, 2)
                passes.append(runner.run_pass(f"p{len(passes)}", traced))
                typical = statistics.median(p["wall_s"] for p in passes)
                if (len(passes) >= MIN_TIMED_PASSES + args.trace
                        and time.perf_counter() - t0 + typical > args.seconds):
                    break
            steal1 = measure.cpu_ticks()
            phases["timed"] = time.perf_counter()
        if args.trace:
            st = engine.sc.statusTracker()
            for p in passes:
                for s in steps:
                    for phase in ("build", "action"):
                        g = f"{p['tag']}:{s.name}:{phase}"
                        jobs[g] = len(st.getJobIdsForGroup(g))
            app_id = engine.sc.applicationId
        engine.stop()
        engine = None
    finally:
        if engine is not None:
            engine.stop()
        _shutdown_jvm()
        _reap_children()

    phases["stop"] = time.perf_counter()
    expected = _expected(args.workload, steps, data_dir, args.seed)
    phases["oracle"] = time.perf_counter()
    failures = _check_passes(steps, passes, expected, args.plant)
    phases["check"] = time.perf_counter()
    attempted = len(steps) * len(passes)
    host = {
        "nproc": nproc,
        "calib_s": calib_s,
        "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
    }
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host, "setup_s": setups, "failures": failures,
              "phases": {k: round(v - phases["start"], 2) for k, v in phases.items()},
              "passes": [{**p, "steps": [{k: v for k, v in r.items() if k != "output"}
                                         for r in p["steps"]]} for p in passes]}

    untraced = [p for p in passes if not p["traced"]]
    if args.trace:
        events = measure.read_event_log(os.path.join(event_dir, app_id))
        traced_passes = [p for p in passes if p["traced"]]
        per_pass = [_layers(steps, p, jobs, events, nproc) for p in traced_passes]
        detail["per_step"] = {p["tag"]: rows for p, (_, rows) in zip(traced_passes, per_pass)}
        units = layer_units()
        values = {k: statistics.median(layers.get(k, 0) for layers, _ in per_pass) for k in units}
        values["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced_passes)
                                      - statistics.median(p["wall_s"] for p in untraced))
    else:
        values = {
            "pass_s": statistics.median(p["wall_s"] for p in untraced),
            "cpu_s": statistics.median(p["cpu_s"] for p in untraced),
            "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in untraced),
            "setup_s": statistics.median(setups),
        }
        units = E2E_UNITS
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    with open(os.path.join(WORK, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(os.environ["SPARK_LOCAL_DIRS"], ignore_errors=True)

    for fl in failures:
        print(f"FAILED {fl['pass']} {fl['step']}: {fl['reason']}", file=sys.stderr)
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in sorted(units)},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
