"""Layered end-to-end benchmark of the log analyzer.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/``; the program receives only those files. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (name -> value and unit). With
``--trace 0`` the metrics are the end-to-end ones, measured with tracing
off; with ``--trace 1`` they are the per-layer ones of a traced run, and
the spans are written to ``.perfbench_out/trace-<workload>-<seed>.json``.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_WORKLOADS = ("query_mix", "triage")

E2E = {  # name -> (unit, better)
    "setup_s": ("s", "lower"),
    "latency_p50_s": ("s", "lower"),
    "latency_p90_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}


def _query_layer() -> dict:
    from workloads import HEADLINE

    out = {}
    for q in HEADLINE:
        for m, unit in (("build_ms", "ms"), ("plan_ms", "ms"), ("exec_ms", "ms"),
                        ("stages", "count"), ("task_s", "s")):
            out[f"query.{q}.{m}"] = unit
    return out


def layer_units() -> dict:
    """Every per-layer metric with its unit, in report order."""
    from workloads import DETECTORS

    units = {
        "trace_logs.lines_in": "count", "trace_logs.events_out": "count",
        "trace_logs.parse_yield": "ratio", "trace_logs.input_bytes_ratio": "ratio",
        "trace_logs.lines_per_s": "1/s", "trace_logs.offsets_s": "s",
        "trace_logs.events_s": "s", "trace_logs.event_metrics_s": "s",
        "trace_logs.events_wide_s": "s", "trace_logs.processes_s": "s",
        "trace_logs.process_roles_s": "s", "trace_logs.jobs": "count",
        "sinks.write_s": "s", "sinks.bytes_written": "bytes", "sinks.files_written": "count",
        "tables.cache_s": "s", "tables.cached_mb": "MB",
        **_query_layer(),
        "operators.single_task_stages": "count",
        **{f"detectors.{d}_s": "s" for d in DETECTORS},
        "detectors.jobs": "count",
        "agentic.iterations": "count", "agentic.llm_calls": "count",
        "agentic.detector_calls": "count", "agentic.tool_calls": "count",
        "agentic.jobs": "count", "agentic.stages": "count", "agentic.job_s": "s",
        "agentic.job_s.investigation": "s", "agentic.job_s.tools": "s",
        "agentic.job_s.timeline": "s", "agentic.job_s.retrieval": "s",
        "agentic.job_s.detectors": "s",
        "agentic.phase_a_s": "s", "agentic.phase_bc_s": "s",
        "triage.load_s": "s", "triage.investigate_s": "s", "triage.report_s": "s",
        "session.jobs": "count", "session.stages": "count", "session.tasks": "count",
        "session.task_s": "s", "session.gc_s": "s", "session.spill_mb": "MB",
        "session.shuffle_mb": "MB", "session.arrow_mb": "MB",
        "host.duckdb_query_mix_s": "s",
        "failed_frac": "ratio",
        **{f"traced.{k}": u for k, (u, _) in E2E.items()},
    }
    return units


class Context:
    def __init__(self, spark, tracer, work: str, cores: int, scale: float):
        self.scale = scale
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.cores = cores


def _start_spark(work: str, cores: int, traced: bool):
    from db_loganalyzer_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # bench.py's small-input settings: AQE's stage-by-stage re-planning
        # and locality waits add fixed latency no sub-second job amortizes
        "spark.sql.adaptive.enabled": "false",
        "spark.locality.wait": "0",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap keeps peak RSS from following the
        # garbage collector's heap sizing, so it moves with what is held
        # outside the heap (and in Python) instead
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                     extra_conf=conf)


def _rss_mb(pid: int) -> float:
    """Peak resident set of process ``pid`` (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the context and wait until the driver JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_one(workload: str, seed: int, seconds: float, traced: bool,
            scale: float = 1.0) -> dict:
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return _measure(workload, seed, seconds, traced, work, cores, scale)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(workload: str, seed: int, seconds: float, traced: bool, work: str,
             cores: int, scale: float) -> dict:
    import workloads

    spark = _start_spark(work, cores, traced)
    tracing.log("spark started")
    try:
        tracer = tracing.Tracer(spark, traced)
        ctx = Context(spark, tracer, work, cores, scale)
        res = workloads.WORKLOADS[workload](ctx, seed, seconds)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = _rss_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    finally:
        _stop_spark(spark)
        tracing.log("spark stopped")
    lat = res.latencies
    e2e = {
        "setup_s": sorted(res.setups)[len(res.setups) // 2],
        "latency_p50_s": workloads.percentile(lat, 50),
        "latency_p90_s": workloads.percentile(lat, 90),
        "throughput_per_s": len(lat) / res.measured_s,
        "peak_rss_mb": rss,
    }
    print(f"perfbench: {len(lat)} requests, latencies "
          f"{[round(x, 3) for x in lat]}; "
          f"setups {[round(x, 3) for x in res.setups]}", file=sys.stderr)
    for err in res.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    if traced:
        jobs = tracing.read_event_log(os.path.join(work, "eventlog"))
        metrics = _layer_metrics(res, tracer.calls, jobs, e2e)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"trace-{workload}-{seed}.json"), jobs, metrics)
        units = layer_units()
        report = {k: (metrics.get(k, 0.0), u) for k, u in units.items()}
    else:
        report = {k: (v, E2E[k][0]) for k, v in e2e.items()}
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
    }


def _layer_metrics(res, calls: dict, jobs: list[dict], e2e: dict) -> dict:
    import workloads

    m = dict(res.layer)
    m.update({f"traced.{k}": v for k, v in e2e.items()})
    m["failed_frac"] = res.failed / max(res.attempted, 1)
    for k, v in tracing.summarize(jobs).items():
        if k in ("jobs", "stages", "tasks", "task_s", "gc_s", "spill_mb", "shuffle_mb",
                 "arrow_mb"):
            m[f"session.{k}"] = v

    def under(prefix):
        return [j for j in jobs if j["span"] == prefix or j["span"].startswith(prefix + "/")]

    load = tracing.summarize(under("load"))
    if load["jobs"]:
        loads = max(res.loads, 1)
        m["trace_logs.jobs"] = load["jobs"] / loads
        m["trace_logs.input_bytes_ratio"] = load["input_mb"] * 1e6 / loads / m["input_bytes"]
    inv = under("investigate")
    if inv:
        n = m.get("agentic.investigations", 1)  # every agentic metric is per investigation
        s = tracing.summarize(inv)
        m["agentic.jobs"], m["agentic.stages"] = s["jobs"] / n, s["stages"] / n
        m["agentic.job_s"] = s["job_s"] / n
        # a job with neither a Python call site nor a wrapped layer call
        # was submitted by the loop's own code
        for mod in ("investigation", "tools", "timeline", "retrieval", "detectors"):
            m[f"agentic.job_s.{mod}"] = sum(
                j["wall_s"] for j in inv
                if (j["module"] if j["module"] != "other" else "investigation").endswith(mod)) / n
        m["agentic.detector_calls"] = sum(
            len(v) for k, v in calls.items() if k.startswith("detectors.")) / n
        m["agentic.tool_calls"] = sum(
            len(v) for k, v in calls.items() if k.startswith("tools.")) / n
    m["detectors.jobs"] = len(under("detectors"))
    qjobs = []
    for q in workloads.HEADLINE:
        js = [j for j in jobs if j["span"].endswith(f"breakdown:{q}")]
        qjobs += js
        s = tracing.summarize(js)
        m[f"query.{q}.stages"] = s["stages"] / 3
        m[f"query.{q}.task_s"] = s["task_s"] / 3
    m["operators.single_task_stages"] = tracing.summarize(qjobs)["single_task_stages"] / 3
    m.pop("input_bytes", None)
    return m


def _run_all(seed: int, seconds: float, traced: bool, scale: float) -> None:
    """Every benchmark workload, each in its own process, then one merged
    report; with tracing, also the overhead of the traced run."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in BENCH_WORKLOADS:
        modes = (0, 1) if traced else (0,)
        out = {}
        for t in modes:
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(t),
                 "--scale", str(scale)],
                stdout=subprocess.PIPE, text=True, check=False)
            if p.returncode != 0:
                sys.exit(f"perfbench: workload {wl} exited with {p.returncode}")
            out[t] = json.loads(p.stdout.strip().splitlines()[-1])
            merged["correct"] &= out[t]["correct"]
            merged["attempted"] += out[t]["attempted"]
            merged["failed"] += out[t]["failed"]
            for k, v in out[t]["metrics"].items():
                merged["metrics"][f"{wl}.{k}"] = v
        if traced:
            for k in E2E:
                base = out[0]["metrics"][k]["value"]
                with_trace = out[1]["metrics"][f"traced.{k}"]["value"]
                merged["metrics"][f"{wl}.overhead.{k}"] = {
                    "value": 100.0 * (with_trace - base) / base, "unit": "%"}
    for k, v in merged["metrics"].items():
        print(f"{k:55s} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps(merged))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[*BENCH_WORKLOADS, "ingest", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every input size (tests use a tiny scale)")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "db_loganalyzer_spark"))):
        sys.exit("perfbench: run from a checkout of the program; "
                 "__spark_entry__.py and db_loganalyzer_spark/ not found")
    if a.workload == "all":
        _run_all(a.seed, a.seconds, bool(a.trace), a.scale)
        return
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    t = time.perf_counter()
    try:
        result = run_one(a.workload, a.seed, a.seconds, bool(a.trace), a.scale)
    except Exception:  # noqa: BLE001 — report and exit without a result
        traceback.print_exc()
        sys.exit(1)
    print(f"perfbench: {a.workload} seed {a.seed} took {time.perf_counter() - t:.1f} s",
          file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
