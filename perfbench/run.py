"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``). The line before it is the full record of the run: host,
input, every phase and call, every check, and the metric names of
ROADMAP vocabulary (``named``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "ocr_pipeline_fastapi_latency_optimization_spark"

PHASES = ("scan", "write", "incremental")
LAYER_KEYS = (
    "wall_s", "n_jobs", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_bytes", "spill_bytes", "busy_share", "task_skew", "python_bytes",
)


def end_to_end_names() -> list[str]:
    return ["setup_s", "scan_rate", "write_s", "incremental_s", "peak_rss_mb"]


def per_layer_names() -> list[str]:
    names = ["session.get_spark_s", "session.warmup_s"]
    names += [f"functions.us_per_turn.{k}" for k in ("pdf", "html", "plain")]
    names += ["functions.blocks_per_turn"]
    names += [f"{p}.{k}" for p in PHASES for k in LAYER_KEYS]
    names += ["trace.overhead_share"]
    return names


UNITS = {
    "setup_s": "s", "scan_rate": "items/s", "write_s": "s", "incremental_s": "s",
    "peak_rss_mb": "MB", "session.get_spark_s": "s", "session.warmup_s": "s",
    "functions.blocks_per_turn": "count", "trace.overhead_share": "ratio",
}
for _k in ("pdf", "html", "plain"):
    UNITS[f"functions.us_per_turn.{_k}"] = "us"
for _p in PHASES:
    UNITS.update({
        f"{_p}.wall_s": "s", f"{_p}.n_jobs": "count", f"{_p}.executor_run_s": "s",
        f"{_p}.executor_cpu_s": "s", f"{_p}.gc_s": "s", f"{_p}.shuffle_bytes": "bytes",
        f"{_p}.spill_bytes": "bytes", f"{_p}.busy_share": "ratio",
        f"{_p}.task_skew": "ratio", f"{_p}.python_bytes": "bytes",
    })


def _isolate(tmp: str) -> None:
    """Make the package importable by the Python workers from any
    working directory and keep every scratch write under ``tmp``."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for var, sub in (("SPARK_LOCAL_DIRS", "local"), ("TMPDIR", "pytmp")):
        os.environ[var] = os.path.join(tmp, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # a small fixed heap keeps the JVM's resident size from drifting
    # with the timing of heap growth
    os.environ["SPARK_DRIVER_MEM"] = "1536m"
    os.environ.pop("MASTER", None)


def _spark_conf(tmp: str, cores: int, trace: bool) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        # the JVM's fast compiler only: with both tiers, the optimising
        # one keeps recompiling Spark's planner for about 45 s of
        # queries, longer than a run, so each timed round would sit at
        # another point of that warm-up; with this one alone the rounds
        # after the warm-up round are flat
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'pytmp')} "
        "-XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(cores),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    return conf


def _start_session(conf: dict, cores: int):
    """``get_spark`` plus the first query that needs Python workers: a
    small extract over one partition per core."""
    from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
        extract_pipeline,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.session import get_spark
    from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
        gen_transcripts,
        transcripts_df,
    )

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cores, shuffle_partitions=cores,
                      extra_conf=conf)
    t1 = time.perf_counter()
    warm = transcripts_df(spark, gen_transcripts(n_convs=4 * cores, mean_turns=4, seed=0))
    extract_pipeline(warm.repartition(cores)).write.format("noop").mode(
        "overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """Stop the active session, then the JVM that PySpark launched, and
    wait for it to exit; its Python workers exit with it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest() -> str:
    """sha256 over the package's Python sources: identifies the code
    measured where the checkout carries no git metadata."""
    import hashlib

    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this VM had
    work, all CPUs, since boot (``/proc/stat``); 0 where not reported."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def spark_cores() -> int:
    """Task slots of ``local[k]``: half the CPUs this process may use.
    Each task thread of a Python UDF stage feeds a Python worker, so
    ``local[k]`` keeps about 2k threads and processes busy; with k at half
    the CPUs they fit, and a CPU the hypervisor takes away for a moment
    delays one of them instead of the whole stage."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _host(cores: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": cores,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": _git_commit(),
        "source_digest": _source_digest(),
        "load_avg_before": list(os.getloadavg()),
        "steal_s_before": _steal_s(),
    }


def run(args) -> tuple[dict, dict]:
    from spans import RssSampler, Spans, aggregate, layer_metrics, parse_event_log
    from workloads import WORKLOADS, Checks, kernel_pass, timed_median

    cores = spark_cores()
    trace = bool(args.trace)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        _isolate(tmp)
        host = _host(cores)
        wl = WORKLOADS[args.workload](tmp, args.seed, cores)
        inputs = wl.prepare_static() or {}
        setups, baseline = [], []
        stages = {"start": time.perf_counter()}
        # one session start per run, which also launches the JVM; a
        # traced run starts a second one, because the event log is fixed
        # at session start and the first session measures the scan
        # without it: the base of the tracing overhead
        sessions = 2 if trace else 1
        with RssSampler() as rss:
            for i in range(sessions):
                conf = _spark_conf(tmp, cores, trace and i == sessions - 1)
                spark, get_s, warm_s = _start_session(conf, cores)
                setups.append((get_s, warm_s))
                if i == 0:
                    stages["session1"] = time.perf_counter()
                    inputs.update(wl.prepare_spark(spark))
                    stages["prepare"] = time.perf_counter()
                if i < sessions - 1:
                    baseline = wl.scan(spark, Spans(spark), "baseline")
                    spark.stop()
            stages["sessions"] = time.perf_counter()
            spans = Spans(spark)
            phases = wl.measure(spark, spans, args.seconds)
            stages["measure"] = time.perf_counter()
        if trace:
            wl.extra(spark, spans)
        stages["extra"] = time.perf_counter()
        checks = Checks()
        wl.check(spark, spans, trace, checks)
        stages["checks"] = time.perf_counter()
        jobs = spans.job_counts()
        app_id = spark.sparkContext.applicationId
        kernel = kernel_pass(*wl.kernel_inputs()) if trace else {}
        stages["kernel"] = time.perf_counter()
        stop_jvm()
        stages["stop"] = time.perf_counter()

        setup_s = statistics.median(g + w for g, w in setups)
        ops = phases.pop("ops") + (len(wl.calls["extra"]) if trace else 0)
        attempted = ops + len(checks.results)
        e2e = {
            "setup_s": setup_s,
            "scan_rate": phases["scan_rate"],
            "write_s": phases["write_s"],
            "incremental_s": phases["incremental_s"],
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        named = {k: {"value": v, "unit": u} for k, (v, u) in phases.pop("named").items()}
        named["setup_s"] = {"value": setup_s, "unit": "s"}
        named["failed_op_share"] = {"value": checks.failed / attempted, "unit": "ratio"}
        named["peak_rss_mb"] = {"value": e2e["peak_rss_mb"], "unit": "MB"}
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": trace, "host": host, "input": inputs,
            "setups": [{"get_spark_s": g, "warmup_s": w} for g, w in setups],
            "phases": phases, "jobs_per_call": jobs,
            "call_walls": dict(spans.walls), "checks": checks.results, "named": named,
            "stage_s": {k: round(v - stages["start"], 3) for k, v in stages.items()},
        }
        metrics = e2e
        if trace:
            groups = parse_event_log(os.path.join(tmp, "events", app_id))
            overhead = phases["scan_s"] / timed_median(baseline) - 1.0
            metrics = {
                "session.get_spark_s": statistics.median(g for g, _ in setups),
                "session.warmup_s": statistics.median(w for _, w in setups),
                **kernel,
                "trace.overhead_share": overhead,
            }
            walls = {phase: sum(spans.walls[wl.calls[phase][0]]) for phase in PHASES}
            for phase in PHASES:
                row = aggregate(groups, wl.calls[phase])
                for k, v in layer_metrics(row, walls[phase], cores).items():
                    metrics[f"{phase}.{k}"] = v
            per_call = {}
            for call in (c for calls in wl.calls.values() for c in calls):
                wall = sum(spans.walls.get(call, ())) or groups.get(call, {}).get(
                    "jobs_wall_s", 0.0)
                per_call[call] = layer_metrics(groups.get(call, {}), wall, cores)
            record["layers"] = {"calls": per_call, **wl.layers(groups, spans, phases, kernel)}
            record["baseline_scan_walls"] = baseline
            record["traced_jobs_per_call"] = {
                g: int(r["n_jobs"]) for g, r in sorted(groups.items())}
        record["host"]["load_avg_after"] = list(os.getloadavg())
        record["host"]["steal_s_after"] = _steal_s()
        names = per_layer_names() if trace else end_to_end_names()
        result = {
            "correct": checks.failed == 0,
            "attempted": attempted,
            "failed": checks.failed,
            "metrics": {k: {"value": metrics[k], "unit": UNITS[k]} for k in names},
        }
        return record, result
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["transcripts", "dedup_docs"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    record, result = run(args)
    print(json.dumps(record, default=float))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
