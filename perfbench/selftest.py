"""Self-tests of the benchmark itself (about 8 minutes on 4 CPUs).

    python3 perfbench/selftest.py

1. The same seed gives the same input digest and another seed another
   digest, for both workloads.
2. The metric names each run prints equal those in BENCHMARK.json, in
   both trace modes, for every workload.
3. Tracing adds no Spark job: per call, the traced run starts as many
   jobs as the untraced run (status tracker), and the event log records
   every job the status tracker saw.

Exits 0 when every test passes; prints one line per failure otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def digests(failures: list) -> None:
    import run
    from workloads import WORKLOADS

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"selftest-{os.getpid()}")
    os.makedirs(tmp)
    try:
        run._isolate(tmp)
        spark, _, _ = run._start_session(run._spark_conf(tmp, 4, False), 4)
        for name, cls in WORKLOADS.items():
            got = []
            for i, seed in enumerate((7, 7, 8)):
                wl = cls(os.path.join(tmp, f"{name}{i}"), seed, 4)
                rec = wl.prepare_static() or {}
                rec.update(wl.prepare_spark(spark))
                got.append(rec["digest"])
            if got[0] != got[1]:
                failures.append(f"{name}: seed 7 gave two digests")
            if got[0] == got[2]:
                failures.append(f"{name}: seeds 7 and 8 gave one digest")
    finally:
        run.stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=175,
    )
    record, result = out.stdout.strip().splitlines()[-2:]
    return json.loads(record), json.loads(result)


def _per_call(record: dict, key: str) -> dict:
    """Jobs per timed call group; both runs make the same number of
    rounds, because that depends on ``--seconds`` alone."""
    return {
        g: n for g, n in record[key].items()
        if g.split(":")[0] in ("scan", "write", "incremental")
    }


def runs(failures: list) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: [m["name"] for m in bench["end_to_end"]],
            1: [m["name"] for m in bench["per_layer"]]}
    for w in (w["name"] for w in bench["workloads"]):
        records = {}
        for trace in (0, 1):
            record, result = _run(w, trace)
            records[trace] = record
            if list(result["metrics"]) != want[trace]:
                failures.append(f"{w} trace={trace}: printed metrics differ from "
                                "BENCHMARK.json")
            if not result["correct"]:
                failures.append(f"{w} trace={trace}: a correctness check failed")
        untraced = _per_call(records[0], "jobs_per_call")
        traced = _per_call(records[1], "jobs_per_call")
        logged = _per_call(records[1], "traced_jobs_per_call")
        if untraced != traced:
            failures.append(f"{w}: jobs per call differ with tracing: "
                            f"{untraced} vs {traced}")
        if traced != logged:
            failures.append(f"{w}: event log misses jobs: {traced} vs {logged}")


def main() -> int:
    sys.path.insert(0, HERE)
    failures: list = []
    digests(failures)
    runs(failures)
    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
