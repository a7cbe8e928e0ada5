#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Pins the environment (cores, Python
path, per-run scratch directories inside ``perfbench/_work``), takes
set-up samples, runs the workload in ``perfbench/worker.py`` and prints
one JSON result line last: the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.  A fuller
record (nproc, load average, errors, set-up samples) and, when traced,
the spans go to ``perfbench/_out``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
#: extra set-up samples in fresh processes; the run's own set-up is one more.
#: Each costs a JVM start (~6 s on a 4-vCPU box); a run of about a minute
#: has room for one.
SETUP_SAMPLES = 1
DEADLINE_S = 170


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def reap_all(pgid: int, grace_s: float = 15.0) -> None:
    """Wait for every process of group ``pgid`` and every orphan we
    inherited as sub-reaper (the JVM outlives its Python parent by a
    moment); SIGKILL whatever is left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline and not killed:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            killed, deadline = True, time.monotonic() + 5
        elif time.monotonic() > deadline:
            return
        time.sleep(0.05)


def call(cmd: list[str], env: dict, timeout: float, stdout) -> int:
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=stdout,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        code = -9
    reap_all(proc.pid)
    return code


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    for need in ("BENCHMARK.json", "__spark_entry__.py", "busdata_pipeline_spark/session.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"run from the root of a checkout: {need} not found")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = {w["name"] for w in bench["workloads"]}
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; known: {sorted(names)}")
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]

    # become sub-reaper so the worker's JVM is ours to wait for
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, "_work", tag)
    out_dir = os.path.join(HERE, "_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out_dir, exist_ok=True)

    nproc = len(os.sched_getaffinity(0))
    conf = ["spark.ui.showConsoleProgress=false"]
    if args.trace:
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{work}/eventlog",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    submit = []
    for c in conf:
        submit += ["--conf", c]
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(nproc),
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM, spark-submit's launcher included: temp files in the
        # run directory, no perf-data file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    load_before = os.getloadavg()

    setup = []
    if not args.trace:
        for _ in range(SETUP_SAMPLES):
            log = os.path.join(work, "setup.json")
            with open(log, "w") as f:
                code = call([sys.executable, os.path.join(HERE, "setup_probe.py")],
                            env, DEADLINE_S - (time.monotonic() - t_start), f)
            if code != 0:
                fail(f"set-up sample exited with {code}")
            with open(log) as f:
                sample = json.loads(f.read().strip().splitlines()[-1])
            setup.append(sample["get_spark_s"] + sample["registry_import_s"])

    record_path = os.path.join(work, "record.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", record_path,
           "--layers", ",".join(m["name"] for m in bench["per_layer"])]
    if args.trace:
        cmd += ["--spans", os.path.join(out_dir, f"spans-{tag}.json")]
    code = call(cmd, env, DEADLINE_S - (time.monotonic() - t_start), sys.stderr)
    if code != 0 or not os.path.exists(record_path):
        fail(f"worker exited with {code}")
    with open(record_path) as f:
        record = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    setup.append(record["setup_s"])
    values = dict(record["layers"] if args.trace else record["metrics"],
                  setup_s=statistics.median(setup))
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not measured: {missing}")
    record.update(nproc=nproc, wall_s=time.monotonic() - t_start, loadavg_before=load_before,
                  loadavg_after=os.getloadavg(), setup_samples=setup)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    # end-to-end figures that are recorded but not gated
    ungated = {"error_rate": {"value": record["failed"] / record["attempted"],
                              "unit": "ratio"},
               "peak_rss_mb": {"value": record["metrics"]["peak_rss_mb"], "unit": "MB"}}
    print(json.dumps({"nproc": nproc, "loadavg": os.getloadavg(),
                      "passes": record["passes"], "ops_timed": record["ops_timed"],
                      "ungated": ungated, "errors": record["errors"]}))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
