"""The benchmark: one workload, one seed, fresh JVMs.

    python3 perfbench/run.py --workload plan_exec --seed 1 --seconds 5 --trace 0

Run it from the repo root. It pins the environment, then starts
worker processes (worker.py), one after another, never two at once:

- ``--trace 0``: one full worker, then two that only set up. It prints
  the end-to-end metrics. ``setup_s`` is the median of the three
  set-up times, each from process spawn until the session and query
  registry are ready.
- ``--trace 1``: one full worker with the Spark event log on. It
  prints the per-layer metrics, and ``trace.batch_s``: the traced
  ``batch_s``, whose excess over the untraced one is the tracing
  overhead. The per-call detail goes to
  ``perfbench/.work/trace-<workload>-<seed>.json``.

Every line before the last is informational. The last line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
each metric with its value and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from workloads import DATA_DIR, TINY_SCALE, WORKLOADS  # noqa: E402

START = time.perf_counter()
SETUP_SAMPLES = 3
WORKER_TIMEOUT_S = 150
# the worker's own environment variables mark every process it starts
# (its JVM and the JVM's Python workers), so none outlives the run
TOKEN_VAR = "PERFBENCH_RUN"

END_TO_END = {
    "setup_s": "s",
    "tiny_s": "s",
    "batch_s": "s",
    "query_geomean_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_s": "s",
    "build.s": "s",
    "build.driver_s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "build.stage_depth": "count",
    "build.tasks": "count",
    "build.task_run_s": "s",
    "build.task_cpu_s": "s",
    "build.shuffle_write_mb": "MB",
    "exec.s": "s",
    "exec.plan_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stage_depth": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.core_busy": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "io.input_mb": "MB",
    "io.disk_write_mb": "MB",
    "stream.batches": "count",
    "stream.batch_ms_p50": "ms",
    "stream.batch_ms_max": "ms",
    "stream.input_rows": "count",
    "cache.persisted_rdds": "count",
    "cc.rounds": "count",
    "gate.files_touched_frac": "ratio",
    "trace.batch_s": "s",
    "failed_frac": "ratio",
}


class BenchError(Exception):
    pass


def _processes_with(token: str) -> list[int]:
    needle = f"{TOKEN_VAR}={token}".encode()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    pids.append(int(d))
        except OSError:
            continue
    return pids


def _reap(token: str, grace_s: float = 10.0) -> None:
    """Wait for every process the worker left behind, then kill what
    is still there after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while (pids := _processes_with(token)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _processes_with(token):
        time.sleep(0.1)


def run_worker(env: dict, run_dir: str, tag: str, args: list[str]) -> tuple[float, dict]:
    """Start one worker, wait for it, and return its spawn time and result."""
    out = os.path.join(run_dir, f"{tag}.json")
    wdir = os.path.join(run_dir, tag)
    tmp = os.path.join(wdir, "tmp")
    os.makedirs(tmp)
    token = uuid.uuid4().hex
    # the JVM ignores TMPDIR and by default writes its temp files and
    # its hsperfdata file under /tmp: keep both in the worker's dir
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    wenv = dict(
        env,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=" ".join(filter(None, (env.get("JAVA_TOOL_OPTIONS"), java_opts))),
        **{TOKEN_VAR: token},
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--out", out, *args]
    with open(os.path.join(run_dir, f"{tag}.log"), "w", encoding="utf-8") as log:
        spawned = time.time()
        proc = subprocess.Popen(cmd, cwd=wdir, env=wenv, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            _reap(token)
    if code != 0 or not os.path.exists(out):
        with open(log.name, encoding="utf-8", errors="replace") as f:
            tail = "".join(f.readlines()[-30:])
        raise BenchError(f"worker {tag} exited with {code}:\n{tail}")
    with open(out, encoding="utf-8") as f:
        res = json.load(f)
    res["worker_wall_s"] = time.time() - spawned
    return spawned, res


def pinned_env(run_dir: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["PYSPARK_PYTHON"] = sys.executable
    return env


def check_checkout() -> None:
    missing = [
        p
        for p in (
            os.path.join(ROOT, "etl_gov_spark", "queries", "catalog.py"),
            os.path.join(ROOT, "tools", "check_oracle.py"),
            os.path.join(DATA_DIR, TINY_SCALE),
        )
        if not os.path.exists(p)
    ]
    if missing:
        raise BenchError(f"run from the repo root; missing: {missing}")


def metrics_line(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # turn SIGTERM into SystemExit, so the finally blocks stop the
    # worker and its processes and remove the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        check_checkout()
        run_dir = os.path.join(WORK, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        os.makedirs(run_dir)
        try:
            env = pinned_env(run_dir)
            full = [
                "--workload", args.workload,
                "--seed", str(args.seed),
                "--seconds", str(args.seconds),
            ]
            if args.trace:
                evdir = os.path.join(run_dir, "eventlog")
                os.makedirs(evdir)
                _, res = run_worker(env, run_dir, "traced", [*full, "--eventlog", evdir])
            else:
                spawned, res = run_worker(env, run_dir, "main", full)
                setups = [res["ready"] - spawned]
                for i in range(1, SETUP_SAMPLES):
                    t, r = run_worker(env, run_dir, f"setup{i}", ["--workload", args.workload, "--setup-only"])
                    setups.append(r["ready"] - t)
                    print(json.dumps({"setup_worker_wall_s": r["worker_wall_s"]}))
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    n_failed = len(res["failed"])
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "cores": res["cores"],
        "spark_version": res["spark_version"],
        "order": res["order"],
        "passes": res["passes"],
        "tiny_query_s": res["tiny_query_s"],
        "query_median_s": res["query_median_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "wall_s": time.perf_counter() - START,
        "worker_wall_s": res["worker_wall_s"],
        "failed_queries": res["failed"],
    }))
    if args.trace:
        layers = dict(res["layers"])
        layers["session.start_s"] = res["session.start_s"]
        layers["catalog.load_s"] = res["catalog.load_s"]
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        layers["failed_frac"] = n_failed / res["attempted"]
        artifact = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(artifact, "w", encoding="utf-8") as f:
            json.dump({"layers": layers, "calls": res["calls"]}, f, indent=1)
        metrics = metrics_line(layers, PER_LAYER)
    else:
        values = {k: res[k] for k in END_TO_END if k in res}
        values["setup_s"] = statistics.median(setups)
        metrics = metrics_line(values, END_TO_END)
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": res["attempted"],
        "failed": n_failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
