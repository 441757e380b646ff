"""One benchmark process: a fresh interpreter, a fresh JVM, one workload.

    python3 perfbench/worker.py --out FILE --workload NAME --seed N \
        --seconds S [--eventlog DIR] [--setup-only]

run.py starts this with the environment pinned and times its start-up
from outside. The worker times each layer from outside the package, by
timing calls into its public entry points:

- ``etl_gov_spark.session.get_spark`` (``session.start_s``);
- ``queries.catalog.all_queries`` (``catalog.load_s``);
- each query function: the **build** phase;
- the ``.write.format("noop")`` action: the **execute** phase.

After set-up it runs the workload's queries:

1. one cold pass at ``TINY_SCALE``, in the declared order, that
   collects each result and checks it against its expected fingerprint
   (``tiny_s`` times the query calls and collects, not the check);
2. measured passes at ``SCALE``, in the seed's order: as many as fit
   in ``--seconds``, at least one (``batch_s``, ``query_geomean_s``).

The session cache is cleared before every call, so no call times a
cache hit left by an earlier one. With ``--eventlog`` the Spark event
log is written there and a streaming listener records micro-batches;
the worker then reports the per-layer metrics of the measured passes.

It writes one JSON object to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import DATA_DIR, SCALE, TINY_SCALE, WORKLOADS, Workload  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")


class Jvm:
    """The driver JVM, read through /proc."""

    def __init__(self, pid: int):
        self.pid = pid

    def write_bytes(self) -> int:
        with open(f"/proc/{self.pid}/io", encoding="ascii") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
        raise RuntimeError(f"no write_bytes in /proc/{self.pid}/io")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM in /proc/{self.pid}/status")


class Counters:
    """Diagnostic globals some operators keep. They are read with
    getattr, so the benchmark keeps working once they are gone."""

    def __init__(self, spark):
        self.spark = spark

    @staticmethod
    def _global(module: str, name: str):
        return getattr(sys.modules.get(module), name, None)

    def reset(self) -> None:
        mod = sys.modules.get("etl_gov_spark.operators.graphs")
        if hasattr(mod, "LAST_CC_ROUNDS"):
            mod.LAST_CC_ROUNDS = 0
        stats = self._global("etl_gov_spark.streaming.events_stream", "STREAM_DEDUP_PROBE_STATS")
        if isinstance(stats, dict):
            stats.clear()

    def read(self) -> dict[str, float]:
        stats = self._global("etl_gov_spark.streaming.events_stream", "STREAM_DEDUP_PROBE_STATS")
        stats = list(stats.values()) if isinstance(stats, dict) else []
        return {
            "cache.persisted_rdds": self.spark.sparkContext._jsc.getPersistentRDDs().size(),
            "cc.rounds": self._global("etl_gov_spark.operators.graphs", "LAST_CC_ROUNDS") or 0,
            "gate.files_touched": sum(t for t, _ in stats),
            "gate.files_total": sum(n for _, n in stats),
        }


def make_listener(progress: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.fromisoformat(p.timestamp).timestamp() * 1000.0
            progress.append((start, p.batchDuration, p.numInputRows))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def cold_pass(spark, qs, order, failed) -> dict[str, float]:
    """Run each query once at TINY_SCALE, collect its result and check
    it against its expected fingerprint. Only the query call and the
    collect are timed."""
    from fingerprints import fingerprint

    with open(EXPECTED, encoding="utf-8") as f:
        expected = json.load(f)[TINY_SCALE]
    data_dir = os.path.join(DATA_DIR, TINY_SCALE)
    walls = {}
    for name in order:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, data_dir)
            rows = df.collect()
            walls[name] = time.perf_counter() - t0
            got = fingerprint(df.columns, [tuple(r) for r in rows])
        except Exception:  # a failing query is counted, not fatal
            traceback.print_exc()
            failed.add(name)
            continue
        if got != expected[name]:
            print(f"check failed: {name}: got {got}, expected {expected[name]}", file=sys.stderr)
            failed.add(name)
    return walls


def measured_call(spark, fn, data_dir, jvm: Jvm, counters: Counters) -> dict:
    spark.catalog.clearCache()
    counters.reset()
    io0 = jvm.write_bytes()
    b0 = time.time()
    df = fn(spark, data_dir)
    b1 = time.time()
    df.write.format("noop").mode("overwrite").save()
    e1 = time.time()
    rec = {
        "wall_s": e1 - b0,
        "build": (b0 * 1000.0, b1 * 1000.0),
        "exec": (b1 * 1000.0, e1 * 1000.0),
        "io.disk_write_mb": (jvm.write_bytes() - io0) / 1e6,
    }
    rec.update(counters.read())
    return rec


def run_workload(spark, qs, wl: Workload, args, jvm: Jvm) -> dict:
    order = wl.order(args.seed)
    failed: set[str] = set()
    counters = Counters(spark)

    tiny = cold_pass(spark, qs, wl.queries, failed)

    data_dir = os.path.join(DATA_DIR, SCALE)
    calls: list[dict] = []
    passes = 0
    deadline = time.perf_counter() + args.seconds
    # Start a pass only if it should end by the deadline, judged by the
    # last pass: a pass that ran out near the deadline would otherwise
    # add a second, warmer pass on some runs and not on others.
    while True:
        t0 = time.perf_counter()
        for name in order:
            try:
                rec = measured_call(spark, qs[name], data_dir, jvm, counters)
            except Exception:
                traceback.print_exc()
                failed.add(name)
                continue
            rec.update(query=name, pass_no=passes)
            calls.append(rec)
        passes += 1
        now = time.perf_counter()
        if now + (now - t0) > deadline:
            break

    per_query = {
        name: statistics.median(c["wall_s"] for c in calls if c["query"] == name)
        for name in order
        if name not in failed
    }
    return {
        "order": order,
        "failed": sorted(failed),
        "attempted": len(order),
        "passes": passes,
        "tiny_s": sum(tiny.values()),
        "batch_s": sum(per_query.values()),
        "query_geomean_s": math.exp(
            statistics.fmean(math.log(v) for v in per_query.values())
        ) if per_query else 0.0,
        "query_median_s": per_query,
        "tiny_query_s": tiny,
        "calls": calls,
    }


def layer_metrics(calls: list[dict], log_path: str, progress: list, cores: int) -> dict:
    """Per-layer metrics of the measured passes: each pass is summed
    over its calls, then the median over passes is reported."""
    import eventlog

    traced = eventlog.attribute(eventlog.read(log_path), calls, progress, cores)
    for call, rec in zip(calls, traced):
        call.update(rec)
    per_pass: dict[int, list[dict]] = {}
    for call in calls:
        per_pass.setdefault(call["pass_no"], []).append(call)
    additive = [
        k for k, v in traced[0].items() if isinstance(v, (int, float)) and k != "exec.core_busy"
    ] + ["io.disk_write_mb", "cache.persisted_rdds", "cc.rounds"]
    summaries = []
    for group in per_pass.values():
        s = {k: sum(c[k] for c in group) for k in additive}
        batch_ms = [ms for c in group for ms in c["_batch_ms"]]
        s["stream.batch_ms_p50"] = statistics.median(batch_ms) if batch_ms else 0.0
        s["stream.batch_ms_max"] = max(batch_ms, default=0.0)
        s["exec.core_busy"] = eventlog.core_busy(s["exec.task_run_s"], s["exec.s"], cores)
        touched = sum(c["gate.files_touched"] for c in group)
        total = sum(c["gate.files_total"] for c in group)
        s["gate.files_touched_frac"] = touched / total if total else 0.0
        s["trace.batch_s"] = sum(c["wall_s"] for c in group)
        summaries.append(s)
    return {k: statistics.median(s[k] for s in summaries) for k in summaries[0]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--eventlog")
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(os.getcwd(), "warehouse"),
    }
    if args.eventlog:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": args.eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    t0 = time.time()
    from etl_gov_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.time()
    from etl_gov_spark.queries.catalog import all_queries

    qs = all_queries()
    t2 = time.time()

    spark.sparkContext.setLogLevel("ERROR")
    jvm = Jvm(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    result = {
        "ready": t2,
        "session.start_s": t1 - t0,
        "catalog.load_s": t2 - t1,
        "jvm_pid": jvm.pid,
        "spark_version": spark.version,
        "cores": spark.sparkContext.defaultParallelism,
    }
    progress: list = []
    try:
        if not args.setup_only:
            if args.eventlog:
                spark.streams.addListener(make_listener(progress))
            result.update(run_workload(spark, qs, WORKLOADS[args.workload], args, jvm))
            result["peak_rss_mb"] = jvm.peak_rss_mb()
            if args.eventlog:
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        # stopping the context closes and flushes the event log
        spark.stop()
    if args.eventlog and not args.setup_only:
        (log_path,) = [os.path.join(args.eventlog, f) for f in os.listdir(args.eventlog)]
        result["layers"] = layer_metrics(result["calls"], log_path, progress, result["cores"])
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
