"""Parse a Spark event log and attribute its work to benchmark calls.

The traced worker runs one call at a time and records two wall-clock
windows per call: **build** (the query function runs) and **execute**
(the noop write runs). A job belongs to the window its submission
time falls in. Time windows, unlike job groups, also catch the jobs
that ``ThreadPoolExecutor`` threads and foreachBatch micro-batches
fire, because those threads never inherit the caller's job group.

Stages and tasks follow their job: a stage belongs to the first job
that lists it, which is the job it ran in (a later job that reuses
its shuffle output lists it again, as skipped).
"""

from __future__ import annotations

import json
from bisect import bisect_right
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1e6

PHASES = ("build", "exec")


@dataclass
class Job:
    submit_ms: int
    end_ms: int | None = None
    # stage id -> parent stage ids, for every stage the job lists
    parents: dict[int, list[int]] = field(default_factory=dict)


@dataclass
class TaskSums:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    ran: set[int]  # stage ids that were submitted (not skipped)
    stage_tasks: dict[int, TaskSums]


def read(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    ran: set[int] = set()
    stage_tasks: dict[int, TaskSums] = defaultdict(TaskSums)
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = Job(
                    submit_ms=e["Submission Time"],
                    parents={s["Stage ID"]: s["Parent IDs"] for s in e["Stage Infos"]},
                )
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                ran.add(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                t = stage_tasks[e["Stage ID"]]
                t.tasks += 1
                t.run_ms += m["Executor Run Time"]
                t.cpu_ns += m["Executor CPU Time"]
                t.gc_ms += m["JVM GC Time"]
                t.shuffle_write_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                t.spill_b += m["Disk Bytes Spilled"]
                t.input_b += m["Input Metrics"]["Bytes Read"]
    return EventLog(jobs, ran, dict(stage_tasks))


def stage_owner(log: EventLog) -> dict[int, int]:
    """Map each stage that ran to the job it ran in."""
    owner: dict[int, int] = {}
    for job_id in sorted(log.jobs):
        for sid in log.jobs[job_id].parents:
            if sid in log.ran:
                owner.setdefault(sid, job_id)
    return owner


def stage_depth(job: Job, ran_here: set[int]) -> int:
    """Longest parent chain of the job's stages, counting only the
    stages that ran in this job."""
    memo: dict[int, int] = {}

    def depth(sid: int) -> int:
        if sid not in memo:
            up = [depth(p) for p in job.parents.get(sid, ()) if p in job.parents]
            memo[sid] = (sid in ran_here) + max(up, default=0)
        return memo[sid]

    return max((depth(s) for s in job.parents), default=0)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(
    log: EventLog,
    calls: list[dict],
    progress: list[tuple[int, int, int]],
    cores: int,
) -> list[dict[str, float]]:
    """Per-call layer metrics.

    ``calls`` holds, per call, ``build`` and ``exec`` windows as
    ``(start_ms, end_ms)`` epoch milliseconds; the windows of
    different calls must not overlap. ``progress`` holds one
    ``(trigger_start_ms, batch_ms, input_rows)`` per streaming
    micro-batch. Work outside every window is ignored.
    """
    windows = sorted(
        (call[ph][0], call[ph][1], i, ph) for i, call in enumerate(calls) for ph in PHASES
    )
    starts = [w[0] for w in windows]

    def window_of(ts_ms: int) -> tuple[int, str] | None:
        k = bisect_right(starts, ts_ms) - 1
        if k < 0:
            return None
        s, e, i, ph = windows[k]
        # a window is half-open, except that the execute window keeps
        # its end: the last job of a noop write may submit on its end
        # millisecond, and the next call's build starts later
        return (i, ph) if ts_ms < e or (ph == "exec" and ts_ms == e) else None

    owner = stage_owner(log)
    ran_in: dict[int, set[int]] = defaultdict(set)
    for sid, job_id in owner.items():
        ran_in[job_id].add(sid)

    out = []
    for call in calls:
        rec: dict[str, float] = {}
        for ph in PHASES:
            s, e = call[ph]
            rec[f"{ph}.s"] = (e - s) / 1000.0
            for k in ("jobs", "stages", "stage_depth", "tasks", "task_run_s",
                      "task_cpu_s", "shuffle_write_mb"):
                rec[f"{ph}.{k}"] = 0
        rec["exec.spill_mb"] = 0
        rec["jvm.gc_s"] = 0
        rec["io.input_mb"] = 0
        rec["stream.batches"] = 0
        rec["stream.input_rows"] = 0
        rec["_job_spans"] = {ph: [] for ph in PHASES}
        rec["_batch_ms"] = []
        out.append(rec)

    for job_id, job in log.jobs.items():
        hit = window_of(job.submit_ms)
        if hit is None:
            continue
        i, ph = hit
        rec = out[i]
        rec[f"{ph}.jobs"] += 1
        rec[f"{ph}.stages"] += len(ran_in[job_id])
        rec[f"{ph}.stage_depth"] += stage_depth(job, ran_in[job_id])
        end = job.end_ms if job.end_ms is not None else calls[i][ph][1]
        rec["_job_spans"][ph].append((job.submit_ms, end))
        for sid in ran_in[job_id]:
            t = log.stage_tasks.get(sid)
            if t is None:
                continue
            rec[f"{ph}.tasks"] += t.tasks
            rec[f"{ph}.task_run_s"] += t.run_ms / 1000.0
            rec[f"{ph}.task_cpu_s"] += t.cpu_ns / 1e9
            rec[f"{ph}.shuffle_write_mb"] += t.shuffle_write_b / MB
            if ph == "exec":
                rec["exec.spill_mb"] += t.spill_b / MB
            rec["jvm.gc_s"] += t.gc_ms / 1000.0
            rec["io.input_mb"] += t.input_b / MB

    for ts_ms, batch_ms, rows in progress:
        hit = window_of(ts_ms)
        if hit is None:
            continue
        rec = out[hit[0]]
        rec["stream.batches"] += 1
        rec["stream.input_rows"] += rows
        rec["_batch_ms"].append(batch_ms)

    for call, rec in zip(calls, out):
        spans = rec.pop("_job_spans")
        b0, b1 = call["build"]
        clipped = [(max(s, b0), min(e, b1)) for s, e in spans["build"] if min(e, b1) > max(s, b0)]
        rec["build.driver_s"] = (b1 - b0 - _union_ms(clipped)) / 1000.0
        e0, e1 = call["exec"]
        first = min((s for s, _ in spans["exec"]), default=e1)
        rec["exec.plan_s"] = (first - e0) / 1000.0
        rec["exec.core_busy"] = core_busy(rec["exec.task_run_s"], rec["exec.s"], cores)
    return out


def core_busy(task_run_s: float, wall_s: float, cores: int) -> float:
    """Share of the phase's core-seconds that tasks spent running."""
    return task_run_s / (wall_s * cores) if wall_s > 0 else 0.0
