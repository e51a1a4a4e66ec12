"""Per-call spans and the Spark event-log rollup behind the per-layer metrics.

Every timed call into the engine runs inside :meth:`Tracer.call`. With
tracing on, the call gets its own Spark job group (``<module>#<k>``), so
each job the engine launches for it is tagged in the event log. After
the session stops, :func:`rollup` reads the uncompressed event log and
sums, per job group: jobs, stages, tasks, executor run time, shuffle
bytes and spill bytes. ``driver_s`` is the part of the call's wall time
that no job of its group covers (planning, driver-side NumPy, Py4J).

Checkpoint writes are told apart by call site: a job whose SQL execution
was started by ``DataFrameWriter.parquet`` or whose short call site is
inside ``plans/checkpoint.py``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_s",
    "driver_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)

IDLE_GROUP = "perfbench-idle"
_MB = 1024.0 * 1024.0


class Tracer:
    """Records one span per engine call; tags its jobs when enabled."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.calls: list[dict] = []
        if enabled:
            sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)

    @contextmanager
    def call(self, module: str):
        rec = {"module": module, "group": f"{module}#{len(self.calls)}"}
        if self.enabled:
            self.sc.setJobGroup(rec["group"], module)
        rec["start_ms"] = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1e3
            if self.enabled:
                self.sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)
            self.calls.append(rec)


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        base = os.path.basename(path)
        if not os.path.isfile(path) or base.startswith(".") or "appstatus" in base:
            continue
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def rollup(log_dir: str, calls: list[dict]) -> None:
    """Adds the event-log fields of :data:`FIELDS` to every call record,
    plus ``ckpt_executor_s`` (executor time of checkpoint-write jobs)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    exec_writer: dict[str, bool] = {}
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": props.get("spark.sql.execution.id"),
                "ckpt_site": "checkpoint.py" in (props.get("callSite.short") or ""),
                "start": ev["Submission Time"],
                "end": ev["Submission Time"],
                "stages": set(),
                "tasks": 0,
                "run_ms": 0,
                "read": 0,
                "write": 0,
                "spill": 0,
            }
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_writer[str(ev["executionId"])] = ev.get("details", "").startswith(
                "org.apache.spark.sql.DataFrameWriter.parquet"
            )
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            if job is None:
                continue
            tm = ev.get("Task Metrics") or {}
            rd = tm.get("Shuffle Read Metrics") or {}
            wr = tm.get("Shuffle Write Metrics") or {}
            job["stages"].add(ev["Stage ID"])
            job["tasks"] += 1
            job["run_ms"] += tm.get("Executor Run Time", 0)
            job["read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            job["write"] += wr.get("Shuffle Bytes Written", 0)
            job["spill"] += tm.get("Disk Bytes Spilled", 0)

    by_group: dict[str, list[dict]] = {}
    for job in jobs.values():
        by_group.setdefault(job["group"], []).append(job)
    for call in calls:
        mine = by_group.get(call["group"], [])
        covered = _covered_ms(
            [(j["start"], j["end"]) for j in mine], call["start_ms"], call["end_ms"]
        )
        call.update(
            jobs=len(mine),
            stages=sum(len(j["stages"]) for j in mine),
            tasks=sum(j["tasks"] for j in mine),
            executor_s=sum(j["run_ms"] for j in mine) / 1e3,
            driver_s=max(0.0, call["wall_s"] - covered / 1e3),
            shuffle_read_mb=sum(j["read"] for j in mine) / _MB,
            shuffle_write_mb=sum(j["write"] for j in mine) / _MB,
            spill_mb=sum(j["spill"] for j in mine) / _MB,
            ckpt_executor_s=sum(
                j["run_ms"]
                for j in mine
                if j["ckpt_site"] or exec_writer.get(str(j["exec"]), False)
            )
            / 1e3,
        )
