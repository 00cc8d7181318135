"""Tracing for the benchmark: spans kept in memory, and per-call records
read from Spark's own status store.

Both measure linkgraph from outside. Spans wrap the benchmark's calls
into public functions. The status store (``AppStatusStore`` for jobs
and stages, ``SQLAppStatusStore`` for SQL executions) is read after
each call, for the records of that call's unique job group only.

Per-superstep windows are rebuilt from ``LoopResult.history``: the
supersteps run back to back and the loop ends when the algorithm call
returns, so superstep k covers the ``wall_sec`` that precedes the sum
of the later supersteps' ``wall_sec``.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass


class Tracer:
    """Spans (name, start, end, parent) in memory; a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()


class StatusStoreError(RuntimeError):
    """A traced call's status-store records are incomplete or mixed with
    another call's: the run aborts rather than report wrong counts."""


@dataclass
class Stage:
    id: int
    submit: float  # epoch seconds
    complete: float
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    spill_disk: int


@dataclass
class CallRecords:
    jobs: list[tuple[int, float]]  # (job id, submit epoch s)
    stages: list[Stage]
    execs: list[float]  # SQL execution submit epoch s


def _epoch(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


class StatusReader:
    """Reads one job group's jobs, stages and SQL executions."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self):
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(newest job id, newest SQL execution id) before a call."""
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        execs = self._sql.executionsList()  # oldest first
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            execs.apply(execs.size() - 1).executionId() if execs.size() else -1,
        )

    def read(self, group: str, mark: tuple[int, int], t0: float, t1: float) -> CallRecords:
        """Records of ``group`` created after ``mark``; stages must have
        been submitted within [t0, t1] (a reused shuffle stage reports
        the attempt of the job that ran it). Raises StatusStoreError when
        the retained window no longer reaches back to ``mark``, rather
        than return an undercount."""
        self._drain()
        job_mark, exec_mark = mark
        jobs, stage_ids = [], set()
        all_jobs = self._store.jobsList(None)
        size = all_jobs.size()
        if size and all_jobs.apply(size - 1).jobId() > job_mark + 1:
            raise StatusStoreError(f"{group}: jobs after #{job_mark} were evicted")
        for i in range(size):
            j = all_jobs.apply(i)
            if j.jobId() <= job_mark:
                break
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                raise StatusStoreError(f"job {j.jobId()} outside {group} during the call")
            jobs.append((j.jobId(), _epoch(j.submissionTime())))
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        stages = []
        for sid in sorted(stage_ids):
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception as exc:  # py4j wraps NoSuchElementException
                raise StatusStoreError(f"{group}: stage {sid} evicted") from exc
            submit = _epoch(s.submissionTime())
            if submit is None or not (t0 - 0.001 <= submit <= t1 + 0.001):
                continue  # skipped here, or run by an earlier call
            complete = _epoch(s.completionTime())
            stages.append(
                Stage(
                    id=sid,
                    submit=submit,
                    complete=complete if complete is not None else submit,
                    tasks=s.numTasks(),
                    run_s=s.executorRunTime() / 1e3,
                    cpu_s=s.executorCpuTime() / 1e9,
                    gc_s=s.jvmGcTime() / 1e3,
                    shuffle_write=s.shuffleWriteBytes(),
                    shuffle_read=s.shuffleReadBytes(),
                    spill_disk=s.diskBytesSpilled(),
                )
            )
        all_execs = self._sql.executionsList()
        n_exec = all_execs.size()
        if n_exec and all_execs.apply(0).executionId() > exec_mark + 1:
            raise StatusStoreError(
                f"{group}: SQL executions after #{exec_mark} were evicted "
                "(spark.sql.ui.retainedExecutions)"
            )
        execs = []
        for i in range(n_exec):
            e = all_execs.apply(i)
            if e.executionId() > exec_mark and e.description() == group:
                execs.append(e.submissionTime() / 1e3)
        return CallRecords(jobs=jobs, stages=stages, execs=execs)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > cur_end:
            total += b - a
        elif b > cur_end:
            total += b - cur_end
        cur_end = max(cur_end, b)
    return total


def _within(t: float, lo: float, hi: float) -> bool:
    return lo <= t < hi


def superstep_records(history, loop_end: float, rec: CallRecords) -> list[dict]:
    """One record per superstep: its LoopResult fields plus the status
    store's work submitted within its window."""
    out = []
    end = loop_end
    for h in reversed(history):
        start = end - h.wall_sec
        stages = [s for s in rec.stages if _within(s.submit, start, end)]
        out.append({
            "superstep": h.superstep,
            "start": start,
            "end": end,
            "wall_s": h.wall_sec,
            "changed": h.changed,
            "delta": h.delta,
            "messages": h.messages,
            "sql_execs": sum(_within(t, start, end) for t in rec.execs),
            "jobs": sum(_within(t, start, end) for _, t in rec.jobs),
            "stages": len(stages),
            "tasks": sum(s.tasks for s in stages),
            "busy_s": union_length([(s.submit, s.complete) for s in rec.stages], start, end),
            "exec_run_s": sum(s.run_s for s in stages),
            "exec_cpu_s": sum(s.cpu_s for s in stages),
            "exec_gc_s": sum(s.gc_s for s in stages),
            "shuffle_write_bytes": sum(s.shuffle_write for s in stages),
            "shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        })
        end = start
    out.reverse()
    return out


def call_layers(history, steps: list[dict], rec: CallRecords, run_s: float,
                write_s: float, saves: list[tuple[float, float]]) -> dict:
    """Per-layer metrics of one traced call (see BENCHMARK.json)."""
    count = len(steps)
    per = max(count, 1)
    walls = [h.wall_sec for h in history]
    loop_s = sum(walls)
    busy = sum(s["busy_s"] for s in steps)
    steady = walls[2:] or walls

    def per_step(key):
        return sum(s[key] for s in steps) / per

    return {
        "partitioning.prologue_s": run_s - loop_s - write_s,
        "superstep.count": count,
        "superstep.step_s": statistics.median(steady) if steady else 0.0,
        "superstep.first_step_s": walls[0] if walls else 0.0,
        "superstep.driver_gap_s": (loop_s - busy) / per,
        "superstep.driver_gap_share": (loop_s - busy) / run_s,
        "superstep.sql_execs": per_step("sql_execs"),
        "superstep.jobs": per_step("jobs"),
        "superstep.stages": per_step("stages"),
        "superstep.tasks": per_step("tasks"),
        "exec.busy_s": busy / per,
        "exec.busy_share": busy / run_s,
        "exec.run_s": per_step("exec_run_s"),
        "exec.cpu_s": per_step("exec_cpu_s"),
        "exec.gc_s": per_step("exec_gc_s"),
        "shuffle.write_bytes": per_step("shuffle_write_bytes"),
        "shuffle.read_bytes": per_step("shuffle_read_bytes"),
        "spill.disk_bytes": sum(s.spill_disk for s in rec.stages),
        "cc.frontier": sum(h.changed or 0 for h in history),
        "checkpoint.save_jobs": (
            sum(any(_within(t, a, b) for a, b in saves) for _, t in rec.jobs) / len(saves)
            if saves else 0.0
        ),
        "result.write_s": write_s,
    }
