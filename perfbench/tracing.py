"""Per-layer tracing: spans around calls into the engine's public
functions, attributed to Spark jobs through job groups.

Each span runs under its own job group. When it ends, the job and stage
records of that group are read from the driver's status store (the same
store the Spark UI reads; it is populated with the UI disabled) and
kept as plain dicts. ``rollup`` turns spans, jobs and stages into the
per-span metrics; it is a pure function, unit-tested without Spark.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

SPAN_FIELDS = ("wall_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb", "gc_s", "driver_gap_s")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    end = lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def rollup(spans: list[dict], jobs: list[dict], stages: dict[int, dict]) -> dict[str, dict]:
    """Per-span-name metrics, each the median over that name's spans.

    ``spans``: {"name", "group", "start_ms", "end_ms"}.
    ``jobs``: {"group", "job_id", "stage_ids"}.
    ``stages``: stage id → {"submit_ms", "complete_ms", "tasks",
    "run_ms", "cpu_ns", "shuffle_write_bytes", "spill_bytes", "gc_ms"}.

    A stage counts for a span when one of the span's jobs lists it and
    it was submitted inside the span: a stage whose shuffle output an
    earlier job already wrote is listed again by later jobs but does
    not run again, and a stage with no submit time never ran.
    ``driver_gap_s`` is span wall time that no counted stage covers.
    """
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    per_name: dict[str, list[dict]] = {}
    for sp in spans:
        lo, hi = sp["start_ms"], sp["end_ms"]
        sjobs = by_group.get(sp["group"], [])
        ids = {
            s for j in sjobs for s in j["stage_ids"]
            if s in stages and stages[s]["submit_ms"] is not None
            and lo <= stages[s]["submit_ms"] <= hi
        }
        st = [stages[s] for s in ids]
        intervals = [(s["submit_ms"], s["complete_ms"] or hi) for s in st]
        wall = (hi - lo) / 1e3
        per_name.setdefault(sp["name"], []).append({
            "wall_s": wall,
            "jobs": len(sjobs),
            "tasks": sum(s["tasks"] for s in st),
            "cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "shuffle_mb": sum(s["shuffle_write_bytes"] for s in st) / 1e6,
            "spill_mb": sum(s["spill_bytes"] for s in st) / 1e6,
            "gc_s": sum(s["gc_ms"] for s in st) / 1e3,
            "driver_gap_s": wall - _covered(intervals, lo, hi) / 1e3,
            "input_records": sum(s.get("input_records", 0) for s in st),
        })
    return {
        name: {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        for name, rows in per_name.items()
    }


def _opt_ms(opt):
    """Scala Option[Date] → epoch ms, or None."""
    return opt.get().getTime() if opt.isDefined() else None


class Tracer:
    """Runs spans under unique job groups and collects their records."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self._last_job = -1

    @contextmanager
    def span(self, name: str):
        group = f"perfbench-{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        start = time.time() * 1e3
        try:
            yield
        finally:
            end = time.time() * 1e3
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"name": name, "group": group, "start_ms": start, "end_ms": end})
            self._collect()

    def _collect(self) -> None:
        # status-store updates arrive through the listener bus; drain it
        # so the span's last stage completions are visible
        self._bus.waitUntilEmpty(30_000)
        listed = self._store.jobsList(None)  # newest first
        newest = self._last_job
        for i in range(listed.size()):
            j = listed.apply(i)
            jid = int(j.jobId())
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            grp = j.jobGroup()
            if not grp.isDefined() or not str(grp.get()).startswith("perfbench-"):
                continue
            seq = j.stageIds()
            sids = [int(seq.apply(k)) for k in range(seq.size())]
            self.jobs.append({"group": str(grp.get()), "job_id": jid, "stage_ids": sids})
            for sid in sids:
                if sid not in self.stages:
                    self.stages[sid] = self._stage(sid)
        self._last_job = newest

    def _stage(self, sid: int) -> dict:
        sd = self._store.lastStageAttempt(sid)
        return {
            "submit_ms": _opt_ms(sd.submissionTime()),
            "complete_ms": _opt_ms(sd.completionTime()),
            "tasks": int(sd.numTasks()),
            "run_ms": int(sd.executorRunTime()),
            "cpu_ns": int(sd.executorCpuTime()),
            "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
            "spill_bytes": int(sd.diskBytesSpilled()),
            "gc_ms": int(sd.jvmGcTime()),
            "input_records": int(sd.inputRecords()),
        }

    def metrics(self) -> dict[str, dict]:
        return rollup(self.spans, self.jobs, self.stages)
