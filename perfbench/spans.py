"""Benchmark-side tracing: spans around calls into the program's layers.

A span is ``(name, start, end, parent, run id)`` plus counters read from
Spark's own status stores after the span closes:

- Spark jobs and stages are numbered in submission order by the
  scheduler, so with one client thread every job and stage whose id falls
  between a span's open and close belongs to that span (and its
  children).  That also covers jobs that Structured Streaming submits from
  its own thread, which a thread-local job group would miss.
- per stage, ``statusStore().lastStageAttempt(id)`` gives tasks,
  executor run and CPU time, input, shuffle and spill bytes and GC time;
- per SQL execution, the SQL status store's physical plan text tells
  which files each scan read.

Each span also runs under its own Spark job group.  Spans stay in memory
and are written once, by :meth:`Tracer.dump`, when the run ends.  A
disabled tracer records nothing and calls nothing in Spark.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "tasks", "run_s", "cpu_s", "input_bytes", "input_records",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s",
)


class Span:
    __slots__ = ("idx", "name", "start", "end", "parent", "run", "counters", "plans", "_marks")

    def __init__(self, idx, name, start, parent, run, plans):
        self.idx, self.name, self.start, self.parent, self.run = idx, name, start, parent, run
        self.end = None
        self.counters: dict = {}
        self.plans = plans
        self._marks = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "idx": self.idx, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent, "run": self.run,
            **self.counters,
        }


class Tracer:
    """Collects spans for one run.  ``enabled=False`` makes every method
    a no-op, so the untraced measurement pays nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.spark = None

    def bind(self, spark) -> None:
        """Point the tracer at the current session (after a restart the
        scheduler's job and stage numbering starts again at 0)."""
        self.spark = spark

    # -- Spark counters ------------------------------------------------

    def _marks(self) -> tuple[int, int, int]:
        jsc = self.spark.sparkContext._jsc.sc()
        ds = jsc.dagScheduler()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        return ds.nextJobId(), ds.nextStageId(), int(sql.executionsCount())

    def _read_counters(self, m0, m1, plans: bool) -> dict:
        jsc = self.spark.sparkContext._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        c = dict.fromkeys(STAGE_FIELDS, 0)
        c["scan_tasks"] = 0
        for sid in range(m0[1], m1[1]):
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never submitted
                continue
            if s.status().toString() == "SKIPPED":
                continue
            c["tasks"] += s.numTasks()
            c["run_s"] += s.executorRunTime() / 1e3
            c["cpu_s"] += s.executorCpuTime() / 1e9
            c["input_bytes"] += s.inputBytes()
            c["input_records"] += s.inputRecords()
            c["shuffle_read_bytes"] += s.shuffleReadBytes()
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            c["gc_s"] += s.jvmGcTime() / 1e3
            if s.inputBytes() > 0:
                c["scan_tasks"] += s.numTasks()
        c["spark_jobs"] = m1[0] - m0[0]
        c["plans"] = self._plans(m0[2], m1[2]) if plans else []
        return c

    def _plans(self, e0: int, e1: int) -> list[str]:
        if e1 <= e0:
            return []
        sql = self.spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList(e0, e1 - e0).iterator()
        out = []
        while it.hasNext():
            out.append(it.next().physicalPlanDescription())
        return out

    # -- spans ----------------------------------------------------------

    def open(self, name: str, plans: bool = False) -> Span | None:
        """Open a child of the innermost open span.  ``plans=True`` also
        keeps the physical plan text of the span's SQL executions."""
        if not self.enabled:
            return None
        parent = self._stack[-1].idx if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(), parent, self.run_id, plans)
        if self.spark is not None:
            sp._marks = self._marks()
            self.spark.sparkContext.setJobGroup(
                f"{self.run_id}/{sp.idx}", name, interruptOnCancel=False
            )
        self.spans.append(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        return sp

    def close(self, sp: Span | None, name: str | None = None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        if name is not None:
            sp.name = name
        popped = self._stack.pop()
        if popped is not sp:
            raise RuntimeError(f"span {sp.name} closed out of order")
        if self.spark is not None and sp._marks is not None:
            sp.counters = self._read_counters(sp._marks, self._marks(), sp.plans)
            parent = self._stack[-1] if self._stack else None
            sc = self.spark.sparkContext
            if parent is not None:
                sc.setJobGroup(f"{self.run_id}/{parent.idx}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, plans: bool = False):
        sp = self.open(name, plans)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- reporting ------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def self_times(self) -> dict[int, float]:
        """Span idx -> duration minus the part its children cover."""
        out = {s.idx: s.wall for s in self.spans if s.end is not None}
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                out[s.parent] -= s.wall
        return out

    def dump(self, path: str) -> None:
        selft = self.self_times()
        rows = []
        for s in self.spans:
            if s.end is None:
                continue
            d = s.as_dict()
            d.pop("plans", None)
            d["self_s"] = selft[s.idx]
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": rows}, f, indent=1)


_SCAN_RE = re.compile(r"Scan parquet[^\n]*\n(?:[^\n]*\n){0,6}?Location: [^\n]*?/documents\.parquet\]")


def documents_scans(plans: list[str]) -> int:
    """Scans of a ``documents.parquet`` table across SQL physical plans."""
    return sum(len(_SCAN_RE.findall(p)) for p in plans)
