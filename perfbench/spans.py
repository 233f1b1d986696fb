"""Spans recorded around the harness's own calls, plus readers for Spark's
status stores (job/stage task metrics and SQL plan metrics).

Nothing here changes program code. Spans wrap either a block of harness
code (``Tracer.span``) or a public function of a program module that the
harness temporarily replaces with a recording wrapper (``Tracer.wrap``);
``Tracer.close`` puts every replaced function back.
"""

from __future__ import annotations

import functools
import itertools
import re
import time
from contextlib import contextmanager
from typing import Any

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder: (id, name, start, end, parent, op).

    Disabled tracers record nothing and wrap nothing, so an untraced run
    executes exactly the calls a user would make."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._patched: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``
        around every call (traced runs only)."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched = []

    def op_seconds(self, name: str) -> list[float]:
        """Per-op total seconds of spans called ``name`` over the warm ops
        (op 0 is the cold op; ops that made no such call are absent)."""
        tot: dict[int, float] = {}
        for s in self.spans:
            if s["name"] == name and s["op"] and s["end"]:
                tot[s["op"]] = tot.get(s["op"], 0.0) + s["end"] - s["start"]
        return list(tot.values())

    def export(self) -> list[dict[str, Any]]:
        """Spans with durations and self times (duration minus the part
        of its interval that child spans cover)."""
        kids: dict[int, list[dict[str, Any]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = union_length(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])
                 if c["end"] is not None],
                s["start"], s["end"],
            )
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        return out


def union_length(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------

_MB = 1024.0 * 1024.0
_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
    "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": _MB, "GiB": _MB * 1024, "TiB": _MB * _MB,
}
_VALUE = re.compile(r"(-?[0-9][0-9,]*\.?[0-9]*)\s*([A-Za-zµ]+)?")

# SQL plan metric name -> (per-layer metric, unit divisor applied after
# parsing to seconds/bytes)
SQL_METRICS = {
    "scan time": ("sql.scan_time_s", 1.0),
    "time to collect": ("sql.broadcast_collect_s", 1.0),
    "time to build": ("sql.broadcast_build_s", 1.0),
    "data sent to Python workers": ("sql.python_bytes_sent_mb", _MB),
    "data returned from Python workers": ("sql.python_bytes_returned_mb", _MB),
}


def parse_metric_value(text: str) -> float:
    """Total of a formatted SQL metric: the first line of a per-task
    metric reads ``total (min, med, max ...)`` and the total is the first
    value of the second line; a driver-side metric is one value."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNITS.get(m.group(2) or "", 1.0)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkStats:
    """Per-op counters from the live AppStatusStore and SQL status store.

    ``mark()`` before an op remembers the highest job id and the number of
    SQL executions; ``collect(start_ms, end_ms)`` after it sums the
    metrics of every job and execution started since."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.cores = spark.sparkContext.defaultParallelism
        self._job_mark = -1
        self._exec_mark = 0

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _job_ids(self) -> list[int]:
        return [j.jobId() for j in _seq(self.store.jobsList(None))]

    def mark(self) -> None:
        self._drain()
        self._job_mark = max(self._job_ids(), default=-1)
        self._exec_mark = self.sql_store.executionsCount()

    def collect(self, op_start_ms: float, op_end_ms: float) -> dict[str, float]:
        self._drain()
        job_ids = [j for j in self._job_ids() if j > self._job_mark]
        stage_ids = set()
        intervals = []
        for jid in job_ids:
            j = self.store.job(jid)
            stage_ids.update(_seq(j.stageIds()))
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else op_end_ms
                intervals.append((float(sub.get().getTime()), float(end)))
        m = dict.fromkeys(
            ["spark.executor_run_s", "spark.executor_cpu_s", "spark.jvm_gc_s",
             "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
             "spark.input_mb", "spark.input_records"], 0.0
        )
        stages = tasks = 0
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                # a skipped stage whose run belongs to an old job the store
                # has already evicted (spark.ui.retainedStages); no metrics
                continue
            stages += 1
            tasks += st.numCompleteTasks() + st.numFailedTasks()
            m["spark.executor_run_s"] += st.executorRunTime() / 1e3
            m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["spark.jvm_gc_s"] += st.jvmGcTime() / 1e3
            m["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            m["spark.shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            m["spark.spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / _MB
            m["spark.input_mb"] += st.inputBytes() / _MB
            m["spark.input_records"] += st.inputRecords()
        wall = max(1e-9, (op_end_ms - op_start_ms) / 1e3)
        covered = union_length(intervals, op_start_ms, op_end_ms) / 1e3
        m.update({
            "spark.jobs": float(len(job_ids)),
            "spark.stages": float(stages),
            "spark.tasks": float(tasks),
            "spark.core_util": m["spark.executor_run_s"] / (wall * self.cores),
            "driver.gap_s": wall - covered,
        })
        m.update(self._sql_metrics())
        m["cache.stored_mb"] = sum(
            (r.memSize() + r.diskSize()) for r in self.jsc.getRDDStorageInfo()
        ) / _MB
        return m

    def _sql_metrics(self) -> dict[str, float]:
        out = {name: 0.0 for name, _ in SQL_METRICS.values()}
        count = self.sql_store.executionsCount()
        for ex in _seq(self.sql_store.executionsList(self._exec_mark, count - self._exec_mark)):
            eid = ex.executionId()
            wanted = {}
            for pm in _seq(ex.metrics()):
                if pm.name() in SQL_METRICS:
                    wanted[pm.accumulatorId()] = SQL_METRICS[pm.name()]
            if not wanted:
                continue
            it = self.sql_store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                hit = wanted.get(kv._1())
                if hit is not None:
                    out[hit[0]] += parse_metric_value(kv._2()) / hit[1]
        return out
