"""Spans and Spark status-store counters, recorded from outside the
program.

A span wraps one call from the benchmark into a layer of the program
(`operators`, `sources.jdbc`, `operators.ingest`, `sinks`,
`streaming`) or into Spark itself (`spark.plan`, `spark.exec`). Spans
stay in memory and are written out once, when the run ends. A layer's
self time is its span minus the part its child spans cover.

Counters come from the driver's status store, read with the job-id
high-water mark of `metrics.measure_shuffle`: only jobs submitted
after a mark, and their stages, are charged to the operation. The
listener bus is drained before every read, as `metrics.py` does.

With tracing off, `Tracer.span` only yields: no clock reads, no status
store, nothing kept.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from hive_exporter_spark.metrics import _drain_listener_bus

# Summed over the stages of the jobs an operation launched.
STAGE_COUNTERS = ("tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
                  "input_rows", "output_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes")


def _job_ids(spark) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _stage(sd) -> dict:
    return {
        "tasks": sd.numCompleteTasks(),
        "run_ms": sd.executorRunTime(),
        "cpu_ms": sd.executorCpuTime() / 1e6,
        "gc_ms": sd.jvmGcTime(),
        "input_bytes": sd.inputBytes(),
        "input_rows": sd.inputRecords(),
        "output_bytes": sd.outputBytes(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    }


def _ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start, end] millisecond
    intervals."""
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def jdbc_rows_read(spark, after_exec_id: int) -> tuple[int, int]:
    """Rows out of the JDBC scan nodes of the SQL executions with an id
    above `after_exec_id`, and the highest execution id seen."""
    store = spark._jsparkSession.sharedState().statusStore()
    rows, hi = 0, after_exec_id
    it = store.executionsList().iterator()
    while it.hasNext():
        eid = it.next().executionId()
        hi = max(hi, eid)
        if eid <= after_exec_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if "JDBC" not in node.name():
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    rows += int("".join(ch for ch in v.get() if ch.isdigit()) or 0)
    return rows, hi


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = None
        self.op_mark = -1
        self.notes: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def mark(self, spark) -> int:
        """Job-id high-water mark."""
        _drain_listener_bus(spark)
        return max(_job_ids(spark), default=-1)

    def note_jobs(self, spark, key: str) -> None:
        """Add the jobs launched since the operation started to
        `notes[key]` (traced runs only)."""
        if self.enabled:
            _drain_listener_bus(spark)
            n = sum(1 for j in _job_ids(spark) if j > self.op_mark)
            self.notes[key] = self.notes.get(key, 0) + n

    def counters(self, spark, mark: int) -> dict:
        """Jobs launched since `mark`, their stages' summed counters and
        the wall seconds during which at least one of them ran."""
        _drain_listener_bus(spark)
        store = spark.sparkContext._jsc.sc().statusStore()
        jobs = [j for j in _job_ids(spark) if j > mark]
        stage_ids, spans = set(), []
        for jid in jobs:
            jd = store.job(jid)
            it = jd.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
            lo, hi = _ms(jd.submissionTime()), _ms(jd.completionTime())
            if lo is not None and hi is not None:
                spans.append((lo, hi))
        out = {"jobs": len(jobs), "stages": 0, "job_wall_s": _union_s(spans)}
        out.update(dict.fromkeys(STAGE_COUNTERS, 0))
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for k, v in _stage(sd).items():
                out[k] += v
        return out

    def self_times(self) -> dict[str, float]:
        """Self seconds per span name, summed over the run."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, covered):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)
