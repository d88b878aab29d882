"""Spans around calls into the engine, with Spark counters per span.

A span records name, start, end, parent span and the run's ``run_id``.
Each span runs its Spark work under a job group of its own; when the span
closes, the counters of that group are read from Spark's JSON event log.
The event log is the only record Spark keeps that neither evicts old stages
(the status store drops stages beyond ``spark.ui.retainedStages``) nor
overwrites a stage's metrics when a later job reuses it, so a span with
hundreds of jobs, or a run of thousands of stages, loses nothing.

Spans live in memory and are written out by the caller when the run ends.
With tracing off every method is a no-op, so untraced runs pay nothing.
"""

from __future__ import annotations

import collections
import contextlib
import glob
import json
import os
import statistics
import time

# Spark accumulator name -> (counter, scale to the reported unit)
_ACCUMULATORS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "time to run Python workers": ("python_udf_s", 1e-3),
}
COUNTERS = ("jobs", "stages", "tasks", "catalyst_s", "executor_run_s",
            "executor_cpu_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "python_udf_s")


def median(values) -> float:
    """Median of ``values``; 0 when there are none, as for a layer that a
    workload does not run."""
    return statistics.median(values) if values else 0.0


def event_log_confs(log_dir: str) -> list[str]:
    """spark-submit ``--conf`` pairs that make Spark write a plain JSON event
    log into ``log_dir`` (one uncompressed file, flushed at stage and job
    boundaries)."""
    confs = {"spark.eventLog.enabled": "true",
             "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
             "spark.eventLog.rolling.enabled": "false",
             "spark.eventLog.compress": "false"}
    return [arg for k, v in confs.items() for arg in ("--conf", f"{k}={v}")]


class EventLog:
    """Incremental reader of the event log: job, stage and task counters
    summed per job group."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self._fh = None
        self._tail = ""
        self._stage_group: dict[tuple[int, int], str | None] = {}
        self._completed: set[tuple[int, int]] = set()
        self.groups: dict[str | None, collections.Counter] = (
            collections.defaultdict(collections.Counter))

    def close(self) -> None:
        if self._fh is not None:
            self._fh.close()
            self._fh = None

    def poll(self) -> None:
        if self._fh is None:
            files = glob.glob(os.path.join(self.log_dir, "*"))
            if not files:
                return
            self._fh = open(files[0], encoding="utf-8")
        lines = (self._tail + self._fh.read()).split("\n")
        self._tail = lines.pop()
        for line in lines:
            self._consume(line)

    def _consume(self, line: str) -> None:
        # task events dominate the log; only job and stage events are parsed
        if line.startswith('{"Event":"SparkListenerJobStart"'):
            event = json.loads(line)
            self.groups[_group(event)]["jobs"] += 1
        elif line.startswith('{"Event":"SparkListenerStageSubmitted"'):
            event = json.loads(line)
            self._stage_group[_stage_key(event)] = _group(event)
        elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
            event = json.loads(line)
            key = _stage_key(event)
            self._completed.add(key)
            counters = self.groups[self._stage_group.get(key)]
            info = event["Stage Info"]
            counters["stages"] += 1
            counters["tasks"] += info["Number of Tasks"]
            for acc in info.get("Accumulables", []):
                name, scale = _ACCUMULATORS.get(acc.get("Name"), (None, 0))
                if name is not None and acc.get("Value") is not None:
                    counters[name] += float(acc["Value"]) * scale

    def stages_lost(self) -> int:
        """Stages submitted whose completion the log has not recorded."""
        return len(set(self._stage_group) - self._completed)


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def _stage_key(event: dict) -> tuple[int, int]:
    info = event["Stage Info"]
    return info["Stage ID"], info["Stage Attempt ID"]


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's last
    execution, from Catalyst's own phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    it = phases.values().iterator()
    while it.hasNext():
        phase = it.next()
        total += phase.endTimeMs() - phase.startTimeMs()
    return total / 1000.0


class Tracer:
    """Records spans when ``log`` is an EventLog; does nothing when it is
    None."""

    def __init__(self, spark, run_id: str, log: EventLog | None):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.log = log
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._t0 = time.perf_counter()
        # time spent reading counters when spans close: the direct cost of
        # tracing, on top of Spark writing its event log
        self.harvest_s = 0.0

    @property
    def enabled(self) -> bool:
        return self.log is not None

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a call into a layer. The caller may set ``df`` in the
        yielded dict to the DataFrame whose action the span timed, so its
        Catalyst phase times are read too; untraced, the dict is dropped."""
        if not self.enabled:
            yield {}
            return
        parent = self._open[-1] if self._open else None
        rec = {"id": len(self.spans) + len(self._open) + 1, "name": name,
               "parent": parent["id"] if parent else None,
               "run_id": self.run_id}
        rec["group"] = f"{self.run_id}.{rec['id']}"
        self._open.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._open.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._close(rec)

    def _close(self, rec: dict) -> None:
        t0 = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.log.poll()
        counters = dict(self.log.groups.get(rec["group"], {}))
        df = rec.pop("df", None)
        if df is not None:
            counters["catalyst_s"] = catalyst_seconds(df)
        rec["counters"] = {k: counters.get(k, 0) for k in COUNTERS}
        self.spans.append(rec)
        self.harvest_s += time.perf_counter() - t0

    def totals(self, spans: list[dict]) -> dict[str, float]:
        """Counters summed over ``spans`` and their descendants, each span
        counted once."""
        ids = {s["id"] for s in spans}
        grown = True
        while grown:
            more = {s["id"] for s in self.spans if s["parent"] in ids}
            grown = not more <= ids
            ids |= more
        out = collections.Counter()
        for s in self.spans:
            if s["id"] in ids:
                out.update(s["counters"])
        return {k: out.get(k, 0) for k in COUNTERS}

    def dump(self) -> dict:
        return {"run_id": self.run_id, "spans": self.spans}
