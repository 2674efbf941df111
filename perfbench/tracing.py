"""Spans and layer counters for the traced run.

Spans are recorded around the benchmark's own calls into each layer (the
program itself is not instrumented). Each span has a name, start, end (ns,
``perf_counter_ns``), parent span and run id. They stay in memory and are
written out once, at the end of the run.

Spark-side numbers come from outside the program too:

* per job group (``setJobGroup``; a streaming query's jobs carry its run id
  as their group), stage metrics from the status store, which is filled
  even with the UI off;
* per streaming query, ``StreamingQueryProgress`` records.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[tuple[str, int, int, int, str]] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else -1
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter_ns(), 0, parent, self.run_id))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            name, start, _, parent, run = self.spans[idx]
            self.spans[idx] = (name, start, time.perf_counter_ns(), parent, run)

    def totals_ms(self) -> dict[str, tuple[float, float]]:
        """``name -> (total_ms, self_ms)``; self time subtracts the time
        covered by direct child spans."""
        child_ns = [0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                child_ns[parent] += end - start
        out: dict[str, list[float]] = {}
        for i, (name, start, end, _, _) in enumerate(self.spans):
            acc = out.setdefault(name, [0.0, 0.0])
            acc[0] += (end - start) / 1e6
            acc[1] += (end - start - child_ns[i]) / 1e6
        return {k: (v[0], v[1]) for k, v in out.items()}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, start, end, parent, run) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start_ns": start,
                                    "end_ns": end, "parent": parent, "run": run}) + "\n")


def stage_metrics(spark, group: str) -> dict[str, float]:
    """Summed stage metrics of every job in ``group``, plus the task skew
    (max / median task duration) of its most skewed stage."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {"run_ms": 0.0, "cpu_ms": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "tasks": 0, "skew": 1.0}
    stages = set()
    for job in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(job)
        if info is not None:
            stages.update(info.stageIds)
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — stage evicted or never ran
            continue
        out["run_ms"] += sd.executorRunTime()
        out["cpu_ms"] += sd.executorCpuTime() / 1e6
        out["input_bytes"] += sd.inputBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["tasks"] += sd.numTasks()
        durations = []
        it = store.taskList(sid, sd.attemptId(), 100_000).iterator()
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                durations.append(d.get())
        if len(durations) > 1 and statistics.median(durations) > 0:
            out["skew"] = max(out["skew"], max(durations) / statistics.median(durations))
    return out


def progress_metrics(queries) -> dict[str, float]:
    """Sums and maxima over every progress record of ``queries``."""
    out = {"latest_offset_ms": 0.0, "get_batch_ms": 0.0, "add_batch_ms": 0.0,
           "wal_commit_ms": 0.0, "commit_offsets_ms": 0.0, "query_planning_ms": 0.0,
           "trigger_ms": 0.0, "batches": 0, "rows": 0, "state_rows": 0,
           "state_memory_bytes": 0, "dropped_by_watermark": 0}
    keys = {"latestOffset": "latest_offset_ms", "getBatch": "get_batch_ms",
            "addBatch": "add_batch_ms", "walCommit": "wal_commit_ms",
            "commitOffsets": "commit_offsets_ms", "queryPlanning": "query_planning_ms",
            "triggerExecution": "trigger_ms"}
    for q in queries:
        for p in q.recentProgress:
            if p.numInputRows == 0:
                continue
            out["batches"] += 1
            out["rows"] += p.numInputRows
            for k, name in keys.items():
                out[name] += p.durationMs.get(k, 0)
            for op in p.stateOperators:
                out["state_rows"] = max(out["state_rows"], op.numRowsTotal)
                out["state_memory_bytes"] = max(out["state_memory_bytes"], op.memoryUsedBytes)
                out["dropped_by_watermark"] += op.numRowsDroppedByWatermark
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0..1) of ``values``."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def _tree_rss_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        pid = int(entry)
        children.setdefault(int(fields.get("PPid", "0").strip()), []).append(pid)
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants,
    sampled every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)

    def _run(self, interval: float) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
