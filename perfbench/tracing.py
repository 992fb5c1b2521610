"""Observation from outside the program: spans around the benchmark's own
calls into each layer, streaming progress from Spark's public
``StreamingQueryListener``, Spark job counts from the status tracker, and
task metrics from Spark's event log.

Nothing here changes what the program computes. The untraced run uses only
``ProgressLog`` (the trigger latencies are an end-to-end metric); the traced
run adds a ``Tracer``, job groups and the event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: progress ``durationMs`` keys reported as streaming.<name>_s
PROGRESS_PHASES = {
    "addBatch": "add_batch_s",
    "getBatch": "get_batch_s",
    "latestOffset": "latest_offset_s",
    "queryPlanning": "query_planning_s",
    "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
}


class ProgressLog(StreamingQueryListener):
    """Every progress event of every streaming query, keyed by query id."""

    def __init__(self):
        super().__init__()
        self._lock = threading.Lock()
        self.progress: dict[str, list] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.progress.setdefault(str(p.id), []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.id))

    def wait_new(self, seen: set[str], timeout_s: float = 10.0) -> list:
        """The progress of the one query that terminated since ``seen``
        was taken. The listener bus delivers events asynchronously but in
        order, so once the termination event has arrived every progress
        event of that query has too."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                new = self.terminated - seen
                if new:
                    return [p for q in new for p in self.progress.get(q, [])]
            time.sleep(0.01)
        raise TimeoutError("no termination event for the streaming query")


class Tracer:
    """Spans and per-operation job counts of one traced pass.

    A span is one boundary crossing (workload, query build, query exec,
    stage checkpoint, pipeline, trigger, sink call) with its name, start,
    end, parent and the id of the operation it belongs to. Spans live in
    memory until the run writes them out."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def _open(self, name: str, op: str | None, parent: int | None,
              start: float | None = None) -> dict:
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "op": op, "parent": parent,
                   "start": time.time() if start is None else start, "end": None}
            self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = self._open(name, op, parent)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add_span(self, name: str, start: float, end: float, parent: int | None) -> None:
        op = self.spans[parent]["op"] if parent is not None else None
        self._open(name, op, parent, start)["end"] = end

    def jobs_in_group(self, group: str) -> int:
        return len(self.tracker.getJobIdsForGroup(group))

    @contextlib.contextmanager
    def job_group(self, op: str):
        self.sc.setJobGroup(op, f"perfbench {op}")
        try:
            yield op
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def checkpoints(self):
        """Record a ``stage.checkpoint`` span for every ``localCheckpoint``
        call made while the block runs, parented to the innermost open
        span (the query build). The public method is wrapped the way
        ``scripts/explain_audit.py`` wraps it."""
        from pyspark.sql import DataFrame

        classes = [DataFrame]
        with contextlib.suppress(ImportError):
            from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

            classes.append(ClassicDataFrame)
        originals = [(cls, cls.__dict__["localCheckpoint"])
                     for cls in classes if "localCheckpoint" in cls.__dict__]
        tracer = self

        def make(orig):
            def patched(df, *args, **kwargs):
                parent = tracer._stack[-1] if tracer._stack else None
                t0 = time.time()
                try:
                    return orig(df, *args, **kwargs)
                finally:
                    tracer.add_span("stage.checkpoint", t0, time.time(), parent)

            return patched

        for cls, orig in originals:
            setattr(cls, "localCheckpoint", make(orig))
        try:
            yield
        finally:
            for cls, orig in originals:
                setattr(cls, "localCheckpoint", orig)

    def wrap_sink(self, fn, parent: int):
        """The foreachBatch callable ``fn`` with a ``sink.call`` span
        around each invocation."""

        def call(batch_df, batch_id):
            t0 = time.time()
            try:
                return fn(batch_df, batch_id)
            finally:
                self.add_span("sink.call", t0, time.time(), parent)

        return call

    def span_seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def span_count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)


def progress_metrics(progress: list) -> dict[str, float]:
    """streaming.* and state.* metrics over the progress events of a pass."""
    out = {f"streaming.{v}": 0.0 for v in PROGRESS_PHASES.values()}
    out.update({"streaming.triggers": len(progress), "streaming.input_rows": 0,
                "state.rows_total": 0, "state.rows_updated": 0,
                "state.rows_removed": 0, "state.memory_bytes": 0,
                "state.commit_s": 0.0})
    last_state: dict[str, tuple[int, int]] = {}
    for p in progress:
        out["streaming.input_rows"] += p.numInputRows
        for key, name in PROGRESS_PHASES.items():
            out[f"streaming.{name}"] += p.durationMs.get(key, 0) / 1000.0
        for i, op in enumerate(p.stateOperators):
            out["state.rows_updated"] += op.numRowsUpdated
            out["state.rows_removed"] += op.numRowsRemoved
            out["state.commit_s"] += op.commitTimeMs / 1000.0
            last_state[f"{p.id}/{i}"] = (op.numRowsTotal, op.memoryUsedBytes)
    # total and memory are levels, not flows: the final level of each
    # stateful operator of each query, summed over operators
    out["state.rows_total"] = sum(t for t, _ in last_state.values())
    out["state.memory_bytes"] = sum(m for _, m in last_state.values())
    return out


def _read_events(log_dir: str, app_id: str) -> list[dict]:
    files = sorted(
        glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*"))
        + glob.glob(os.path.join(log_dir, f"{app_id}*"))
    )
    files = [f for f in files if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    events = []
    for path in files:
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def event_log_metrics(log_dir: str, app_id: str, t0: float, t1: float) -> dict:
    """spark.* metrics of the jobs submitted between ``t0`` and ``t1``
    (epoch seconds) by application ``app_id``, read from its event log,
    plus per-job-group totals for the per-operation record."""
    events = _read_events(log_dir, app_id)
    lo, hi = t0 * 1000, t1 * 1000
    job_group, job_submit, job_stages = {}, {}, {}
    job_end = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if lo <= ev["Submission Time"] <= hi:
                jid = ev["Job ID"]
                job_submit[jid] = ev["Submission Time"]
                job_stages[jid] = set(ev.get("Stage IDs", []))
                job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"]
    stage_job = {s: j for j, stages in job_stages.items() for s in stages}
    tasks_by_stage: dict[int, list[float]] = {}
    m = dict.fromkeys(("task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
                       "shuffle_read_bytes", "spill_bytes", "input_records"), 0)
    per_group: dict[str, dict] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or ev["Stage ID"] not in stage_job:
            continue
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        tasks_by_stage.setdefault(ev["Stage ID"], []).append(
            (info["Finish Time"] - info["Launch Time"]) / 1000.0)
        rd = tm.get("Shuffle Read Metrics") or {}
        row = {
            "task_run_s": tm.get("Executor Run Time", 0) / 1000.0,
            "task_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
            "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0),
            "shuffle_read_bytes": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
            "spill_bytes": tm.get("Disk Bytes Spilled", 0),
            "input_records": (tm.get("Input Metrics") or {}).get("Records Read", 0),
        }
        group = job_group.get(stage_job[ev["Stage ID"]])
        g = per_group.setdefault(group, dict.fromkeys(("tasks", *row), 0))
        g["tasks"] += 1
        for k, v in row.items():
            m[k] += v
            g[k] += v
    for jid, group in job_group.items():
        per_group.setdefault(group, dict.fromkeys(("tasks", *m), 0))
        per_group[group]["jobs"] = per_group[group].get("jobs", 0) + 1
    skews = [max(d) / statistics.median(d) for d in tasks_by_stage.values()
             if len(d) >= 2 and statistics.median(d) > 0]
    intervals = [(job_submit[j] / 1000.0, job_end.get(j, hi) / 1000.0) for j in job_submit]
    job_s = _union_seconds(intervals)
    out = {
        "spark.jobs": len(job_submit),
        "spark.stages": len(tasks_by_stage),
        "spark.tasks": sum(len(d) for d in tasks_by_stage.values()),
        "spark.job_s": job_s,
        "spark.driver_s": max(0.0, (t1 - t0) - job_s),
        "spark.stage_skew": statistics.median(skews) if skews else 1.0,
    }
    out.update({f"spark.{k}": v for k, v in m.items()})
    return {"metrics": out, "per_group": per_group}
