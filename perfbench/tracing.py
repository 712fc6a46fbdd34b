"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own code, around calls into the
engine's public functions: methods are wrapped on their classes (and
`merge_state` / `replay_stream` where their callers look them up) for
the life of one run, then restored. A span holds its name, start, end,
parent span and the id of the operation (epoch or catalog entry) it
belongs to. Streaming progress events arrive through a
`StreamingQueryListener`; Spark job, stage and task counts come from
`statusTracker`, one job group per operation. Everything stays in
memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime

#: table class name -> table format, as `ParquetUpsertSink` names them
FORMATS = {"VersionedParquetTable": "versioned", "DeltaLogTable": "delta",
           "IcebergTable": "iceberg"}
TABLE_METHODS = ("commit", "read", "read_schema", "compact", "vacuum",
                 "expire_snapshots")
MAINTENANCE = ("compact", "vacuum", "expire_snapshots")


def _parquet_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                try:
                    out[os.path.realpath(p)] = os.path.getsize(p)
                except OSError:
                    pass
    return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.groups: dict[str, str] = {}  # job group -> operation id
        self._ids = iter(range(1, 1 << 62))
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self._progress: ProgressLog | None = None

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "op": op if op is not None else (stack[-1]["op"] if stack
                                                else None),
               **attrs}
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def operation(self, op: str, name: str):
        """One epoch or entry: a root span plus a Spark job group, so the
        jobs it launches from this thread can be counted afterwards."""
        sc = self.spark.sparkContext
        group = f"perfbench-{op}"
        self.groups[group] = op
        sc.setJobGroup(group, op)
        try:
            with self.span(name, op=op) as rec:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, owner, attr: str, name_of) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(**name_of(args, kwargs)) as rec:
                before = None
                if attr == "commit" and rec.get("fmt"):
                    before = _parquet_files(args[0].path)
                out = orig(*args, **kwargs)
                if before is not None:
                    after = _parquet_files(args[0].path)
                    new = set(after) - set(before)
                    rec["files_added"] = len(new)
                    rec["bytes_added"] = sum(after[p] for p in new)
                    tb = kwargs.get("touched_buckets",
                                    args[3] if len(args) > 3 else None)
                    rec["touched_buckets"] = (None if tb is None
                                              else len(tb))
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    # -- install / remove ------------------------------------------------
    def install(self) -> None:
        from debezium_server_spark.sinks import parquet_sink
        from debezium_server_spark.sinks.delta_log import DeltaLogTable
        from debezium_server_spark.sinks.iceberg_meta import IcebergTable
        from debezium_server_spark.streaming import replay

        self._wrap(parquet_sink.ParquetUpsertSink, "handle",
                   lambda a, k: {"name": "sinks.handle",
                                 "fmt": a[0].table_format})
        for cls in (parquet_sink.VersionedParquetTable, DeltaLogTable,
                    IcebergTable):
            fmt = FORMATS[cls.__name__]
            for m in TABLE_METHODS:
                if hasattr(cls, m):
                    self._wrap(cls, m, lambda a, k, m=m, fmt=fmt: {
                        "name": f"table.{m}", "fmt": fmt,
                        "buckets": "buckets" in k and k["buckets"] is not None})
        self._wrap(parquet_sink, "merge_state",
                   lambda a, k: {"name": "operators.merge_state"})
        self._wrap(replay, "replay_stream",
                   lambda a, k: {"name": "replay.replay_stream"})

        self._progress = ProgressLog(self.spark)

    def remove(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        if self._progress is not None:
            self._progress.remove()

    @property
    def progress(self) -> list[dict]:
        if self._progress is None:
            return []
        self._progress.settle()
        return self._progress.events

    # -- derived records ----------------------------------------------
    def job_counts(self) -> dict[str, dict[str, int]]:
        """Jobs, stages and tasks per operation. Replay queries run their
        micro-batches under their own run id as job group; those jobs are
        charged to the operation whose span holds the progress event."""
        st = self.spark.sparkContext.statusTracker()
        groups: dict[str, list[str]] = {}
        for g, op in self.groups.items():
            groups.setdefault(op, []).append(g)
        roots = {s["op"]: s for s in self.spans if s["parent"] is None
                 and s["op"] is not None}
        for p in self.progress:
            t0 = progress_start(p)
            for op, s in roots.items():
                if s["start"] <= t0 <= s["end"] and p["runId"] not in groups[op]:
                    groups[op].append(p["runId"])
        out = {}
        for op, gs in groups.items():
            jobs = stages = tasks = 0
            for g in gs:
                for j in st.getJobIdsForGroup(g):
                    info = st.getJobInfo(j)
                    if info is None:
                        continue
                    jobs += 1
                    for sid in info.stageIds:
                        si = st.getStageInfo(sid)
                        if si is not None and si.numTasks > 0:
                            stages += 1
                            tasks += si.numTasks
            out[op] = {"jobs": jobs, "stages": stages, "tasks": tasks}
        return out

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"summary": summary, "self_ms": self_times(self.spans),
                       "spans": self.spans, "progress": self.progress},
                      f, indent=1, default=str)


class ProgressLog:
    """Every streaming progress event of the session, through a
    `StreamingQueryListener`, from construction until `remove`."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.events: list[dict] = []
        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        spark.streams.addListener(self._listener)

    def settle(self, timeout: float = 5.0) -> None:
        """Wait until the listener bus has delivered the progress events
        (they arrive asynchronously): stop once the count holds still."""
        deadline = time.monotonic() + timeout
        last = -1
        while time.monotonic() < deadline and len(self.events) != last:
            last = len(self.events)
            time.sleep(0.5)

    def remove(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None


def progress_start(p: dict) -> float:
    """Trigger start of a progress event, in epoch seconds."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")
                                  ).timestamp()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float
            ) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name, in ms: duration minus the part of
    it covered by the span's children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - covered(
            kids.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own * 1000
    return {k: round(v, 3) for k, v in sorted(out.items())}
