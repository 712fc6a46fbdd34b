"""End-to-end and per-layer metrics from one workload's `Result`.

End-to-end metrics are named per workload in `END_TO_END`. Every
per-layer metric is reported on every workload, so that each traced run
prints the full set; a layer a workload does not exercise reads 0 there
(its "should not move" control). Names and units match BENCHMARK.json.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import numpy as np

from tracing import MAINTENANCE, covered, progress_start

FORMATS = ("versioned", "delta", "iceberg")


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


#: end-to-end metrics of each workload, all from untraced runs
END_TO_END = {
    "cdc_open_loop": ("setup_s", "cpu_ms_per_1k_events"),
    "lake_fanout_drain": ("setup_s", "cpu_ms_per_1k_events"),
    "stateful_replay": ("setup_s", "epoch_ms_p50", "pass_s"),
    "catalog_batch": ("setup_s", "pass_s"),
}
#: pipeline metrics that did not repeat within a bound from run to run:
#: per-layer in a traced run, and on standard error in an untraced one
WALL = ("lag_ms_p50", "lag_ms_p95", "epoch_ms_p50", "events_per_s",
        "cpu_ms_per_epoch")


def _every(res, setup_s: float = 0.0) -> dict:
    lag = res.lag_ms or [0.0]
    n_ops = len(res.epoch_ms) or len(res.pass_s)
    return {
        "setup_s": _m(setup_s, "s"),
        "cpu_ms_per_1k_events": _m(
            1e6 * res.cpu_s / res.events if res.events else 0, "ms"),
        "cpu_ms_per_epoch": _m(1000 * res.cpu_s / n_ops if n_ops else 0,
                               "ms"),
        "lag_ms_p50": _m(np.percentile(lag, 50), "ms"),
        "lag_ms_p95": _m(np.percentile(lag, 95), "ms"),
        "epoch_ms_p50": _m(_med(res.epoch_ms), "ms"),
        "events_per_s": _m(res.events / res.drain_s if res.drain_s else 0,
                           "1/s"),
        "pass_s": _m(_med(res.pass_s), "s"),
    }


def end_to_end(workload: str, res, setup_s: float) -> dict:
    every = _every(res, setup_s)
    return {k: every[k] for k in END_TO_END[workload]}


def wall_metrics(res) -> dict:
    every = _every(res)
    return {k: every[k] for k in WALL}


def _progress(res, tracer) -> list[dict]:
    if "progress" in res.layers:
        return res.layers["progress"]
    return [p for p in tracer.progress if p.get("numInputRows", 0) > 0]


def per_layer(res, tracer, peak_kb: int) -> dict:
    """Per-layer medians over operations (epochs or entries)."""
    out: dict[str, dict] = {"peak_rss_mb": _m(peak_kb / 1024, "MB"),
                            **wall_metrics(res)}
    prog = _progress(res, tracer)
    dur = lambda k: [p["durationMs"].get(k, 0) for p in prog]  # noqa: E731
    out["streaming.trigger_ms"] = _m(_med(dur("triggerExecution")), "ms")
    out["streaming.add_batch_ms"] = _m(_med(dur("addBatch")), "ms")
    out["streaming.query_planning_ms"] = _m(_med(dur("queryPlanning")), "ms")
    out["streaming.wal_commit_ms"] = _m(_med(dur("walCommit")), "ms")
    out["streaming.commit_offsets_ms"] = _m(_med(dur("commitOffsets")), "ms")
    out["streaming.rows_per_epoch"] = _m(
        _med(p["numInputRows"] for p in prog), "count")
    out["sources.latest_offset_ms"] = _m(_med(dur("latestOffset")), "ms")
    files = defaultdict(int)
    for b in res.layers.get("file_batches", {}).values():
        files[b] += 1
    out["sources.files_per_epoch"] = _m(
        _med(files[p["batchId"]] for p in prog if "file_batches" in res.layers),
        "count")

    jobs = tracer.job_counts()
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}_per_epoch"] = _m(_med(j[k] for j in jobs.values()),
                                         "count")

    # sink layers, summed per epoch then the median across epochs
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def under_maintenance(s) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] in (f"table.{m}" for m in MAINTENANCE):
                return True
            p = by_id[p]["parent"]
        return False

    ops = sorted({s["op"] for s in spans if s["op"] is not None})
    per_op: dict[str, dict[str, float]] = {op: defaultdict(float) for op in ops}
    counts: dict[str, list[float]] = defaultdict(list)
    for s in spans:
        if s["op"] is None:
            continue
        acc, ms = per_op[s["op"]], (s["end"] - s["start"]) * 1000
        name, fmt = s["name"], s.get("fmt")
        if name == "sinks.handle":
            acc[f"handle.{fmt}"] += ms
        elif name == "table.read_schema":
            acc["read_schema"] += ms
        elif name == "table.read" and s.get("buckets") and not under_maintenance(s):
            acc["bucket_read"] += ms
        elif name == "table.commit":
            if not under_maintenance(s):
                acc[f"commit.{fmt}"] += ms
            if s.get("touched_buckets") is not None:
                counts["touched"].append(s["touched_buckets"])
            acc["files"] += s.get("files_added", 0)
            acc["bytes"] += s.get("bytes_added", 0)
        elif name in (f"table.{m}" for m in MAINTENANCE) \
                and not under_maintenance(s):
            acc[f"maint.{fmt}"] += ms
        elif name == "operators.merge_state":
            acc["merge"] += ms
    sink_ops = [a for a in per_op.values() if any(k.startswith("handle.")
                                                   for k in a)]

    def sink_med(key: str) -> float:
        vals = [a[key] for a in sink_ops if key in a]
        return _med(vals)

    for fmt in FORMATS:
        out[f"sinks.handle_ms.{fmt}"] = _m(sink_med(f"handle.{fmt}"), "ms")
    out["sinks.read_schema_ms"] = _m(_med(a["read_schema"] for a in sink_ops),
                                     "ms")
    out["sinks.bucket_read_build_ms"] = _m(
        _med(a["bucket_read"] for a in sink_ops), "ms")
    out["sinks.touched_buckets"] = _m(_med(counts["touched"]), "count")
    for fmt in FORMATS:
        out[f"sinks.commit_ms.{fmt}"] = _m(sink_med(f"commit.{fmt}"), "ms")
        n = len([a for a in sink_ops if f"handle.{fmt}" in a])
        total = sum(a.get(f"maint.{fmt}", 0.0) for a in sink_ops)
        out[f"sinks.maintenance_ms.{fmt}"] = _m(total / n if n else 0, "ms")
    out["sinks.files_added"] = _m(_med(a["files"] for a in sink_ops), "count")
    out["sinks.bytes_added"] = _m(_med(a["bytes"] for a in sink_ops), "B")
    out["operators.merge_build_ms"] = _m(_med(a["merge"] for a in sink_ops),
                                         "ms")

    # state stores, from the progress of every streaming query
    st = [p for p in tracer.progress if p.get("stateOperators")]
    ssum = lambda p, k: sum(o.get(k, 0) for o in p["stateOperators"])  # noqa: E731
    out["stateful.update_ms"] = _m(_med(ssum(p, "allUpdatesTimeMs") for p in st), "ms")
    out["stateful.state_commit_ms"] = _m(_med(ssum(p, "commitTimeMs") for p in st), "ms")
    out["stateful.state_rows"] = _m(_med(ssum(p, "numRowsTotal") for p in st), "count")
    out["stateful.state_bytes"] = _m(_med(ssum(p, "memoryUsedBytes") for p in st), "B")

    # replay harness: wall minus the trigger time of its own micro-batches
    walls, overheads = [], []
    for s in spans:
        if s["name"] != "replay.replay_stream":
            continue
        wall = (s["end"] - s["start"]) * 1000
        trig = sum(p["durationMs"].get("triggerExecution", 0)
                   for p in tracer.progress
                   if s["start"] <= progress_start(p) <= s["end"])
        walls.append(wall)
        overheads.append(wall - trig)
    out["replay.wall_ms"] = _m(_med(walls), "ms")
    out["replay.overhead_ms"] = _m(_med(overheads), "ms")

    # catalog entries: per entry, and summed per pass
    entry_ms = res.layers.get("entry_ms", {})
    for i, kind in enumerate(("build", "execute")):
        per_pass = [sum(v[p][i] for v in entry_ms.values() if len(v) > p)
                    for p in range(len(res.pass_s))]
        out[f"catalog.{kind}_ms"] = _m(_med(per_pass), "ms")
        for name, v in entry_ms.items():
            out[f"catalog.{kind}_ms.{name}"] = _m(_med(x[i] for x in v), "ms")

    out["generator.late_ms"] = _m(res.layers.get("generator.late_ms", 0.0), "ms")
    # tracing overhead: this and streaming.trigger_ms against the
    # untraced runs' pass_s and epoch_ms_p50
    out["trace.pass_s"] = _m(_med(res.pass_s), "s")
    out["trace.epoch_coverage_pct"] = _m(_epoch_coverage(spans), "%")
    return out


def _epoch_coverage(spans: list[dict]) -> float:
    """Lowest share, over operations (epochs or entries), of the root
    span's wall time that the union of its child spans covers."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    shares = [100 * covered(kids[s["id"]], s["start"], s["end"])
              / (s["end"] - s["start"])
              for s in spans
              if s["parent"] is None and s["op"] is not None
              and s["end"] > s["start"]]
    return min(shares) if shares else 0.0


def host_probes(spark) -> dict:
    """The repo's calibration probes (bench.py), once each: host speed
    at run time, to tell drift from a change."""
    import time

    import bench

    out = {}
    for key, probe in (("host.batch_probe_s", bench.batch_calibration),
                       ("host.replay_probe_s", bench.calibration_replay)):
        t = time.perf_counter()
        probe(spark)
        out[key] = _m(time.perf_counter() - t, "s")
    return out
