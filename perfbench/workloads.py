"""The benchmark workloads.

Each workload takes a `Ctx` (session, scratch directory, seed, run
length, optional tracer) and returns a `Result`: operations attempted
and failed, whether every output matched its reference, the samples
behind the end-to-end metrics, and the per-layer inputs for the traced
run. Every workload does its set-up (inputs, discarded warm-up epochs
or pass), then calls `start_timing` and runs its timed region, traced
in a traced run, and `stop_timing` at its end.

`cdc_open_loop` and `lake_fanout_drain` read only the change logs that
`gen` writes from the seed. `stateful_replay` and `catalog_batch` read
the sf0.1 catalog fixtures named by `SPARK_GRAFT_SF_DIR`, as `bench.py`
does.
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import proc


def note(msg: str) -> None:
    """Progress of a run, on standard error."""
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


#: event time of every pre-staged (not open-loop) event
SNAPSHOT_MS = 1_700_000_000_000

CDC_DEST = "bench.public.customers"
CDC_RATE = 250  # events/s offered by the open-loop generator
CDC_FILE_EVENTS = 100
CDC_KEYS = 50_000
CDC_WARM_EPOCHS = 2  # open-loop epochs committed before timing starts
CDC_WARM_MAX_S = 30.0  # ... or this long, whichever comes first
CDC_DRAIN_S = 20.0  # deadline after the last file is due

LAKE_DESTS = ("bench.public.orders",)
LAKE_KEYS = 100_000
LAKE_FILE_EVENTS = 10_000
LAKE_WARM_EVENTS = 1_000
LAKE_EPOCH_S = 10.0  # sized epoch time: a run drains seconds / this files

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STATEFUL_ENTRIES = (
    "stream_cep_matches", "stream_cep_abandoned", "stream_scd2_history",
    "stream_running_stats", "stream_first_touch", "stream_interval_join",
    "stream_dedup_watermark",
)
BATCH_ENTRIES = (
    "jaccard_prefix_filter_join", "approx_distinct_users",
    "dedup_minhash_apply", "dedup_minhash_lsh", "minhash_error_audit",
    "perplexity_bucket_mix", "winnowing_overlap_audit",
    "containment_quote_join", "pgoutput_changelog_decode",
    "pgoutput_tx_boundaries", "binlog_changelog_decode",
    "oplog_changelog_decode",
)


@dataclass
class Ctx:
    spark: object
    scratch: str
    seed: int
    seconds: float
    tracer: object | None = None


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    t_first_op: float | None = None  # perf_counter at the first timed op
    lag_ms: list[float] = field(default_factory=list)
    epoch_ms: list[float] = field(default_factory=list)  # triggerExecution
    events: int = 0  # events committed by the timed epochs
    drain_s: float = 0.0  # wall time to commit them
    pass_s: list[float] = field(default_factory=list)
    cpu_s: float = 0.0  # CPU time of the process tree in the timed region
    problems: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)

    def fail(self, msg: str, ops: int = 1) -> None:
        self.failed += ops
        self.correct = False
        self.problems.append(msg)

    def start_timing(self, ctx: Ctx) -> None:
        """End of set-up: stamp the first timed operation, and in a
        traced run install the tracer, so that set-up is not traced."""
        self.t_first_op = time.perf_counter()
        self.cpu_s = -proc.cpu_s(proc.tree())
        if ctx.tracer is not None:
            ctx.tracer.install()

    def stop_timing(self) -> None:
        self.cpu_s += proc.cpu_s(proc.tree())


# -- shared pipeline pieces ---------------------------------------------------

class EpochRecorder:
    """The `foreachBatch` function handed to `Pipeline.start`: calls the
    engine's sink and records when each epoch's sink call returned."""

    def __init__(self, sink, tracer=None, query: str = "q"):
        self.sink = sink
        self.tracer = tracer
        self.query = query
        self.returned: dict[int, float] = {}

    def __call__(self, df, epoch_id: int) -> None:
        if self.tracer is None:
            self.sink(df, epoch_id)
        else:
            with self.tracer.operation(f"{self.query}:{epoch_id}",
                                       "epoch.add_batch"):
                self.sink(df, epoch_id)
        self.returned[epoch_id] = time.time()


def source_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    in the query checkpoint (plain and compacted log files alike)."""
    out = {}
    d = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def table_rows(sink, spark, dest: str) -> set[tuple]:
    df = sink.read_table(spark, dest)
    if df is None:
        return set()
    pdf = df.select(*gen.ROW_FIELDS).toPandas()
    return set(map(tuple, pdf.astype(object).itertuples(index=False)))


def check_tables(res: Result, spark, sinks: dict[str, object],
                 expected: dict[str, set[tuple]]) -> None:
    """Full-row comparison of every destination table in every format;
    a mismatch fails every operation of the run."""
    for fmt, sink in sinks.items():
        for dest, want in expected.items():
            got = table_rows(sink, spark, dest)
            if got != want:
                res.fail(f"{fmt}/{dest}: {len(got - want)} unexpected rows, "
                         f"{len(want - got)} missing of {len(want)}",
                         res.attempted - res.failed)


def _progress(query) -> list[dict]:
    return [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]


def _add_progress(res: Result, progress: list[dict]) -> None:
    res.epoch_ms += [p["durationMs"]["triggerExecution"] for p in progress]
    res.events += sum(p["numInputRows"] for p in progress)
    res.layers.setdefault("progress", []).extend(progress)


# -- cdc_open_loop ------------------------------------------------------------

def cdc_open_loop(ctx: Ctx) -> Result:
    """Open loop: the generator renames 100-event files into the source
    directory at CDC_RATE events/s while a default-trigger pipeline
    (mask_field + insert_header, versioned parquet-upsert, 16 buckets)
    consumes them on Spark's threads. The first CDC_WARM_EPOCHS epochs
    are set-up; the timed files follow without a pause. Lag runs from
    each timed event's due time to the return of the sink call of the
    epoch that held it; events_per_s is the timed events over the time
    from the first one due to the last epoch's return."""
    from debezium_server_spark.operators.transforms import (
        Chain, insert_header, mask_field)
    from debezium_server_spark.sinks import get_sink
    from debezium_server_spark.sources.file_source import changelog_stream
    from debezium_server_spark.streaming.pipeline import Pipeline

    spark, res = ctx.spark, Result()
    chain = Chain([mask_field("value.after.email"),
                   insert_header("perfbench", "open-loop")])
    work = os.path.join(ctx.scratch, "cdc")
    ck = os.path.join(work, "ck")
    os.makedirs(os.path.join(work, "in"))
    log = gen.ChangeLog(gen.ChangeSpec((CDC_DEST,), CDC_KEYS), ctx.seed)
    sink = get_sink("parquet-upsert", root_path=os.path.join(work, "t"),
                    key_fields=("id",), n_buckets=16)

    def start(sink_fn, available_now):
        stream = changelog_stream(spark, os.path.join(work, "in"),
                                  gen.row_schema(), gen.key_schema())
        return Pipeline(stream).transform(chain).start(
            sink_fn, ck, trigger_available_now=available_now,
            query_name="cdc")

    # Set-up: a snapshot of every key (epoch 0, the create path), then
    # the open loop's first CDC_WARM_EPOCHS epochs, discarded (the merge
    # path while the JVM warms up).
    gen.write_file(os.path.join(work, "in", "snapshot.json"),
                   log.snapshot(CDC_DEST, np.arange(CDC_KEYS), SNAPSHOT_MS))
    start(sink, True).awaitTermination()
    rec = EpochRecorder(sink, None, "cdc")
    q = start(rec, False)
    period = CDC_FILE_EVENTS / CDC_RATE
    n_timed = max(1, int(ctx.seconds / period))
    t0 = time.time() + 0.5
    due: dict[str, np.ndarray] = {}  # timed files only
    late: list[float] = []

    i, first = 0, None
    while first is None or i < first + n_timed:
        name = f"c-{i:06d}.json"
        ev_due = t0 + i * period + np.arange(1, CDC_FILE_EVENTS + 1) / CDC_RATE
        lines = log.events(CDC_FILE_EVENTS, (ev_due * 1000).astype(np.int64))
        delay = ev_due[-1] - time.time()
        if delay > 0:
            time.sleep(delay)
        if first is None and (len(rec.returned) >= CDC_WARM_EPOCHS
                              or time.time() - t0 > CDC_WARM_MAX_S):
            first = i
            res.start_timing(ctx)
            rec.tracer = ctx.tracer
        gen.write_file(os.path.join(work, "in", name), lines)
        if first is not None:
            late.append(time.time() - ev_due[-1])
            due[name] = ev_due
        i += 1
    deadline = time.time() + CDC_DRAIN_S
    batches: dict[str, int] = {}
    while time.time() < deadline and q.exception() is None:
        batches = source_batches(ck)
        if all(n in batches and batches[n] in rec.returned for n in due):
            break
        time.sleep(0.05)
    res.stop_timing()
    q.stop()
    if q.exception() is not None:
        res.fail(f"query failed: {q.exception()}")
    note("all epochs: " + " ".join(
        f"{p['batchId']}:{p['durationMs']['triggerExecution']}"
        for p in q.recentProgress if p["numInputRows"]))
    first_batch = min(batches.get(n, 1 << 62) for n in due)
    progress = [p for p in _progress(q) if p["batchId"] >= first_batch]
    res.attempted += max(1, len(progress))
    unconsumed = [n for n in due if batches.get(n) not in rec.returned]
    if unconsumed:
        res.fail(f"backlogged: {len(unconsumed)} of {len(due)} files "
                 f"unconsumed at the drain deadline", res.attempted)
    for name, ev_due in due.items():
        if batches.get(name) in rec.returned:
            res.lag_ms.extend(
                ((rec.returned[batches[name]] - ev_due) * 1000).tolist())
    _add_progress(res, progress)
    res.events = CDC_FILE_EVENTS * (len(due) - len(unconsumed))
    if rec.returned:
        first_due = min(d[0] for d in due.values())
        res.drain_s = max(rec.returned.values()) - first_due
    res.layers["generator.late_ms"] = max(late) * 1000
    res.layers["file_batches"] = batches

    if not res.problems:
        check_tables(res, spark, {"versioned": sink},
                     {CDC_DEST: log.expected(CDC_DEST, masked=True)})
    return res


# -- lake_fanout_drain --------------------------------------------------------

def lake_fanout_drain(ctx: Ctx) -> Result:
    """Closed loop: pre-staged 10k-event files drained with
    maxFilesPerTrigger=1 and availableNow through a FanoutSink into a
    delta and an iceberg parquet-upsert sink, with vacuum firing and the
    compaction probe running inside the run. An event's lag runs from
    the start of the drain, when every file is staged, to the return of
    its epoch's sink call."""
    from debezium_server_spark.sinks.base import FanoutSink
    from debezium_server_spark.sinks.parquet_sink import (
        MaintenancePolicy, ParquetUpsertSink)
    from debezium_server_spark.sources.file_source import changelog_stream
    from debezium_server_spark.streaming.pipeline import Pipeline

    spark, res = ctx.spark, Result()
    work = os.path.join(ctx.scratch, "lake")
    ck = os.path.join(work, "ck")
    os.makedirs(os.path.join(work, "in"))
    log = gen.ChangeLog(gen.ChangeSpec(LAKE_DESTS, LAKE_KEYS, zipf_s=1.1),
                        ctx.seed)
    policy = MaintenancePolicy(compact_files_per_bucket=2,
                               vacuum_every_epochs=2)
    sinks = {fmt: ParquetUpsertSink(os.path.join(work, fmt),
                                    table_format=fmt, maintenance=policy)
             for fmt in ("delta", "iceberg")}
    fanout = FanoutSink(list(sinks.values()))
    staged = iter(range(1 << 30))

    def stage() -> str:
        i = next(staged)
        name = f"f{i:06d}.json"
        gen.write_file(os.path.join(work, "in", name),
                       log.events(LAKE_FILE_EVENTS,
                                  np.full(LAKE_FILE_EVENTS, SNAPSHOT_MS + i)))
        return name

    def drain(sink_fn):
        stream = changelog_stream(spark, os.path.join(work, "in"),
                                  gen.row_schema(), gen.key_schema(),
                                  max_files_per_trigger=1)
        q = Pipeline(stream).start(sink_fn, ck, query_name="lake")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    # Set-up: one discarded drain of two small files: the first epoch
    # creates both tables, the second runs the merge path.
    for i in range(2):
        gen.write_file(os.path.join(work, "in", f"warm{i}.json"),
                       log.events(LAKE_WARM_EVENTS,
                                  np.full(LAKE_WARM_EVENTS, SNAPSHOT_MS)))
    drain(fanout)

    n_files = max(2, int(ctx.seconds / LAKE_EPOCH_S))
    rec = EpochRecorder(fanout, ctx.tracer, "lake")
    names = [stage() for _ in range(n_files)]
    res.start_timing(ctx)
    t, due = time.perf_counter(), time.time()
    try:
        q = drain(rec)
    except Exception as e:  # noqa: BLE001 - a failed drain is counted
        res.attempted += n_files
        res.fail(f"drain failed: {e}", n_files)
        return res
    res.drain_s = time.perf_counter() - t
    res.stop_timing()
    progress = _progress(q)
    res.attempted += len(progress)
    _add_progress(res, progress)
    batches = source_batches(ck)
    for name in names:
        # every file holds LAKE_FILE_EVENTS events with this lag
        res.lag_ms.append((rec.returned[batches[name]] - due) * 1000)
    res.layers["file_batches"] = batches

    if not res.problems:
        check_tables(res, spark, sinks,
                     {d: log.expected(d) for d in LAKE_DESTS})
    return res


# -- stateful_replay and catalog_batch ----------------------------------------

def _catalog(ctx: Ctx, entries: tuple[str, ...]) -> Result:
    """Passes over catalog entries until the run length is used (at least
    one pass), after one discarded warm-up pass. Each entry is built
    (`spark_fn`) and executed (noop write); after timing, the last pass's
    outputs are checked against their DuckDB oracle."""
    from debezium_server_spark.plans.catalog import CATALOG
    from tools.oracle_check import compare, duck_con
    from tracing import ProgressLog

    spark, res = ctx.spark, Result()
    if not os.path.isfile(os.path.join(SF_DIR, "events.parquet")):
        raise FileNotFoundError(f"no catalog fixtures in {SF_DIR}; "
                                "set SPARK_GRAFT_SF_DIR")
    for name in entries:
        CATALOG[name].spark_fn(spark, SF_DIR).write.format("noop") \
            .mode("overwrite").save()
    progress = ProgressLog(spark)
    tr = ctx.tracer
    entry_ms: dict[str, list[tuple[float, float]]] = {n: [] for n in entries}
    last: dict[str, object] = {}
    res.start_timing(ctx)
    t_start = time.perf_counter()
    while not res.pass_s or time.perf_counter() - t_start < ctx.seconds:
        n = len(res.pass_s)
        t_pass = time.perf_counter()
        for name in entries:
            res.attempted += 1
            try:
                t0 = time.perf_counter()
                if tr is None:
                    df = CATALOG[name].spark_fn(spark, SF_DIR)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with tr.operation(f"{name}#{n}", "catalog.entry"):
                        with tr.span("catalog.build"):
                            df = CATALOG[name].spark_fn(spark, SF_DIR)
                        t1 = time.perf_counter()
                        with tr.span("catalog.execute"):
                            df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failed entry counts
                res.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            entry_ms[name].append(((t1 - t0) * 1000, (t2 - t1) * 1000))
            last[name] = df
        res.pass_s.append(time.perf_counter() - t_pass)
    res.stop_timing()
    progress.settle()
    progress.remove()
    res.epoch_ms = [p["durationMs"]["triggerExecution"]
                    for p in progress.events if p["numInputRows"] > 0]
    res.layers["entry_ms"] = entry_ms

    con = duck_con(SF_DIR)
    try:
        for name, df in last.items():
            problems = compare(name, df.toPandas(),
                               con.sql(CATALOG[name].oracle).df())
            if problems:
                res.fail(f"{name}: {problems[0]}", len(entry_ms[name]))
    finally:
        con.close()
    return res


def stateful_replay(ctx: Ctx) -> Result:
    return _catalog(ctx, STATEFUL_ENTRIES)


def catalog_batch(ctx: Ctx) -> Result:
    return _catalog(ctx, BATCH_ENTRIES)


WORKLOADS = {
    "cdc_open_loop": cdc_open_loop,
    "lake_fanout_drain": lake_fanout_drain,
    "stateful_replay": stateful_replay,
    "catalog_batch": catalog_batch,
}
