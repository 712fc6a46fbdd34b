"""CDC pipeline benchmark: one seeded workload per run, against the
engine's public API at local[nproc].

    python3 perfbench/run.py --workload cdc_open_loop --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout; `--seconds` is the length of the timed
region, `run_seconds` in BENCHMARK.json. The last line of standard
output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With `--trace 0` the metrics are the end-to-end ones; with
`--trace 1` the per-layer ones, and the spans are written to
`.perfbench_out/trace-<workload>-seed<n>.json`. Every run works in its
own scratch directory under `.perfbench_tmp/` in the checkout (Spark's
warehouse, local and temp directories included), removed at exit.
`SPARK_GRAFT_CPUS` sets the core count (default: all cores).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import proc  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NEEDED = ("debezium_server_spark/__init__.py", "tools/oracle_check.py",
          "bench.py")


class RssSampler(threading.Thread):
    """Peak resident memory of the whole process tree (Python driver,
    JVM, Python workers), sampled every 0.5 s."""

    def __init__(self):
        super().__init__(name="perfbench-rss", daemon=True)
        self.peak_kb = 0
        self.pids: set[int] = set()
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.5):
            pids = proc.tree()
            self.pids |= set(pids)
            self.peak_kb = max(self.peak_kb, proc.rss_kb(pids))

    def stop(self) -> None:
        self._halt.set()
        self.join()


def start_session(scratch: str):
    from debezium_server_spark.session import get_spark

    java_tmp = os.path.join(scratch, "tmp")
    return get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-XX:ReservedCodeCacheSize=512m "
            f"-Djava.io.tmpdir={java_tmp} -Dderby.system.home={scratch}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        # as bench.py: unload finished replays' state stores promptly
        "spark.sql.streaming.stateStore.maintenanceInterval": "10s",
    })


def stop_session(spark, pids: set[int]) -> None:
    """Stop Spark, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        # the JVM exits when its stdin closes; py4j's own shutdown can
        # block on the callback server's sockets
        if gateway is not None:
            jvm = getattr(gateway, "proc", None)
            if jvm is not None:
                jvm.stdin.close()
                try:
                    jvm.wait(timeout=30)
                except Exception:  # noqa: BLE001 - escalate below
                    jvm.kill()
                    jvm.wait()
    me = os.getpid()
    deadline = time.monotonic() + 15
    left = {p for p in pids if p != me}
    while left and time.monotonic() < deadline:
        left = {p for p in left if proc.is_running(p)}
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in NEEDED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import metrics
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-",
                               dir=tmp_root)
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ.update({
        "TMPDIR": os.path.join(scratch, "tmp"),
        "SPARK_GRAFT_REPLAY_TMP": os.path.join(scratch, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "SPARK_DRIVER_MEMORY": "4g",
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        # no hsperfdata files in the system temp directory
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    tempfile.tempdir = None  # re-read TMPDIR

    sampler = RssSampler()
    sampler.start()
    spark = tracer = None
    try:
        spark = start_session(scratch)
        print(f"perfbench session ready in "
              f"{time.perf_counter() - T_START:.2f}s", file=sys.stderr)
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        res = WORKLOADS[args.workload](
            Ctx(spark, scratch, args.seed, args.seconds, tracer))
        print(f"perfbench {len(res.lag_ms)} lag samples; epoch ms "
              f"{res.epoch_ms}; pass s {res.pass_s}; cpu {res.cpu_s:.1f}s; "
              + " ".join(f"{k}={v['value']:.1f}"
                         for k, v in metrics.wall_metrics(res).items()),
              file=sys.stderr)
        if tracer is None:
            out = metrics.end_to_end(args.workload, res,
                                     res.t_first_op - T_START)
        else:
            out = metrics.per_layer(res, tracer, sampler.peak_kb)
            tracer.remove()
            out.update(metrics.host_probes(spark))
            tracer.write(os.path.join(
                ROOT, ".perfbench_out",
                f"trace-{args.workload}-seed{args.seed}.json"), out)
        for p in res.problems:
            print(f"perfbench: {p}", file=sys.stderr)
        result = {"correct": res.correct, "attempted": res.attempted,
                  "failed": res.failed, "metrics": out}
    except Exception:  # noqa: BLE001 - report, exit non-zero, no result
        traceback.print_exc()
        return 1
    finally:
        if tracer is not None:
            tracer.remove()
        sampler.stop()
        if spark is not None:
            stop_session(spark, sampler.pids)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass
    t = os.times()
    print(f"perfbench cpu user {t.user + t.children_user:.1f}s sys "
          f"{t.system + t.children_system:.1f}s wall "
          f"{time.perf_counter() - T_START:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
