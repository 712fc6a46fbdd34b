"""The benchmark's own checks: its inputs are a pure function of the
seed, and its reference model agrees with the engine, so a correctness
verdict in a benchmark run can be trusted.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
import workloads  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _changelog_files(path: str, seed: int, spec: gen.ChangeSpec) -> None:
    os.makedirs(path)
    log = gen.ChangeLog(spec, seed)
    gen.write_file(os.path.join(path, "snapshot.json"),
                   log.snapshot(spec.destinations[0], np.arange(50), 0))
    for i in range(3):
        due = np.arange(i * 200, (i + 1) * 200, dtype=np.int64)
        gen.write_file(os.path.join(path, f"f{i}.json"), log.events(200, due))


SPECS = [gen.ChangeSpec(("d.s.t",), 500),
         gen.ChangeSpec(("d.s.a", "d.s.b"), 500, zipf_s=1.1)]


@pytest.mark.parametrize("spec", SPECS)
def test_same_seed_same_changelog_bytes(tmp_path, spec):
    _changelog_files(str(tmp_path / "a"), 7, spec)
    _changelog_files(str(tmp_path / "b"), 7, spec)
    _changelog_files(str(tmp_path / "c"), 8, spec)
    a = _digest(str(tmp_path / "a"))
    assert a == _digest(str(tmp_path / "b"))
    assert a != _digest(str(tmp_path / "c"))


def test_model_is_latest_event_per_key():
    log = gen.ChangeLog(gen.ChangeSpec(("d.s.t",), 20, delete_share=0.3), 1)
    latest = {}
    for line in log.events(400, np.arange(400)):
        e = json.loads(line)
        latest[e["key"]["id"]] = e["value"]["after"]
    want = {tuple(a[f] for f in gen.ROW_FIELDS)
            for a in latest.values() if a is not None}
    assert log.expected("d.s.t") == want
    assert any(a is None for a in latest.values())


@pytest.fixture(scope="module")
def spark():
    from debezium_server_spark.session import get_spark

    return get_spark("perfbench-tests", master="local[2]",
                     shuffle_partitions=2)


@pytest.mark.parametrize("table_format", ["versioned", "delta", "iceberg"])
def test_reference_model_agrees_with_engine(tmp_path, spark, table_format):
    """The pipeline the benchmark drives, over a small seeded input,
    ends in exactly the rows the generator's model predicts."""
    from debezium_server_spark.operators.transforms import (
        Chain, insert_header, mask_field)
    from debezium_server_spark.sinks.parquet_sink import ParquetUpsertSink
    from debezium_server_spark.sources.file_source import changelog_stream
    from debezium_server_spark.streaming.pipeline import Pipeline

    spec = gen.ChangeSpec(("d.s.a", "d.s.b"), 300, delete_share=0.2)
    log = gen.ChangeLog(spec, 11)
    src = tmp_path / "in"
    src.mkdir()
    sink = ParquetUpsertSink(str(tmp_path / "t"), n_buckets=4,
                             table_format=table_format)
    chain = Chain([mask_field("value.after.email"),
                   insert_header("perfbench", "test")])
    for i in range(3):
        gen.write_file(str(src / f"f{i}.json"),
                       log.events(400, np.arange(400) + i * 400))
        stream = changelog_stream(spark, str(src), gen.row_schema(),
                                  gen.key_schema())
        q = Pipeline(stream).transform(chain).start(
            sink, str(tmp_path / "ck"))
        q.awaitTermination(120)
        assert q.exception() is None
    for dest in spec.destinations:
        got = workloads.table_rows(sink, spark, dest)
        assert got == log.expected(dest, masked=True)
        assert got  # the check compares real rows, not two empty sets
