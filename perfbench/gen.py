"""Seeded inputs for the benchmark, and the reference model that checks
the engine's output.

Everything here is a pure function of the seed: the same seed gives
byte-identical files. The pipeline workloads' engine only ever sees the
files written here.

Change logs are JSON-lines files in the engine's change-event envelope
(`schema.event_schema`), one destination or several, with a uniform or
Zipf-skewed key draw and a share of deletes. Every event carries a
global sequence number in `value.source.lsn` (the sink's ordering
column) and its due time in `value.ts_ms`.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

ROW_FIELDS = ("id", "name", "email", "balance", "updated_ms")
MASK = "****"


def row_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("balance", T.LongType()),
        T.StructField("updated_ms", T.LongType()),
    ])


def key_schema():
    from pyspark.sql import types as T

    return T.StructType([T.StructField("id", T.LongType())])


@dataclass(frozen=True)
class ChangeSpec:
    """Shape of one generated change log."""

    destinations: tuple[str, ...]
    n_keys: int
    delete_share: float = 0.05
    zipf_s: float | None = None  # None: uniform keys


class ChangeLog:
    """Deterministic change-event generator plus its own latest-per-key
    model, which is the correctness reference for the sink tables."""

    def __init__(self, spec: ChangeSpec, seed: int):
        self.spec = spec
        self.rng = np.random.default_rng(seed)
        self.seq = 0
        # (destination, key) -> row tuple, or None once deleted
        self.model: dict[tuple[str, int], tuple | None] = {}
        if spec.zipf_s is not None:
            w = 1.0 / np.arange(1, spec.n_keys + 1) ** spec.zipf_s
            self._cdf = np.cumsum(w / w.sum())
            # hot ranks land on scattered keys, so hot keys spread over
            # the sink's hash buckets instead of all sitting in one
            self._rank_to_key = self.rng.permutation(spec.n_keys)

    def _keys(self, n: int) -> np.ndarray:
        if self.spec.zipf_s is None:
            return self.rng.integers(0, self.spec.n_keys, n)
        ranks = np.searchsorted(self._cdf, self.rng.random(n), side="right")
        return self._rank_to_key[np.minimum(ranks, self.spec.n_keys - 1)]

    def events(self, n: int, due_ms: np.ndarray) -> list[str]:
        """The next `n` events as JSON lines; `due_ms[i]` stamps event i."""
        spec = self.spec
        keys = self._keys(n)
        dests = self.rng.integers(0, len(spec.destinations), n)
        is_del = self.rng.random(n) < spec.delete_share
        balances = self.rng.integers(0, 1_000_000, n)
        return [self._emit(spec.destinations[dests[i]], int(keys[i]),
                           None if is_del[i] else int(balances[i]),
                           int(due_ms[i]))
                for i in range(n)]

    def snapshot(self, destination: str, keys: np.ndarray, due_ms: int
                 ) -> list[str]:
        """One snapshot read (`op` "r") per key, as a connector's initial
        snapshot emits them."""
        balances = self.rng.integers(0, 1_000_000, len(keys))
        return [self._emit(destination, int(k), int(b), due_ms, op="r")
                for k, b in zip(keys, balances)]

    def _emit(self, dest: str, key: int, balance: int | None, due_ms: int,
              op: str | None = None) -> str:
        """One event; `balance=None` makes it a delete."""
        seq = self.seq
        self.seq += 1
        prev = self.model.get((dest, key))
        if balance is None:
            op, after = "d", None
        else:
            op = op or ("u" if prev is not None else "c")
            after = {"id": key, "name": f"user-{key}",
                     "email": f"u{key}.{seq}@example.com",
                     "balance": balance, "updated_ms": due_ms}
        self.model[(dest, key)] = (
            None if after is None else tuple(after[f] for f in ROW_FIELDS))
        return json.dumps({
            "destination": dest,
            "key": {"id": key},
            "value": {
                "op": op,
                "before": None if prev is None else dict(
                    zip(ROW_FIELDS, prev)),
                "after": after,
                "source": {"version": "perfbench", "connector": "file",
                           "name": "perfbench", "ts_ms": due_ms,
                           "db": "bench", "schema": "public",
                           "table": dest.rsplit(".", 1)[-1],
                           "lsn": seq, "snapshot": str(op == "r").lower()},
                "ts_ms": due_ms,
            },
            "headers": [],
            "partition": 0,
        }, separators=(",", ":"))

    def expected(self, destination: str, masked: bool = False) -> set[tuple]:
        """Final rows of `destination`: latest event per key, deletes
        removed, and the email masked when the SMT chain masks it."""
        out = set()
        for (dest, _), row in self.model.items():
            if dest != destination or row is None:
                continue
            if masked:
                row = row[:2] + (MASK,) + row[3:]
            out.add(row)
        return out


def write_file(path: str, lines: list[str]) -> None:
    """Write a change-log file so that a directory reader never sees it
    half written: write beside it, then rename into place."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, path)
