"""``Graph.build`` workload: memoized rebuilds of an already-built graph.

The graph reads seeded, date-partitioned raw JSON that this module writes
into the run's work directory, so the same seed always gives the same
inputs. Every build's executor counts are checked exactly, and the values
read back are compared with a pure-Python recomputation of the same rows.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random
import shutil
import time
from contextlib import nullcontext
from typing import Any

from artigraph_spark import io
from artigraph_spark import types as at
from artigraph_spark.artifacts import Artifact
from artigraph_spark.backends import JsonFileBackend
from artigraph_spark.executors import LocalSparkExecutor
from artigraph_spark.formats import JSON
from artigraph_spark.graphs import Graph
from artigraph_spark.producers import Producer
from artigraph_spark.storage import LocalFile
from artigraph_spark.versions import SemVer
from artigraph_spark.views import PythonScalarView

FIRST_DATE = datetime.date(2024, 1, 1)
USERS = 50


def _struct(**fields: at.Type) -> at.Struct:
    return at.Struct(fields=fields)


EVENT = _struct(user=at.Int64(), amount=at.Int64(), date=at.Date())
DAILY = _struct(user=at.Int64(), total=at.Int64(), date=at.Date())
# Produced partitions are one JSON document per date. A partitioned
# Collection output is always written through a Spark job; a document is
# written on the driver, so building these graphs runs no Spark job.
CLEAN_DOC = _struct(rows=at.List(element=EVENT))
DAILY_DOC = _struct(rows=at.List(element=DAILY))


def _by_date(element: at.Struct) -> at.Collection:
    return at.Collection(element=element, partition_by=("date",))


def _one_to_one(**inputs: tuple) -> dict:
    """Each output date partition depends on the same date of the input."""
    ((name, parts),) = inputs.items()
    return {p.partition_key: {name: (p,)} for p in parts}


# --- pure-Python reference for every producer below -------------------------


def clean_rows(rows: list[dict]) -> list[dict]:
    return [dict(r, amount=r["amount"] * 3) for r in rows if r["amount"] % 7]


def daily_rows(rows: list[dict]) -> list[dict]:
    totals: dict[int, int] = {}
    for r in rows:
        totals[r["user"]] = totals.get(r["user"], 0) + r["amount"]
    date = rows[0]["date"] if rows else None
    return [{"user": u, "total": t, "date": date} for u, t in sorted(totals.items())]


def seeded_rows(rng: random.Random, date: datetime.date, n: int) -> list[dict]:
    return [
        {"user": rng.randrange(USERS), "amount": rng.randrange(1, 1000), "date": date.isoformat()}
        for _ in range(n)
    ]


# --- graph_memo: driver-local JSON producers --------------------------------


class CleanList(Producer):
    version = SemVer(major=1)
    events: Artifact

    def build(self, events: list) -> dict:
        return {"rows": clean_rows(events)}

    def map(self, events: tuple) -> dict:
        return _one_to_one(events=events)


class DailyList(Producer):
    version = SemVer(major=1)
    clean: Artifact

    def build(self, clean: dict) -> dict:
        return {"rows": daily_rows(clean["rows"])}

    def map(self, clean: tuple) -> dict:
        return _one_to_one(clean=clean)


class MemoWorkload:
    """A graph of two 1:1 producers over ``partitions`` dates, built once in
    ``prepare``. One operation is a no-op rebuild; each timed cycle then
    also rebuilds after one raw partition got new content. Afterwards the
    partition, the catalog file and the output tree are put back, so every
    cycle starts from the same catalog bytes and only one extra snapshot
    id ever exists."""

    PRODUCERS = (CleanList, DailyList)

    def __init__(self, work: str, seed: int, partitions: int, rows: int) -> None:
        self.root = work
        self.rng = random.Random(seed)
        self.rows = rows
        self.partitions = partitions
        self.raw: dict[str, list[dict]] = {}
        for i in range(partitions):
            date = FIRST_DATE + datetime.timedelta(days=i)
            self.raw[str(date)] = seeded_rows(self.rng, date, rows)
        self.catalog = os.path.join(work, "catalog.json")
        self.cycle_start: str | None = None

    def _raw_path(self, date: str) -> str:
        return os.path.join(self.root, "memo", "events", "events", f"date={date}", "part-0.json")

    def _write_raw(self, date: str, rows: list[dict]) -> None:
        os.makedirs(os.path.dirname(self._raw_path(date)), exist_ok=True)
        with open(self._raw_path(date), "w") as f:
            json.dump(rows, f)

    def open(self, spark: Any) -> None:
        """Write the raw partitions and define the graph over the catalog."""
        for date, rows in self.raw.items():
            self._write_raw(date, rows)
        storage = LocalFile(root=self.root)
        with Graph("memo", backend=JsonFileBackend(self.catalog), spark=spark) as g:
            g.artifacts.events = Artifact(type=_by_date(EVENT), format=JSON(), storage=storage)
            g.artifacts.clean = CleanList(events=g.artifacts.events).out(
                Artifact(type=CLEAN_DOC, format=JSON(), storage=storage)
            )
            g.artifacts.daily = DailyList(clean=g.artifacts.clean).out(
                Artifact(type=DAILY_DOC, format=JSON(), storage=storage)
            )
        self.graph = g

    def rebuild(self) -> tuple[float, Any, LocalSparkExecutor]:
        ex = LocalSparkExecutor(strict_fingerprints=True)
        t0 = time.perf_counter()
        snap = self.graph.snapshot(strict_fingerprints=True).build(ex)
        return time.perf_counter() - t0, snap, ex

    def prepare(self) -> tuple[float, str | None]:
        """The first (cold) build of every partition: (seconds, failure)."""
        cold_s, snap, ex = self.rebuild()
        got, want = (ex.built_partitions, ex.skipped_partitions), (2 * self.partitions, 0)
        if got != want:
            return cold_s, f"cold build built/skipped {got}, want {want}"
        return cold_s, self.check_values(snap, self.raw)

    def catalog_kb(self) -> float:
        return os.path.getsize(self.catalog) / 1024.0

    def check_values(self, snap: Any, raw: dict[str, list[dict]]) -> str | None:
        daily = self.graph.artifacts.daily
        got = {}
        for p in self.graph.backend.read_snapshot_partitions(snap.snapshot_id, daily.fingerprint):
            doc = io.read(daily.type, daily.format, daily.storage, [p], PythonScalarView, None)
            got[str(p.partition_key.values()["date"])] = doc["rows"]
        want = {date: daily_rows(clean_rows(rows)) for date, rows in raw.items()}
        if got != want:
            return "read-back differs from the Python recomputation"
        return None

    def op(self, spark: Any, tag: str, meter: Any, tracer: Any = None) -> dict[str, Any]:
        """One cycle: a no-op rebuild (the operation's timed sample), then
        a rebuild after one raw partition got new content."""
        sc = spark.sparkContext
        with open(self.catalog, "rb") as f:
            before = f.read()
        digest = hashlib.sha256(before).hexdigest()
        self.cycle_start = self.cycle_start or digest
        errors: dict[str, str] = {}
        if digest != self.cycle_start:
            errors["noop"] = "catalog bytes changed between cycles"
        outputs_before = set(_walk_dirs(self.root))
        groups = {"noop": f"{tag}:noop", "one": f"{tag}:one"}
        walls, cpus, ios, counts = {}, {}, {}, []

        def timed(kind: str) -> Any:
            sc.setJobGroup(groups[kind], kind)
            cpu0, io0 = meter()
            with tracer.span(f"build.{kind}", group=groups[kind]) if tracer else nullcontext():
                walls[kind], snap, ex = self.rebuild()
            cpu1, io1 = meter()
            cpus[kind], ios[kind] = cpu1 - cpu0, io1 - io0
            counts.append((ex.built_partitions, ex.skipped_partitions))
            return snap

        n = self.partitions
        timed("noop")
        if counts[0] != (0, 2 * n):
            errors.setdefault("noop", f"no-op rebuild built/skipped {counts[0]}, want {(0, 2 * n)}")
        date = self.rng.choice(sorted(self.raw))
        changed = dict(self.raw)
        changed[date] = seeded_rows(self.rng, datetime.date.fromisoformat(date), self.rows)
        self._write_raw(date, changed[date])
        snap = timed("one")
        want = (2, 2 * n - 2)
        failure = (
            f"one-change rebuild built/skipped {counts[1]}, want {want}"
            if counts[1] != want
            else self.check_values(snap, changed)
        )
        if failure:
            errors["one"] = failure
        sc.setJobGroup("perfbench:idle", "between operations")
        # Put the raw partition, the catalog and the output tree back.
        self._write_raw(date, self.raw[date])
        with open(self.catalog, "wb") as f:
            f.write(before)
        for d in sorted(set(_walk_dirs(self.root)) - outputs_before, reverse=True):
            shutil.rmtree(d, ignore_errors=True)
        return {
            "samples": [walls["noop"]],
            "cpu_samples": [cpus["noop"]],
            "io_samples": [ios["noop"]],
            "sample_groups": [["noop"]],
            "one_seconds": walls["one"],
            "walls": walls,
            "groups": groups,
            "attempted": 2,
            "failed": sorted(errors),
            "errors": sorted(errors.values()),
            "counts": counts,
        }


def _walk_dirs(root: str) -> list[str]:
    return [d for d, _sub, _files in os.walk(root)]
