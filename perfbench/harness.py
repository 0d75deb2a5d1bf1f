"""Shared pieces of the benchmark: the Spark session, Spark's status store
read per job group, process CPU and peak memory, and the host-noise gauges
that ``bench.py`` also reports."""

from __future__ import annotations

import contextlib
import json
import os
import signal
import subprocess
import time
from pathlib import Path
from typing import Any


def start_session(work: str, cores: int) -> Any:
    """A session on ``local[cores]`` that keeps its temporary files inside
    ``work``. Status retention is raised so one pass of stages fits."""
    from artigraph_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
            "spark.ui.retainedJobs": "2000",
            "spark.ui.retainedStages": "4000",
        },
    )


class StatusStore:
    """Per-stage records from Spark's status store, serialized on the JVM
    side in one call each for jobs and stages."""

    def __init__(self, spark: Any) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            getattr(scala, "MODULE$")
        )
        self._stage_args = (
            None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
        )

    def stages_by_group(self, groups: set[str]) -> tuple[dict[str, list[dict]], dict[str, int]]:
        """(stage records per job group, job count per job group)."""
        jobs = json.loads(self._json.writeValueAsString(self._store.jobsList(None)))
        ids: dict[str, set[int]] = {g: set() for g in groups}
        njobs: dict[str, int] = {g: 0 for g in groups}
        for j in jobs:
            g = j.get("jobGroup")
            if g in ids:
                ids[g].update(j["stageIds"])
                njobs[g] += 1
        wanted = {sid: g for g, s in ids.items() for sid in s}
        stages = json.loads(
            self._json.writeValueAsString(self._store.stageList(*self._stage_args))
        )
        out: dict[str, list[dict]] = {g: [] for g in groups}
        for s in stages:
            g = wanted.get(s["stageId"])
            if g is not None:
                s.pop("details", None)
                out[g].append(s)
        return out, njobs


def summarize_stages(stages: list[dict], jobs: int) -> dict[str, float]:
    """The spark.* layer for one operation's stages."""
    run = [s for s in stages if s["status"] != "SKIPPED"]
    mb = 1024.0 * 1024.0
    spans = sorted(
        (s["submissionTime"], s["completionTime"])
        for s in run
        if s.get("submissionTime") and s.get("completionTime")
    )
    busy, reach = 0.0, None
    for lo, hi in spans:
        lo = lo if reach is None else max(lo, reach)
        if hi > lo:
            busy += hi - lo
            reach = hi
    return {
        "jobs": jobs,
        "stages_run": len(run),
        "stages_skipped": len(stages) - len(run),
        "tasks": sum(s["numTasks"] for s in run),
        "tasks_failed": sum(s["numFailedTasks"] for s in run),
        "task_run_s": sum(s["executorRunTime"] for s in run) / 1e3,
        "cpu_s": sum(s["executorCpuTime"] for s in run) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in run) / 1e3,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in run) / mb,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in run) / mb,
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in run) / mb,
        "input_mb": sum(s["inputBytes"] for s in run) / mb,
        "stage_busy_s": busy / 1e3,
    }


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, from /proc."""
    out: dict[int, list[int]] = {}
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            stat = (entry / "stat").read_text()
        except OSError:
            continue
        # The command name may hold spaces; the fields after it do not.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(entry.name))
    return out


def _descendants(pid: int) -> list[int]:
    children, todo, out = _children(), [pid], []
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is alive; kill what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    left = list(pids)
    while left:
        left = [p for p in left if Path(f"/proc/{p}").exists()]
        if left and time.monotonic() > deadline:
            for p in left:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the Spark session, if any, and the JVM behind it, and wait until
    the JVM and every process it started have ended. Safe to call when no
    JVM was launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    with contextlib.suppress(Exception):
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    with contextlib.suppress(Exception):
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # The gateway JVM exits when its standard input closes.
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(kids, timeout)


def jvm_pid(spark: Any) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


class Meter:
    """Cumulative (CPU seconds of this Python process, bytes read plus
    written by the given processes) — the I/O from /proc/<pid>/io counts
    files, pipes and sockets alike."""

    def __init__(self, pids: list[int]) -> None:
        self.paths = [Path(f"/proc/{pid}/io") for pid in pids]

    def __call__(self) -> tuple[float, int]:
        io = 0
        for path in self.paths:
            for line in path.read_text().splitlines():
                if line.startswith(("rchar:", "wchar:")):
                    io += int(line.split()[1])
        return time.process_time(), io


def peak_rss_mb(pid: int) -> float:
    """The process's peak resident set (VmHWM)."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise LookupError(f"no VmHWM for process {pid}")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the kernel's aggregate cpu line."""
    vals = [int(v) for v in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def noise_gauges(spark: Any, jiffies_at_start: tuple[int, int]) -> dict[str, float]:
    """bench.py's three host-noise gauges, recorded as run context: the
    fixed 5M-row shuffle+sort sentinel (one run), the median wall time of
    warm single-stage jobs, and the kernel's CPU steal over the run."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(5_000_000)
        .select((F.col("id") * 2654435761 % 1000000007).alias("h"))
        .repartition(32, "h")
        .sortWithinPartitions("h")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    sentinel = time.perf_counter() - t0
    ts = []
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(1000).count()
        ts.append((time.perf_counter() - t0) * 1000.0)
    steal, total = cpu_jiffies()
    d_total = total - jiffies_at_start[1]
    return {
        "noise_sentinel_sec": round(sentinel, 3),
        "dispatch_ms_per_stage": round(sorted(ts)[len(ts) // 2], 1),
        "cpu_steal_pct": round(100.0 * (steal - jiffies_at_start[0]) / d_total, 2) if d_total else 0.0,
    }
