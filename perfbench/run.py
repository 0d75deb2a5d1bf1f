"""Benchmark of record for artigraph_spark.

    python3 perfbench/run.py --workload {ops_dispatch,graph_memo} --seed N \
        --seconds S --trace {0,1}

Run it from the root of a repository checkout. The load is a closed loop
from one client on ``local[<cores>]``: each operation starts when the
previous one ends.

* ``ops_dispatch``: one operation is a pass over stage-heavy registered
  queries (``ops.py``).
* ``graph_memo``: one operation is a no-op ``snapshot().build()`` of an
  already-built graph; each cycle also rebuilds after a one-partition
  change (``graph_workloads.py``).

Set-up is done seven times (stop and start the session, open the inputs);
the first round also pays the JVM launch. ``setup_s`` is their median.

With ``--trace 0`` the last line of standard output is the result with the
end-to-end metrics. With ``--trace 1`` untraced and traced operations
alternate; the last line carries the per-layer metrics from the traced ones
and the tracing overhead, and the spans are written to ``.perfbench/``.
The line before the result is the run record: per-operation figures, the
output checks and the host-noise gauges.

``--toy`` (sf0.001 inputs, 4 partitions) and ``--wrong-digest`` exist for
``selftest.py``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402
from typing import Any  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("ops_dispatch", "graph_memo")
SETUP_ROUNDS = 7
# Untimed operations before timing: the JIT is still cutting the CPU of
# ops_dispatch's second pass by ~10%.
WARM_OPS = 2
MEMO_PARTITIONS, MEMO_ROWS = 32, 40
BACKEND_CALLS = (
    "read_artifact_partitions",
    "write_artifact_partitions",
    "link_snapshot_partitions",
    "read_snapshot_partitions",
)
LAYER_SPANS = {
    "graphs.snapshot_s": "graphs.snapshot",
    "storage.discover_s": "storage.discover",
    "storage.fingerprint_s": "storage.fingerprint",
    "producers.map_s": "producers.map",
    "producers.input_fp_s": "producers.input_fp",
    "producers.build_s": "producers.build",
    "io.read_s": "io.read",
    "io.write_s": "io.write",
    "queries.plan_s": "queries.plan",
    "spark.action_s": "spark.action",
}
SPAN_CALLS = {
    "storage.fingerprint_calls": "storage.fingerprint",
    "producers.build_calls": "producers.build",
    "io.write_calls": "io.write",
}
SPARK_SUMS = (
    "task_run_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "input_mb", "jobs", "stages_run", "stages_skipped", "tasks", "tasks_failed",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--toy", action="store_true", help="sf0.001 inputs, 4 partitions")
    p.add_argument("--wrong-digest", metavar="QUERY", help="expect a wrong digest for QUERY")
    return p.parse_args(argv)


def make_workload(args: argparse.Namespace, work: Path) -> Any:
    if args.workload == "ops_dispatch":
        from ops import OpsWorkload

        return OpsWorkload(str(HERE / "data" / ("sf0.001" if args.toy else "sf0.01")), args.seed)
    from graph_workloads import MemoWorkload

    return MemoWorkload(str(work / "graph"), args.seed, 4 if args.toy else MEMO_PARTITIONS, MEMO_ROWS)


def install_wrappers(tracer: Any, wl: Any) -> None:
    from artigraph_spark import io
    from artigraph_spark.backends import JsonFileBackend
    from artigraph_spark.executors import LocalSparkExecutor
    from artigraph_spark.graphs import GraphSnapshot
    from artigraph_spark.producers import Producer
    from artigraph_spark.storage import LocalFile, StoragePartition

    tracer.wrap(GraphSnapshot, "from_graph", "graphs.snapshot")
    tracer.wrap(LocalFile, "discover_partitions", "storage.discover")
    tracer.wrap(StoragePartition, "compute_content_fingerprint", "storage.fingerprint")
    tracer.wrap(Producer, "compute_input_fingerprint", "producers.input_fp")
    for cls in getattr(wl, "PRODUCERS", ()):
        tracer.wrap(cls, "map", "producers.map")
        tracer.wrap(cls, "build", "producers.build")
    tracer.wrap(LocalSparkExecutor, "build", "executors.build")
    tracer.wrap(io, "read", "io.read")
    tracer.wrap(io, "write", "io.write")
    for name in BACKEND_CALLS:
        tracer.wrap(JsonFileBackend, name, f"backends.{name}")


def run(args: argparse.Namespace, work: Path) -> tuple[dict, dict]:
    from harness import (
        Meter, StatusStore, cpu_jiffies, jvm_pid, noise_gauges, peak_rss_mb, start_session,
        summarize_stages,
    )
    from spans import Tracer

    jiffies = cpu_jiffies()
    wl = make_workload(args, work)
    cores = len(os.sched_getaffinity(0))

    setup, spark, session_start_s = [], None, 0.0
    for r in range(SETUP_ROUNDS):
        t0 = PROCESS_START if r == 0 else time.perf_counter()
        if spark is not None:
            spark.stop()
        t_session = time.perf_counter()
        spark = start_session(str(work), cores)
        spark.range(1).count()
        if r == 0:
            session_start_s = time.perf_counter() - t_session
        wl.open(spark)
        setup.append(time.perf_counter() - t0)

    record: dict[str, Any] = {"workload": args.workload, "seed": args.seed, "cores": cores}
    prepare_failed = []
    if args.workload == "ops_dispatch":
        expected = wl.expected_digests()
        if args.wrong_digest:
            rows, _ = expected[args.wrong_digest]
            expected[args.wrong_digest] = (rows, "0" * 64)
        record["checks"] = wl.check(spark, expected)
        for n, c in record["checks"].items():
            print(f"check {n}: {c['status']}, {c['rows']} rows", file=sys.stderr)
    else:
        record["build_cold_s"], failure = wl.prepare()
        if failure:
            prepare_failed.append(failure)
    pids = [os.getpid(), jvm_pid(spark)]
    meter = Meter(pids)
    for i in range(WARM_OPS):
        prepare_failed += wl.op(spark, f"warm{i}", meter)["errors"]
    record["prepare_failed"] = prepare_failed

    store = StatusStore(spark)
    tracer = Tracer() if args.trace else None
    min_ops = 4 if tracer else 3  # a traced run needs two traced, two untraced
    ops: list[dict] = []
    t_loop = time.perf_counter()
    while len(ops) < min_ops or time.perf_counter() - t_loop < args.seconds:
        traced = tracer is not None and len(ops) % 2 == 1
        tag = f"op{len(ops)}"
        first_span = len(tracer.spans) if traced else 0
        if traced:
            tracer.op = tag
            install_wrappers(tracer, wl)
        try:
            with tracer.span("op") if traced else contextlib.nullcontext():
                res = wl.op(spark, tag, meter, tracer if traced else None)
        finally:
            if traced:
                tracer.unwrap_all()
        res["traced"] = traced
        stages, njobs = store.stages_by_group(set(res["groups"].values()))
        res["spark"] = {k: summarize_stages(stages[g], njobs[g]) for k, g in res["groups"].items()}
        # A sample's CPU cost: the Python driver's CPU plus Spark task CPU.
        res["task_cpu"] = [sum(res["spark"][k]["cpu_s"] for k in keys) for keys in res["sample_groups"]]
        res["cpu_samples"] = [a + b for a, b in zip(res["cpu_samples"], res["task_cpu"])]
        if traced:
            kinds = {g: k for k, g in res["groups"].items()}
            for s in tracer.spans[first_span:]:
                if s.get("group") in kinds:
                    s["stages"] = res["spark"][kinds[s["group"]]]
        ops.append(res)

    record["peak_rss_mb"], record["jvm_peak_rss_mb"] = (peak_rss_mb(p) for p in pids)
    record["gauges"] = noise_gauges(spark, jiffies)
    if hasattr(wl, "catalog_kb"):
        record["catalog_kb"] = wl.catalog_kb()
    spark.stop()

    plain = [o for o in ops if not o["traced"]]
    record["ops"] = [
        {k: o[k] for k in ("samples", "cpu_samples", "task_cpu", "io_samples", "walls", "failed", "traced")}
        | {"errors": o.get("errors", []), "counts": o.get("counts")}
        | {"stages_run": sum(v["stages_run"] for v in o["spark"].values()),
           "stages_skipped": sum(v["stages_skipped"] for v in o["spark"].values())}
        for o in ops
    ]
    attempted = sum(o["attempted"] for o in ops)
    failed = sum(len(o["failed"]) for o in ops)
    record.update(setup_rounds_s=setup, session_start_s=session_start_s)
    summary = {
        "correct": failed == 0 and not prepare_failed,
        "attempted": attempted,
        "failed": failed,
    }
    walls = _samples(plain, "samples")
    record.update(
        op_s=statistics.median(walls),
        op_min_s=min(walls),
        op_cpu_s=statistics.median(_samples(plain, "cpu_samples")),
    )
    if tracer is None:
        summary["metrics"] = {
            "setup_s": _m(statistics.median(setup), "s"),
            "op_io_mb": _m(statistics.median(_samples(plain, "io_samples")) / 1e6, "MB"),
            "peak_rss_mb": _m(record["peak_rss_mb"], "MB"),
            "ok_frac": _m(1.0 - failed / attempted, "frac"),
        }
    else:
        summary["metrics"] = layer_metrics(tracer, ops, record, session_start_s, cores)
        out = ROOT / ".perfbench"
        out.mkdir(exist_ok=True)
        tracer.write(str(out / f"spans-{args.workload}-{args.seed}.jsonl"))
    return record, summary


def _samples(ops: list[dict], key: str) -> list[float]:
    return [x for o in ops for x in o[key]]


def _m(value: float, unit: str) -> dict[str, Any]:
    return {"value": value, "unit": unit}


def layer_metrics(
    tracer: Any, ops: list[dict], record: dict, session_start_s: float, cores: int
) -> dict[str, dict]:
    """Per-layer figures: span self times and Spark sums are per traced
    operation; per-query and build figures are medians over untraced ones."""
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    n = len(traced)
    self_s = tracer.self_times()
    calls = tracer.counts()
    m: dict[str, dict] = {"session.start_s": _m(session_start_s, "s")}
    for metric, span in LAYER_SPANS.items():
        m[metric] = _m(self_s.get(span, 0.0) / n, "s")
    for metric, span in SPAN_CALLS.items():
        m[metric] = _m(calls.get(span, 0) / n, "count")
    for name in BACKEND_CALLS:
        m[f"backends.{name}.calls"] = _m(calls.get(f"backends.{name}", 0) / n, "count")
        m[f"backends.{name}.s"] = _m(self_s.get(f"backends.{name}", 0.0) / n, "s")
    m["backends.catalog_kb"] = _m(record.get("catalog_kb", 0.0), "KB")
    m["jvm.peak_rss_mb"] = _m(record["jvm_peak_rss_mb"], "MB")

    def spark_sum(key: str, o: dict) -> float:
        return sum(v[key] for v in o["spark"].values())

    for key in SPARK_SUMS:
        unit = "s" if key.endswith("_s") else "MB" if key.endswith("_mb") else "count"
        m[f"spark.{key}"] = _m(sum(spark_sum(key, o) for o in traced) / n, unit)
    wall = sum(sum(o["walls"].values()) for o in traced) / n
    idle = sum(
        o["walls"][k] - o["spark"][k]["stage_busy_s"] for o in traced for k in o["walls"]
    ) / n
    m["spark.idle_s"] = _m(idle, "s")
    m["spark.idle_share"] = _m(idle / wall, "frac")
    m["spark.core_busy_frac"] = _m(m["spark.task_run_s"]["value"] / (wall * cores), "frac")

    from ops import DISPATCH_QUERIES

    for q in DISPATCH_QUERIES:
        secs = [o["walls"][q] for o in plain if q in o["walls"]]
        cpus = [o["spark"][q]["cpu_s"] for o in plain if q in o["spark"]]
        m[f"q.{q}.s"] = _m(statistics.median(secs) if secs else 0.0, "s")
        m[f"q.{q}.cpu_s"] = _m(statistics.median(cpus) if cpus else 0.0, "s")

    built = sum(c[0] for o in traced for c in (o.get("counts") or [])) / n
    skipped = sum(c[1] for o in traced for c in (o.get("counts") or [])) / n
    m["executors.built"] = _m(built, "count")
    m["executors.skipped"] = _m(skipped, "count")
    m["executors.memo_hit_frac"] = _m(skipped / (built + skipped) if built + skipped else 0.0, "frac")

    m["op_cpu_s"] = _m(statistics.median(_samples(plain, "cpu_samples")), "s")
    suite = [o for o in plain if "one_seconds" not in o]
    m["suite_s"] = _m(statistics.median(_samples(suite, "samples")) if suite else 0.0, "s")
    memo = [o for o in plain if "one_seconds" in o]
    m["build_noop_s"] = _m(statistics.median(_samples(memo, "samples")) if memo else 0.0, "s")
    m["build_one_s"] = _m(statistics.median(o["one_seconds"] for o in memo) if memo else 0.0, "s")
    m["build_cold_s"] = _m(record.get("build_cold_s", 0.0), "s")
    noop_spans = tracer.self_times(within="build.noop")
    noop_wall = sum(v for o in traced for k, v in o["walls"].items() if k.startswith("noop"))
    backends_noop = sum(v for k, v in noop_spans.items() if k.startswith("backends."))
    m["backends.noop_share"] = _m(backends_noop / noop_wall if noop_wall else 0.0, "frac")

    untraced_s = statistics.median(_samples(plain, "samples"))
    traced_s = statistics.median(_samples(traced, "samples"))
    m["trace.overhead_frac"] = _m(traced_s / untraced_s - 1.0, "frac")
    return m


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not (ROOT / "artigraph_spark" / "__init__.py").is_file():
        print(
            "perfbench: artigraph_spark/ not found next to perfbench/; "
            "run from the root of a repository checkout",
            file=sys.stderr,
        )
        return 2
    work = ROOT / ".perfbench" / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # Everything Spark and Python write goes under the checkout.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        record, summary = run(args, work)
    finally:
        from harness import stop_jvm

        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
