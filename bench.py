"""Headline benchmark: runs the flagged bench queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed over a full execution into the JVM-side `noop` sink —
every row is produced and consumed on executors with no driver collect and
no Python workers in the action path (a Python `foreach` would bill ~0.25 s
of worker spin-up per output partition to the query). Noise control: every
query first runs once UNTIMED (absorbs session/codegen/schema-cache
residue — historically ~2 s billed to whichever query ran first), then the
reported figure is the MEDIAN of 3 timed runs.

The output also carries ``noise_sentinel_sec``: the median time of a FIXED
constant-size query (a 5M-row range shuffle+sort, no file IO, no sf
dependence) measured with the same protocol. Cross-round bench comparisons
should normalize by it — host-noise swings of ~2x on shared hardware show
up in the sentinel exactly as they do in the real queries (quiet-host
reference: ~0.5-0.9 s).

``cpu_steal_pct`` (r11) is the second noise axis the sentinel cannot see:
hypervisor CPU steal hits WIDE parallel stages (a 32-task iterative
pagerank round is as slow as its most-stolen core) while the narrow
sentinel stays quiet — r11 measured pagerank 9→27 s on identical code
with the sentinel inside its band, and a 32-thread calibration burn showed
a 1.7x per-core throughput spread. The figure is the kernel's own steal
accounting (/proc/stat field 8) as a percentage of all cpu time over the
bench run; compare wide-query movements against it (quiet reference: ~0%;
missing on non-Linux).

``dispatch_ms_per_stage`` (r12) is the third axis: per-stage scheduler
dispatch latency (median of 50 warm single-stage jobs), the fixed cost every
stage pays. Stage-HEAVY queries (iterative pagerank ≈ 100+ stages; the
localCheckpoint-routed survival/rank pipelines) scale with it while the
single-job sentinel stays quiet — the r11 bench's apparent 1.5-3x
"regressions" on untouched code were exactly this mode (quiet band
~20-50 ms; the slow mode measured ~115-140 ms). Triage rule: narrow queries
→ sentinel, wide scans → cpu_steal_pct, stage-heavy pipelines →
dispatch_ms_per_stage.

``--attempts N`` repeats the timed protocol (3 runs, median) N times in the
same session and adds, per query, the median and the minimum of the N
attempt figures (``wall_median_s_per_query``, ``wall_min_s_per_query``) and
``attempts`` to the full line. ``queries`` and ``value`` stay the first
attempt's figures, so they compare with single-attempt records; the
sentinel is the median of all its runs. Without the flag the output keys
are the single-attempt ones.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from artigraph_spark.queries import bench_queries  # noqa: E402
from artigraph_spark.session import get_spark  # noqa: E402
from perfbench.harness import StatusStore, summarize_stages  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description="Time the bench queries into the noop sink.")
    ap.add_argument(
        "--attempts", type=int, default=None,
        help="repeat the timed protocol N times; adds per-query median and minimum",
    )
    args = ap.parse_args()
    if args.attempts is not None and args.attempts < 1:
        ap.error("--attempts must be at least 1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("artigraph_spark_bench")

    # Warm up the JVM, codegen and parquet reader paths with small real
    # reads — otherwise session startup is billed to the first timed query
    # (~2.5 s of noise in round 1's record). The reads also fill load()'s
    # schema cache (each query's untimed first run fills it for the other
    # tables), so timed queries never run schema inference.
    from artigraph_spark.sources import load  # noqa: E402

    spark.range(1000).count()
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        load(spark, sf_dir, t).limit(1000).write.format("noop").mode("overwrite").save()

    queries = sorted(bench_queries().items())

    def run(fn) -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # full execution, JVM-side
        elapsed = time.perf_counter() - t0
        # Drop the result frame NOW: iterative queries (pagerank, triangle
        # counts) return localCheckpointed frames whose executor-storage
        # blocks stay pinned until Python GC lets the ContextCleaner at
        # them. Without this, 4 bench passes of each accumulate pinned
        # blocks that steal unified memory from every later query —
        # measured 2-5x inflation on explode-heavy neighbours.
        del df
        import gc

        gc.collect()
        return elapsed

    def sentinel(spark_, _sf_dir) -> "object":
        # Fixed-size host-noise sentinel: shuffle + sort of a constant 5M-row
        # range — pure CPU/shuffle, no file IO, identical work every round.
        from pyspark.sql import functions as F

        return (
            spark_.range(5_000_000)
            .select((F.col("id") * 2654435761 % 1000000007).alias("h"))
            .repartition(32, "h")
            .sortWithinPartitions("h")
        )

    def dispatch_ms_per_stage() -> float:
        # Third noise axis (r12, after the r11 forensic in
        # docs/SCALE.md): per-stage scheduler dispatch latency. Median
        # wall time of 50 warm single-stage jobs (a 1000-row range
        # count: no shuffle, no IO, ~0 compute) — this is the fixed
        # cost EVERY stage pays, so stage-heavy queries (pagerank ≈
        # 100+ stages, the checkpointing survival/rank pipelines) move
        # linearly with it while the single-job sentinel barely
        # registers. Quiet band ~20-50 ms; r11 recorded ~115 ms nights
        # where pagerank tripled on identical code. Compare stage-heavy
        # query swings against THIS gauge, wide-stage swings against
        # cpu_steal_pct, and everything else against the sentinel.
        ts: list[float] = []
        for _ in range(50):
            t0 = time.perf_counter()
            spark.range(1000).count()
            ts.append((time.perf_counter() - t0) * 1000.0)
        return sorted(ts)[len(ts) // 2]

    def cpu_jiffies() -> "tuple[int, int] | None":
        # (steal, total) jiffies from the kernel's aggregate cpu line.
        try:
            fields = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
            vals = [int(v) for v in fields]
            return vals[7] if len(vals) > 7 else 0, sum(vals)
        except Exception:  # noqa: BLE001 — non-Linux: omit the gauge
            return None

    jiff0 = cpu_jiffies()

    # Untimed pass: plans compiled, caches warm. Each query runs under its
    # own job group so its STAGE COUNT can be read back — that makes the
    # dispatch gauge mechanical instead of narrative: expected scheduler
    # noise for a query ≈ stages × dispatch_ms_per_stage / 1000, so a
    # judge can separate code regressions from host mode per query
    # (README "Bench noise gauges"). Counted on the warm-up pass right
    # after each query so job-history eviction (spark.ui.retainedJobs)
    # can't drop early jobs; AQE may shift counts ±1-2 between passes —
    # it is a gauge, not an invariant. The same pass reads each query's
    # executed stages, executor CPU and shuffle bytes from the status
    # store through perfbench's reader: the measures host steal does not
    # inflate. The Python process's CPU time per query is the driver's
    # share: plan building and py4j round trips.
    tracker = spark.sparkContext.statusTracker()
    store = StatusStore(spark)
    stage_counts: dict[str, int] = {}
    executed: dict[str, int] = {}
    cpu_s: dict[str, float] = {}
    shuffle_mb: dict[str, float] = {}
    driver_cpu_s: dict[str, float] = {}

    def count_stages(group: str) -> int:
        n = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                n += len(info.stageIds)
        return n

    for name, fn in queries:
        group = f"bench:{name}"
        spark.sparkContext.setJobGroup(group, name)
        cpu0 = time.process_time()
        run(fn)
        driver_cpu_s[name] = round(time.process_time() - cpu0, 3)
        stage_counts[name] = count_stages(group)
        stages, jobs = store.stages_by_group({group})
        layer = summarize_stages(stages[group], jobs[group])
        executed[name] = layer["stages_run"]
        cpu_s[name] = round(layer["cpu_s"], 3)
        shuffle_mb[name] = round(layer["shuffle_write_mb"], 3)
    spark.sparkContext.setJobGroup("bench:warmrest", "post-warmup")
    run(sentinel)

    sentinel_ts: list[float] = []
    per_attempt: dict[str, list[float]] = {name: [] for name, _ in queries}
    for _ in range(args.attempts or 1):
        samples: dict[str, list[float]] = {name: [] for name, _ in queries}
        for _ in range(3):
            for name, fn in queries:
                samples[name].append(run(fn))
            sentinel_ts.append(run(sentinel))
        for name, ts in samples.items():
            per_attempt[name].append(sorted(ts)[1])
    timings = {name: round(ts[0], 3) for name, ts in per_attempt.items()}

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "bench_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "stages_per_query": stage_counts,
        "stages_executed_per_query": executed,
        "exec_cpu_s_per_query": cpu_s,
        "driver_cpu_s_per_query": driver_cpu_s,
        "shuffle_mb_per_query": shuffle_mb,
        "noise_sentinel_sec": round(statistics.median(sentinel_ts), 3),
        "dispatch_ms_per_stage": round(dispatch_ms_per_stage(), 1),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if args.attempts is not None:
        out["attempts"] = args.attempts
        out["wall_median_s_per_query"] = {
            name: round(statistics.median(ts), 3) for name, ts in per_attempt.items()
        }
        out["wall_min_s_per_query"] = {name: round(min(ts), 3) for name, ts in per_attempt.items()}
    jiff1 = cpu_jiffies()
    if jiff0 is not None and jiff1 is not None and jiff1[1] > jiff0[1]:
        out["cpu_steal_pct"] = round(
            100.0 * (jiff1[0] - jiff0[0]) / (jiff1[1] - jiff0[1]), 2
        )
    print(json.dumps(out))
    # Capture-proofing (r14): the full record above outgrew 4 KB when
    # stages_per_query landed (r13's driver tail-capture clipped it to
    # "parsed": null). Emit a SHORT trailing summary line so any tail
    # capture retains the machine-readable headline even if the full
    # line is truncated. r15: the summary line now ALSO carries the
    # per-query timings (~1 KB for 37 queries — still an order of
    # magnitude under the capture window that clipped r13) so a
    # tail-captured record keeps enough for per-query round-over-round
    # comparison; the per-query stage, CPU and shuffle figures stay on
    # the full line only.
    # Consumers keyed on "bench_total_runtime" are unaffected; the
    # summary uses a distinct metric name and existing keys are kept.
    summary = {
        "metric": "bench_total_runtime_summary",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "queries": timings,
        "noise_sentinel_sec": out["noise_sentinel_sec"],
        "dispatch_ms_per_stage": out["dispatch_ms_per_stage"],
        "sf": out["sf"],
    }
    if "cpu_steal_pct" in out:
        summary["cpu_steal_pct"] = out["cpu_steal_pct"]
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
