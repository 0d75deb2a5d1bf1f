"""Scale-up probe: replicate the sf0.1 fixtures K× (with key offsets, so
joins stay key-correct and cardinalities really grow), write them as
multi-file parquet to /tmp, and time queries against both scales.
Evidence that the plans scale, not just pass.

Usage: python tools/scale_probe.py [K] [name ...]

K defaults to 10. With no names it times every bench query; with names
it times those registry queries. The replicated fixtures are reused when
``/tmp/artigraph_scale_x{K}`` already holds them. Each query runs once
untimed (codegen, schema cache) before its timed run, and its result
frame is dropped and garbage-collected after each run so pinned
checkpoint blocks cannot slow its neighbours. For an A/B of an env knob
(e.g. ``SPARK_GRAFT_REUSE_MIN_BYTES=0``), run the probe once per arm with
the env set: the knobs are read on every call.
"""

from __future__ import annotations

import gc
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from artigraph_spark.queries import bench_queries, queries
from artigraph_spark.session import get_spark
from artigraph_spark.sources import TABLES, load

KEY_COLUMNS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # nation/region: fixed dimensions, never replicated
}

# Offsets chosen > max key at sf0.1 so replica keys stay join-consistent.
OFFSETS = {
    "l_orderkey": 10_000_000,
    "o_orderkey": 10_000_000,
    "l_partkey": 1_000_000,
    "p_partkey": 1_000_000,
    "l_suppkey": 100_000,
    "s_suppkey": 100_000,
    "o_custkey": 1_000_000,
    "c_custkey": 1_000_000,
    "event_id": 10_000_000,
    "user_id": 1_000_000,
    "doc_id": 10_000_000,
    "vec_id": 10_000_000,
}


def replicate(spark, src_dir: str, out_dir: str, k: int) -> None:
    for name in TABLES:
        df = load(spark, src_dir, name)
        if name in ("nation", "region"):
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
            continue
        parts = []
        for i in range(k):
            rep = df
            for col in KEY_COLUMNS.get(name, []):
                rep = rep.withColumn(col, F.col(col) + F.lit(i * OFFSETS[col]))
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # repartition → multiple files → real scan parallelism
        out.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")


def _run(fn, spark, sf_dir: str) -> float:
    # Build INSIDE the timed region: eager operators (localCheckpoint
    # results) do their work at build time, not at the noop write.
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    del df
    gc.collect()
    return elapsed


def time_queries(spark, sf_dir: str, fns: dict) -> dict[str, float]:
    timings = {}
    for name, fn in sorted(fns.items()):
        _run(fn, spark, sf_dir)  # untimed warm-up
        timings[name] = round(_run(fn, spark, sf_dir), 2)
    return timings


def main() -> None:
    argv = sys.argv[1:]
    k = int(argv.pop(0)) if argv and argv[0].isdigit() else 10
    if argv:
        registry = queries()
        fns = {name: registry[name] for name in argv}
    else:
        fns = bench_queries()
    src = "/root/testdata/sf0.1"
    out = f"/tmp/artigraph_scale_x{k}"
    spark = get_spark("scale_probe")
    spark.range(100).count()

    t0 = time.perf_counter()
    if not Path(out, f"{TABLES[-1]}.parquet").exists():  # written last
        replicate(spark, src, out, k)
    build_s = round(time.perf_counter() - t0, 1)

    base = time_queries(spark, src, fns)
    big = time_queries(spark, out, fns)
    report = {
        "replication": k,
        "build_sec": build_s,
        "sf0.1_sec": base,
        f"x{k}_sec": big,
        "ratio": {
            q: (round(big[q] / base[q], 1) if base[q] > 0 else None) for q in base
        },
    }
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
