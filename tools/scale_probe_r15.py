"""Round-15 scale validation (VERDICT r14 next-round #1): at ~x30 the
sf0.1 lineitem (≈340 MB of parquet, ABOVE the 256 MB reuse threshold):

1. The scale-adaptive ``reuse_frame`` cut fires NATURALLY (no env
   override) — timed A/B of rank-family queries with the cut firing vs
   forcibly disabled (``SPARK_GRAFT_REUSE_MIN_BYTES`` huge), paired
   interleaved runs in one session, plus result parity between paths.
2. The pinned-AQE graph loop choice — pagerank_copurchase timed with
   the AQE pin forced on (``SPARK_GRAFT_PIN_MAX_BYTES`` huge) vs off
   (``SPARK_GRAFT_PIN_MAX_BYTES=0``), same protocol, plus result parity.
3. A skew census of pagerank's contribution-shuffle key (the in-degree
   distribution of the symmetrized co-purchase graph) — max/p999/median
   degree and the max hash-partition share at 200 partitions. Caveat
   recorded in the output: offset replication grows the graph x K with
   per-node degree UNCHANGED, so this census shows the fixture's real
   (bounded) skew; it cannot manufacture hot keys the generator never
   produced.

The fixture replicates ONLY lineitem (the sole input of every probed
query) with the scale_probe key offsets; other tables are copied at
sf0.1 so `sources.load` finds them.

Usage: python tools/scale_probe_r15.py [K] [out_json]
Run CONTENTION-FREE (no concurrent Spark/pytest) or the numbers are
garbage.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from artigraph_spark.queries import bench_queries, queries  # noqa: E402
from artigraph_spark.session import get_spark  # noqa: E402
from artigraph_spark.sources import TABLES, load  # noqa: E402
from tools.scale_probe import KEY_COLUMNS, OFFSETS  # noqa: E402

SRC = "/root/testdata/sf0.1"
HUGE = str(1 << 60)


def build_fixture(spark, out_dir: str, k: int) -> None:
    out = Path(out_dir)
    if (out / "_built").exists():
        return
    out.mkdir(parents=True, exist_ok=True)
    for name in TABLES:
        src = Path(SRC) / f"{name}.parquet"
        if name != "lineitem":
            dst = out / f"{name}.parquet"
            if src.is_dir():
                shutil.copytree(src, dst, dirs_exist_ok=True)
            else:
                shutil.copy2(src, dst)
            continue
        df = load(spark, SRC, name)
        parts = []
        for i in range(k):
            rep = df
            for col in KEY_COLUMNS[name]:
                rep = rep.withColumn(col, F.col(col) + F.lit(i * OFFSETS[col]))
            parts.append(rep)
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.repartition(32).write.mode("overwrite").parquet(
            str(out / f"{name}.parquet")
        )
    (out / "_built").write_text("ok")


def run_once(spark, fn, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    el = time.perf_counter() - t0
    del df
    import gc

    gc.collect()
    return el


def paired_ab(spark, fn, sf_dir: str, env_key: str, a_val, b_val, n=3):
    """Interleaved A/B: (A, B) x n with the env toggled around each
    FRAME CONSTRUCTION (reuse_frame / pinned_parallelism read the env at
    call time). Returns (median_a, median_b, all_a, all_b)."""

    def set_env(v):
        if v is None:
            os.environ.pop(env_key, None)
        else:
            os.environ[env_key] = v

    a_ts, b_ts = [], []
    for _ in range(n):
        set_env(a_val)
        a_ts.append(run_once(spark, fn, sf_dir))
        set_env(b_val)
        b_ts.append(run_once(spark, fn, sf_dir))
    set_env(a_val)
    med = lambda ts: round(sorted(ts)[len(ts) // 2], 2)  # noqa: E731
    return med(a_ts), med(b_ts), [round(t, 2) for t in a_ts], [round(t, 2) for t in b_ts]


def result_hash(df) -> str:
    import hashlib

    rows = sorted(map(str, df.collect()))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    out_json = sys.argv[2] if len(sys.argv) > 2 else "docs/SCALE_PROBE_r15.json"
    fx = f"/tmp/artigraph_r15_x{k}"
    spark = get_spark("scale_probe_r15")
    spark.range(100).count()
    build_fixture(spark, fx, k)

    qs = dict(queries())
    qs.update(bench_queries())

    from artigraph_spark.operators._adaptive import (
        _REUSE_DEFAULT,
        estimated_input_bytes,
    )

    li = load(spark, fx, "lineitem")
    est = estimated_input_bytes(li.groupBy("l_quantity").count())
    report: dict = {
        "k": k,
        "lineitem_leaf_estimate_bytes": est,
        "reuse_threshold_bytes": _REUSE_DEFAULT,
        "cut_fires_naturally": bool(est and est >= _REUSE_DEFAULT),
        "protocol": "paired interleaved A/B in one session, median of 3 per arm, noop sink",
    }

    # --- 1. reuse_frame natural-fire timing A/B -------------------------
    for name in ("exact_quantiles_quantity", "tukey_outliers_quantity",
                 "spearman_price_quantity"):
        fn = qs[name]
        os.environ.pop("SPARK_GRAFT_REUSE_MIN_BYTES", None)
        run_once(spark, fn, fx)  # warm
        cut_med, nocut_med, cut_all, nocut_all = paired_ab(
            spark, fn, fx, "SPARK_GRAFT_REUSE_MIN_BYTES", None, HUGE
        )
        os.environ.pop("SPARK_GRAFT_REUSE_MIN_BYTES", None)
        h_cut = result_hash(fn(spark, fx))
        os.environ["SPARK_GRAFT_REUSE_MIN_BYTES"] = HUGE
        h_nocut = result_hash(fn(spark, fx))
        os.environ.pop("SPARK_GRAFT_REUSE_MIN_BYTES", None)
        report[name] = {
            "cut_sec": cut_med,
            "nocut_sec": nocut_med,
            "cut_runs": cut_all,
            "nocut_runs": nocut_all,
            "speedup_cut_over_nocut": round(nocut_med / cut_med, 2) if cut_med else None,
            "results_identical": h_cut == h_nocut,
        }
        print(json.dumps({name: report[name]}), flush=True)

    # --- 2. pinned-AQE loop A/B ----------------------------------------
    fn = qs["pagerank_copurchase"]
    pin = "SPARK_GRAFT_PIN_MAX_BYTES"
    os.environ[pin] = HUGE
    run_once(spark, fn, fx)  # warm
    off_med, on_med, off_all, on_all = paired_ab(spark, fn, fx, pin, HUGE, "0")
    h_off = result_hash(fn(spark, fx))
    os.environ[pin] = "0"
    h_on = result_hash(fn(spark, fx))
    os.environ.pop(pin, None)
    report["pagerank_copurchase"] = {
        "aqe_off_sec": off_med,
        "aqe_on_sec": on_med,
        "aqe_off_runs": off_all,
        "aqe_on_runs": on_all,
        "speedup_off_over_on": round(on_med / off_med, 2) if off_med else None,
        "results_identical": h_off == h_on,
    }
    print(json.dumps({"pagerank_copurchase": report["pagerank_copurchase"]}), flush=True)

    # --- 3. contribution-key skew census --------------------------------
    pe = (
        li.select(
            (F.col("l_partkey") * 2).alias("s"),
            (F.col("l_suppkey") * 2 + 1).alias("d"),
        ).distinct()
    )
    edges = pe.unionByName(pe.select(F.col("d").alias("s"), F.col("s").alias("d")))
    indeg = edges.groupBy("d").agg(F.count(F.lit(1)).alias("deg"))
    stats = indeg.agg(
        F.count(F.lit(1)).alias("nodes"),
        F.sum("deg").alias("edges"),
        F.max("deg").alias("max_deg"),
        F.expr("percentile_approx(deg, 0.999)").alias("p999_deg"),
        F.expr("percentile_approx(deg, 0.5)").alias("median_deg"),
    ).collect()[0]
    shares = (
        indeg.groupBy(F.pmod(F.hash("d"), F.lit(200)).alias("part"))
        .agg(F.sum("deg").alias("rows"))
        .agg(
            F.max("rows").alias("max_part"),
            F.expr("percentile_approx(rows, 0.5)").alias("median_part"),
        )
        .collect()[0]
    )
    report["contribution_key_skew"] = {
        "nodes": stats.nodes,
        "edges": int(stats.edges),
        "max_degree": stats.max_deg,
        "p999_degree": stats.p999_deg,
        "median_degree": stats.median_deg,
        "hash200_max_partition_rows": int(shares.max_part),
        "hash200_median_partition_rows": int(shares.median_part),
        "hash200_max_over_median": round(shares.max_part / shares.median_part, 2),
        "caveat": "offset replication multiplies nodes, not per-node degree; this is the fixture's real skew, and AQE-skew-split's 256MB partition floor is far above these volumes either way",
    }
    print(json.dumps({"contribution_key_skew": report["contribution_key_skew"]}), flush=True)

    Path(out_json).write_text(json.dumps(report, indent=2) + "\n")
    print(f"wrote {out_json}")


if __name__ == "__main__":
    main()
