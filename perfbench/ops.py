"""Registered-query workload: a fixed set of ``bench=True`` queries, each run
in full into Spark's ``noop`` sink, in a seeded order per pass.

The inputs are copies of the fixture tables these queries read, kept under
``perfbench/data``. Once per run, untimed, every query's result is collected
and its order-insensitive digest compared with the digest of its DuckDB
oracle over the same files.
"""

from __future__ import annotations

import gc
import hashlib
import os
import random
import time
from typing import Any

from artigraph_spark.queries import REGISTRY, bench_queries
from artigraph_spark.sources import load
from tools.check_oracle import canon_rows

# Queries whose time is set by stage count and driver round trips rather
# than operator CPU: survival_km_users is a chain of small stages, about
# half of them skipped (reused shuffle output); window_session is a
# two-window sessionization.
DISPATCH_QUERIES = ("survival_km_users", "window_session")
TABLES = ("events",)


def digest(columns: list[str], rows: list[Any]) -> str:
    """Order-insensitive digest of a result, over the oracle gate's
    canonical rendering (columns sorted by name, rows sorted)."""
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in canon_rows(columns, [tuple(r) for r in rows]):
        h.update(b"\n" + line.encode())
    return h.hexdigest()


class OpsWorkload:
    """One operation is one pass over ``DISPATCH_QUERIES``; each query is
    timed from the call into its registered function to the end of the
    noop write."""

    def __init__(self, data_dir: str, seed: int) -> None:
        self.data_dir = data_dir
        self.names = DISPATCH_QUERIES
        self.fns = {n: bench_queries()[n] for n in self.names}
        self.rng = random.Random(seed)
        self.bad: set[str] = set()

    def open(self, spark: Any) -> None:
        """Resolve every table's schema (a driver-side footer read)."""
        for t in TABLES:
            load(spark, self.data_dir, t).schema

    def expected_digests(self) -> dict[str, tuple[int, str]]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.data_dir, t)}.parquet'"
                )
            out = {}
            for n in self.names:
                # Fetched through Arrow, as the oracle gate does.
                table = con.sql(REGISTRY[n].oracle).fetch_arrow_table()
                cols = table.column_names
                rows = [tuple(rec[c] for c in cols) for rec in table.to_pylist()]
                out[n] = (len(rows), digest(cols, rows))
            return out
        finally:
            con.close()

    def check(self, spark: Any, expected: dict[str, tuple[int, str]]) -> dict[str, dict]:
        """Collect every query once and compare with ``expected``. A query
        that fails here has all its timed runs counted as failed."""
        report = {}
        for n in self.names:
            want_rows, want = expected[n]
            try:
                df = self.fns[n](spark, self.data_dir)
                rows = df.collect()
                got = digest(df.columns, rows)
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                report[n] = {"status": f"error: {str(e)[:200]}", "rows": None}
                self.bad.add(n)
                continue
            if got != want:
                status = "mismatch"
                self.bad.add(n)
            elif len(rows) == 0 and want_rows == 0:
                status = "vacuous"  # both sides empty: nothing was compared
            else:
                status = "verified"
            report[n] = {"status": status, "rows": len(rows), "oracle_rows": want_rows}
        return report

    def op(self, spark: Any, tag: str, meter: Any, tracer: Any = None) -> dict[str, Any]:
        """One pass in a seeded order: its seconds, driver CPU seconds and
        I/O bytes (sums over the queries), per-query seconds, the job group
        of each query, and the queries that failed."""
        order = list(self.names)
        self.rng.shuffle(order)
        sc = spark.sparkContext
        times, groups, failed, cpu_s, io = {}, {}, [], 0.0, 0
        for n in order:
            group = f"{tag}:{n}"
            groups[n] = group
            sc.setJobGroup(group, n)
            cpu0, io0 = meter()
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = self.fns[n](spark, self.data_dir)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span(f"q.{n}", group=group):
                        with tracer.span("queries.plan"):
                            df = self.fns[n](spark, self.data_dir)
                        with tracer.span("spark.action"):
                            df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - counted, the loop goes on
                failed.append(n)
            times[n] = time.perf_counter() - t0
            cpu1, io1 = meter()
            cpu_s, io = cpu_s + cpu1 - cpu0, io + io1 - io0
            if n in self.bad:
                failed.append(n)
            # Iterative queries return localCheckpointed frames whose blocks
            # stay pinned until Python drops the frame (see bench.py).
            df = None
            gc.collect()
        sc.setJobGroup("perfbench:idle", "between operations")
        return {
            "samples": [sum(times.values())],
            "cpu_samples": [cpu_s],
            "io_samples": [io],
            "sample_groups": [list(groups)],
            "walls": times,
            "groups": groups,
            "attempted": len(order),
            "failed": sorted(set(failed)),
            "errors": [f"{n} raised or failed its output check" for n in sorted(set(failed))],
        }
