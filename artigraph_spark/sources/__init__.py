"""Table loading for the synthetic fixture star schema.

At 100 TB each ``load`` is a plain parquet scan: Catalyst handles
predicate pushdown / column pruning / partition pruning; nothing here
materializes. ``BROADCAST_TABLES`` marks the dimension tables that stay
broadcast-sized at every scale factor (region/nation/supplier are fixed
or near-fixed cardinality in TPC-H-style scaling).

Each source's schema is resolved once per file version: Spark infers a
parquet schema by running a job, even for one file, so ``load`` keeps the
resolved schema and passes it to the reader; later loads of the same
version run no job.

A source that Spark's own planner scans as exactly one partition is
declared single-partition: ``load`` returns it under ``coalesce(1)``. A
file scan reports ``UnknownPartitioning`` whatever its split count, so
without the declaration Catalyst shuffles a one-split table under every
window, aggregate and join, and its rows go from one scan task through a
shuffle to one reduce task. Over a one-partition scan ``coalesce(1)`` is
a narrow dependency in the same task, so it moves no data, and it reports
``SinglePartition``, which meets every clustered and all-tuples
requirement: no exchange is planned above the table until it meets a
multi-partition side. What it gives up is the parallelism of the reduce
side: the operators above the table run in the scan's one task instead of
being spread over reduce tasks. A one-split table holds at most
``spark.sql.files.maxPartitionBytes`` (128 MB) of file, and AQE merges
the shuffle of a table that small into one or a few reduce partitions
anyway; at scale a table has many splits and is never declared. The split
count is Spark's answer for the bare read, taken on the driver (no job),
cached per file version and per the values that set file splits; it
decides only whether ``coalesce(1)`` is free, never the rows, since
``coalesce(1)`` returns the same rows on any input. A source at a path
``os.stat`` cannot read (a remote URI) is never declared.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from artigraph_spark.session import child_session

_NANOS_FLAG = "spark.sql.legacy.parquet.nanosAsLong"

# Session confs that change how parquet types map to Spark types, and so
# the inferred schema. load("events") always infers with
# _NANOS_FLAG forced on; every other table also keys on it.
_TYPE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (source version, type confs) -> resolved schema. Schemas, never
# DataFrames: each load must build a fresh relation, or a self-join of
# two loads would see one set of attribute ids. Two threads that miss at
# once each infer once, which is harmless. One entry per file version
# loaded; load only reads the star-schema tables, so the map stays small.
_SCHEMAS: dict[tuple, T.StructType] = {}

# Session confs that set how Spark splits a file scan into partitions
# (``FilePartition.maxSplitBytes``; the leaf parallelism defaults to the
# context's ``defaultParallelism``, also part of the key).
_SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum",
    "spark.sql.leafNodeDefaultParallelism",
)

# (source version, split confs, default parallelism) -> the number of
# partitions Spark scans the source as. Kept like _SCHEMAS.
_SPLITS: dict[tuple, int] = {}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions safe to broadcast at any SF (bounded cardinality).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _version(path: str) -> tuple:
    """The identity of one version of a local source: path, inode, size and
    mtime of the file, or of the directory and every file under it. Raises
    ``OSError`` when ``os.stat`` cannot read the path (a remote URI)."""
    path = os.path.abspath(path)
    paths = [path]
    if os.path.isdir(path):
        paths += sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    return tuple(
        (p, st.st_ino, st.st_size, st.st_mtime_ns) for p in paths for st in [os.stat(p)]
    )


def file_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The schema :func:`load` reads source ``name``'s file with — before the
    ``events`` ts conversion — resolved once per file version and
    type-mapping conf."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    confs = _TYPE_CONFS if name == "events" else _TYPE_CONFS + (_NANOS_FLAG,)
    try:
        key = (_version(path), tuple(spark.conf.get(c, None) for c in confs))
    except OSError:
        key = None  # not a local path: infer on every call
    schema = _SCHEMAS.get(key)
    if schema is None:
        # The fixture contract allows events.ts as parquet TIMESTAMP(NANOS)
        # (FIXTURES.md), which Spark has no native type for: infer it as the
        # raw int64 nanos (load converts them). The legacy flag is set on a
        # clone of the caller's session, for this inference only: the
        # schema carries the long type from here on, and setting the flag
        # on the caller's session would retype nanosecond columns in every
        # other parquet read on it, in every thread.
        infer = spark
        if name == "events":
            infer = child_session(spark, {_NANOS_FLAG: "true"})
        schema = infer.read.parquet(path).schema
        if key is not None:
            _SCHEMAS[key] = schema
    return schema


def _scan_partitions(spark: SparkSession, path: str, df: DataFrame) -> int | None:
    """How many partitions Spark scans ``df``, the bare read of ``path``,
    as: the partition count of its physical scan, which the planner
    builds on the driver without running a job. Cached per file version
    and split settings; None for a path ``os.stat`` cannot read."""
    try:
        key = (
            _version(path),
            tuple(spark.conf.get(c, None) for c in _SPLIT_CONFS),
            spark.sparkContext.defaultParallelism,
        )
    except OSError:
        return None
    n = _SPLITS.get(key)
    if n is None:
        n = _SPLITS[key] = df._jdf.queryExecution().sparkPlan().execute().getNumPartitions()
    return n


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Oracle comparability must not depend on the caller's session config:
    # timestamp formatting/epoch functions are session-timezone-sensitive.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = file_schema(spark, sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(schema).parquet(path)
    # A one-split source is declared single-partition (module docstring):
    # coalesce(1) over a one-partition scan runs in the scan's own task,
    # and its SinglePartition output needs no exchange under a window,
    # aggregate or join. A multi-split source stays a plain scan, no
    # up-front repartition: an injected "parallelism floor" repartition
    # was measured 2.5x SLOWER end-to-end at sf0.01/sf0.1 (the extra
    # full-table exchange dwarfs any scan-parallelism gain), and at 100 TB
    # real inputs have thousands of splits. Catalyst/AQE own parallelism.
    single = _scan_partitions(spark, path, df) == 1
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        # Truncate the raw nanos to microsecond TimestampType (documented-
        # lossy ns bridge, SURVEY §1.2 Timestamp). Derived copies written
        # by Spark already carry a real timestamp — only convert when the
        # column actually reads as long.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.coalesce(1) if single else df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}
