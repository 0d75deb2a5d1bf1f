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


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Oracle comparability must not depend on the caller's session config:
    # timestamp formatting/epoch functions are session-timezone-sensitive.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = file_schema(spark, sf_dir, name)
    # Plain scan, no up-front repartition: an injected "parallelism
    # floor" repartition was measured 2.5x SLOWER end-to-end at
    # sf0.01/sf0.1 (the extra full-table exchange dwarfs any
    # scan-parallelism gain on local fixtures), and at 100 TB real
    # inputs have thousands of splittable row groups so the floor
    # would never fire. Let Catalyst/AQE own parallelism.
    df = spark.read.schema(schema).parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        # Truncate the raw nanos to microsecond TimestampType (documented-
        # lossy ns bridge, SURVEY §1.2 Timestamp). Derived copies written
        # by Spark already carry a real timestamp — only convert when the
        # column actually reads as long.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}
