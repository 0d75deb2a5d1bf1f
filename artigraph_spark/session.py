"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we want on a real cluster: AQE on
(runtime re-planning, skew-join handling, partition coalescing), UTC
session timezone (oracle comparability), Arrow for pandas interchange,
shuffle partitions sized to cores rather than the 200 default.

On a 1000-executor cluster the same settings hold; only master/memory
come from the deploy environment.

PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``,
on by default) is off. With it on, every ``functions``, ``Column`` and
``DataFrame`` call walks the Python stack and sends about 8 extra py4j
commands to record its call site: defining ``survival_km_users`` sent 1,304
commands with it and 464 without, ``window_session`` 403 and 143. The only
loss is the "== DataFrame ==" call-site block of a runtime error, which
would point into this package's internals; the error class and message
stay. It is a static conf, so ``child_session`` clones share it, and
``extra_conf`` can switch it back on. PySpark reads it once per process, on
the first wrapped call, so the first session to make one decides it for the
whole process.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# Share of host memory the driver JVM may grow to. In local mode the driver
# is also the only executor, and a full sf0.01 oracle sweep grew a 90g-capped
# JVM past 14 GB on a 15 GB host (OOM-killed); 40% leaves the Python workers
# and the OS the rest.
_DRIVER_MEM_SHARE = 0.4
_DRIVER_MEM_CAP_GB = 90


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 40%
    of ``MemTotal`` in whole gigabytes (at least 1g), capped at 90g — the
    cap alone where ``meminfo`` cannot be read (non-Linux hosts)."""
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, IndexError, ValueError):
        return f"{_DRIVER_MEM_CAP_GB}g"
    gb = int(kb * _DRIVER_MEM_SHARE) // (1024 * 1024)
    return f"{min(max(gb, 1), _DRIVER_MEM_CAP_GB)}g"


def get_spark(
    app_name: str = "artigraph_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Delete a reliable cut's files once its frame is collected
        # (operators._checkpoint); Spark keeps them by default.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def child_session(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` with ``conf`` applied on top, for work that needs
    a different setting without writing the caller's conf (which every other
    thread on that session would see).

    ``cloneSession`` keeps the caller's runtime-set confs (a session timeZone
    set after start-up survives), UDFs and temp views; ``newSession`` would
    start from the startup conf and drop them. The clone shares the caller's
    SparkContext, cache and catalog. Cloning costs a few milliseconds."""
    child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for key, value in conf.items():
        child.conf.set(key, value)
    return child


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s logical plan as a frame of ``session``: planned and run under
    that session's conf from here on. Frames already materialized (cached,
    checkpointed) keep the physical plan they were materialized with."""
    jvm = session.sparkContext._jvm
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.queryExecution().logical()
    )
    return DataFrame(jdf, session)
