"""The engine's one lineage cut.

``localCheckpoint`` stores blocks in executor storage — fast and
self-cleaning (ContextCleaner frees them when the frame is collected), but
lost with the executor: on a real cluster an executor death mid-read
fails the job, because a localCheckpointed lineage cannot be replayed.
Reliable ``checkpoint()`` writes to a fault-tolerant directory (HDFS/
object store) instead — survives any executor loss at the cost of a
write+read round trip.

Which one a cut makes is a deployment decision, and Spark already has the
setting for it: the context's checkpoint directory (``spark.checkpoint.dir``
at launch, or ``SparkContext.setCheckpointDir``). With one set, every cut
in the engine — iterative rounds, fan-out frames, the reuse cut — is
reliable and eager; without one, every cut is executor-local. The engine
reads the directory and never writes it: it is context-wide state shared
by every thread and session.

A reliable cut's files (``<dir>/<uuid>/rdd-<id>/``) are deleted once its
frame is garbage-collected only with
``spark.cleaner.referenceTracking.cleanCheckpoints=true``, which
``session.get_spark`` sets; a user's own session needs the same conf at
launch, or every reliable cut stays on disk. Spark never removes the
``<uuid>/`` root itself, not even at exit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage: a reliable ``checkpoint()``
    when the context has a checkpoint directory, ``localCheckpoint()``
    otherwise.

    A reliable cut is always eager, whatever ``eager`` says: Spark writes
    a lazy one's files in a second job after the first action, which
    computes the frame again (nothing persists it in between), while the
    eager cut computes it once. ``eager=False`` defers only a local cut
    to the frame's first action."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)
