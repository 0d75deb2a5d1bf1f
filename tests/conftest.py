from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from artigraph_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def tmp_root(tmp_path):
    return str(tmp_path)


@pytest.fixture()
def reliable_cuts(spark, tmp_path):
    """Give the context a checkpoint directory under ``tmp_path``, so every
    engine lineage cut is reliable, and yield it. Teardown restores the
    context's previous setting; Spark has no public unset, so the Scala
    setter takes the saved ``Option`` back."""
    scala_sc = spark.sparkContext._jsc.sc()
    prev = scala_sc.checkpointDir()
    path = tmp_path / "checkpoints"
    spark.sparkContext.setCheckpointDir(str(path))
    yield path
    getattr(scala_sc, "checkpointDir_$eq")(prev)


@pytest.fixture()
def kept_cuts(spark, reliable_cuts, monkeypatch):
    """``reliable_cuts``, with every reliable cut's frame kept alive until
    teardown, for tests that count the ``rdd-*`` directories cuts leave:
    ``get_spark`` sets ``spark.cleaner.referenceTracking.cleanCheckpoints``,
    so a cut no live frame reaches (an operator's intermediate round) may
    be deleted at any JVM garbage collection."""
    frame_class = type(spark.range(0))
    cut = frame_class.checkpoint
    kept = []

    def keeping(self, *args, **kwargs):
        kept.append(cut(self, *args, **kwargs))
        return kept[-1]

    monkeypatch.setattr(frame_class, "checkpoint", keeping)
    yield reliable_cuts


@pytest.fixture()
def multi_split(spark):
    """A clone of ``spark`` that splits file scans at 16 KB, below the size
    of every sf0.001 fact table. ``sources.load`` declares a table scanned
    as one partition single-partition, so no exchange is planned above it;
    under this clone those tables scan as several partitions and keep the
    exchanges a multi-split source gets at any scale. It is Spark's own
    split setting, cloned after the test's fixtures set theirs."""
    from artigraph_spark.session import child_session

    return child_session(spark, {"spark.sql.files.maxPartitionBytes": "16k"})
