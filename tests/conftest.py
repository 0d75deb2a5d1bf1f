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
