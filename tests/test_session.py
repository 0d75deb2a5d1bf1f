"""``session.get_spark``'s defaults: the driver-memory default is derived
from the host's ``MemTotal`` so a local run cannot grow the driver past the
machine, and DataFrame debugging (a call-site capture on every PySpark API
call) is off."""

from __future__ import annotations

from pathlib import Path

import pytest

from artigraph_spark.session import child_session, default_driver_memory

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
DISPATCH_DATA = str(Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.01")


@pytest.mark.parametrize(
    ("mem_total_kb", "want"),
    [
        (16_456_384, "6g"),  # a 15.7 GiB host: 40% is 6.28 GiB
        (64 * 1024 * 1024, "25g"),
        (1024 * 1024, "1g"),  # never below 1g
        (512 * 1024 * 1024, "90g"),  # capped at the former fixed default
    ],
)
def test_driver_memory_is_a_share_of_mem_total(tmp_path, mem_total_kb, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {mem_total_kb} kB\nMemFree:        1024 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == want


def test_unreadable_meminfo_keeps_the_cap(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "90g"
    garbled = tmp_path / "garbled"
    garbled.write_text("MemFree: 12 kB\n")
    assert default_driver_memory(str(garbled)) == "90g"


def test_dataframe_debugging_is_off_in_engine_sessions(spark):
    assert spark.conf.get(DEBUGGING) == "false"
    # A static conf: a cloned session cannot diverge from its parent.
    assert child_session(spark, {"spark.sql.shuffle.partitions": "3"}).conf.get(DEBUGGING) == "false"


# py4j commands sent while defining (not running) each query on the
# benchmark's fixture copy: 455 and 148 with call-site capture off (1,304
# and 403 with it on, counted when the capture was turned off). The
# budgets are about 1.5x the former (the window_session one was set at
# 143).
DEFINE_BUDGET = {"survival_km_users": 680, "window_session": 215}


@pytest.mark.parametrize("name", sorted(DEFINE_BUDGET))
def test_defining_a_dispatch_query_stays_in_its_round_trip_budget(spark, name):
    import pyspark.errors.utils as perr

    from artigraph_spark.queries import queries
    from artigraph_spark.sources import load

    fn = queries()[name]
    load(spark, DISPATCH_DATA, "events").schema  # schema inference outside the count
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        # Memory commands ("m") release earlier proxies whenever Python
        # frees them; they are not part of defining this query.
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    # PySpark reads the debugging flag once per process, on the first
    # wrapped call; clearing the cache makes this test read the session's
    # setting whatever ran before it.
    cached = perr._enable_debugging_cache
    perr._enable_debugging_cache = None
    client.send_command = counting
    try:
        fn(spark, DISPATCH_DATA)
    finally:
        del client.send_command
        perr._enable_debugging_cache = cached
    assert 0 < len(sent) <= DEFINE_BUDGET[name], len(sent)
