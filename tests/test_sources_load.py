"""``sources.load``: each file version's schema is inferred once, and a
source Spark scans as one partition is declared single-partition.

Spark infers a parquet schema by running a job; ``load`` keeps the resolved
schema per file version (and per type-mapping conf), so a repeat load runs
no job, a rewritten file is re-inferred, and every load still builds a
fresh relation. The split count is Spark's own answer for the bare read,
taken without a job; a multi-split source and one at a path ``os.stat``
cannot read keep their exchanges.
"""

import itertools
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from artigraph_spark import plans as P
from artigraph_spark.sources import DEFAULT_SF_DIR, file_schema, load

# The sf0.001 fixture, next to the default scale factor's directory.
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.001")
NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_GROUPS = itertools.count()


def _load_counting_jobs(spark, sf_dir, name):
    """``load`` under a fresh job group: (frame, jobs the call ran)."""
    sc = spark.sparkContext
    group = f"test_sources_load:{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        df = load(spark, sf_dir, name)
    finally:
        sc.setJobGroup("test_sources_load:idle", "idle")
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_file_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}),
                   tmp_path / "region.parquet")
    first, jobs = _load_counting_jobs(spark, str(tmp_path), "region")
    assert jobs >= 1  # the miss runs Spark's inference job
    second, jobs = _load_counting_jobs(spark, str(tmp_path), "region")
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_picked_up(spark, tmp_path):
    path = tmp_path / "part.parquet"
    pq.write_table(pa.table({"p_partkey": [1, 2]}), path)
    assert load(spark, str(tmp_path), "part").columns == ["p_partkey"]
    pq.write_table(pa.table({"p_partkey": [1, 2], "p_name": ["x", "y"]}), path)
    df = load(spark, str(tmp_path), "part")
    assert df.columns == ["p_partkey", "p_name"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_file_rewritten_in_place_inside_a_directory_is_picked_up(spark, tmp_path):
    # Rewriting a file under its old name leaves the directory's own
    # mtime alone, so the version must cover the files under it.
    part = tmp_path / "orders.parquet" / "o_year=1995" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"o_orderkey": [1]}), part)
    assert load(spark, str(tmp_path), "orders").columns == ["o_orderkey", "o_year"]
    pq.write_table(pa.table({"o_orderkey": [1], "o_custkey": [7]}), part)
    df = load(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "o_custkey", "o_year"]
    assert df.collect() == [(1, 7, 1995)]


def test_type_mapping_conf_is_part_of_the_key(spark, tmp_path):
    pq.write_table(pa.table({"n_name": pa.array([b"x"], pa.binary())}),
                   tmp_path / "nation.parquet")
    assert isinstance(load(spark, str(tmp_path), "nation").schema["n_name"].dataType,
                      T.BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df = load(spark, str(tmp_path), "nation")
        assert isinstance(df.schema["n_name"].dataType, T.StringType)
        assert df.collect()[0]["n_name"] == "x"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")


def _write_nanos_events(tmp_path):
    """The fixture's events with ts as parquet TIMESTAMP(NANOS), the type
    load("events") reads as raw int64 nanos and converts."""
    t = pq.read_table(f"{SF}/events.parquet")
    t = t.set_column(t.schema.get_field_index("ts"), "ts", t["ts"].cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet", version="2.6")
    return t


def test_events_hit_converts_ts_and_leaves_nanos_flag_unset(spark, tmp_path):
    t = _write_nanos_events(tmp_path)  # a new file, so a miss first
    spark.conf.unset(NANOS)
    miss, jobs = _load_counting_jobs(spark, str(tmp_path), "events")
    assert jobs >= 1
    assert spark.conf.get(NANOS, None) is None
    hit, jobs = _load_counting_jobs(spark, str(tmp_path), "events")
    assert jobs == 0
    assert spark.conf.get(NANOS, None) is None
    assert isinstance(hit.schema["ts"].dataType, T.TimestampType)
    assert hit.schema == miss.schema
    cols = ["event_id", "ts", "user_id"]
    rows = sorted(hit.select(cols).collect())
    assert rows == sorted(miss.select(cols).collect())
    assert len(rows) == t.num_rows


def test_concurrent_loads_agree(spark, tmp_path):
    # More threads than cores, misses and hits interleaved: the events
    # inference scope and the shared schema map must give every caller
    # the same schema and leave the nanos flag unset.
    _write_nanos_events(tmp_path)
    pq.write_table(pa.table({"r_regionkey": [0]}), tmp_path / "region.parquet")
    spark.conf.unset(NANOS)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(load, spark, str(tmp_path), name)
                       for name in ("events", "region") * 8]
            schemas = [f.result(timeout=120).schema for f in futures]
    finally:
        sys.setswitchinterval(switch)
    assert len({s.json() for s in schemas[0::2]}) == 1
    assert isinstance(schemas[0]["ts"].dataType, T.TimestampType)
    assert {s.json() for s in schemas[1::2]} == {load(spark, str(tmp_path), "region").schema.json()}
    assert spark.conf.get(NANOS, None) is None


def test_two_loads_self_join_without_ambiguity(spark):
    a = load(spark, SF, "orders")
    b = load(spark, SF, "orders")  # a cache hit: must still be a new relation
    got = a.alias("a").join(
        b.alias("b"),
        (a.o_custkey == b.o_custkey) & (a.o_orderkey < b.o_orderkey),
    ).count()
    rows = [(r.o_orderkey, r.o_custkey) for r in a.select("o_orderkey", "o_custkey").collect()]
    want = sum(1 for x in rows for y in rows if x[1] == y[1] and x[0] < y[0])
    assert got == want > 0


@pytest.mark.parametrize("name", ["events", "lineitem"])
def test_hit_still_resets_session_time_zone_to_utc(spark, name):
    tz = "spark.sql.session.timeZone"
    load(spark, SF, name)  # make sure the next load is a hit
    spark.conf.set(tz, "America/New_York")
    try:
        _, jobs = _load_counting_jobs(spark, SF, name)
        assert jobs == 0
        assert spark.conf.get(tz) == "UTC"
    finally:
        spark.conf.set(tz, "UTC")


def _customers(tmp_path):
    n = 20_000
    pq.write_table(
        pa.table({"c_custkey": list(range(n)), "c_nationkey": [i % 25 for i in range(n)]}),
        tmp_path / "customer.parquet",
    )
    assert os.path.getsize(tmp_path / "customer.parquet") > 16 * 1024  # above multi_split's splits
    return str(tmp_path)


def test_cold_split_count_runs_no_job(spark, multi_split, tmp_path):
    sf_dir = _customers(tmp_path)
    file_schema(spark, sf_dir, "customer")  # the inference job, outside the count
    single, jobs = _load_counting_jobs(spark, sf_dir, "customer")  # split count cold
    assert jobs == 0
    by_nation = single.groupBy("c_nationkey").count()
    assert P.count_shuffles(by_nation) == 0
    # A source Spark scans as several partitions keeps its exchange.
    split = load(multi_split, sf_dir, "customer").groupBy("c_nationkey").count()
    assert P.count_shuffles(split) == 1
    assert sorted(by_nation.collect()) == sorted(split.collect())


def test_unstattable_path_is_not_declared(spark, tmp_path):
    # A URI os.stat cannot read, as a remote one would be: Spark still
    # reads it, and load declares nothing.
    sf_dir = "file://" + _customers(tmp_path)
    df = load(spark, sf_dir, "customer")
    assert "Coalesce" not in df._jdf.queryExecution().executedPlan().toString()
    assert P.count_shuffles(df.groupBy("c_nationkey").count()) == 1
    assert df.count() == 20_000
