"""Bucketed-join layout: the shuffle paid at write time buys exchange-free
joins afterwards — asserted on the physical plan."""

import pytest
from pyspark.sql import functions as F

from artigraph_spark import plans as P
from artigraph_spark.operators.bucketing import bucketed_join, write_bucketed
from artigraph_spark.sources import load

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("warehouse")
    # disable auto-broadcast so the join strategy is driven by bucketing
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = load(spark, SF, "lineitem")
    o = load(spark, SF, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    write_bucketed(
        li, "b_lineitem", bucket_by="l_orderkey", num_buckets=4,
        sort_by="l_orderkey", path=str(warehouse / "b_lineitem"),
    )
    write_bucketed(
        o, "b_orders", bucket_by="l_orderkey", num_buckets=4,
        sort_by="l_orderkey", path=str(warehouse / "b_orders"),
    )
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    joined = bucketed_join(spark, "b_lineitem", "b_orders", "l_orderkey")
    assert P.count_exchanges(joined) == 0
    assert "SortMergeJoin" in P.physical_plan(joined, "simple")


def _plain_join(session):
    li = load(session, SF, "lineitem")
    o = load(session, SF, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    return li.join(o, "l_orderkey")


def test_unbucketed_join_needs_exchanges(spark, bucketed_tables, multi_split):
    # Over multi-split scans: load() declares a one-split table
    # single-partition, and two such sides join with no exchange at all.
    joined = _plain_join(multi_split)
    assert P.count_exchanges(joined) >= 1  # the shuffle bucketing removes
    single = _plain_join(spark)
    assert P.count_shuffles(single) == 0
    assert sorted(single.collect()) == sorted(joined.collect())


def test_bucketed_results_match_plain(spark, bucketed_tables):
    bucketed = bucketed_join(spark, "b_lineitem", "b_orders", "l_orderkey")
    plain = _plain_join(spark)
    assert bucketed.count() == plain.count()
    b_sum = bucketed.agg(F.sum("l_quantity")).collect()[0][0]
    p_sum = plain.agg(F.sum("l_quantity")).collect()[0][0]
    assert abs(b_sum - p_sum) < 1e-6
