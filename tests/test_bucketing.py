"""Bucketed co-located join — the zero-shuffle join shape for repeated
large-table joins at 100 TB (bucket both fact tables on the join key at
write time; every subsequent join on that key skips the exchange).

The reference has no storage layer at all; this pins the engine's
bucketing posture: bucketed saveAsTable round-trips and the bucketed join
plan contains NO shuffle exchange on either side.
"""

import pytest
from pyspark.sql import functions as F

from spark_kafka_realm_time_data_pipeline_spark.session import scoped_conf
from spark_kafka_realm_time_data_pipeline_spark.sources.files import load_table

from conftest import NO_AUTO_BROADCAST, SF_DIR

N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("warehouse")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    (
        o.write.mode("overwrite")
        .bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(base / "orders_b"))
        .saveAsTable("orders_bucketed")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(base / "lineitem_b"))
        .saveAsTable("lineitem_bucketed")
    )
    yield "orders_bucketed", "lineitem_bucketed"
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    ot, lt = bucketed_tables
    joined = (
        spark.table(lt)
        .join(spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # force the SMJ path (at test scale Catalyst auto-broadcasts the tiny
    # side, hiding the property under test: bucket co-location removes the
    # join exchanges that a 100 TB fact-fact join would otherwise pay)
    with scoped_conf(spark, **NO_AUTO_BROADCAST):
        plan = joined._jdf.queryExecution().executedPlan().toString()
    # co-located: the join itself must not exchange either side (the final
    # small group-by agg may still shuffle — that's expected and cheap)
    join_section = plan.split("HashAggregate")[-1]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, join_section


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    ot, lt = bucketed_tables
    bucketed = (
        spark.table(lt)
        .join(spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {tuple(r) for r in bucketed.collect()} == {tuple(r) for r in plain.collect()}


def test_registry_bucketed_join_plan_and_layout(spark):
    """The driver-facing bucketed_join query: its staged layout must give
    the shuffle-free join plan AND exactly one file per bucket (the
    repartition(N, key)-before-bucketBy(N, key) writer property — without
    it every write task emits a file per bucket it touches and the layout
    degrades into a small-files problem)."""
    from spark_kafka_realm_time_data_pipeline_spark.queries import registry
    from spark_kafka_realm_time_data_pipeline_spark.queries.relational import (
        _N_BUCKETS,
        _staged_bucketed_tables,
    )

    df = registry()["bucketed_join"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    o, li = _staged_bucketed_tables(spark, SF_DIR)
    for frame in (o, li):
        files = frame.inputFiles()
        assert len(files) == _N_BUCKETS, files
