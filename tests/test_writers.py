"""Write-side posture: partitioned layout + partition pruning.

At 100 TB the table layout IS the index: partitionBy on the filter column
means a predicate prunes entire directories before any IO.  The corpus is
read-only, so the test writes its own partitioned copy and asserts the scan
shows PartitionFilters (pruning) rather than a post-scan filter.
"""

import pytest
from pyspark.sql import functions as F

from spark_kafka_realm_time_data_pipeline_spark.session import scoped_conf
from spark_kafka_realm_time_data_pipeline_spark.sources.files import load_table

from conftest import SF_DIR


@pytest.fixture(scope="module")
def partitioned_events(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("part") / "events_by_type")
    ev = load_table(spark, SF_DIR, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    return out


def test_partition_pruning(spark, partitioned_events):
    df = spark.read.parquet(partitioned_events).filter(F.col("event_type") == "error")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    scan_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_type" in scan_line.split("PartitionFilters")[1].split("]")[0]


def test_partitioned_roundtrip_counts(spark, partitioned_events):
    orig = load_table(spark, SF_DIR, "events").groupBy("event_type").count()
    part = spark.read.parquet(partitioned_events).groupBy("event_type").count()
    assert {tuple(r) for r in orig.collect()} == {tuple(r) for r in part.collect()}


def test_dynamic_partition_overwrite(spark, tmp_path_factory):
    """Incremental backfill: with partitionOverwriteMode=dynamic, an
    overwrite touches ONLY the partitions present in the written batch —
    the pattern a daily re-run of one day's shard depends on.  (The static
    default would wipe every other partition, a catastrophic backfill bug
    at 100 TB.)"""
    out = str(tmp_path_factory.mktemp("dyn") / "events_dyn")
    ev = load_table(spark, SF_DIR, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    before = {
        tuple(r)
        for r in spark.read.parquet(out).groupBy("event_type").count().collect()
    }

    patch = (
        ev.filter(F.col("event_type") == "error")
        .limit(10)
        .withColumn("value", F.lit(0.0))
    )
    with scoped_conf(spark, **{"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        patch.write.mode("overwrite").partitionBy("event_type").parquet(out)

    after = {
        tuple(r)
        for r in spark.read.parquet(out).groupBy("event_type").count().collect()
    }
    # the error partition was replaced by the 10-row patch...
    assert ("error", 10) in after
    # ...and every other partition survived untouched
    assert {t for t in before if t[0] != "error"} == {
        t for t in after if t[0] != "error"
    }
