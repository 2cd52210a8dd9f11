"""sources.files.read_parquet: reads with a cached schema, and the cache
follows a rewrite of the table."""

import uuid

from spark_kafka_realm_time_data_pipeline_spark.sources.files import (
    load_table,
    read_parquet,
)


def _jobs(spark, fn):
    """Run fn under a fresh job group; return (result, Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_parquet_caches_schema_and_follows_rewrite(spark, tmp_path):
    path = str(tmp_path / "t.parquet")  # load_table's name for table "t"
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)

    first, first_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert first.columns == ["k", "v"]
    assert first_jobs >= 1  # the miss infers the schema: the counter sees jobs
    again, again_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert again.schema == first.schema
    assert again_jobs == 0

    spark.createDataFrame([(2.5, 7, True)], "x double, y int, z boolean").write.mode(
        "overwrite"
    ).parquet(path)
    rewritten = read_parquet(spark, path)
    assert rewritten.columns == ["x", "y", "z"]
    assert rewritten.collect()[0] == (2.5, 7, True)
    # load_table goes through the same cache
    table = load_table(spark, str(tmp_path), "t")
    assert table.schema == rewritten.schema


def test_read_parquet_lists_files_live(spark, tmp_path):
    """Only the schema is cached: an append is seen by the next read."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "k long").write.parquet(path)
    assert read_parquet(spark, path).count() == 1
    spark.createDataFrame([(2,)], "k long").write.mode("append").parquet(path)
    assert sorted(r.k for r in read_parquet(spark, path).collect()) == [1, 2]
