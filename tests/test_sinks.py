"""Sink adapters (K1/K2 parity). No broker exists in the sandbox, so the
console and foreachBatch paths execute for real; the Kafka builders are
validated structurally (they construct without a broker — failure happens
only at connect time, which is the production path)."""

import pathlib
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_kafka_realm_time_data_pipeline_spark.sources.files import stream_table
from spark_kafka_realm_time_data_pipeline_spark.streaming import runner
from spark_kafka_realm_time_data_pipeline_spark.streaming.sinks import (
    console_sink,
    foreach_batch_sink,
)

from conftest import SF_DIR


def _events_rows(spark) -> int:
    """Expected row count from a batch read of the same table — not a
    hardcoded corpus-snapshot literal, so a regenerated corpus can't fail
    these tests spuriously."""
    return spark.read.parquet(f"{SF_DIR}/events.parquet").count()


def test_console_sink_runs(spark, tmp_path, monkeypatch):
    """K2: the reference's console sink (sparkpyrediskafkastreamtoconsole.py:154)
    over a bounded replay — must process all rows and terminate.  (The
    printed table goes to the JVM's stdout, echoed asynchronously — assert
    on query progress, which is the sink's own accounting.)"""
    ev = stream_table(spark, SF_DIR, "events").select("event_id", "event_type")
    # the sink checkpoints into a fresh temp dir; keep it under tmp_path
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    q = console_sink(ev, num_rows=5)
    q.awaitTermination(120)
    progress = list(q.recentProgress)
    q.stop()
    assert progress, "no micro-batch ran"
    assert any("Console" in p["sink"]["description"] for p in progress)
    assert sum(p["numInputRows"] for p in progress) == _events_rows(spark)


def test_foreach_batch_sink_collects(spark, tmp_path):
    """foreachBatch: arbitrary batch sink — counts per micro-batch land in
    the driver-side accumulator list."""
    seen = []
    ev = stream_table(spark, SF_DIR, "events").select("event_id")

    def collect(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    q = foreach_batch_sink(ev, collect, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    q.stop()
    assert sum(n for _b, n in seen) == _events_rows(spark)


@pytest.mark.parametrize(
    "name",
    [
        "streaming_foreachbatch_topk",  # complete mode: overwrite per batch
        "streaming_mv_update",  # run_foreach_batch with a finish fold
        "streaming_idempotent_sink",  # crash + restart on one checkpoint
        "state_store_inspect",  # memory sink + state data source read
        "envelope_pyds_sink",  # Python data source stream writer
    ],
)
def test_foreachbatch_twin_leaves_no_temp_dir(spark, tmp_path, monkeypatch, name):
    """Every registry query that owns a scratch dir removes everything it
    puts under the temp dir, its stream checkpoint included."""
    from spark_kafka_realm_time_data_pipeline_spark.queries import registry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = registry()[name].fn(spark, SF_DIR)
    assert out.count() > 0
    assert sorted(p.name for p in tmp_path.iterdir()) == []


def test_drain_times_out_and_stops_the_query(spark, tmp_path, monkeypatch):
    """A replay that does not finish raises instead of returning a partial
    result, and is stopped on the way out."""
    monkeypatch.setattr(runner, "DRAIN_TIMEOUT_S", 1)
    ev = stream_table(spark, SF_DIR, "events").select("event_id")
    q = foreach_batch_sink(
        ev,
        lambda batch_df, batch_id: None,
        available_now=False,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(TimeoutError):
        runner.drain(q)
    assert not q.isActive


def test_run_foreach_batch_failure_surfaces_and_cleans_up(
    spark, tmp_path, monkeypatch
):
    """A per-batch operator that raises fails the replay with the stream's
    own exception, and the scratch dir is still removed."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ev = stream_table(spark, SF_DIR, "events").select("event_id")

    def boom(batch_df):
        raise RuntimeError("per-batch operator failed")

    with pytest.raises(StreamingQueryException):
        runner.run_foreach_batch(ev, spark, boom)
    assert sorted(p.name for p in tmp_path.iterdir()) == []


def test_queries_drain_through_the_runner():
    """Bounded replays in queries/ wait and read progress only through
    streaming.runner.drain, never by hand."""
    qdir = pathlib.Path(runner.__file__).parent.parent / "queries"
    offenders = [
        f"{path.name}: {needle}"
        for path in sorted(qdir.glob("*.py"))
        for needle in ("awaitTermination(", "recentProgress")
        if needle in path.read_text()
    ]
    assert offenders == []


def test_kafka_builders_construct():
    """Source configs are importable and well-formed. Note kafka_stream
    itself fails fast in this sandbox (AnalysisException: data source kafka
    not found — the spark-sql-kafka package isn't deployed here); broker
    connection is lazy but data-source resolution is not."""
    from spark_kafka_realm_time_data_pipeline_spark.sources.kafka import (
        REDIS_SERVER,
        STEDI_EVENTS,
        KafkaSourceConfig,
    )

    assert REDIS_SERVER.topic == "redis-server"
    assert STEDI_EVENTS.topic == "stedi-events"
    assert KafkaSourceConfig(topic="t").starting_offsets == "earliest"
