"""Streaming execution harness — run a streaming plan to completion.

The reference starts its streams with console/Kafka sinks and blocks forever
(``sparkpyrediskafkastreamtoconsole.py:154``, ``sparkpykafkajoin.py:202-209``
— the second console sink at :211 is dead code because :209 never returns).
The engine's harness instead uses the **memory sink + availableNow trigger**:
process everything the source currently has, flush stateful operators via
no-data micro-batches, terminate, and hand back the result as a bounded
DataFrame.  That is what makes streaming semantics *testable* — the driver's
DuckDB oracle and pytest both consume the returned table.

At cluster scale the same plans run with a Kafka sink and a processing-time
trigger (see sinks.py); only the sink/trigger wiring differs — the
transformation graph is byte-identical (Structured Streaming's unbounded-
table model).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import scoped_conf

# Shuffle-partition count for stateful streaming runs.  Every stateful
# operator opens ONE state store PER shuffle partition PER micro-batch, and
# a stream-stream join opens four; with RocksDB each store is a native
# instance with fixed open/commit cost.  Size this to state VOLUME (rows
# per partition), not CPU count: at local bench scale, 32 partitions means
# 128 near-empty RocksDB instances per batch and the fixed cost dominates
# (measured 19.6s -> 5.6s on the sf0.1 flagship join going 32 -> 8).  On a
# real cluster raise it so per-partition state fits executor memory/disk —
# the partition count is pinned by the first checkpoint, so pick it for the
# steady-state volume.
STREAM_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "4")

# State-store provider for BOUNDED availableNow replays only.  The session
# default (session.py) is RocksDB — the right posture for unbounded
# production streams whose state must live off-heap.  A bounded replay's
# state is capped by the (already materialized) input and dies with the
# run, so the JVM-heap HDFSBackedStateStoreProvider wins: no JNI write per
# row, no native instance open/commit per store per micro-batch (measured
# 5.5s -> 4.1s on the sf0.1 flagship join, combined with 8 -> 4 state
# partitions).  Production paths (sinks.py, processing-time triggers) never
# pass through here and keep the RocksDB session default.
REPLAY_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)

# Checkpoint root for BOUNDED replays.  A replay's checkpoint is deleted the
# moment the query finishes (see the rmtree below), so crash-durability buys
# nothing — put the offset/commit WAL on tmpfs when available and skip the
# disk fsyncs (~0.1-0.3 s of WAL latency per replay).  Production paths
# (sinks.py) take a caller-provided durable checkpoint location and never
# pass through here.
_REPLAY_CKPT_ROOT = os.environ.get(
    "SPARK_GRAFT_REPLAY_CKPT_ROOT",
    "/dev/shm" if os.path.isdir("/dev/shm") else None,
)


def run_to_memory(
    df: DataFrame,
    spark: SparkSession,
    name: str | None = None,
    output_mode: str = "append",
    timeout_seconds: int = 300,
    no_data_batches: bool = True,
) -> DataFrame:
    """Execute a streaming DataFrame with trigger(availableNow) into an
    in-memory table and return the materialized result.

    ``availableNow`` processes all currently-available input (in one or more
    micro-batches), runs trailing no-data batches so the watermark advances
    and append-mode state (windows/sessions) is flushed, then stops — the
    deterministic replay the reference lacks (its only options were "block
    forever" or ctrl-C).

    ``no_data_batches=False`` skips the trailing no-data micro-batch.  Each
    batch pays fixed machinery (re-plan + one state-store open/commit per
    store per partition + offset/commit WAL writes) — measured ~1 s of the
    interval join's 2.1 s replay for a batch that reads ZERO rows.  Only
    operators whose OUTPUT needs the final watermark advance require it:
    append-mode windows/sessions and outer joins (emit on watermark) and
    dropDuplicatesWithinWatermark's state eviction.  Inner stream-stream
    joins, stateless maps, and complete/update-mode aggregations emit
    everything during the data batches — for those the trailing batch is
    pure overhead, and callers turn it off."""
    qname = name or f"mem_{uuid.uuid4().hex[:12]}"
    # streaming profile: fewer, fuller state partitions (see
    # STREAM_SHUFFLE_PARTITIONS), restored after the bounded replay ends so
    # batch queries keep the session default.  recentProgress retains only
    # numRecentProgressUpdates entries (default 100); the bench sums
    # numInputRows/triggerExecution over it, so a replay with more triggers
    # than the cap would silently undercount both sides of the rows/s ratio.
    confs = {
        "spark.sql.shuffle.partitions": STREAM_SHUFFLE_PARTITIONS,
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.streaming.stateStore.providerClass": REPLAY_STATE_PROVIDER,
        "spark.sql.streaming.noDataMicroBatches.enabled": (
            "true" if no_data_batches else "false"
        ),
    }
    with scoped_conf(spark, **confs):
        ckpt = tempfile.mkdtemp(prefix=f"ckpt_{qname}_", dir=_REPLAY_CKPT_ROOT)
        query = None
        try:
            query = (
                df.writeStream.format("memory")
                .queryName(qname)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            finished = query.awaitTermination(timeout_seconds)
            if not finished:
                raise TimeoutError(
                    f"streaming query {qname} did not finish within "
                    f"{timeout_seconds}s — refusing to return a partial result"
                )
            # Ingest volume from the engine's own progress metrics.  For an
            # aggregating stream the OUTPUT row count says nothing about
            # throughput (a quantile sketch emits 20 rows from millions
            # ingested), so the bench's rows/s must divide by rows PROCESSED —
            # recorded here while the StreamingQuery object still exists.
            input_rows = sum(
                int(p["numInputRows"]) for p in (query.recentProgress or []) if p
            )
            # Engine-reported processing time: the sum of per-trigger
            # triggerExecution durations — the denominator Spark's own
            # processedRowsPerSecond uses.  Excludes stream start/stop, the
            # staged-fixture fingerprint check, and the driver read-back below,
            # all per-QUERY fixed cost; bench.py divides rows by this when
            # present, so every runner-driven streaming line reports ingest
            # throughput over the per-row path, not the availableNow floor.
            proc_ms = sum(
                int(p.get("durationMs", {}).get("triggerExecution", 0))
                for p in (query.recentProgress or [])
                if p
            )
            # Per-batch df.observe() metric rows, keyed by observation name —
            # recorded the same way (the StreamingQuery object dies in finally).
            observed = [
                (p["batchId"], name, row.asDict() if hasattr(row, "asDict") else dict(row))
                for p in (query.recentProgress or [])
                if p
                for name, row in (p["observedMetrics"] or {}).items()
            ]
        finally:
            if query is not None:
                query.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    # copy the result out of the memory sink (eager localCheckpoint) and
    # drop the sink table — otherwise every call leaks a fully materialized
    # result table for the life of the session
    out = spark.table(qname).localCheckpoint(eager=True)
    spark.catalog.dropTempView(qname)
    # plain Python attributes on the returned (batch) DataFrame — consumed
    # by bench.py's rows/s and the observed-metrics query; harmless elsewhere
    out.stream_input_rows = input_rows
    if proc_ms > 0:
        out.stream_processing_secs = proc_ms / 1000.0
    out.observed_metrics = observed
    return out
