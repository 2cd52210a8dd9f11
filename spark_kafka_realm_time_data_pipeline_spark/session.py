"""SparkSession factory for the engine.

The reference (``/root/reference/sparkpykafkajoin.py:42-45``) builds a bare
``SparkSession`` with default configs on Spark 2.3.4 — no AQE, 200 shuffle
partitions, no tuning. The new engine sets a 100 TB-minded posture from the
start:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  SMJ->BHJ conversion) — Spark 3+/4 built-ins the reference predates.
- ``spark.sql.shuffle.partitions`` sized to local cores for tests; on a real
  cluster this is overridden (or left to AQE coalescing with a high initial
  value).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for the Pandas-UDF extension operators (vectorized transfer).
"""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile
from contextlib import contextmanager

from pyspark.sql import SparkSession

# local[N] size when the caller names none: the cores this process may run
# on, unless SPARK_GRAFT_CPUS overrides it (bench.py scaling runs set it).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# Runtime-settable confs the engine needs on ANY session, including one the
# test driver built itself (configure_runtime applies them post-hoc).
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # the synthetic corpus historically wrote TIMESTAMP(NANOS) parquet, which
    # Spark refuses natively; read as long and convert at the source layer
    # (sources/files.py) — DuckDB likewise truncates nanos to micros.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # the regenerated corpus writes plain timestamp[us] (no zone); Spark 4
    # would infer TIMESTAMP_NTZ, which withWatermark rejects outright
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and unix_micros can't consume.
    # Read as TIMESTAMP_LTZ under the pinned UTC session zone instead — the
    # exact semantics the DuckDB oracle (UTC-naive) hash-agrees with.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # RocksDB state store: the HDFS-backed default keeps all streaming state
    # (join/window/dedup maps) on the JVM heap — the reference's unbounded
    # join state (sparkpykafkajoin.py:184-187) would OOM executors at real
    # volume even with watermark eviction, because eviction only bounds
    # logical state, not its heap residency.  RocksDB spills state to local
    # disk with incremental checkpointing — the Spark 3.2+ posture for
    # large-state streaming (SURVEY.md §4.2).
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}


def _package_zip() -> str:
    """Zip this package so addPyFile ships it to Python workers — without
    this, mapInPandas/pandas_udf closures that reference the package by name
    raise ModuleNotFoundError on executors unless the driver's cwd happens
    to be the repo root."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"{pkg_name}_pyfiles_{os.getpid()}.zip")
    # write to a unique temp file then atomically rename: a fixed shared
    # path would race concurrent Spark processes shipping the same zip
    fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
    os.close(fd)
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                fpath = os.path.join(root, fname)
                arc = os.path.join(pkg_name, os.path.relpath(fpath, pkg_dir))
                zf.write(fpath, arc)
    os.replace(tmp, zpath)
    # the zip is per process (pid in its name): remove it when the process exits
    atexit.register(_remove_quietly, zpath)
    return zpath


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


@contextmanager
def scoped_conf(spark: SparkSession, **confs: str):
    """Set runtime SQL confs for the body of a ``with`` block, then put
    each key back as it was: the previous value if it was set, unset if it
    was not — also when the body raises.  Pass dotted keys with ``**``:
    ``scoped_conf(spark, **{"spark.sql.adaptive.enabled": "false"})``.

    Confs are read when a plan EXECUTES, not when it is built, so a frame
    returned lazily from the block runs under the restored confs; pin it
    inside the block if it must run under the scoped ones.  The confs are
    session-wide while the block runs, so queries that other threads run on
    the same session see them too."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply the engine's posture to an existing SparkSession (e.g. one the
    test driver created): runtime confs + ship the package to executors.
    Idempotent and cheap to call per-query."""
    for k, v in RUNTIME_CONF.items():
        # all RUNTIME_CONF keys are runtime-settable SQL confs; a failure
        # here is a real problem (e.g. nanosAsLong missing corrupts every
        # timestamp read) and must surface, not be swallowed
        spark.conf.set(k, v)
    if not getattr(spark, "_sktp_pyfiles_shipped", False):
        try:
            spark.sparkContext.addPyFile(_package_zip())
        except Exception as exc:
            # only the same-name re-add is benign; anything else means the
            # package never reached Python workers — surface it
            if "has already been registered" not in str(exc) and "already exists" not in str(exc):
                raise
        spark._sktp_pyfiles_shipped = True
    return spark


def get_spark(
    app_name: str = "spark-graft-engine",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's scale posture.

    On a cluster, ``master`` comes from spark-submit; ``local[N]`` is only the
    fallback for the test/bench environment.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the synthetic corpus historically wrote TIMESTAMP(NANOS) parquet,
        # which Spark refuses natively; read as long and convert at the
        # source layer (sources/files.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # plain timestamp[us] corpus columns must read as LTZ-under-UTC, not
        # NTZ (watermarks reject NTZ); see RUNTIME_CONF.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # ContextCleaner's periodic GC defaults to 30 MINUTES: a long-lived
        # session (the bench drives ~190 query executions through one JVM)
        # pins every collected localCheckpoint block and shuffle file until
        # then, and the accumulated pressure taxes every later query.  A
        # static core conf — settable only at context start, so it lives
        # here and not in RUNTIME_CONF.
        .config("spark.cleaner.periodicGC.interval", "90s")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{n}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_runtime(spark)
