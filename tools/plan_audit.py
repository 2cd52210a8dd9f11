"""Automated physical-plan anti-pattern audit over the whole registry.

Builds every registry query at a small SF, reads its physical plans, and
flags the shapes that do not survive a 100 TB cluster:

- ``CartesianProduct``      — an unconstrained cross product of two
                              non-broadcast sides (always a defect);
- ``BatchEvalPython``       — a row-at-a-time Python UDF in the plan (the
                              pickling slow path; only the documented
                              inventory-parity query may carry one);
- ``BroadcastNestedLoopJoin`` — legitimate ONLY against a provably tiny
                              broadcast side (k-row centroid/total frames);
                              every occurrence must be on the reviewed
                              allowlist or it is a new non-equi join that
                              would OOM/loop at scale.

Exchange / scan / Python-eval node counts are recorded per query as
informational context (they vary with stats and AQE, so they are reported,
not asserted).

STREAMING CAPTURE: a streaming registry fn EXECUTES the stream and
returns a memory-sink scan, so audit_one also wraps
``StreamingQuery.stop`` and records each stream's LAST micro-batch
executed plan (``explainInternal``) before the runner tears it down;
foreachBatch bodies' real work (probe joins, parquet writes) is visible
through the localCheckpoint/writer captures.

BARRIER-STAGE CAPTURE: a staged-probe query's final frame is often a
localCheckpoint barrier (a local relation), so audit_one wraps
DataFrame.localCheckpoint during the build and records each pre-barrier
frame's executed plan: stage counts are summed into ``stage_counts``, and
the FLAG nodes are checked across every stage plan, not just the final
one.  A query that hit a barrier on the first build while staging an index
is built a second time, so the captured stage plans are the steady
per-batch work a production trigger repeats.

SERIAL-ONLY ASSUMPTION: all captures are process-global monkeypatches —
concurrent Spark work in this process during an audit would be
mis-attributed to the query under audit.

tests/test_oracle_parity.py audits every registry query this way and
holds the flags to the reviewed allowlists there.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame

from spark_kafka_realm_time_data_pipeline_spark.queries import registry
from spark_kafka_realm_time_data_pipeline_spark.session import get_spark

FLAG_NODES = (
    "CartesianProduct",
    "BatchEvalPython",
    "BroadcastNestedLoopJoin",
)

COUNT_NODES = (
    "Exchange",
    "BroadcastExchange",
    "Scan parquet",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "BatchEvalPythonUDTF",
)


def _plan_counts(plan: str) -> dict:
    counts = {n: plan.count(n) for n in COUNT_NODES}
    # "Exchange" substring-matches BroadcastExchange too; report shuffle
    # exchanges separately.
    counts["Exchange"] -= counts["BroadcastExchange"]
    return counts


def _plan_flags(plan: str, counts: dict) -> list[str]:
    flags = [n for n in FLAG_NODES if n in plan]
    # BatchEvalPythonUDTF is the standard (row-based) Python UDTF executor
    # node, a first-class inventory surface — not the row-at-a-time scalar
    # UDF slow path this flag exists to catch.  Only flag a plain
    # BatchEvalPython occurrence that is NOT a UDTF node.
    if "BatchEvalPython" in flags and plan.count("BatchEvalPython") == counts[
        "BatchEvalPythonUDTF"
    ]:
        flags.remove("BatchEvalPython")
    return flags


def audit_one(spark, name: str, fn, sf_dir: str) -> tuple[dict, DataFrame]:
    """Build one registry query and audit its physical plans.  Returns the
    audit row (``counts``, ``flags``, and ``stage_counts``/``n_stage_plans``
    when stage plans were captured) and the built frame."""
    # patch the CLASSIC DataFrame class — pyspark.sql.DataFrame is the
    # abstract parent in Spark 4 and instances resolve the method on the
    # classic subclass, so patching the parent intercepts nothing
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # pre-4.0 layout
        from pyspark.sql import DataFrame as _DF
    from pyspark.sql.readwriter import DataFrameWriter as _DFW
    from pyspark.sql.streaming.query import StreamingQuery as _SQ

    import spark_kafka_realm_time_data_pipeline_spark.queries.curation as _cur
    import spark_kafka_realm_time_data_pipeline_spark.queries.llm as _llm

    captured: list[str] = []
    staged_fresh: list[str] = []  # fingerprint-staged index BUILT this run
    orig_lcp = _DF.localCheckpoint
    orig_parquet = _DFW.parquet
    orig_stop = _SQ.stop
    orig_staged = _llm._staged_index

    def capturing_lcp(self, *args, **kwargs):
        captured.append(self._jdf.queryExecution().executedPlan().toString())
        return orig_lcp(self, *args, **kwargs)

    def capturing_parquet(self, *args, **kwargs):
        # write-path jobs are where merge/maintenance queries do their real
        # probe/assignment work — capture the written frame's plan too
        captured.append(
            self._df._jdf.queryExecution().executedPlan().toString()
        )
        return orig_parquet(self, *args, **kwargs)

    def capturing_stop(self, *args, **kwargs):
        # the LAST micro-batch's executed plan, read before the runner
        # tears the stream down — the only moment the registry contract
        # exposes a streaming query's physical plan
        try:
            captured.append(self._jsq.explainInternal(False))
        except Exception:  # noqa: BLE001 — a stream that never ran a batch
            pass
        return orig_stop(self, *args, **kwargs)

    def counting_staged(spark_, sf_dir_, src_table, prefix, subdir, build):
        def counting_build(path):
            staged_fresh.append(prefix)
            return build(path)

        return orig_staged(spark_, sf_dir_, src_table, prefix, subdir, counting_build)

    _DF.localCheckpoint = capturing_lcp
    _DFW.parquet = capturing_parquet
    _SQ.stop = capturing_stop
    _llm._staged_index = counting_staged
    try:
        ppl_before = len(_cur._PPL_MODEL_DIRS)
        df = fn(spark, sf_dir)
        if captured and (staged_fresh or len(_cur._PPL_MODEL_DIRS) > ppl_before):
            # one-time staging (fingerprint-keyed index / session ppl
            # model) polluted the captured plans — rebuild so the stage
            # plans are the steady per-batch work only.  When nothing
            # staged fresh (the warm case), the first run IS steady state
            # and the rebuild is skipped (ADVICE r18: the unconditional
            # rebuild doubled audit wall for the heaviest lines).
            captured.clear()
            df = fn(spark, sf_dir)
    finally:
        _DF.localCheckpoint = orig_lcp
        _DFW.parquet = orig_parquet
        _SQ.stop = orig_stop
        _llm._staged_index = orig_staged
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = _plan_counts(plan)
    flags = set(_plan_flags(plan, counts))
    row = {"counts": counts}
    if captured:
        stage_counts: dict[str, int] = {}
        for sp in captured:
            sc = _plan_counts(sp)
            flags.update(_plan_flags(sp, sc))
            for k, v in sc.items():
                stage_counts[k] = stage_counts.get(k, 0) + v
        row["stage_counts"] = stage_counts
        row["n_stage_plans"] = len(captured)
    row["flags"] = sorted(flags)
    return row, df


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark()
    n_err = 0
    for name, spec in registry().items():
        if only and name not in only:
            continue
        try:
            row, _ = audit_one(spark, name, spec.fn, sf_dir)
        except Exception:
            print(f"ERROR {name}")
            traceback.print_exc(limit=3)
            n_err += 1
            continue
        print(name, json.dumps(row, sort_keys=True))
    if n_err:
        print(f"{n_err} errors")


if __name__ == "__main__":
    main()
