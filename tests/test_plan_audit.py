"""Live smoke tests for the plan audit (tools/plan_audit.py).

tests/test_oracle_parity.py runs the audit over the whole registry and
holds its flags to the reviewed allowlists; these pin the audit itself: it
must flag a known nested-loop join, flag nothing on a clean aggregate, and
capture the stage plans behind a localCheckpoint barrier.
"""

import os
import sys

from spark_kafka_realm_time_data_pipeline_spark.queries import registry

from conftest import SF_DIR

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from plan_audit import audit_one  # noqa: E402


def test_audit_one_live_smoke(spark):
    reg = registry()
    clean, _ = audit_one(spark, "pricing_summary", reg["pricing_summary"].fn, SF_DIR)
    assert clean["flags"] == [], clean
    flagged, _ = audit_one(
        spark, "tpch_q22_global_sales", reg["tpch_q22_global_sales"].fn, SF_DIR
    )
    assert flagged["flags"] == ["BroadcastNestedLoopJoin"], flagged


def test_stage_capture_live(spark):
    """audit_one on a barrier-final query captures >=1 stage plan with real
    scan/exchange counts."""
    reg = registry()
    row, _ = audit_one(
        spark, "dedup_containment", reg["dedup_containment"].fn, SF_DIR
    )
    assert row.get("n_stage_plans", 0) >= 1, row
    assert row["stage_counts"]["Scan parquet"] > 0, row
