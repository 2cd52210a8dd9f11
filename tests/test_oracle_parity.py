"""Oracle parity for the whole registry, proven live at sf0.001.

Every registry query runs once through tools/plan_audit.audit_one, which
builds it with the plan captures on, and its frame is then compared to the
DuckDB oracle by tools/check.check_one (declared types, row count, column
names, value types, order-insensitive value hash); a query without an
oracle must return rows.  The streaming twins share their batch twin's
oracle, so this also checks that a stream's result equals the batch query
over the same input.

The same run holds each query's physical plans to the reviewed
anti-pattern allowlists below: no CartesianProduct anywhere, row-at-a-time
Python UDFs and nested-loop joins only where reviewed, and the
barrier-final queries must expose their pre-checkpoint stage plans.
"""

import os
import sys

import pytest

import __spark_entry__ as entrymod

from conftest import SF_DIR

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check import check_one, oracle_con  # noqa: E402
from plan_audit import audit_one  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# The one row-at-a-time Python UDF in the suite: the documented
# inventory-parity entry (queries/udfs.py), never a hot path.
ALLOWED_BATCH_EVAL = {"python_udf_scalar"}

# Every BroadcastNestedLoopJoin below is against a k-row or 1-row frame
# that is bounded by CONSTRUCTION, not by statistics: scalar-subquery
# results (tpch_q11/q22), broadcast totals (bm25/tfidf/length_drift/
# fk_integrity), k centroids or query vectors (kmeans/sim_*), a 1-row
# bloom bitmap (bloom_prune_join).  A new name appearing here means a new
# non-equi join whose build side must be proven bounded first.
ALLOWED_BNLJ = {
    "bloom_prune_join",
    "bm25_term_scores",
    "fk_integrity_audit",
    "kmeans_embeddings",
    "length_drift_report",
    # the checkpointed `matched` frame crossJoins broadcast(n_docs) — a
    # 1-row global-count scalar (operators/text.py:retrieval_rrf_fusion),
    # same class as the bm25/tfidf totals
    "retrieval_rrf_fusion",
    "sim_bruteforce_topk",
    # rebuild acceptance gate: brute_force_topk's broadcast of the BOUNDED
    # day-2 acceptance batch (110 queries) against the merged corpus —
    # the declared oracle tier, same class as sim_bruteforce_topk
    "sim_rebuild_recall",
    "sim_incremental_range",  # delta x broadcast(centroids): n_clusters rows
    "sim_incremental_topk",  # delta x broadcast(centroids): n_clusters rows
    "sim_index_merge",  # gate probe + assignment: both broadcast(centroids)
    "sim_topk_day2",  # merged-index probe: delta x broadcast(centroids)
    # the foreachBatch twins of the two probes above — identical
    # per-trigger delta x broadcast(centroids) shape, n_lists rows on the
    # build side
    "streaming_sim_topk",
    "streaming_sim_topk_day2",
    "sim_ivf_topk",
    "sim_recall_report",
    "tfidf_top_terms",
    "tpch_q11_important_stock",
    "tpch_q22_global_sales",
}

# Queries whose final frame is a localCheckpoint barrier: their real
# joins/shuffles run in pre-barrier stage jobs, which the audit must see.
BARRIER_FINAL = {
    # the funnel returns its decisions pinned inside its AQE-off scope
    "ingest_admission",
    "ingest_admission_day2",
    "ingest_index_merge",
    "dedup_incremental",
    "dedup_containment",
    "dedup_incremental_indexed",
    "dedup_jaccard_prefix",
}


@pytest.fixture(scope="module")
def con():
    c = oracle_con(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle_and_plan_allowlist(spark, con, name):
    row, df = audit_one(spark, name, QUERIES[name], SF_DIR)
    problems = check_one(df, con, ORACLES.get(name))
    assert not problems, problems

    flags = set(row["flags"])
    assert "CartesianProduct" not in flags, row
    if "BatchEvalPython" in flags:
        assert name in ALLOWED_BATCH_EVAL, row
    if "BroadcastNestedLoopJoin" in flags:
        assert name in ALLOWED_BNLJ, row
    if name in BARRIER_FINAL:
        assert row.get("n_stage_plans", 0) > 0, row
        assert sum(row["stage_counts"].values()) > 0, row
