"""Physical-plan assertions — the 100 TB posture is part of correctness.

Round-1 defect: F.broadcast() on the orders FACT table in topk_join /
nation_revenue / join_range (VERDICT.md 'Performance' audit) — a guaranteed
OOM at scale.  These tests pin the fixed plans: fact-fact joins go through
SMJ/shuffled-hash, dims still broadcast, and scans prune columns.
"""

import pytest

from spark_kafka_realm_time_data_pipeline_spark.queries import registry
from spark_kafka_realm_time_data_pipeline_spark.session import scoped_conf

from conftest import NO_AUTO_BROADCAST, SF_DIR


def _plan(spark, name: str) -> str:
    df = registry()[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", ["topk_join", "nation_revenue", "join_range"])
def test_fact_fact_join_not_hint_broadcast(spark, name):
    """With auto-broadcast disabled, the fact-fact join must flip to a
    shuffle join — proving no F.broadcast() HINT forces the orders side.
    (At test scale Catalyst auto-broadcasts orders because its *statistics*
    are tiny; that is correct stats-driven planning.  The defect was the
    hint, which ignores statistics and OOMs at 100x.)"""
    with scoped_conf(spark, **NO_AUTO_BROADCAST):
        plan = _plan(spark, name)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # only fixed-size dims (nation=25, region=5 rows) may be hint-broadcast;
    # any other BroadcastExchange here would come from a size-growing hint
    n_bcast = plan.count("BroadcastExchange")
    expected_max = {"topk_join": 0, "nation_revenue": 2, "join_range": 0}[name]
    assert n_bcast <= expected_max, plan


def test_theta_band_is_bucketized_equi_join(spark):
    """Round-2 defect: F.broadcast(supplier) + pure theta predicate forced a
    BroadcastNestedLoopJoin over a size-growing table.  The fixed plan
    bucketizes acctbal into width-100 bands and equi-joins on band, so with
    auto-broadcast disabled it must plan as a shuffle equi-join — never a
    nested loop, never a broadcast of supplier."""
    with scoped_conf(spark, **NO_AUTO_BROADCAST):
        plan = _plan(spark, "join_theta_band")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_curation_ops_stay_narrow(spark):
    """stratified_sample and quantize_embeddings are pure narrow maps:
    zero exchanges, zero Python on executors — the zero-shuffle claim in
    PLANS.md is load-bearing at 100 TB, so pin it."""
    for name in ("stratified_sample", "quantize_embeddings"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, name


def test_pack_sequences_single_exchange(spark):
    """Packing shuffles ONCE (hashpartitioning on source for the per-shard
    running sum); a second exchange would mean an accidental global sort."""
    plan = _plan(spark, "pack_sequences")
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(source" in plan, plan


def test_decontaminate_is_jvm_side_equi_join(spark):
    """The gram join must stay an equi-join on the hashed key with no
    Python and, with auto-broadcast off, no broadcast of the corpus-derived
    benchmark side."""
    with scoped_conf(spark, **NO_AUTO_BROADCAST):
        plan = _plan(spark, "ngram_decontaminate")
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_tpch_q7_only_nation_dims_broadcast(spark):
    """Q7's fact-fact joins must not be hint-forced: with auto-broadcast
    off, only the two 25-row nation dims may appear as BroadcastExchange."""
    with scoped_conf(spark, **NO_AUTO_BROADCAST):
        plan = _plan(spark, "tpch_q7_volume")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastExchange") <= 2, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_dim_broadcast_survives(spark):
    # with stats available the filtered customer dim broadcasts in Q3
    assert "BroadcastExchange" in _plan(spark, "topk_join")


def test_flagship_broadcast_is_stats_driven(spark):
    """Round-6 fix: stedi_batch dropped its static F.broadcast(customers)
    hint — the customer side grows with SF, so a hint-forced broadcast OOMs
    at scale.  Two-sided pin: (a) with auto-broadcast disabled the join must
    flip to a shuffle join (proving no hint survives); (b) with defaults the
    planner still picks broadcast-hash at this scale from statistics/AQE, so
    the small-dim fast path isn't lost."""
    with scoped_conf(spark, **NO_AUTO_BROADCAST):
        plan_nohint = _plan(spark, "stedi_flagship")
    assert "BroadcastExchange" not in plan_nohint, plan_nohint
    assert "SortMergeJoin" in plan_nohint or "ShuffledHashJoin" in plan_nohint, plan_nohint
    assert "BroadcastHashJoin" in _plan(spark, "stedi_flagship")


def test_scan_prunes_columns(spark):
    """A 2-column projection must not read the full lineitem schema
    (ReadSchema at the parquet scan)."""
    plan = _plan(spark, "filtered_revenue")
    assert "ReadSchema" in plan
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in scan_line
    assert "l_orderkey" not in scan_line


def test_no_python_row_udfs(spark):
    """Hot-path queries stay JVM-side: no row-at-a-time BatchEvalPython in
    any relational/flagship plan (Arrow-batched mapInPandas is allowed in
    the multimodal path only)."""
    for name in ["stedi_flagship", "pricing_summary", "topk_join", "sessionize"]:
        assert "BatchEvalPython" not in _plan(spark, name), name


def test_sql_udf_inlines_to_jvm_expressions(spark):
    """SQL-language UDFs must inline at analysis time: the pricing plan
    contains no Python evaluation of any kind and still whole-stage
    codegens — the zero-cost claim in q_sql_udf_pricing's docstring."""
    plan = _plan(spark, "sql_udf_pricing")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # the UDF bodies appear as plain Catalyst arithmetic inside the
    # (map-side-partial) aggregate, and the scan is column-pruned
    assert "partial_sum" in plan and "(1 - d#" in plan, plan
    assert "ReadSchema: struct<l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string>" in plan, plan


def test_param_sql_binds_as_literals(spark):
    """Parameterized SQL binds placeholders server-side: the top-k plan is
    a TakeOrderedAndProject with the bound limit, not a full sort."""
    plan = _plan(spark, "param_sql_topk")
    assert "TakeOrderedAndProject" in plan, plan


def test_schema_merge_read_null_fills_old_files(spark):
    """mergeSchema union: rows from the old snapshot carry NULL n_chars,
    rows from the new snapshot carry real values, and the merged schema
    exposes the superset."""
    import pyspark.sql.functions as F

    df = registry()["schema_merge_read"].fn(spark, SF_DIR)
    assert set(df.columns) == {"doc_id", "lang", "source", "n_chars"}
    halves = {
        (r.old, r.has_chars): r.n
        for r in df.groupBy(
            (F.col("doc_id") % 2 == 0).alias("old"),
            F.col("n_chars").isNotNull().alias("has_chars"),
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert halves.get((True, False), 0) > 0  # old files: null-filled
    assert halves.get((False, True), 0) > 0  # new files: real values
    assert (True, True) not in halves and (False, False) not in halves


def test_salted_join_splits_planted_hot_key(spark):
    """Planted-skew fixture: one user owns 30% of a 50k-row fact table.
    Unsalted, that key's rows collapse onto ONE reducer (max task share >=
    30%); salted across N_SALT sub-keys they spread out (max share ~30/8 +
    base).  AQE is disabled so we measure the salting mechanism, not the
    runtime skew-splitter that backstops it in production."""
    from pyspark.sql import functions as SF

    from spark_kafka_realm_time_data_pipeline_spark.queries.relational import (
        N_SALT,
        salted_join,
    )

    n_rows, n_keys, hot_share = 50_000, 200, 0.30
    n_hot = int(n_rows * hot_share)
    fact = spark.range(n_rows).select(
        SF.col("id").alias("row_id"),
        SF.when(SF.col("id") < n_hot, SF.lit(0))
        .otherwise(SF.col("id") % n_keys)
        .alias("user_id"),
    )
    dim = spark.range(n_keys).select(
        SF.col("id").alias("c_custkey"), (SF.col("id") % 5).alias("seg")
    )

    def max_task_share(joined):
        sizes = [
            r["n"]
            for r in joined.groupBy(SF.spark_partition_id().alias("p"))
            .agg(SF.count(SF.lit(1)).alias("n"))
            .collect()
        ]
        return max(sizes) / sum(sizes)

    # a broadcast join never shuffles the fact side, hiding the very skew
    # this fixture plants; 32 reducers let the 8 sub-keys spread (the
    # session fixture runs 4 shuffle partitions, where 8 hash cells
    # inevitably collide)
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "32",
        **NO_AUTO_BROADCAST,
    }
    with scoped_conf(spark, **confs):
        plain = fact.join(dim, fact.user_id == dim.c_custkey)
        plain_share = max_task_share(plain)
        salted = salted_join(fact, dim, "user_id", "c_custkey", "row_id")
        salted_share = max_task_share(salted)

    # row parity: salting must not change the join result size
    assert salted.count() == plain.count() == n_rows
    assert plain_share >= hot_share, plain_share
    assert salted_share <= hot_share / N_SALT + 0.05, (plain_share, salted_share)


def test_incremental_indexed_delta_runs_without_base_text(spark, tmp_path):
    """The staged-index delta path must touch ONLY the materialized index,
    never base text.  Proof is behavioral, not plan-string-matching: stage
    the index, then DELETE the base parquet — if any branch of the delta
    plan re-read (let alone re-tokenized) base text it would fail on the
    missing files.  The surviving run must also be value-identical to the
    non-indexed operator computed while base still existed."""
    import shutil

    from spark_kafka_realm_time_data_pipeline_spark.operators import dedup as D

    docs = [
        (i, f"doc {i} " + " ".join(f"tok{i}x{j}" for j in range(40)))
        for i in range(30)
    ]
    base_path = str(tmp_path / "base_docs")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(base_path)
    base = spark.read.parquet(base_path)
    delta = spark.createDataFrame(
        [
            (1000001, docs[3][1] + " zz"),  # near-dup of base doc 3
            (1000002, "entirely unrelated payload with nothing shared"),
        ],
        "doc_id long, text string",
    )
    expected = {
        (r.delta_id, r.base_id)
        for r in D.incremental_near_dup(base, delta).collect()
    }
    idx = str(tmp_path / "idx")
    D.stage_base_index(base, idx)
    shutil.rmtree(base_path)  # base text is now gone; only the index remains
    got = {
        (r.delta_id, r.base_id)
        for r in D.incremental_near_dup_indexed(spark, idx, delta).collect()
    }
    assert got == expected, (got, expected)
    assert (1000001, 3) in got, got


def test_editdistance_suffix_pass_catches_prefix_edits(spark):
    """Planted prefix-edit fixture: a dup whose edit sits at the HEAD of the
    text shares no 32-char prefix with its original, so the prefix block
    alone misses it — the suffix (reversed-prefix) pass must catch it.  A
    tail-edited dup checks the prefix pass still works, and both passes
    finding the same mid-identical pair must not double-report it."""
    from pyspark.sql import functions as SF

    from spark_kafka_realm_time_data_pipeline_spark.operators.dedup import (
        editdistance_near_dup,
    )

    body = "the quick brown fox jumps over the lazy dog " * 3
    rows = [
        (1, body),
        (2, "zz " + body),          # prefix edit (distance 3): suffix pass only
        (3, body + " zz"),          # suffix edit (distance 3): prefix pass only
        (4, "totally unrelated text that matches nothing else here at all"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    out = editdistance_near_dup(corpus).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["edit_distance"] for r in out}
    assert pairs.get((1, 2)) == 3, pairs  # caught by the suffix pass
    assert pairs.get((1, 3)) == 3, pairs  # caught by the prefix pass
    assert all(4 not in p for p in pairs), pairs
    # no duplicate pair rows when both passes generate the same candidate
    assert len(out) == len(pairs)


def test_tfidf_rank_is_group_limited(spark):
    """tfidf_top_terms must rank per-doc groups with WindowGroupLimit
    pushdown (top-k within partitions before the final window) and never
    fall back to a global sort of the scored corpus or Python."""
    plan = _plan(spark, "tfidf_top_terms")
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_pivot_executes(spark):
    df = registry()["pivot_events"].fn(spark, SF_DIR)
    cols = df.columns
    assert cols == ["user_id", "click", "error", "purchase", "signup", "view"]
    assert df.count() > 0


def test_serialize_json_golden(spark):
    """P9 sink projection (sparkpykafkajoin.py:202): key=email, value=JSON
    with exactly {customer, score, email, birthYear}."""
    import json

    df = registry()["serialize_json"].fn(spark, SF_DIR)
    assert df.columns == ["key", "value"]
    rows = df.limit(20).collect()
    assert rows
    for r in rows:
        doc = json.loads(r.value)
        assert set(doc) == {"customer", "score", "email", "birthYear"}
        assert doc["email"] == r.key
        assert doc["customer"] == doc["email"]
        int(doc["birthYear"])  # 4-digit year string


def test_prefix_filter_exact_jaccard_planted(spark):
    """Planted fixture for the prefix-filter exact-Jaccard tier: an exact
    copy verifies at jaccard 1.0, a light tail edit stays >= 0.8, and an
    unrelated doc never pairs.  Also checks the prune stack (size,
    positional, posting cap) keeps full recall on a corpus where the cap
    does not bind."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    body = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (1, body),
        (2, body),                  # exact copy: jaccard 1.0
        (3, body + " zz"),          # tail edit: shingle jaccard ~0.97
        (4, "completely different payload that shares nothing with the fox"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in prefix_filter_pairs(corpus).collect()}
    assert out.get((1, 2)) == 1.0, out
    assert out.get((1, 3), 0.0) >= 0.8, out
    assert out.get((2, 3), 0.0) >= 0.8, out
    assert all(4 not in p for p in out), out


def test_prefix_tier_supersets_minhash_on_high_entropy_corpus(spark):
    """Cross-tier validation: on a corpus where every posting list is under
    the cap, the prefix-filter tier is EXACT (full recall), so its pair set
    must contain every pair the probabilistic MinHash-LSH tier verifies at
    the same threshold over the same shingle sets — banding can only lose
    pairs, never invent them (both tiers share the exact-Jaccard verify)."""
    import random

    from spark_kafka_realm_time_data_pipeline_spark.operators.dedup import (
        doc_shingles,
        minhash_lsh_dedup,
        prefix_filter_pairs,
    )

    rng = random.Random(7)
    words = ["w%04d" % rng.randrange(5000) for _ in range(40)]
    rows = []
    for i in range(30):
        body = " ".join(rng.choice(words) + "%03d" % rng.randrange(900) for _ in range(30))
        rows.append((i, body))
        if i % 5 == 0:  # plant a near copy
            rows.append((1000 + i, body + " zz"))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_pairs(corpus).collect()
    }
    minhash = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_dedup(
            corpus, 0.8, tokenizer=doc_shingles, tok_hashed=True
        ).collect()
    }
    assert minhash <= exact, minhash - exact
    assert any(b == a + 1000 for a, b in exact), exact  # planted pairs found


def test_verify_arrays_equals_join_verify(spark):
    """The round-7 verify swap must be semantics-free: on a random corpus,
    the array-intersect verify and the 3-way-join verify return identical
    (doc_a, doc_b, jaccard) rows for the same candidate set."""
    import random

    from spark_kafka_realm_time_data_pipeline_spark.operators.dedup import (
        doc_token_keys,
        jaccard_verify,
        jaccard_verify_arrays,
    )

    rng = random.Random(11)
    vocab = ["t%03d" % i for i in range(60)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 25))))
        for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    toks = doc_token_keys(corpus)
    pairs = spark.createDataFrame(
        [(a, b) for a in range(40) for b in range(a + 1, 40) if (a + b) % 3 == 0],
        "doc_a long, doc_b long",
    )
    j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_verify(pairs, toks, 0.1).collect()}
    a = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_verify_arrays(pairs, toks, 0.1).collect()}
    assert j == a, {k: (j.get(k), a.get(k)) for k in set(j) ^ set(a) | {k for k in j if j[k] != a.get(k)}}


def test_dpp_prune_join_injects_runtime_partition_filter(spark):
    """Dynamic partition pruning must be the load-bearing prune: the fact
    scan's PartitionFilters carry a runtime dynamicpruningexpression fed by
    the broadcast dim subquery — and NO static IN-list on the key (the dim
    filter is on a stored non-key attribute precisely so constraint
    propagation cannot pre-resolve the surviving partitions)."""
    plan = _plan(spark, "dpp_prune_join")
    assert "dynamicpruningexpression" in plan, plan
    fact_scan = next(
        l for l in plan.splitlines()
        if "PartitionFilters" in l and "dynamicpruningexpression" in l
    )
    static_part = fact_scan.split("dynamicpruningexpression")[0]
    assert " IN (" not in static_part, fact_scan


def test_aqe_skew_join_splits_planted_hot_key(spark):
    """AQE-native skew split pin: the registry query join_skew_aqe (2/3 of
    events remapped onto one hot key, merge-hinted join) must, under
    test-scale thresholds, produce a final adaptive plan whose join is
    SortMergeJoin(skew=true) with a 'skewed' AQEShuffleRead — the runtime
    partition split the manual salted_join implements by hand.  Thresholds
    are lowered because the defaults (256MB skewed-partition floor) are
    sized for production shuffles, not a ~500KB test fixture; the
    MECHANISM under test is identical.  Results must equal the plain
    unhinted join (the oracle's shape) — the split is result-neutral."""
    from pyspark.sql import functions as SF

    from spark_kafka_realm_time_data_pipeline_spark.queries import registry
    from spark_kafka_realm_time_data_pipeline_spark.sources.files import load_table

    from conftest import SF_DIR

    fn = registry()["join_skew_aqe"].fn
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1024",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "512",
    }
    with scoped_conf(spark, **confs):
        df = fn(spark, SF_DIR)
        got = {tuple(r) for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan[:2000]
    assert "skewed" in plan, plan[:2000]
    ev = load_table(spark, SF_DIR, "events")
    f = ev.select(
        SF.when(SF.col("event_id") % 3 != 0, SF.lit(7))
        .otherwise(SF.col("user_id"))
        .alias("k"),
        "value",
    )
    d = load_table(spark, SF_DIR, "customer").select(
        SF.col("c_custkey").alias("k"), "c_mktsegment"
    )
    from spark_kafka_realm_time_data_pipeline_spark.queries.relational import dsum

    want = {
        tuple(r)
        for r in f.join(d, "k")
        .groupBy("c_mktsegment")
        .agg(
            SF.count(SF.lit(1)).alias("n_events"), dsum("value").alias("sum_value")
        )
        .collect()
    }
    assert got == want


def test_rebalance_write_splits_hot_key_layout(spark, tmp_path):
    """REBALANCE(col) write-layout pin: under fixture-scale advisory
    sizes, the planted hot key (2/3 of rows on one key) must NOT land in
    one output file — OptimizeSkewInRebalancePartitions splits the hot
    partition into mapper-chunk pieces and coalesces the tiny ones, so
    the plan shows a REBALANCE_PARTITIONS_BY_COL exchange under an
    AQEShuffleRead that both coalesced and split ('skewed').  Also
    asserts result parity: the hint must be result-neutral."""
    import glob
    import os

    from spark_kafka_realm_time_data_pipeline_spark.queries.relational import (
        rebalanced_events_frame,
    )

    from conftest import SF_DIR

    confs = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2048",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "512",
        "spark.sql.adaptive.rebalancePartitionsSmallPartitionFactor": "0.2",
    }
    out = str(tmp_path / "rebal")
    with scoped_conf(spark, **confs):
        d = rebalanced_events_frame(spark, SF_DIR)
        d.write.mode("overwrite").parquet(out)
        # plan markers (collect the same frame — the write plan is the
        # same tree plus the file-commit node)
        d2 = rebalanced_events_frame(spark, SF_DIR)
        d2.collect()
        plan = d2._jdf.queryExecution().executedPlan().toString()
    assert "REBALANCE_PARTITIONS_BY_COL" in plan, plan[:2000]
    assert "skewed" in plan, plan[:2000]
    files = glob.glob(os.path.join(out, "part-*"))
    sizes = [os.path.getsize(p) for p in files]
    assert len(files) >= 4, files
    # the hot key owns ~2/3 of all rows; a split layout means no single
    # file holds anywhere near that share
    assert max(sizes) < 0.5 * sum(sizes), sorted(sizes)
    # result parity: read-back equals the unhinted source projection
    back = spark.read.parquet(out).groupBy("k").count()
    src = rebalanced_events_frame(spark, SF_DIR).groupBy("k").count()
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in src.collect()}


def test_runtime_bloom_filter_injected(spark):
    """InjectRuntimeFilter pin: under cluster-shaped thresholds (the
    application-side floor lowered to fixture scale), the selective
    1-URGENT orders filter must materialize as a bloom_filter_agg
    subquery whose might_contain() lands in the lineitem scan's filters
    — row-level semi-join pushdown ahead of the shuffle.  Results must
    be identical with the feature disabled (false positives are
    discarded by the join)."""
    from spark_kafka_realm_time_data_pipeline_spark.queries import registry

    from conftest import SF_DIR

    fn = registry()["runtime_bloom_join"].fn
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        **NO_AUTO_BROADCAST,
    }
    with scoped_conf(spark, **confs):
        df = fn(spark, SF_DIR)
        with_bloom = {tuple(r) for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
        with scoped_conf(
            spark, **{"spark.sql.optimizer.runtime.bloomFilter.enabled": "false"}
        ):
            without = {tuple(r) for r in fn(spark, SF_DIR).collect()}
    assert "might_contain" in plan, plan[:2000]
    assert "bloom_filter_agg" in plan, plan[:2000]
    assert with_bloom == without and len(with_bloom) > 0


def test_rrf_fusion_materializes_lexical_pipeline_once(spark):
    """retrieval_rrf_fusion regression pin: both ranker pools consume the
    `matched` frame, and before r11 its lineage (tokenize explode +
    tf/df/dl aggregate joins) sat as two subtrees of the ONE returned plan
    with no ReusedExchange — 48 exchanges, the lexical pipeline executed
    twice.  The eager localCheckpoint pins the fixed shape: the returned
    plan reads the 50-ish-row checkpoint RDD, so it contains NO parquet
    scan at all and only the handful of pool/fusion exchanges."""
    df = registry()["retrieval_rrf_fusion"].fn(spark, SF_DIR)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan, plan[:2000]
    assert plan.count("Exchange") <= 10, plan[:2000]
