"""The ingest-admission funnel: the decision a production corpus makes for
every incoming document — admit it, or reject it with a reason — composed
from the staged-index probes the dedup/quality tiers already maintain:

1. EXACT gate: sha256 content hash against the staged base hash index
   (``stage_hash_index``) — the cheapest check runs first;
2. CONTAINMENT gate, only for survivors of (1): directed containment
   against the staged containment index
   (``dedup.containment_vs_base_batch`` — "is this new doc already
   quoted/contained in the corpus?");
3. NEAR-DUP gate, only for survivors of (1) and (2): MinHash-LSH
   Jaccard against the staged band index
   (``dedup.incremental_near_dup_batch`` — "is this new doc an edited
   copy of something we have?" — the symmetric tier that catches
   high-overlap rewrites the directed containment test misses when the
   new doc ADDS material, pushing containment below threshold while
   Jaccard stays high);
4. QUALITY gate: the fixed-weight integer quality classifier
   (``text.quality_logit_score``).

Admission = passed all four.  Every gate's base side stays a parquet
SCAN probed by broadcasts of delta-derived frames, so nothing
corpus-sized shuffles per batch — the same posture as the individual
incremental operators, now composed into the funnel a real ingestion
pipeline runs.  The funnel ORDER is itself the optimization: the exact
gate is a hash semi-join; only its survivors pay the shingle/prefix
machinery of the containment probe; and only the doubly-cleared sliver
pays the MinHash signature chain of the near-dup probe.

Everything is hash-exact vs the DuckDB oracle: sha2(256) text hashes,
the integer containment probe, the replayed MinHash band chain with
exact-Jaccard verify, and the integer-milli quality logit.

One batch is a handful of small Spark jobs, so fixed per-job and per-plan
cost, not data volume, sets its latency.  The funnel therefore reads the
staged indexes with cached schemas (no inference job per read), tokenizes
the not-exact delta once for both dup probes, runs with AQE off (its
re-planning bought nothing on delta-sized plans and cost ~11 extra jobs
per batch) and returns its decisions PINNED: AQE is read when a plan
executes, so the result is checkpointed inside the AQE-off scope rather
than handed back lazily to run with the session's AQE.

Durability note (applies to every staged-probe operator's
``localCheckpoint(eager=True)`` barriers): localCheckpoint stores the
checkpointed blocks UNREPLICATED on executors, so on a real cluster an
executor loss mid-batch fails the batch (the driver retries it) rather
than recomputing the lineage.  That is the right trade for these
delta-sized frames — the barrier exists to pin a tiny plan, and a
retried micro-batch is idempotent against the staged index — but a
deployment that cannot tolerate batch retries should switch the
barriers to reliable ``checkpoint()`` on a shared filesystem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_conf
from ..sources.files import read_parquet
from .dedup import (
    _containment_probe,
    _near_dup_probe,
    delta_shingle_arrays,
    signature_bands,
    signatures_from_arrays,
)
from .text import quality_logit_score

# Runtime confs of the funnel's own scope; the session keeps its posture.
FUNNEL_CONF = {"spark.sql.adaptive.enabled": "false"}


def stage_hash_index(base: DataFrame, path: str) -> None:
    """Materialize the base corpus's distinct sha256 content hashes as a
    parquet table — the exact-dup arm of the admission funnel.  One
    32-byte-hex row per distinct content; at any corpus size this is the
    smallest possible exact-dup index, and the per-batch probe is a scan
    + broadcast semi-join, never a shuffle of the base."""
    (
        base.select(F.sha2("text", 256).alias("h"))
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{path}/bh")
    )


def merge_admitted_into_indexes(
    spark: SparkSession,
    hash_index: str,
    band_index: str,
    delta: DataFrame,
    admitted_ids: DataFrame,
    extension_path: str,
) -> DataFrame:
    """The MERGE-shaped maintenance twin of the admission funnel: append
    the ADMITTED docs' per-doc index rows to the maintained exact-hash
    and near-dup band indexes, so tomorrow's batches are deduplicated
    against today's admissions.  Emits one row per index sub-table:
    (index_table, rows_before, rows_appended, rows_after);
    rows_appended is counted by READING THE WRITTEN FILES BACK, so the
    report reflects what actually landed on disk, never pre-write
    arithmetic.

    Only the per-doc sub-tables are appendable — and that property is
    exactly why the staged layout keeps them per-doc:

    - ``bh``: the admitted docs' distinct sha256 hashes minus the ones
      already present (computed as a base SCAN probed by the broadcast
      delta hashes, then an anti-join against the broadcast matches —
      the base never shuffles);
    - ``bands``: the admitted docs' LSH band rows, recomputed from their
      text alone (a MinHash signature depends on nothing but the doc),
      appended UNCAPPED — bucket caps are a build/compaction-time
      property, re-applied by the periodic compaction job, and the
      probe's own delta-side cap bounds the join meanwhile;
    - ``sizes`` / ``toks_arr``: one row per admitted doc.

    The stats-bearing containment index (df order statistic, prefix
    ranks) is deliberately NOT appended: merging a batch changes every
    df, so its refresh is the periodic REBUILD job
    (``dedup.stage_containment_index``), not an append.

    The appended files land under ``extension_path`` (production
    appends the same frames into the index dirs with mode("append");
    writing beside them here keeps the shared fingerprint-keyed staged
    indexes byte-stable for concurrent readers).  All work is
    delta-sized: base tables contribute only parquet-footer row counts
    and one hash-probe scan."""
    # Pin the admitted-id list once (tiny, one row per admitted doc): this
    # function consumes `adm` from several independent jobs (hash
    # extension, band/size/array writes), and `admitted_ids` may be any
    # lazy frame — without the pin each job would re-run its whole plan to
    # rebuild the broadcast.
    admitted_ids = admitted_ids.localCheckpoint(eager=True)
    adm = delta.join(F.broadcast(admitted_ids), "doc_id", "left_semi")
    # exact-hash extension: admitted hashes not already in the base index
    bh = read_parquet(spark, f"{hash_index}/bh")
    dh = adm.select(F.sha2("text", 256).alias("h")).distinct()
    # matched feeds exactly one consumer (the anti-join below), so it needs
    # no barrier (r20 funnel-barrier shrink): within the one write job the
    # two dh subtrees are identical and ReuseExchange computes the delta
    # hashes once; the base index still contributes only a scan.
    matched = bh.join(F.broadcast(dh), "h", "left_semi")
    new_hashes = dh.join(F.broadcast(matched), "h", "left_anti")
    # band/size/array extensions: per-doc rows recomputed from admitted text
    darr = delta_shingle_arrays(adm)
    # array-native signatures: no explode/groupBy exchange per merge.
    # PINNED (r21): the bands and sizes writes below run CONCURRENTLY in
    # the thread pool — unpinned, each write job recomputed the full
    # N_MINHASH-transform signature pass over the delta (duplicated
    # compute; ingest_index_merge was the single worst regressor in the
    # driver's r20 detail).  One eager checkpoint computes signatures
    # once; both writes then read a delta-sized local relation.
    dsigs = signatures_from_arrays(darr, with_size=True).localCheckpoint(
        eager=True
    )

    # The four extension writes are INDEPENDENT delta-sized jobs off the
    # pinned admitted/darr frames — submit them from a small thread pool so
    # each job's task tail back-fills the executors the previous job would
    # have left idle (guide §2.6: overlap independent jobs).  Serial, the
    # four write jobs dominated the warm merge wall; results are unchanged
    # because the jobs touch disjoint output dirs and the read-back report
    # below runs only after all four complete.
    from concurrent.futures import ThreadPoolExecutor

    writes = (
        ("bh", new_hashes),
        ("bands", signature_bands(dsigs)),
        ("sizes", dsigs.select("doc_id", "n_toks")),
        ("toks_arr", darr),
    )

    def _write(sub_frame):
        sub, frame = sub_frame
        frame.write.mode("overwrite").parquet(f"{extension_path}/{sub}")

    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        list(pool.map(_write, writes))

    # Read-back report as ONE action: the former loop ran 8 serial
    # count() jobs (~0.3 s fixed job overhead each — a quarter of the
    # warm merge wall at sf0.1); the 8 footer-count scans are now
    # branches of a single union+join plan, so Spark schedules them
    # concurrently inside one job.  Eagerly checkpointed before return
    # because callers reclaim extension_path as soon as the report frame
    # exists — the result must not lazily re-read deleted files.
    from functools import reduce

    def counted(path: str, table: str, col: str) -> DataFrame:
        return read_parquet(spark, path).agg(
            F.count(F.lit(1)).cast("long").alias(col)
        ).select(F.lit(table).alias("index_table"), col)

    pairs = (
        ("bh", f"{hash_index}/bh"),
        ("bands", f"{band_index}/bands"),
        ("sizes", f"{band_index}/sizes"),
        ("toks_arr", f"{band_index}/toks_arr"),
    )
    # bound-method fold, not DataFrame.unionByName: pyspark.sql.DataFrame
    # is the abstract parent in Spark 4 and instances resolve methods on
    # the classic subclass (the plan_audit monkeypatch lesson)
    befores = reduce(
        lambda a, b: a.unionByName(b),
        [counted(p, t, "rows_before") for t, p in pairs],
    )
    appendeds = reduce(
        lambda a, b: a.unionByName(b),
        [counted(f"{extension_path}/{t}", t, "rows_appended") for t, _ in pairs],
    )
    return (
        befores.join(appendeds, "index_table")
        .select(
            "index_table",
            "rows_before",
            "rows_appended",
            (F.col("rows_before") + F.col("rows_appended"))
            .cast("long")
            .alias("rows_after"),
        )
        .localCheckpoint(eager=True)
    )


def ingest_admission_batch(
    spark: SparkSession,
    containment_index: str,
    hash_index: str,
    band_index: str,
    delta: DataFrame,
) -> DataFrame:
    """Per-micro-batch admission decisions for DELTA docs against the
    staged indexes: (doc_id, is_exact, is_contained, is_near_dup,
    quality_keep, admitted).  ``is_contained`` is evaluated ONLY on the
    not-exact sliver, and ``is_near_dup`` ONLY on the
    not-exact-and-not-contained sliver (each dup gate's rejects skip
    every more expensive probe downstream — funnel pruning; an exact
    copy is trivially contained and near-dup, and a contained doc needs
    no Jaccard check, so the flags stay disjoint by construction and
    the oracle replays the same restrictions).  All four gate results
    ride tiny broadcast frames onto the delta.

    The frame is returned pinned (``localCheckpoint``, computed under the
    funnel's AQE-off scope).  On executor loss mid-batch the
    localCheckpoint barriers fail the batch instead of recomputing (see
    the module docstring for the durability trade)."""
    with scoped_conf(spark, **FUNNEL_CONF):
        return _admission_decisions(
            spark, containment_index, hash_index, band_index, delta
        ).localCheckpoint(eager=True)


def _admission_decisions(
    spark: SparkSession,
    containment_index: str,
    hash_index: str,
    band_index: str,
    delta: DataFrame,
) -> DataFrame:
    bh = read_parquet(spark, f"{hash_index}/bh")
    dh = delta.select("doc_id", F.sha2("text", 256).alias("h"))
    # base hash scan probed by the broadcast delta hashes — the delta ids
    # that already exist verbatim in the corpus.  PINNED: exact_ids has
    # two consumers in separate jobs (the tokenize barrier via not_exact,
    # and the final flag join), and ReuseExchange dedupes only within ONE
    # plan; unpinned, the base hash index was re-scanned per job (the
    # funnel family ran 1.6-2x slower), and at corpus scale that scan is
    # base-index-sized.  The _e flag rides the frame from birth so both
    # consumers share the one pinned subtree.
    exact_ids = (
        bh.join(F.broadcast(dh), "h")
        .select("doc_id")
        .distinct()
        .withColumn("_e", F.lit(True))
        .localCheckpoint(eager=True)
    )
    not_exact = delta.join(F.broadcast(exact_ids), "doc_id", "left_anti")
    # tokenized ONCE for both dup probes (pinned inside)
    darr = delta_shingle_arrays(not_exact)
    # pinned: read by the near-dup probe's input and by the final flag join
    contained_ids = (
        _containment_probe(spark, containment_index, darr)
        .select(F.col("delta_id").alias("doc_id"))
        .distinct()
        .withColumn("_c", F.lit(True))
        .localCheckpoint(eager=True)
    )
    survivors = darr.join(F.broadcast(contained_ids), "doc_id", "left_anti")
    # single consumer (the final flag join) -> no barrier: the near-dup
    # probe runs once inside the final job's broadcast build
    near_dup_ids = (
        _near_dup_probe(spark, band_index, survivors)
        .select(F.col("delta_id").alias("doc_id"))
        .distinct()
    )
    quality = quality_logit_score(delta).select(
        "doc_id", F.col("keep").alias("quality_keep")
    )
    is_exact = F.coalesce("_e", F.lit(False))
    is_contained = F.coalesce("_c", F.lit(False))
    is_near_dup = F.coalesce("_n", F.lit(False))
    return (
        quality.join(F.broadcast(exact_ids), "doc_id", "left")
        .join(F.broadcast(contained_ids), "doc_id", "left")
        .join(
            F.broadcast(near_dup_ids.withColumn("_n", F.lit(True))),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            is_exact.alias("is_exact"),
            is_contained.alias("is_contained"),
            is_near_dup.alias("is_near_dup"),
            "quality_keep",
            (
                ~is_exact & ~is_contained & ~is_near_dup & F.col("quality_keep")
            ).alias("admitted"),
        )
    )


def compact_band_index(
    spark: SparkSession,
    bands: DataFrame,
    output_path: str,
) -> DataFrame:
    """The periodic BAND-INDEX COMPACTION job the append path relies on:
    merge_admitted_into_indexes appends admitted docs' band rows UNCAPPED
    (a MinHash signature depends on nothing but the doc, so the append
    never needs cluster-wide context) on the documented promise that
    "bucket caps are re-applied by the periodic compaction job" — this
    IS that job.  It re-applies the deterministic per-bucket cap
    (dedup.capped_buckets: lowest doc_ids win, the same rule the
    build-time cap uses, so compaction is IDEMPOTENT and a compacted
    index holds exactly the rows a from-scratch rebuild over the same
    docs would) and writes the compacted table to ``output_path`` — a
    SIBLING path, never the input's own (in-place compaction is refused
    below; production atomically swaps the sibling in for the index's
    bands dir).

    Emits one row per band_id: (band_id, rows_before, rows_after,
    rows_dropped, buckets, buckets_over_cap), with rows_after counted by
    READING THE WRITTEN FILES BACK so the report reflects what landed on
    disk.  Eviction policy note: an over-full bucket keeps its 64
    lowest doc_ids, so late-appended extension rows are evicted FIRST —
    the right trade for an LSH candidate index (the surviving members
    still anchor the bucket, and a doc needs only one of its 6 band
    buckets to surface as a candidate), and exactly the build cap's
    behavior on the same rows.

    100 TB posture: one window shuffle keyed (band_id, band_key) over
    the index — the same cost class as the index build, run on the
    maintenance cadence, never per batch; the report aggregation reuses
    the same partitioning.
    """
    from .dedup import MAX_BUCKET, capped_buckets

    # REFUSE in-place compaction (ADVICE r18): the capped frame is read
    # LAZILY during the overwrite write below, so output_path == an input
    # path would clobber the write's own source mid-job (and the before/
    # over aggregates, also lazy, would read post-compaction rows and
    # report rows_dropped=0).  Compact into a sibling dir and swap.
    def _local(p: str) -> str:
        for pre in ("file://", "file:"):
            if p.startswith(pre):
                return p[len(pre):]
        return p

    import os as _os

    out_norm = _os.path.abspath(_local(output_path)).rstrip("/")
    clobbered = [
        f
        for f in bands.inputFiles()
        if _os.path.abspath(_local(f)) == out_norm
        or _os.path.abspath(_local(f)).startswith(out_norm + "/")
    ]
    if clobbered:
        raise ValueError(
            f"compact_band_index: output_path {output_path!r} overlaps the "
            f"input table ({clobbered[0]}, ...) — in-place compaction would "
            "overwrite its own lazily-read input; write to a sibling path "
            "and atomically swap instead"
        )

    before = bands.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("rows_before"),
        F.countDistinct("band_key").alias("buckets"),
    )
    over = (
        bands.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > MAX_BUCKET)
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("buckets_over_cap"))
    )
    capped_buckets(bands).write.mode("overwrite").parquet(output_path)
    after = (
        spark.read.parquet(output_path)
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("rows_after"))
    )
    return (
        before.join(after, "band_id")
        .join(over, "band_id", "left")
        .select(
            F.col("band_id").cast("long").alias("band_id"),
            F.col("rows_before").cast("long").alias("rows_before"),
            F.col("rows_after").cast("long").alias("rows_after"),
            (F.col("rows_before") - F.col("rows_after"))
            .cast("long")
            .alias("rows_dropped"),
            F.col("buckets").cast("long").alias("buckets"),
            F.coalesce("buckets_over_cap", F.lit(0))
            .cast("long")
            .alias("buckets_over_cap"),
        )
    )
