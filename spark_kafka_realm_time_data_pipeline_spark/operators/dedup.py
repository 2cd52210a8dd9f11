"""Deduplication operators for LLM training-data pipelines.

Design rules for 100 TB:
- exact dedup = hash + groupBy (one shuffle on the content hash; map-side
  combine collapses most duplicates before the wire);
- near-dup = candidate generation (MinHash-LSH band buckets / SimHash
  blocks) followed by verification (exact Jaccard) — never an O(n^2)
  cross join;
- all hashes are md5/sha2-based, NOT Spark's murmur3 `hash()`, so results
  are engine-independent and the DuckDB oracle can replay them exactly.

The synthetic corpus has no planted duplicates, so dedup queries operate on
``planted_corpus`` — the documents table unioned with deterministic exact
and near copies — giving real positives the oracle reproduces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.files import load_table, read_parquet

# 6 bands x 8 rows: LSH candidate threshold ~ (1/b)^(1/r) = 0.80, tuned to
# the 0.8 Jaccard verify bar. Round-1 ran 4 bands x 2 rows, which admits
# P(candidate)=0.68 at s=0.5 — near-quadratic buckets on template-heavy
# corpora (measured 133s / 4.3M pairs at sf0.1). r=8 drops that to ~0.03.
# Round 7 trimmed 8 bands -> 6 (64 -> 48 hashes): the signature aggregation
# over the token frame — the widest intermediate in the suite — does 25%
# less min-work and the band explode emits 25% fewer rows, while the miss
# probability for a true 0.9-Jaccard pair stays ~(1-0.9^8)^6 = 3%, and ~1e-4
# at the 0.97+ similarity of planted near-copies.  The oracle replays the
# same 6x8 family, so verification is unaffected.
N_MINHASH = 48
BAND_ROWS = 8
# Deterministic per-bucket cap (lowest doc_ids win): bounds any residual
# degenerate bucket at cap^2 pairs. Replayed exactly by the oracle SQL.
MAX_BUCKET = 64
# Per-token posting-list cap for the prefix-filter exact-Jaccard tier:
# tighter than MAX_BUCKET because an uncapped low-entropy prefix index
# joins at fanout^2 per token (measured 16.7M candidate rows at sf0.1).
PREFIX_CAP = 16


def planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact copies (doc_id%10==0, +1000000) + near copies
    (doc_id%7==0, +2000000, one token appended)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"),
    )
    return d.unionByName(exact).unionByName(near)


ORA_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, concat(text, ' zz') AS text
  FROM documents WHERE doc_id % 7 = 0
)
"""


def exact_dedup_groups(corpus: DataFrame) -> DataFrame:
    """sha256 content hash -> duplicate groups. Output: one row per
    duplicated content (canonical = min doc_id)."""
    return (
        corpus.select("doc_id", F.sha2("text", 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition a compact row frame to ``target`` partitions (default:
    the session's parallelism) before a wide explode / per-row hash pass.
    A few hundred MB of parquet arrive as a handful of file splits
    (maxPartitionBytes), and any narrow map chain after the scan then runs
    that narrow regardless of cores; the shuffle of COMPACT rows is far
    cheaper than running the exploded frame under-parallel.  A no-op on a
    real cluster where scans arrive with thousands of splits — and a no-op
    whenever the frame already has enough partitions.

    ``target`` matters for LIGHT explodes (one split+explode feeding a
    partial aggregate): full-width task scheduling overhead exceeds the
    compute saved (measured on heavy_hitters at sf0.1: width 32 = 0.42 s,
    width 4 = 0.22 s, no fan-out = 0.30 s), so light callers pass a small
    width and heavy ones (MinHash signatures, shingling) take the
    default.

    Streaming frames pass through untouched: partition count is a
    micro-batch-time property there (``df.rdd`` is illegal pre-start), and
    the source's trigger sizing already governs batch parallelism."""
    if df.isStreaming:
        return df
    if target is None:
        target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def doc_tokens(corpus: DataFrame) -> DataFrame:
    """Distinct (doc_id, token) pairs — the set representation used by
    SimHash (which hashes the token STRINGS with md5 downstream)."""
    return corpus.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )


def doc_token_keys(corpus: DataFrame) -> DataFrame:
    """Distinct (doc_id, word-hash) pairs for the MinHash word variant: each
    word is folded to a 42-bit integer key with the same mod-P polynomial
    the shingle path uses.  Integer keys shrink the persisted token cache
    and turn the verification joins + signature arithmetic into pure integer
    ops (the round-4 path carried word STRINGS through the cache and ran an
    md5 per token inside the signature aggregation)."""
    word_hash = lambda w: F.aggregate(
        F.transform(F.split(w, ""), lambda c: F.ascii(c)),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * SHINGLE_B + c) % SHINGLE_P,
    )
    return corpus.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.transform(F.split("text", " "), word_hash))
        ).alias("tok"),
    )


# Polynomial shingle-hash parameters (Rabin-Karp mod a 42-bit prime).  The
# base must EXCEED the modulus's headroom-per-step so the mod fires on every
# step and actually mixes: a first draft with B=255 produced values bounded
# by 255^5 < 2^41 inside a 2^54 modulus — the high bits were structurally
# zero, the derived MinHash (a, b) family degenerated, and LSH candidates
# exploded 1,886 -> 61,467 at sf0.1.  With B prime > 2^20 and P prime
# ~2^42, every step wraps and the output is uniform over [0, P).
# Bounds: each step is (h*B + code) % P with h < P, so the intermediate is
# < 2^42 * 2^20.001 + 2^21 < 2^63 — inside signed 64-bit range in BOTH
# engines, load-bearing because DuckDB errors on BIGINT overflow while
# Spark wraps, so an overflowing formula would silently diverge between
# engine and oracle.
SHINGLE_B = 1048583
SHINGLE_P = 4398046511093


def doc_shingles(corpus: DataFrame, n: int = 5) -> DataFrame:
    """Distinct (doc_id, character n-gram) pairs — the shingle set for
    n-gram Jaccard dedup (catches word-reordering/near-identical text that
    word tokens miss).  Catalyst-native: split to char codes once, then
    sequence -> transform(polynomial hash) -> explode; texts shorter than n
    pad with 0 beyond the end (their single position-1 shingle hashes the
    whole text).  A narrow flatMap — no shuffle until the downstream
    aggregation.

    Shingles are hashed to a compact sub-2^54 integer key HERE, before the
    persist/joins: the (doc, shingle) set is the widest intermediate in the
    suite, and an 8-byte long both shrinks the cached footprint and turns
    every downstream groupBy/join into integer hashing.  The hash is a pure
    mod-P polynomial over ascii codes — ~2.4x faster than the round-4 md5
    variant (no per-position digest or hex-string allocation; measured
    3.9s -> 1.6s for the sf0.1 tokenize pass) and still replayed bit-for-bit
    by the DuckDB oracle, which md5 was needed for.  F.get (never
    element_at) for the tail positions: ANSI mode errors on out-of-bounds
    element_at, get returns NULL.

    Deliberately NOT delegated through doc_shingle_arrays: pushing the
    explode onto a separate arr projection defeats the generator's
    projection collapse and ballooned the serialized plan (8 MiB task
    binaries, 6x wall regression on the dedup family when tried in
    r11)."""
    codes = F.transform(F.split("text", ""), lambda c: F.ascii(c))

    def gram_hash(i):
        h = F.coalesce(F.get(F.col("codes"), i - 1), F.lit(0)).cast("long")
        for k in range(1, n):
            c = F.coalesce(F.get(F.col("codes"), i - 1 + k), F.lit(0)).cast("long")
            h = (h * SHINGLE_B + c) % SHINGLE_P
        return h

    positions = F.sequence(F.lit(1), F.greatest(F.length("text") - (n - 1), F.lit(1)))
    return (
        corpus.withColumn("codes", codes)
        .select("doc_id", F.explode(F.array_distinct(F.transform(positions, gram_hash))).alias("tok"))
    )


def doc_shingle_arrays(corpus: DataFrame, n: int = 5) -> DataFrame:
    """(doc_id, arr) — each doc's DISTINCT shingle set as one array row:
    exactly doc_shingles before its explode (same hash; see its docstring
    for the shared rationale and why the two stay inlined separately).
    The narrow form is the per-micro-batch intermediate of choice: one row
    per doc, checkpointed once, feeds both the signature chain
    (re-explode) and the exact-Jaccard verify (broadcast of the array
    rows) without retokenizing."""
    codes = F.transform(F.split("text", ""), lambda c: F.ascii(c))

    def gram_hash(i):
        h = F.coalesce(F.get(F.col("codes"), i - 1), F.lit(0)).cast("long")
        for k in range(1, n):
            c = F.coalesce(F.get(F.col("codes"), i - 1 + k), F.lit(0)).cast("long")
            h = (h * SHINGLE_B + c) % SHINGLE_P
        return h

    positions = F.sequence(F.lit(1), F.greatest(F.length("text") - (n - 1), F.lit(1)))
    return corpus.withColumn("codes", codes).select(
        "doc_id",
        F.array_distinct(F.transform(positions, gram_hash)).alias("arr"),
    )


# Prime modulus for the Carter-Wegman hash family (< 2^28 so the affine
# combination below never overflows a signed 64-bit int).
MINHASH_PRIME = 268435399
# Second 28-bit prime: the integer-key (a, b) slices are residues mod two
# DISTINCT primes (CRT-style), not bit slices — a 42-bit key has uniform
# residues mod both, whereas bit-slicing left b with ~12 live bits.
MINHASH_PRIME_B = 268435367


def _affine_sql(a: str, b: str, s: int) -> str:
    """Hash ``s`` of the Carter-Wegman family as SQL: (a + s*(2b+1)) % P."""
    return f"({a} + {s} * (({b}) * 2 + 1)) % {MINHASH_PRIME}"


def minhash_signatures(
    toks: DataFrame,
    n_hashes: int = N_MINHASH,
    tok_hashed: bool = False,
    with_size: bool = False,
) -> DataFrame:
    """MinHash signature per doc via a Carter-Wegman family: ONE md5 per
    token supplies two 28-bit integers (a, b); hash s is the affine map
    ``(a + s*(2b+1)) % P``.  One groupBy(doc_id) with n_hashes integer-min
    aggregates — a single shuffle, and ~64x less hashing than computing a
    fresh md5 per (seed, token) (measured 6.7s -> sub-second at sf0.1).
    Integer mins also shrink the shuffle ~8x vs 32-char hex-string mins.
    All arithmetic is engine-portable; the DuckDB oracle replays it exactly.

    ``tok_hashed=True`` marks toks whose ``tok`` is ALREADY an integer hash
    key (the 42-bit polynomial shingles): (a, b) are residues of the key mod
    two distinct 28-bit primes — no hash pass at all over the widest
    intermediate in the suite, and both residues are uniform (bit-slicing a
    42-bit key instead left b with ~12 live bits and degenerate LSH
    buckets).

    ``with_size=True`` additionally emits ``n_toks`` (the per-doc set size
    the Jaccard union formula needs) from the SAME groupBy — the size used
    to be a second full groupBy(doc_id) scan over the widest frame in the
    suite; piggybacking it here deletes that scan + shuffle outright.
    """
    if tok_hashed:
        # dual-prime residues; both < 2^28 so the affine combination below
        # stays within signed 64-bit range
        hashed = toks.selectExpr(
            "doc_id", f"tok % {MINHASH_PRIME} AS a", f"tok % {MINHASH_PRIME_B} AS b"
        )
    else:
        hashed = toks.selectExpr(
            "doc_id",
            "CAST(conv(substring(md5(tok), 1, 7), 16, 10) AS BIGINT) AS a",
            "CAST(conv(substring(md5(tok), 9, 7), 16, 10) AS BIGINT) AS b",
        )
    aggs = [
        f"min({_affine_sql('a', 'b', s)}) AS s{s}" for s in range(n_hashes)
    ]
    if with_size:
        aggs.append("count(1) AS n_toks")
    return hashed.groupBy("doc_id").agg(*map(F.expr, aggs))


def signatures_from_arrays(
    darr: DataFrame,
    n_hashes: int = N_MINHASH,
    with_size: bool = False,
) -> DataFrame:
    """MinHash signature per doc computed ROW-WISE from the (doc_id, arr)
    distinct-shingle arrays with JVM higher-order functions — value-
    identical to ``minhash_signatures(explode(arr), tok_hashed=True)``
    (same dual-prime residues, same affine map, min over the same set),
    but with NO explode, NO groupBy and therefore NO exchange.

    The per-micro-batch probes used to explode the checkpointed array
    frame and re-aggregate by doc_id; the checkpoint hides the doc_id
    partitioning from Catalyst, so that groupBy paid a full shuffle of
    the delta's (doc, token-hash) frame on every batch (r20 measure:
    the widest delta-side exchange in the near-dup probe).  An
    ``array_min`` over a ``transform`` computes the same minimum inside
    the scan stage — guide §2.4 "remove shuffles outright".  ``n_toks``
    is ``size(arr)`` (the arrays are distinct by construction).

    The expressions are SQL text, not per-seed ``Column`` lambdas: the
    JVM analyses either form in ~0.03 s, but building 48 lambda columns
    over py4j cost 0.25-0.30 s of driver time per call, paid once per
    ingest batch."""
    residues = f"t % {MINHASH_PRIME}", f"t % {MINHASH_PRIME_B}"
    cols = ["doc_id"] + [
        f"array_min(transform(arr, t -> {_affine_sql(*residues, s)})) AS s{s}"
        for s in range(n_hashes)
    ]
    if with_size:
        cols.append("CAST(size(arr) AS BIGINT) AS n_toks")
    return darr.selectExpr(*cols)


def signature_bands(
    sigs: DataFrame,
    n_hashes: int = N_MINHASH,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """(doc_id, band_id, band_key) from a MinHash signature frame.

    Bands come from ONE explode over the signature row (a union of
    per-band selects would re-run the whole signature aggregation once per
    band — Catalyst does not dedupe common subplans across union
    branches).  Each band's ``band_rows`` signature mins fold into one
    integer key with the shared polynomial — an 8-byte shuffle/join key
    instead of the ~50-byte '|'-concat string of round 4.  acc < P (2^42),
    *B (2^20) + s (< 2^28) stays under 2^63 in both engines.  A fold
    collision merely merges two buckets, whose contents the exact-Jaccard
    verify still filters — and the oracle replays the same fold.  Built as
    SQL text for the same driver-time reason as signatures_from_arrays."""
    n_bands = n_hashes // band_rows

    def band_key(b: int) -> str:
        acc = "CAST(0 AS BIGINT)"
        for r in range(band_rows):
            acc = f"({acc} * {SHINGLE_B} + s{b * band_rows + r}) % {SHINGLE_P}"
        return acc

    band_structs = ", ".join(
        f"named_struct('band_id', {b}, 'band_key', {band_key(b)})"
        for b in range(n_bands)
    )
    return sigs.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS bd"
    ).select("doc_id", "bd.band_id", "bd.band_key")


def capped_buckets(bands: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Deterministic per-bucket cap (lowest doc_ids win): bounds any
    degenerate (band_id, band_key) bucket at cap^2 candidate pairs instead
    of going quadratic in corpus size.  Replayed exactly by the oracles."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_id", "band_key").orderBy("doc_id")
    return (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_bucket)
        .drop("rn")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_hashes: int = N_MINHASH,
    band_rows: int = BAND_ROWS,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band become
    candidates.  The join key is (band_id, band_key) — equi-shuffle, no
    cross product; see signature_bands / capped_buckets for the shape
    notes."""
    capped = capped_buckets(signature_bands(sigs, n_hashes, band_rows), max_bucket)
    a = capped.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b_ = capped.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    return (
        a.join(b_, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    toks: DataFrame,
    threshold: float,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over token sets for candidate pairs only.
    intersection via (doc,tok) equi-joins; union = |A|+|B|-|A∩B|.
    Division of exact ints in double — engine-identical.

    ``sizes`` (doc_id, n_toks) may be supplied by the caller (piggybacked on
    the MinHash signature aggregation) to skip the extra groupBy scan here.
    """
    if sizes is None:
        sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    # Semi-filter BOTH sides to docs that actually appear in a candidate
    # pair BEFORE any shuffle: the candidate-doc set is a tiny
    # broadcastable key list, and without the filter the full token frame —
    # the widest intermediate in the suite — crosses the wire even though
    # most docs are in no candidate pair.  Result-neutral (inner joins).
    # The doc_a prune matters most for the indexed incremental path, where
    # toks includes the whole staged BASE shingle table but only a few
    # base docs ever reach a candidate pair.
    docs_a = pairs.select(F.col("doc_a").alias("doc_id")).distinct()
    ta = toks.join(docs_a, "doc_id", "left_semi").select(
        F.col("doc_id").alias("doc_a"), "tok"
    )
    docs_b = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    tb = toks.join(docs_b, "doc_id", "left_semi").select(
        F.col("doc_id").alias("doc_b"), "tok"
    )
    inter = (
        pairs.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_toks").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_toks").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_verify_arrays(
    pairs: DataFrame, toks: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate pairs via per-doc token ARRAYS:
    collect each doc's (distinct) token set once, join the two sides onto
    the pair list, and count the intersection with the JVM-native
    array_intersect — one 6k-row array frame instead of re-shuffling the
    full (doc, tok) frame through a 3-way join (measured 3.6 s -> ~1 s for
    a 19k-pair verify at sf0.1 vs jaccard_verify).

    Scale shape: the array frame is one map-side-combinable groupBy over
    the token frame; each row is bounded by its own doc's token count (a
    few KB), and the pair join is an equi-join AQE will broadcast when the
    candidate side is small.  Use the join-based jaccard_verify instead
    when candidate pairs are so numerous that replicating each doc's array
    per pair outweighs the shuffle it saves."""
    # collect_set, not collect_list: the Jaccard denominator needs SET
    # sizes, and nothing here can enforce that every caller pre-distincts
    # its (doc_id, tok) frame — a non-distinct tokenizer would silently
    # inflate sizes and deflate scores.  Negligible cost on these frames.
    # Only docs that APPEAR in a candidate pair need an array: semi-filter
    # the token frame by the candidate id set before the collect (value-
    # neutral — the pair joins below dropped every other doc's array
    # anyway).  At corpus scale the candidate docs are a sliver of the
    # corpus, so building arrays for every doc was the verify stage's
    # dominant shuffle; the id frame is tiny and AQE broadcasts it.
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    arrs = (
        toks.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("tok").alias("arr"))
    )
    a = arrs.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"))
    b = arrs.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"))
    n_inter = F.size(F.array_intersect("arr_a", "arr_b"))
    n_union = F.size("arr_a") + F.size("arr_b") - n_inter
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (n_inter.cast("double") / n_union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_dedup(
    corpus: DataFrame,
    threshold: float = 0.8,
    tokenizer=doc_tokens,
    tok_hashed: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: MinHash -> LSH bands -> candidates ->
    exact-Jaccard verification.  ``tokenizer`` picks the set representation:
    word tokens (default) or character shingles (n-gram Jaccard).

    The (doc, token) set feeds FOUR consumers (signatures, both sides of the
    intersection join, set sizes) and its subtree is a scan+explode with no
    exchange Catalyst could reuse — unpersisted, the corpus is re-tokenized
    once per consumer (measured 52.9s -> 11.9s at sf0.1 for the shingle
    variant).  MEMORY_AND_DISK persist is the single-cluster analog of the
    materialized intermediate table a 100 TB pipeline would stage here."""
    from pyspark import StorageLevel

    # The corpus arrives with file-split parallelism (maxPartitionBytes):
    # a few hundred MB of documents = a handful of splits, and tokenize +
    # the signature partial-agg then run that narrow regardless of cores —
    # measured 6-wide on 32 cores at the 10x scale corpus, making the
    # signature stage the one super-linear line in BENCH_sf1.json.  Fan the
    # corpus out to the session's parallelism BEFORE the ~5x explode;
    # shuffling the compact (doc_id, text) rows is far cheaper than the
    # exploded token frame.  At real cluster scale the scan arrives with
    # thousands of splits and this is a no-op.
    target = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < target:
        corpus = corpus.repartition(target)
    toks = tokenizer(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    # signatures are tiny (n_docs x 49 ints) but expensive to produce
    # (48-min agg over the widest frame) — persist so the band window and
    # the bucket self-join don't re-run it
    sigs = minhash_signatures(toks, tok_hashed=tok_hashed).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        # candidate pairs are consumed twice downstream (the verify join and
        # the doc_b semi-filter); they are tiny but their lineage re-runs the
        # band window + self-join — materialize once, eagerly
        cands = lsh_candidate_pairs(sigs).localCheckpoint(eager=True)
        # eager localCheckpoint: materialize the (small) verified-pair set
        # and truncate lineage so the big token cache can be released NOW
        # instead of leaking into the rest of the session.  Array-based
        # verify (collect_list + array_intersect) replaced the 3-way join
        # verify in round 7: candidate sets here are 10^3-10^4 pairs, so
        # replicating each doc's token array per pair is far cheaper than
        # re-shuffling the full token frame twice (measured ~1.5 s off
        # each MinHash variant at sf0.1).
        return jaccard_verify_arrays(cands, toks, threshold).localCheckpoint(
            eager=True
        )
    finally:
        sigs.unpersist()
        toks.unpersist()


def simhash_fingerprints(corpus: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash over token md5s: bit j is the sign of the majority vote of
    token-hash nibble parities.  16 bits = 16 md5 hex nibbles; all string ops
    + integer math, engine-portable (no murmur)."""
    toks = doc_tokens(corpus)
    hashed = toks.select("doc_id", F.md5("tok").alias("h"))
    votes = [
        F.sum(
            F.when(
                F.expr(f"(instr('0123456789abcdef', substring(h, {j + 1}, 1)) - 1) % 2")
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    simhash = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return agg.select("doc_id", simhash.cast("long").alias("simhash"))


def simhash_near_dup_pairs(corpus: DataFrame, bits: int = 16) -> DataFrame:
    """Hamming-distance<=1 SimHash pairs via bit-flip probing: each doc
    emits its fingerprint plus all 1-bit-flipped variants as probe keys and
    equi-joins against exact fingerprints — (bits+1) keys per doc instead of
    an O(n^2) hamming scan.  Wider radii compose the same trick (flip 2 bits
    -> bits^2/2 probes); it stays an equi-shuffle at any corpus size."""
    fp = simhash_fingerprints(corpus, bits)
    probes = fp.select(
        "doc_id",
        F.explode(
            F.array(
                F.col("simhash"),
                *[F.col("simhash").bitwiseXOR(F.lit(1 << j)) for j in range(bits)],
            )
        ).alias("probe"),
    )
    a = probes.select(F.col("doc_id").alias("doc_a"), "probe")
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("probe"))
    return (
        a.join(b, "probe")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash_dup_groups(corpus: DataFrame) -> DataFrame:
    """Block on exact simhash equality (hamming 0): the scalable first tier
    of simhash dedup (wider hamming radii probe bit-flip variants of the
    same blocking key — still equi-joins, not cross products)."""
    fp = simhash_fingerprints(corpus)
    return (
        fp.groupBy("simhash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def dup_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, component_id)
    with component_id = min doc_id in the component — the step that turns
    pairwise matches into canonical duplicate GROUPS (keep component_id,
    drop the rest).

    Min-label propagation with pointer jumping: each round every node takes
    the min of (its own label, its neighbors' labels, its LABEL'S label).
    The neighbor step alone converges in O(component diameter) rounds; the
    label-of-label step halves the remaining pointer depth every round, so
    convergence is O(log diameter) — a 2^20-hop duplicate chain (deep
    boilerplate-edit lineages) resolves in ~20 rounds instead of a million.
    Each round is two equi-joins + one groupBy on the (small) pair graph —
    the label frame is checkpointed per round so lineage stays flat.  At
    100 TB scale this is the doubling half of the large/small-star
    formulation; the input pair set is already bounded by the LSH bucket
    cap, not corpus size.  Convergence is checked via the (monotonically
    non-increasing) label sum — no extra join.  A loop that exhausts
    ``max_iter`` without reaching the fixpoint RAISES instead of silently
    returning wrong component ids (they would diverge from the oracle's
    transitive closure and corrupt keep/drop decisions downstream).

    The DuckDB oracle replays it as a recursive transitive closure, so the
    fixpoint itself is value-checked, not just row-counted."""
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0] or 0
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.dst == labels.doc)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # pointer jump: my label's current label (label ids are doc ids, so
        # they always resolve in the label frame — inner join is total)
        jump = labels.select(
            F.col("doc").alias("j_doc"), F.col("label").alias("j_label")
        )
        labels = (
            labels.join(nbr, labels.doc == nbr.src, "left")
            .join(jump, labels.label == F.col("j_doc"))
            .select(
                labels.doc,
                F.least(
                    labels.label,
                    F.coalesce(F.col("nbr_label"), labels.label),
                    F.col("j_label"),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).first()[0] or 0
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"dup_components did not converge within {max_iter} rounds — "
            "component labels would be wrong; raise max_iter (doubling makes "
            "each round halve the remaining pointer depth, so this indicates "
            "a pathological graph, not normal data)"
        )
    return labels.select(F.col("doc").alias("doc_id"), F.col("label").alias("component_id"))


def incremental_near_dup(
    base: DataFrame,
    delta: DataFrame,
    threshold: float = 0.8,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Incremental (delta-vs-base) near-dup: which NEW docs duplicate the
    EXISTING corpus — the shape a daily-ingest pipeline runs, where
    re-deduplicating the full corpus per batch would be quadratic in
    corpus lifetime.  Only delta docs are fully processed; the base side
    contributes its (band_id, band_key) index, which at production scale
    is a precomputed, incrementally-maintained table — recomputed here
    because the bounded corpus makes that cheap.

    Candidates come from an equi-join of delta bands against base bands
    (each side bucket-capped deterministically), verified with exact
    Jaccard over the union token frame.  Output: (delta_id, base_id,
    jaccard) for verified pairs."""
    from pyspark import StorageLevel

    both = base.select("doc_id", "text").unionByName(delta.select("doc_id", "text"))
    target = both.sparkSession.sparkContext.defaultParallelism
    if both.rdd.getNumPartitions() < target:
        both = both.repartition(target)
    toks = doc_shingles(both).persist(StorageLevel.MEMORY_AND_DISK)
    delta_ids = delta.select("doc_id")
    sigs = minhash_signatures(toks, tok_hashed=True, with_size=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        bands = signature_bands(sigs)
        # membership via semi/anti join against delta_ids (never isin over a
        # collected list — delta can be arbitrarily large)
        base_bands = capped_buckets(
            bands.join(delta_ids, "doc_id", "left_anti"), max_bucket
        ).select(F.col("doc_id").alias("base_id"), "band_id", "band_key")
        delta_bands = capped_buckets(
            bands.join(delta_ids, "doc_id", "left_semi"), max_bucket
        ).select(F.col("doc_id").alias("delta_id"), "band_id", "band_key")
        cands = (
            delta_bands.join(base_bands, ["band_id", "band_key"])
            .select("delta_id", "base_id")
            .distinct()
            .localCheckpoint(eager=True)
        )
        pairs = cands.select(
            F.col("base_id").alias("doc_a"), F.col("delta_id").alias("doc_b")
        )
        verified = jaccard_verify(
            pairs, toks, threshold, sizes=sigs.select("doc_id", "n_toks")
        )
        return verified.select(
            F.col("doc_b").alias("delta_id"),
            F.col("doc_a").alias("base_id"),
            "jaccard",
        ).localCheckpoint(eager=True)
    finally:
        sigs.unpersist()
        toks.unpersist()


def stage_pair_graph(
    corpus: DataFrame, path: str, threshold: float = 0.8
) -> None:
    """Materialize the VERIFIED near-dup pair graph as a parquet table —
    the maintenance job every graph analytics query reads instead of
    re-deriving MinHash candidates from raw text.

    Before this staging existed, each of the graph trio (components,
    PageRank, triangles) regenerated the same tokenize -> sign -> band ->
    verify pipeline (~4 s each at sf0.1, ~19 s combined for the trio); at
    100 TB nobody recomputes MinHash to count triangles.  The pair graph
    is the natural shared intermediate: candidate generation runs ONCE
    (here), and every downstream graph pass is pure equi-join/groupBy work
    over an edge list that is orders of magnitude smaller than the corpus.

    Same maintained-table pattern as ``stage_base_index``: on a cluster
    ``path`` is a shared-FS location refreshed by the dedup pipeline;
    locally it is a scratch parquet staged once per session."""
    pairs = minhash_lsh_dedup(
        corpus, threshold=threshold, tokenizer=doc_shingles, tok_hashed=True
    ).select("doc_a", "doc_b")
    pairs.write.mode("overwrite").parquet(path)


def stage_base_index(base: DataFrame, path: str, max_bucket: int = MAX_BUCKET) -> None:
    """Materialize the incremental-dedup BASE INDEX as parquet tables —
    the maintenance job a daily-ingest pipeline runs once (and extends
    per-batch), so that every delta batch pays only delta-side work:

    - ``{path}/bands``: the bucket-capped (doc_id, band_id, band_key) LSH
      band index the delta bands equi-join against;
    - ``{path}/toks``: the (doc_id, tok) shingle sets the exact-Jaccard
      verify intersects (precomputed — the delta path never re-tokenizes
      base text);
    - ``{path}/sizes``: (doc_id, n_toks) for the Jaccard union term;
    - ``{path}/toks_arr``: the same shingle sets as ONE sorted array row
      per doc — the layout the per-micro-batch streaming verify reads:
      fetching the few candidate base docs touches n_docs narrow rows
      (semi-filtered by a broadcast id list) instead of the full exploded
      (doc, tok) frame, and the intersection runs as JVM array_intersect
      with no shuffle at all.

    The cap is applied at build time among base docs only (lowest doc_ids
    win), matching the non-indexed operator's base-side cap.  On a cluster
    ``path`` is a shared-FS table location; extending the index for a new
    day's accepted docs is an append of the same frames.  ``toks_arr`` is
    written LAST, so its _SUCCESS marker doubles as the whole-index
    completeness flag (pre-r11 indexes without it restage)."""
    from pyspark import StorageLevel

    b = base.select("doc_id", "text")
    target = b.sparkSession.sparkContext.defaultParallelism
    if b.rdd.getNumPartitions() < target:
        b = b.repartition(target)
    toks = doc_shingles(b).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(toks, tok_hashed=True, with_size=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        capped_buckets(signature_bands(sigs), max_bucket).write.mode(
            "overwrite"
        ).parquet(f"{path}/bands")
        sigs.select("doc_id", "n_toks").write.mode("overwrite").parquet(
            f"{path}/sizes"
        )
        toks.write.mode("overwrite").parquet(f"{path}/toks")
        toks.groupBy("doc_id").agg(
            F.array_sort(F.collect_set("tok")).alias("arr")
        ).write.mode("overwrite").parquet(f"{path}/toks_arr")
    finally:
        sigs.unpersist()
        toks.unpersist()


def incremental_near_dup_indexed(
    spark: SparkSession,
    index_path: str,
    delta: DataFrame,
    threshold: float = 0.8,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Delta-vs-base near-dup against a STAGED base index (see
    stage_base_index): the production shape of incremental_near_dup, which
    recomputes the base bands per run because its bounded corpus makes
    that cheap.  Here the delta path tokenizes and signs ONLY delta docs;
    the base side enters as three parquet scans (bands / toks / sizes) —
    no base text is read, let alone re-shingled.  Candidates are the
    delta-band x base-band equi-join; verification intersects delta
    shingles with the PRECOMPUTED base shingle table.

    Result is value-identical to incremental_near_dup on (base, delta):
    both sides cap buckets within their own population and verify with the
    same exact-Jaccard formula — so the two share one oracle."""
    from pyspark import StorageLevel

    base_bands = read_parquet(spark, f"{index_path}/bands").select(
        F.col("doc_id").alias("base_id"), "band_id", "band_key"
    )
    base_toks = read_parquet(spark, f"{index_path}/toks")
    base_sizes = read_parquet(spark, f"{index_path}/sizes")

    d = delta.select("doc_id", "text")
    target = d.sparkSession.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < target:
        d = d.repartition(target)
    dtoks = doc_shingles(d).persist(StorageLevel.MEMORY_AND_DISK)
    dsigs = minhash_signatures(dtoks, tok_hashed=True, with_size=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        delta_bands = capped_buckets(signature_bands(dsigs), max_bucket).select(
            F.col("doc_id").alias("delta_id"), "band_id", "band_key"
        )
        cands = (
            delta_bands.join(base_bands, ["band_id", "band_key"])
            .select("delta_id", "base_id")
            .distinct()
            .localCheckpoint(eager=True)
        )
        pairs = cands.select(
            F.col("base_id").alias("doc_a"), F.col("delta_id").alias("doc_b")
        )
        toks = base_toks.unionByName(dtoks)
        sizes = base_sizes.unionByName(dsigs.select("doc_id", "n_toks"))
        verified = jaccard_verify(pairs, toks, threshold, sizes=sizes)
        return verified.select(
            F.col("doc_b").alias("delta_id"),
            F.col("doc_a").alias("base_id"),
            "jaccard",
        ).localCheckpoint(eager=True)
    finally:
        dsigs.unpersist()
        dtoks.unpersist()


def incremental_near_dup_batch(
    spark: SparkSession,
    index_path: str,
    delta: DataFrame,
    threshold: float = 0.8,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Per-MICRO-BATCH twin of incremental_near_dup_indexed, shaped for the
    foreachBatch hot loop where the delta is small relative to the base
    and the call runs once per trigger, so fixed per-call cost (extra
    shuffles, checkpoints, wide scans) dominates wall time:

    - the delta bands are BROADCAST into the band join, so the staged
      base band table never shuffles — a parquet scan plus a broadcast
      hash join per batch, instead of re-exchanging n_base x n_bands rows
      on every trigger;
    - verification reads the staged ``toks_arr`` per-doc shingle ARRAYS
      (one narrow row per base doc, semi-filtered by the broadcast
      candidate-id list) and intersects with JVM array_intersect — the
      full exploded base (doc, tok) frame is never scanned, let alone
      shuffled;
    - no output localCheckpoint: the caller writes the frame straight to
      its sink in the same pass.

    Value-identical to incremental_near_dup_indexed on the same (index,
    delta) when the delta arrives in one batch: same build-time base cap,
    same within-batch delta cap, same exact-Jaccard over the same shingle
    sets (``size(array)`` of a distinct-set array == the staged n_toks) —
    so it shares that operator's oracle verbatim.  At cluster scale the
    broadcast bound is the delta batch's band table (n_delta x n_bands
    8-byte keys); a batch too large to broadcast belongs on the shuffling
    indexed path instead.

    Durability: the ``localCheckpoint(eager=True)`` barrier here holds a
    delta-sized frame unreplicated on executors — executor loss
    mid-batch fails (and retries) the batch rather than recomputing;
    switch to reliable ``checkpoint()`` if batch retries are
    unacceptable (see operators/ingest's module docstring)."""
    return _near_dup_probe(
        spark, index_path, delta_shingle_arrays(delta), threshold, max_bucket
    )


def delta_shingle_arrays(delta: DataFrame) -> DataFrame:
    """The delta's (doc_id, arr) shingle-set arrays, pinned: the one
    materialized intermediate of the per-micro-batch probes.

    A micro-batch frame arrives with SOURCE-split parallelism (often a
    handful of file splits), so the compact (doc_id, text) rows fan out to
    the session's width before the tokenize.  Each probe reads the arrays
    twice (the signature or ranked chain, and the verify broadcast), and
    the ingest funnel hands one pinned frame to both probes.  The eager
    ``localCheckpoint`` is measured, not decorative: with a lazily shared
    repartition exchange instead, every consumer re-ran the tokenize
    subtree and the funnel family measured ~2x slower."""
    target = delta.sparkSession.sparkContext.defaultParallelism
    d = delta.select("doc_id", "text").repartition(target, "doc_id")
    return doc_shingle_arrays(d).localCheckpoint(eager=True)


def _near_dup_probe(
    spark: SparkSession,
    index_path: str,
    darr: DataFrame,
    threshold: float = 0.8,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """incremental_near_dup_batch on the delta's shingle arrays."""
    base_bands = read_parquet(spark, f"{index_path}/bands").select(
        F.col("doc_id").alias("base_id"), "band_id", "band_key"
    )
    base_arrs = read_parquet(spark, f"{index_path}/toks_arr")
    # array-native signatures: no explode/groupBy exchange per batch
    dsigs = signatures_from_arrays(darr, with_size=True)
    delta_bands = capped_buckets(signature_bands(dsigs), max_bucket).select(
        F.col("doc_id").alias("delta_id"), "band_id", "band_key"
    )
    # tiny pair list, broadcast below; single consumer -> no barrier (r20
    # funnel-barrier shrink: the broadcast build runs the band probe once
    # inside the same job instead of behind a blocking checkpoint)
    cands = (
        base_bands.join(F.broadcast(delta_bands), ["band_id", "band_key"])
        .select("delta_id", "base_id")
        .distinct()
    )
    # Linear verify: ONE distributed scan of the staged array table, with
    # the pair list and the delta arrays both broadcast onto it — the base
    # side stays a scan at any scale, and no shuffle of array payloads.
    n_inter = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = n_inter.cast("double") / (
        F.size("arr_a") + F.size("arr_b") - n_inter
    ).cast("double")
    return (
        base_arrs.join(
            F.broadcast(cands), base_arrs["doc_id"] == cands["base_id"]
        )
        .select("delta_id", "base_id", F.col("arr").alias("arr_a"))
        .join(
            F.broadcast(
                darr.select(
                    F.col("doc_id").alias("delta_id"), F.col("arr").alias("arr_b")
                )
            ),
            "delta_id",
        )
        .select("delta_id", "base_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def stage_containment_index(
    base: DataFrame, path: str, max_posting: int = PREFIX_CAP
) -> None:
    """Materialize the CONTAINMENT base index as parquet tables — the
    directed-dedup analog of ``stage_base_index``, built once by the
    maintenance job so every ingest batch answers "is this new doc
    already contained in the corpus?" paying only delta-side work:

    - ``{path}/cdf``: (tok, df) — base token document frequencies, the
      global rarest-first order statistic BOTH sides rank by (a
      production index owns its statistics; the delta ranks against the
      index's df, never its own);
    - ``{path}/cidx``: the per-token posting-capped FULL token index
      (tok, doc_b, pb, n_b) the delta's prefix probes — containment
      places no prefix condition on the containing side, so every base
      token is indexed (under the cap, lowest doc_ids win, the same
      deterministic degenerate-token guard as containment_pairs);
    - ``{path}/carrs``: (doc_b, arr) sorted distinct shingle arrays for
      the exact verify — written LAST so its _SUCCESS marker doubles as
      the whole-index completeness flag."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    b = base.select("doc_id", "text")
    target = b.sparkSession.sparkContext.defaultParallelism
    if b.rdd.getNumPartitions() < target:
        b = b.repartition(target)
    toks = doc_shingles(b).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        df = toks.groupBy("tok").agg(F.count("*").alias("df"))
        df.write.mode("overwrite").parquet(f"{path}/cdf")
        w = Window.partitionBy("doc_id").orderBy("df", "tok")
        wt = Window.partitionBy("tok").orderBy("doc_id")
        (
            toks.join(df, "tok")
            .withColumn("pb", F.row_number().over(w))
            .withColumn(
                "n_b", F.count("*").over(Window.partitionBy("doc_id"))
            )
            .withColumn("rn", F.row_number().over(wt))
            .filter(F.col("rn") <= max_posting)
            .select(F.col("doc_id").alias("doc_b"), "tok", "pb", "n_b")
            .write.mode("overwrite")
            .parquet(f"{path}/cidx")
        )
        toks.groupBy("doc_id").agg(
            F.array_sort(F.collect_set("tok")).alias("arr")
        ).write.mode("overwrite").parquet(f"{path}/carrs")
    finally:
        toks.unpersist()


def containment_vs_base_batch(
    spark: SparkSession,
    index_path: str,
    delta: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    max_posting: int = PREFIX_CAP,
) -> DataFrame:
    """Per-micro-batch DIRECTED containment of DELTA docs inside BASE
    docs against a staged index (``stage_containment_index``): emit
    (delta_id, base_id) where |shingles(delta) ∩ shingles(base)| /
    |shingles(delta)| >= t — the ingestion-time question ("is this new
    document already quoted/contained in the corpus?") that the
    symmetric incremental Jaccard tier misses on size-mismatched pairs.

    Shaped for the foreachBatch hot loop exactly like
    ``incremental_near_dup_batch`` — every base-side table stays a
    parquet SCAN probed by a broadcast of delta-derived frames, so no
    base data shuffles per trigger:

    - the delta's distinct tokens semi-filter the df table (scan +
      broadcast probe), then rank delta tokens per doc by the INDEX's
      (df, tok) order — tokens unseen in the base take df 0 (rarest:
      they can never match, so they harmlessly occupy prefix slots and
      the asymmetric prefix bound stays exact);
    - the delta prefix (first n_a - ceil(t*n_a) + 1 tokens, per-token
      posting cap) joins the staged full index by broadcast;
    - the |B| >= ceil(t*|A|) size prune and the PPJoin-style positional
      upper bound run on the tiny grouped candidate frame;
    - the verify scans the staged arrays semi-filtered by the broadcast
      candidate ids and intersects with JVM array_intersect against the
      broadcast delta arrays.  Integer milli-unit scores, no IEEE
      rounding anywhere — the oracle replays every stage exactly.

    Value-identical to running the same pipeline in one batch, so the
    availableNow streaming twin shares the batch oracle verbatim.

    Durability: the ``localCheckpoint(eager=True)`` barrier on the
    delta's shingle arrays stores blocks UNREPLICATED on executors — on
    a real cluster an executor loss mid-batch fails the batch (retried
    by the driver; the probe is idempotent against the staged index)
    rather than recomputing lineage.  A deployment that
    cannot tolerate batch retries should use reliable ``checkpoint()``
    on a shared filesystem instead; see operators/ingest's module
    docstring for the full trade."""
    return _containment_probe(
        spark,
        index_path,
        delta_shingle_arrays(delta),
        threshold_num,
        threshold_den,
        max_posting,
    )


def _containment_probe(
    spark: SparkSession,
    index_path: str,
    darr: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    max_posting: int = PREFIX_CAP,
) -> DataFrame:
    """containment_vs_base_batch on the delta's shingle arrays."""
    from pyspark.sql import Window

    cdf = read_parquet(spark, f"{index_path}/cdf")
    cidx = read_parquet(spark, f"{index_path}/cidx")
    carrs = read_parquet(spark, f"{index_path}/carrs")

    dtoks = darr.select("doc_id", F.explode("arr").alias("tok"))
    # df lookup: semi-filter the base df scan by the delta's tokens, then
    # hang the (small) result off the delta frame by broadcast.  No barrier:
    # df_small feeds exactly one consumer (the ranked join below), so an
    # eager localCheckpoint bought no reuse — it only added a blocking job
    # per batch (r20 funnel-barrier shrink; guide §2.4's "remove shuffles/
    # passes you did not need": the fused plan runs the semi-probe once
    # inside the same job).
    df_small = cdf.join(
        F.broadcast(dtoks.select("tok").distinct()), "tok", "left_semi"
    )
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    wt = Window.partitionBy("tok").orderBy("doc_id")
    ranked = (
        dtoks.join(F.broadcast(df_small), "tok", "left")
        .withColumn("df", F.coalesce("df", F.lit(0)))
        .withColumn("p", F.row_number().over(w))
        .withColumn("n_a", F.count("*").over(Window.partitionBy("doc_id")))
    )
    prefix_len = (
        F.col("n_a")
        - F.expr(
            f"({threshold_num} * n_a + {threshold_den} - 1) div {threshold_den}"
        )
        + F.lit(1)
    )
    # dpref/cands each feed exactly one consumer — no barrier (r20 funnel-
    # barrier shrink): the probe fuses into one job instead of four, and
    # the broadcast hints below still bound what crosses the cluster.
    dpref = (
        ranked.filter(F.col("p") <= prefix_len)
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= max_posting)
        .select(F.col("doc_id").alias("delta_id"), "tok", F.col("p").alias("pa"), "n_a")
    )
    grouped = (
        cidx.join(F.broadcast(dpref), "tok")
        .filter(threshold_den * F.col("n_b") >= threshold_num * F.col("n_a"))
        .groupBy("delta_id", F.col("doc_b").alias("base_id"))
        .agg(
            F.min("pa").alias("fa"),
            F.min("pb").alias("fb"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    need = F.expr(
        f"({threshold_num} * n_a + {threshold_den} - 1) div {threshold_den}"
    )
    ub = F.lit(1) + F.least(F.col("n_a") - F.col("fa"), F.col("n_b") - F.col("fb"))
    cands = grouped.filter(ub >= need).select("delta_id", "base_id")
    n_a = F.size("arr_a").cast("bigint")
    n_b = F.size("arr_b").cast("bigint")
    n_inter = F.size(F.array_intersect("arr_a", "arr_b")).cast("bigint")
    return (
        carrs.join(F.broadcast(cands), carrs["doc_id"] == cands["base_id"])
        .select("delta_id", "base_id", F.col("arr").alias("arr_b"))
        .join(
            F.broadcast(
                darr.select(
                    F.col("doc_id").alias("delta_id"), F.col("arr").alias("arr_a")
                )
            ),
            "delta_id",
        )
        .select(
            "delta_id",
            "base_id",
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            n_inter.alias("n_inter"),
        )
        .withColumn("containment_milli", F.expr("(1000 * n_inter) div n_a"))
        .filter(threshold_den * F.col("n_inter") >= threshold_num * F.col("n_a"))
    )


def editdistance_near_dup(
    corpus: DataFrame,
    prefix_len: int = 32,
    max_distance: int = 4,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Edit-distance near-dup: block on the exact text PREFIX and the exact
    text SUFFIX, verify candidates with Levenshtein — the fuzzy-dedup tier
    that catches short-edit duplicates (leading/trailing stamps,
    boilerplate) whose Jaccard over tokens is near 1 but whose byte
    identity breaks.

    Blocking is an equi-join on the block key (never all-pairs): docs
    sharing their first ``prefix_len`` chars meet in a 'p:' bucket, docs
    sharing their LAST ``prefix_len`` chars (as a reversed-text prefix —
    engine-portable, unlike negative-index substrings) meet in an 's:'
    bucket; a suffix-edited dup shares the prefix key, a prefix-edited dup
    shares the suffix key, so an edit confined to either end is caught.
    Buckets are deterministically capped, candidate pairs from both passes
    are deduped BEFORE verification, and only in-bucket pairs pay the
    Levenshtein — computed with the threshold-bounded variant, which
    abandons the DP once ``max_distance`` is exceeded (O(len*k), not
    O(len^2)); both engines produce identical exact distances for kept
    rows, so the verification is value-oracled."""
    from pyspark.sql import Window

    # The candidate stage is ID-ONLY: block keys derive from text, but the
    # bucket window, the self-join and the pair dedup shuffle (doc_id, blk)
    # rows — never document bodies.  Texts re-attach AFTER the pair set is
    # deduped, via two equi-joins on doc_id, so each text crosses the wire
    # once per side instead of riding every candidate pair (including the
    # duplicates both block passes emit) through the dedup exchange.
    keyed = corpus.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(F.lit("p:"), F.substring("text", 1, prefix_len)),
                F.concat(F.lit("s:"), F.substring(F.reverse("text"), 1, prefix_len)),
            )
        ).alias("blk"),
    )
    w = Window.partitionBy("blk").orderBy("doc_id")
    capped = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_bucket)
        .drop("rn")
    )
    a = capped.select(F.col("doc_id").alias("doc_a"), "blk")
    b = capped.select(F.col("doc_id").alias("doc_b"), "blk")
    pairs = (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # a pair can surface in BOTH block passes (edit in the middle);
        # dedupe on the pair key before paying the text joins + Levenshtein.
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
        # three consumers (two semi-filter key lists + the final join) —
        # a pin here was MEASURED r11 and rejected (2.43s vs 1.95s at
        # sf0.1): the id-only lineage is cheap to recompute and the eager
        # barrier costs more than it saves (PLANS.md checkpoint rule).
    )
    # Semi-filter each text side to docs that actually appear in a pair
    # BEFORE the equi-join (the jaccard_verify pattern): without it the
    # re-attach shuffles the FULL corpus text by doc_id twice, which the
    # 10x proof measured at 2.3x the old plan's cost; with it only
    # candidate docs' bodies cross the wire at all.
    texts = corpus.select("doc_id", "text")
    docs_a = pairs.select(F.col("doc_a").alias("doc_id")).distinct()
    docs_b = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    ta = texts.join(docs_a, "doc_id", "left_semi").select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
    )
    tb = texts.join(docs_b, "doc_id", "left_semi").select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
    )
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("text_a", "text_b", max_distance).alias("edit_distance"),
        )
        # the thresholded variant returns -1 once the bound is exceeded
        .filter((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= max_distance))
    )


# --- exact substring-duplication spans ---------------------------------------

SPAN_WIN = 64  # window length (chars): repeats shorter than this are invisible
SPAN_STRIDE = 16  # stride; a repeat of length >= WIN + STRIDE - 1 is guaranteed hit


def substring_dup_spans(corpus: DataFrame) -> DataFrame:
    """Exact substring-duplication spans — the suffix-array-style "repeated
    passage" detector from corpus-dedup practice (boilerplate headers,
    license blocks, templated paragraphs REPEATED ACROSS documents that
    whole-doc MinHash cannot see), approximated scalably: hash every
    WIN-char window at STRIDE offsets with the shared Rabin-Karp polynomial,
    keep windows whose hash occurs more than once corpus-wide, and merge a
    doc's surviving windows into maximal disjoint spans.

    Per doc: flagged window count, merged span count, duplicated chars, and
    the duplicated fraction of the doc.  Everything up to the single final
    division is integer arithmetic on the same 42-bit polynomial both
    engines replay, so the oracle is value-exact (hash collisions are part
    of the operator's defined semantics, identical on both sides, P ~ 2^42
    makes them ~never).

    Shape at 100 TB: the window fan-out is a narrow ~(len/STRIDE)x flatMap
    (never quadratic); the only corpus-bounded shuffles are the hash
    groupBy (uniform keys, map-side combine) and the join back — probe-side
    semi-filtered by the >1-occurrence hash set, which is tiny relative to
    the corpus because repeated passages are the exception.  The island
    merge is a per-doc window function over flagged windows only.  A true
    suffix-array pass would find repeats at every offset; stride-16 trades
    sub-(WIN+STRIDE)-repeat recall for a 16x smaller fan-out — the
    documented practical compromise."""
    # same file-split trap as minhash_lsh_dedup: a few hundred MB of docs
    # arrive as a handful of splits, and the whole window fan-out + hash
    # would run that narrow regardless of cores — fan out the compact rows
    # BEFORE the explode (a no-op on a real cluster with thousands of splits)
    target = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < target:
        corpus = corpus.repartition(target)
    doc = corpus.select("doc_id", "text", F.length("text").alias("n_chars"))
    offs = F.transform(
        F.sequence(
            F.lit(0),
            F.expr(f"((length(text) - {SPAN_WIN}) div {SPAN_STRIDE})").cast("int"),
        ),
        lambda i: i * SPAN_STRIDE,
    )
    offs = F.when(F.col("n_chars") >= SPAN_WIN, offs).otherwise(
        F.array().cast("array<int>")
    )
    wins = doc.select("doc_id", "n_chars", "text", F.explode(offs).alias("off"))
    codes = F.transform(
        F.split(F.expr(f"substring(text, off + 1, {SPAN_WIN})"), ""),
        lambda c: F.ascii(c),
    )
    h = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * SHINGLE_B + c) % SHINGLE_P,
    )
    wins = wins.select("doc_id", "n_chars", "off", h.alias("h"))
    # >1-occurrence filter as ONE count-over-window pass (r21, guide §2.4
    # "two operations keyed the same way share one exchange"): the former
    # groupBy(h) + join-back evaluated the window frame TWICE — the
    # char-level Rabin-Karp hash (~4x text length in ops, the dominant
    # per-row cost here) ran once under the aggregate and again under the
    # join's probe side.  A count window over the same hash(h) exchange
    # keeps every win column, computes the fan-out once, and drops the
    # join outright.  Result-identical: same >1 predicate on the same
    # corpus-wide occurrence counts.
    wh = Window.partitionBy("h")
    rep = (
        wins.withColumn("n_occ", F.count(F.lit(1)).over(wh))
        .filter(F.col("n_occ") > 1)
        .drop("n_occ")
    )
    w = Window.partitionBy("doc_id").orderBy("off")
    isl = (
        rep.withColumn("prev", F.lag("off").over(w))
        .withColumn(
            "new_isl",
            (
                F.col("prev").isNull() | ((F.col("off") - F.col("prev")) > SPAN_WIN)
            ).cast("int"),
        )
        .withColumn(
            "isl_id",
            F.sum("new_isl").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    spans = isl.groupBy("doc_id", "isl_id").agg(
        F.max("n_chars").alias("n_chars"),
        (F.max("off") - F.min("off") + SPAN_WIN).cast("long").alias("span_len"),
        F.count(F.lit(1)).alias("n_w"),
    )
    return spans.groupBy("doc_id").agg(
        F.sum("n_w").alias("n_dup_windows"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("dup_chars"),
        (
            F.sum("span_len").cast("double") / F.max("n_chars").cast("double")
        ).alias("dup_frac"),
    )


ORA_SUBSTRING_DUP_SPANS = f"""
WITH {{corpus_cte}}
doc AS (
  SELECT doc_id, text, length(text) AS n_chars FROM corpus
), wins AS (
  SELECT doc_id, n_chars, CAST(i * {SPAN_STRIDE} AS INT) AS off,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(
               string_split(substr(text, CAST(i * {SPAN_STRIDE} + 1 AS INT),
                                   {SPAN_WIN}), ''),
               c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * {{shingle_b}} + c) % {{shingle_p}}) AS h
  FROM (
    SELECT doc_id, text, n_chars,
           unnest(range(0, (n_chars - {SPAN_WIN}) // {SPAN_STRIDE} + 1)) AS i
    FROM doc WHERE n_chars >= {SPAN_WIN}
  )
), counts AS (
  SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1
), rep AS (
  SELECT w.doc_id, w.n_chars, w.off FROM wins w JOIN counts USING (h)
), isl AS (
  SELECT doc_id, n_chars, off,
         SUM(CASE WHEN prev IS NULL OR off - prev > {SPAN_WIN} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY off) AS isl_id
  FROM (
    SELECT doc_id, n_chars, off,
           lag(off) OVER (PARTITION BY doc_id ORDER BY off) AS prev
    FROM rep
  )
), spans AS (
  SELECT doc_id, isl_id, MAX(n_chars) AS n_chars,
         CAST(MAX(off) - MIN(off) + {SPAN_WIN} AS BIGINT) AS span_len,
         COUNT(*) AS n_w
  FROM isl GROUP BY doc_id, isl_id
)
SELECT doc_id, CAST(SUM(n_w) AS BIGINT) AS n_dup_windows, COUNT(*) AS n_spans,
       CAST(SUM(span_len) AS BIGINT) AS dup_chars,
       CAST(SUM(span_len) AS DOUBLE) / CAST(MAX(n_chars) AS DOUBLE) AS dup_frac
FROM spans GROUP BY doc_id
"""


# --- PageRank over the near-dup graph ----------------------------------------

PR_SCALE = 1 << 20  # fixed-point rank scale (power of two: exact arithmetic)
PR_ITERS = 3
PR_DAMP_NUM, PR_DAMP_DEN = 17, 20  # damping 0.85 as an exact rational


def dup_pagerank(pairs: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """PageRank over the (symmetrized) near-dup pair graph — boilerplate
    HUB scoring: a doc that near-duplicates many other docs (license
    blocks, templated pages, mirrored boilerplate) accumulates rank from
    all of them, so the top-rank_q docs are the template hubs a curation
    pass reviews first.  The iterative-graph-algorithm complement to
    ``dup_components``' fixpoint.

    Integer fixed-point throughout: ranks carry a 2^20 scale, the
    per-neighbor contribution is exact floor division rank_q div deg, and
    the damping is the rational 17/20 applied as (17 * in_sum) div 20 —
    every iteration is pure integer arithmetic both engines replay, so the
    DuckDB oracle unrolls the loop CTE-for-CTE (same discipline as
    ``kmeans_embeddings``).  Every node of the symmetric graph has
    deg >= 1 and >= 1 in-edge, so no dangling-mass term is needed.

    Shape per iteration: one equi-join (edges x compact rank frame) + one
    groupBy(dst) with map-side combine — the canonical Pregel-style
    message pass expressed as DataFrame ops; the rank frame is eagerly
    checkpointed so plan depth stays constant.  Edge count is bounded by
    the SimHash probe join (never O(n^2))."""
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select(
        F.col("src").alias("doc"), "deg", F.lit(PR_SCALE).cast("long").alias("rank_q")
    )
    base = ((PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE) // PR_DAMP_DEN
    for it in range(iters):
        contrib = ranks.select("doc", F.expr("rank_q div deg").alias("c"))
        insum = (
            sym.join(contrib, sym.src == contrib.doc)
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = ranks.join(insum, ranks.doc == insum.dst, "left").select(
            ranks.doc,
            ranks.deg,
            (
                F.lit(base)
                + F.expr(
                    f"({PR_DAMP_NUM} * coalesce(in_sum, 0L)) div {PR_DAMP_DEN}"
                )
            ).cast("long").alias("rank_q"),
        )
        # checkpoint every OTHER round: halves the number of eager
        # materializations (and the blocks they pin) at no cost — two
        # join+select rounds of lineage keep Catalyst analysis cheap.
        # Wall time is unchanged at sf0.1 (the loop is bounded by
        # per-iteration stage scheduling, which amortizes on a real
        # cluster); the final round always checkpoints so callers get a
        # flat plan.
        if it % 2 == 1 or it == iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        F.col("doc").alias("doc_id"), F.col("deg").alias("out_deg"), "rank_q"
    )


def _pr_iter_sql(i: int) -> str:
    """One unrolled PageRank iteration as oracle CTEs."""
    prev = f"r{i - 1}"
    base = ((PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE) // PR_DAMP_DEN
    return f"""
c{i} AS (
  SELECT doc, rank_q // deg AS c FROM {prev}
), s{i} AS (
  SELECT e.dst, CAST(SUM(c.c) AS BIGINT) AS in_sum
  FROM sym e JOIN c{i} c ON e.src = c.doc GROUP BY e.dst
), r{i} AS (
  SELECT r.doc, r.deg,
         CAST({base} + ({PR_DAMP_NUM} * COALESCE(s.in_sum, 0)) // {PR_DAMP_DEN}
              AS BIGINT) AS rank_q
  FROM {prev} r LEFT JOIN s{i} s ON r.doc = s.dst
)"""


ORA_DUP_PAGERANK_TAIL = f"""
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM prs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM prs
), deg AS (
  SELECT src, COUNT(*) AS deg FROM sym GROUP BY src
), r0 AS (
  SELECT src AS doc, deg, CAST({PR_SCALE} AS BIGINT) AS rank_q FROM deg
),{",".join(_pr_iter_sql(i) for i in range(1, PR_ITERS + 1))}
SELECT doc AS doc_id, CAST(deg AS BIGINT) AS out_deg, rank_q
FROM r{PR_ITERS}
"""


def prefix_filter_pairs(
    corpus: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    tokenizer=doc_shingles,
    max_posting: int = PREFIX_CAP,
) -> DataFrame:
    """Blocked EXACT-Jaccard similarity self-join via a prefix-filtered
    inverted index (the AllPairs/PPJoin family) — the signature-free
    complement to the MinHash tiers: no hash family, no banding; candidates
    come from a df-ordered prefix index and every survivor is verified with
    the exact Jaccard, so there are no probabilistic false negatives within
    the blocking bound.

    Principle: order the token universe by global document frequency
    ascending (rarest first, ties by token).  For |S| tokens and threshold
    t = num/den, any pair with Jaccard >= t must share at least one token
    among each side's first ``|S| - ceil(t*|S|) + 1`` tokens in that order,
    so the candidate join only touches each doc's rarest-token PREFIX.
    Three exact prune rules run before the verify:
    - size filter: den*min(|A|,|B|) >= num*max(|A|,|B|) (a length ratio
      below t caps Jaccard below t);
    - positional filter (PPJoin): for the FIRST shared prefix token (global
      order is total, so argmin-position is the same token on both sides at
      positions fa, fb) overlap <= 1 + min(|A|-fa, |B|-fb), which must
      reach alpha = ceil(t/(1+t) * (|A|+|B|));
    - per-token posting cap (``max_posting``, lowest doc_ids win): bounds
      any degenerate posting list — the same deterministic guard every
      other tier uses (capped_buckets), replayed exactly by the oracle.
      On a natural high-entropy corpus prefix tokens are globally rare and
      the cap never binds; on low-entropy/boilerplate corpora it bounds the
      join at cap^2 pairs per token instead of going quadratic.

    All thresholds are integer arithmetic — ceil(num*n/den) = (num*n + den
    - 1) div den (the general integer ceil, exact for ANY num/den ratio),
    alpha = (num*(na+nb) + num + den - 1) div (num + den) — engine-exact,
    no IEEE rounding in any filter.

    Scale shape: df and sizes are map-side-combinable groupBys over the
    (doc, tok) frame; the per-doc rank is one window partitioned by doc_id
    (bounded by a doc's own token count); the candidate join shuffles only
    capped prefix rows on tok; the exact verify touches survivors only.
    Reference scope: near-dup semantics per SURVEY.md §2 LLM-pipeline rows;
    no reference-file counterpart (the reference engine ships no similarity
    join)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    target = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < target:
        corpus = corpus.repartition(target)
    toks = tokenizer(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        df = toks.groupBy("tok").agg(F.count("*").alias("df"))
        w = Window.partitionBy("doc_id").orderBy("df", "tok")
        # n_toks as an unordered count over the SAME doc_id exchange the
        # rank window already pays for — not a separate groupBy + join
        # (see containment_pairs; r14 sf1 profile found the rank stage
        # dominated by exactly that extra shuffle).
        ranked = (
            toks.join(df, "tok")
            .withColumn("p", F.row_number().over(w))
            .withColumn(
                "n_toks", F.count("*").over(Window.partitionBy("doc_id"))
            )
        )
        # general integer ceil (num*n + den - 1) div den: the previous
        # (num*n + num) form is exact only when den == num+1 and silently
        # over-lengthened the prefix (recall-safe but wasteful) for any
        # other threshold ratio.
        prefix_len = (
            F.col("n_toks")
            - F.expr(
                f"({threshold_num} * n_toks + {threshold_den} - 1) div {threshold_den}"
            )
            + F.lit(1)
        )
        wt = Window.partitionBy("tok").orderBy("doc_id")
        # persist: both join sides (a, b) and the group stage read pref;
        # unmaterialized, its 3-shuffle lineage (df join + two windows
        # over the full token frame) re-runs per consumer.  persist()
        # instead of localCheckpoint (r20): same compute-once guarantee,
        # and the InMemoryRelation keeps the tok-window's hash(tok)
        # partitioning + sort, so the a⋈b candidate self-join below
        # consumes it with NO further exchange — the checkpoint's
        # ExistingRDD hid the partitioning and re-shuffled both sides.
        pref = (
            ranked.filter(F.col("p") <= prefix_len)
            .withColumn("rn", F.row_number().over(wt))
            .filter(F.col("rn") <= max_posting)
            .select("doc_id", "tok", "p", "n_toks")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        a = pref.select(
            F.col("doc_id").alias("doc_a"),
            "tok",
            F.col("p").alias("pa"),
            F.col("n_toks").alias("n_a"),
        )
        b = pref.select(
            F.col("doc_id").alias("doc_b"),
            "tok",
            F.col("p").alias("pb"),
            F.col("n_toks").alias("n_b"),
        )
        grouped = (
            a.join(b, "tok")
            .filter(
                (F.col("doc_a") < F.col("doc_b"))
                & (
                    threshold_den * F.least("n_a", "n_b")
                    >= threshold_num * F.greatest("n_a", "n_b")
                )
            )
            .groupBy("doc_a", "doc_b")
            .agg(
                F.min("pa").alias("fa"),
                F.min("pb").alias("fb"),
                F.first("n_a").alias("n_a"),
                F.first("n_b").alias("n_b"),
            )
        )
        alpha = F.expr(
            f"({threshold_num} * (n_a + n_b) + {threshold_num} + {threshold_den} - 1)"
            f" div ({threshold_num} + {threshold_den})"
        )
        ub = F.lit(1) + F.least(
            F.col("n_a") - F.col("fa"), F.col("n_b") - F.col("fb")
        )
        cands = (
            grouped.filter(ub >= alpha)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        return jaccard_verify_arrays(
            cands, toks, threshold_num / threshold_den
        ).localCheckpoint(eager=True)
    finally:
        # the eager checkpoint above materialized the result first
        try:
            pref.unpersist()
        except NameError:
            pass
        toks.unpersist()


def containment_pairs(
    corpus: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    tokenizer=doc_shingles,
    max_posting: int = PREFIX_CAP,
) -> DataFrame:
    """Directed shingle-CONTAINMENT self-join: emit (doc_a, doc_b) where
    |shingles(A) ∩ shingles(B)| / |shingles(A)| >= t — the asymmetric
    complement to the Jaccard tiers.  Jaccard divides by the UNION, so a
    short document quoted verbatim inside a much longer one scores near
    |A|/|B| ≈ 0 and every symmetric tier misses it; containment divides by
    |A| alone and flags exactly that inclusion (quotes, mirrored articles
    with added chrome, boilerplate-wrapped reposts) — the dedup direction
    corpus curation needs when deciding which SIDE to drop.

    Blocking is the asymmetric prefix filter: a pair with containment >= t
    must share a token between A's first |A| - ceil(t*|A|) + 1 tokens in
    the global df-ascending order and B's FULL token set (if no prefix
    token of A hits B, the overlap is at most ceil(t*|A|) - 1 < t*|A|).
    So A probes only its rarest-token prefix while B is indexed on every
    token — both sides under the per-token posting cap (``max_posting``,
    lowest doc_ids win), the same deterministic degenerate-token guard as
    the Jaccard prefix tier, replayed exactly by the oracle.  One exact
    prune before the verify: |B| >= ceil(t*|A|) (the intersection can
    never exceed |B|).  All thresholds are integer arithmetic; the score
    ships as integer milli-units — no IEEE rounding anywhere.

    Scale shape: df/sizes are map-side-combinable groupBys; the prefix and
    index windows are each one shuffle over the (doc, tok) frame; the
    candidate join touches capped postings only; the verify joins per-doc
    token ARRAYS onto the distinct candidate pairs (array_intersect,
    JVM-side).  No reference-file counterpart (the reference ships no
    similarity join); SURVEY.md §2 LLM-pipeline dedup rows."""
    from pyspark.sql import Window

    corpus = fan_out(corpus)
    toks = tokenizer(corpus).persist()
    try:
        df = toks.groupBy("tok").agg(F.count("*").alias("df"))
        w = Window.partitionBy("doc_id").orderBy("df", "tok")
        # n_toks rides the SAME doc_id exchange as the rank window (an
        # unordered count over the partition) instead of a separate
        # groupBy + join — the r14 sf1 stage profile put this rank stage
        # at 17.1 s of the 36.7 s total, and the sizes aggregate + join
        # was a full extra shuffle of the token frame.
        # Persist: BOTH the prefix probe and the full index read ranked;
        # unmaterialized, its multi-shuffle lineage (df join + windows)
        # re-runs per consumer and the duplicated subtree bloats the
        # single candidate-join plan (measured 15.8 s -> ~2 s at sf0.001
        # — the checkpoint-barrier rule in PLANS.md).  persist() instead
        # of localCheckpoint (r20): same compute-once guarantee, but the
        # InMemoryRelation KEEPS the plan's output partitioning, so the
        # downstream tok-windows and the candidate join can reuse it —
        # a checkpoint's ExistingRDD hides partitioning from Catalyst
        # and forced re-exchanges of every posting frame.
        from pyspark import StorageLevel

        ranked = (
            toks.join(df, "tok")
            .withColumn("p", F.row_number().over(w))
            .withColumn(
                "n_toks", F.count("*").over(Window.partitionBy("doc_id"))
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        prefix_len = (
            F.col("n_toks")
            - F.expr(
                f"({threshold_num} * n_toks + {threshold_den} - 1) div {threshold_den}"
            )
            + F.lit(1)
        )
        wt = Window.partitionBy("tok").orderBy("doc_id")
        # pref/idx each feed ONE consumer (the candidate join) and their
        # tok-windows leave them hash-partitioned by tok — keep them lazy
        # (r20): the join then consumes the windows' partitioning with no
        # further exchange, where the former per-side localCheckpoint
        # forgot it and re-shuffled both posting frames.
        pref = (
            ranked.filter(F.col("p") <= prefix_len)
            .withColumn("rn", F.row_number().over(wt))
            .filter(F.col("rn") <= max_posting)
            .select(
                F.col("doc_id").alias("doc_a"),
                "tok",
                F.col("p").alias("pa"),
                F.col("n_toks").alias("n_a"),
            )
        )
        # the B index ranks over the UNFILTERED token frame — containment
        # places no prefix condition on the containing side
        idx = (
            ranked.withColumn("rn", F.row_number().over(wt))
            .filter(F.col("rn") <= max_posting)
            .select(
                F.col("doc_id").alias("doc_b"),
                "tok",
                F.col("p").alias("pb"),
                F.col("n_toks").alias("n_b"),
            )
        )
        # positional prune (PPJoin adapted to the asymmetric bound): with
        # the earliest OBSERVED match at doc-local ranks (fa, fb), overlap
        # <= 1 + min(n_a - fa, n_b - fb), which must reach ceil(t * n_a).
        # Under the posting cap the observed minimum can overestimate the
        # true first-match rank — the same bounded-recall trade as the cap
        # itself, replayed exactly by the oracle.
        grouped = (
            pref.join(idx, "tok")
            .filter(
                (F.col("doc_a") != F.col("doc_b"))
                & (threshold_den * F.col("n_b") >= threshold_num * F.col("n_a"))
            )
            .groupBy("doc_a", "doc_b")
            .agg(
                F.min("pa").alias("fa"),
                F.min("pb").alias("fb"),
                F.first("n_a").alias("n_a"),
                F.first("n_b").alias("n_b"),
            )
        )
        need = F.expr(
            f"({threshold_num} * n_a + {threshold_den} - 1) div {threshold_den}"
        )
        ub = F.lit(1) + F.least(
            F.col("n_a") - F.col("fa"), F.col("n_b") - F.col("fb")
        )
        cands = (
            grouped.filter(ub >= need)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        # semi-filter the array build to candidate participants (same
        # value-neutral prune as jaccard_verify_arrays)
        cand_ids = (
            cands.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        arrs = (
            toks.join(cand_ids, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set("tok").alias("arr"))
        )
        a = arrs.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"))
        b = arrs.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"))
        n_a = F.size("arr_a").cast("bigint")
        n_b = F.size("arr_b").cast("bigint")
        n_inter = F.size(F.array_intersect("arr_a", "arr_b")).cast("bigint")
        scored = (
            cands.join(a, "doc_a")
            .join(b, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                n_a.alias("n_a"),
                n_b.alias("n_b"),
                n_inter.alias("n_inter"),
            )
        )
        return (
            scored.withColumn(
                "containment_milli", F.expr("(1000 * n_inter) div n_a")
            )
            .filter(
                threshold_den * F.col("n_inter") >= threshold_num * F.col("n_a")
            )
            .localCheckpoint(eager=True)
        )
    finally:
        # the eager checkpoint above materialized the result, so both
        # caches can be released before returning
        try:
            ranked.unpersist()
        except NameError:
            pass
        toks.unpersist()


PASSAGE_WORDS = 16


def passage_dedup(corpus: DataFrame) -> DataFrame:
    """Global PASSAGE-level dedup with document reassembly — the
    intra-document tier every doc-level tier above ignores: split each
    document into fixed ``PASSAGE_WORDS``-word passages (the stand-in for
    paragraph boundaries on a corpus without newlines; on a real crawl the
    splitter is '\\n\\n'), keep exactly the FIRST occurrence of every
    distinct passage corpus-wide (ordered by doc_id, then position), and
    reassemble each document from its surviving passages in original
    order.  This is the repeated-paragraph removal stage (MassiveText /
    RefinedWeb style) that doc-level dedup cannot express: a document that
    shares half its paragraphs with another is kept by every doc tier, yet
    still trains on the duplicate half.

    Per doc: passage count, survivor count, and the md5 of the
    reassembled clean text (compact proof of byte-exact reassembly; a
    production pipeline would ship the text column itself).

    Scale shape: one narrow map (split + chunk + posexplode), ONE shuffle
    on the passage hash for the keep-first window (32-byte keys, never
    passage text), one groupBy(doc_id) to reassemble — each passage row is
    bounded by PASSAGE_WORDS words, so state never exceeds the corpus in
    flight.  Keep-first by (doc_id, pos) is deterministic and
    shard-independent.  No reference-file counterpart; SURVEY.md §2
    LLM-pipeline dedup rows."""
    from pyspark.sql import Window

    words = F.split("text", " ")
    n_chunks = F.expr(
        f"(size(split(text, ' ')) + {PASSAGE_WORDS - 1}) div {PASSAGE_WORDS}"
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(words, i * PASSAGE_WORDS + 1, PASSAGE_WORDS), " "
        ),
    )
    paras = fan_out(corpus.select("doc_id", "text")).select(
        "doc_id", F.posexplode(chunks).alias("pos", "para")
    )
    w = Window.partitionBy(F.md5("para")).orderBy("doc_id", "pos")
    flagged = paras.withColumn("kept", F.row_number().over(w) == 1)
    clean = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.when(F.col("kept"), F.struct("pos", "para")))
            ),
            lambda x: x["para"],
        ),
        " ",
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paras"),
        F.coalesce(F.sum(F.col("kept").cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("n_kept"),
        F.md5(clean).alias("clean_md5"),
    )


def dup_triangles(pairs: DataFrame) -> DataFrame:
    """Triangle counts per node over the near-dup pair graph — the local
    clustering signal that separates a true duplicate CLUSTER (mutually
    similar docs → many closed triangles) from a star around one
    boilerplate hub (high degree, no closure).  With components (global
    structure) and PageRank (centrality) this completes the graph-analytic
    trio over the same edge list.

    Canonical distributed shape: orient every edge low→high, join the
    edge list with itself on the middle vertex to enumerate open wedges
    (a<b<c), then semi-join the closing edge — two equi-shuffles on
    vertex ids, never an all-pairs product.  A production run on a
    power-law graph would pre-order by degree so every wedge pivots at
    its lowest-degree vertex; the bucket-capped candidate generator
    already bounds degrees here.  Per-triangle credit goes to all three
    corners via one explode, then a map-side-combined groupBy."""
    e = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = ab.join(bc, "y").select("x", "y", "z")
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tris = wedges.join(closing, ["x", "z"], "left_semi")
    corners = tris.select(
        F.explode(F.array("x", "y", "z")).alias("doc_id")
    )
    return corners.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
