"""Deduplication operators for large-scale training-data pipelines
(north star per BASELINE.json; SURVEY.md §7 M6 + §1.4).

The reference's honest-upsert gap (append-only with fresh UUIDs —
``incremental_indexing_colpali_with_qdrant.py:258``, SURVEY.md §1.4)
motivates the exact tier; the near-dup tiers are the standard
web-scale text-dedup stack. All tiers are expressed as DataFrame
transformations with no Python in the hot path:

- **exact**: content-hash groupBy. One shuffle on a 128-bit key;
  skew-free by construction (hashes are uniform).
- **MinHash + LSH**: shingle/tokenize → k independent min-hashes →
  band signatures → candidate pairs join only within equal band
  buckets. The candidate join is an equi-join on band signature, so at
  scale it shuffles ``docs × bands`` small rows rather than comparing
  O(n²) pairs.
- **SimHash**: 16/64-bit sign-aggregated token hashes; near-dups have
  small Hamming distance; banding on the top bits gives the same
  equi-join blocking property.
- **n-gram Jaccard**: the exact verifier for candidate pairs (and, on
  blocked subsets, a standalone operator).
- **embedding cosine**: semantic near-dup on a vector column; blocked
  by a coarse key (label / IVF centroid) to avoid the full cross join.

Hashes are the md5-derived portable ``hash64`` (functions/text.py) so
every signature matches the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    char_shingles,
    distinct_tokens,
    hash64,
    hash64_pair,
    tokens,
)
from ..functions.vector import as_double, dot

__all__ = [
    "exact_dedup_groups", "dedup_keep_first",
    "minhash_signature", "minhash_band_pairs",
    "simhash", "simhash_near_pairs",
    "jaccard_pairs", "embedding_near_pairs", "soft_blocked_near_pairs",
    "write_soft_membership_layout", "soft_layout_near_pairs",
    "bloom_filter_build", "bloom_filter_probe",
    "ml_minhash_similarity_join", "decontaminate",
    "connected_components", "duplicated_window_stats",
]


# --- exact tier -----------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Group rows by content hash; one row per distinct content with
    the group size and the keeper (min id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def dedup_keep_first(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """MERGE-style dedup (SURVEY.md §1.4): keep exactly one physical
    row per distinct content — the min-id one. Winner join on
    (hash, id), then a physical-row dedup (duplicate ingestion runs
    carry identical ids, so a semi-join alone would keep both
    copies)."""
    hashed = df.withColumn("__h", F.md5(F.col(text_col)))
    winners = (
        hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    )
    return (
        hashed.join(winners, on=["__h", id_col], how="left_semi")
        .dropDuplicates([id_col, "__h"])
        .drop("__h")
    )


# --- MinHash + LSH tier ---------------------------------------------------

def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 8,
                      use_shingles: bool = False) -> DataFrame:
    """k min-hashes over the doc's distinct tokens (or 3-gram
    shingles). Output: id, mh0..mh{k-1}.

    Seed hashes are Kirsch–Mitzenmacher-derived from ONE md5 per term
    (``g_s = h1 + s*h2`` over the digest halves, see
    functions/text.py::hash64_pair) — 8× less hashing than md5-per-seed
    at identical MinHash quality, and still bit-reproducible in the
    DuckDB oracle. int64-exact only for s ≤ 7, hence the cap.

    Shape: explode → conditional-agg per doc. The explode is
    scan-local; the single shuffle is the groupBy on id with k partial
    mins (map-side combined)."""
    if num_hashes > 8:
        raise ValueError(
            "num_hashes > 8 would overflow int64 in the h1 + s*h2 seed "
            "derivation (60-bit halves); chain a second digest instead")
    terms = (
        char_shingles(F.col(text_col)) if use_shingles
        else distinct_tokens(F.col(text_col))
    )
    h1, h2 = hash64_pair(F.col("term"))
    hashed = df.select(
        F.col(id_col), F.explode(terms).alias("term")
    ).select(F.col(id_col), h1.alias("h1"), h2.alias("h2"))
    aggs = [
        F.min(F.col("h1") + s * F.col("h2")).alias(f"mh{s}")
        for s in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_band_pairs(sig: DataFrame, id_col: str = "doc_id",
                       num_hashes: int = 8, band_size: int = 2) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidate
    pairs. Returns (id_a, id_b, n_shared_bands), id_a < id_b."""
    n_bands = num_hashes // band_size
    bands = sig.select(
        F.col(id_col),
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                *[F.col(f"mh{b * band_size + j}") for j in range(band_size)],
            ).alias(f"band{b}")
            for b in range(n_bands)
        ],
    )
    stacked = bands.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"band{b}") for b in range(n_bands)])).alias(
            "band_sig"
        ),
    )
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(b, on="band_sig")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


# --- SimHash tier ---------------------------------------------------------

def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """Sign-aggregated token-hash fingerprint: bit i is set iff the
    sum over tokens of ±1 (by bit i of the token hash) is ≥ 0."""
    exploded = df.select(
        F.col(id_col), F.explode(distinct_tokens(F.col(text_col))).alias("term")
    ).withColumn("th", hash64(F.col("term")))
    per_bit = exploded.select(
        id_col,
        *[
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(1) == 1, 1)
            .otherwise(-1)
            .alias(f"w{i}")
            for i in range(bits)
        ],
    ).groupBy(id_col).agg(
        *[F.sum(f"w{i}").alias(f"s{i}") for i in range(bits)]
    )
    sh = None
    for i in range(bits):
        bit = F.when(F.col(f"s{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sh = bit if sh is None else sh + bit
    return per_bit.select(F.col(id_col), sh.cast("long").alias("simhash"))


def simhash_near_pairs(sh: DataFrame, id_col: str = "doc_id",
                       bits: int = 16, max_hamming: int = 3) -> DataFrame:
    """**All** pairs at Hamming distance ≤ t, via pigeonhole
    multi-block blocking: the fingerprint is split into
    ``t + 1`` contiguous segments, and a pair differing in ≤ t bits
    must agree on at least one *whole* segment — so candidates are the
    union of per-segment equi-joins, deduped, then verified with the
    exact Hamming distance. Complete (no false negatives) *and*
    linear-ish: each join shuffles on a segment value whose
    cardinality grows with the corpus, unlike fixed top-k-bit blocking
    (256 buckets → O((n/256)²) pairs — quadratic at 100 TB)."""
    n_blocks = max_hamming + 1
    base, extra = divmod(bits, n_blocks)
    segs, off = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        mask = (1 << width) - 1
        segs.append(
            F.struct(
                F.lit(i).alias("seg_idx"),
                F.shiftright(F.col("simhash"), off).bitwiseAND(mask).alias("seg_val"),
            )
        )
        off += width
    stacked = sh.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*segs)).alias("seg"),
    ).select(id_col, "simhash", "seg.seg_idx", "seg.seg_val")
    a, b = stacked.alias("a"), stacked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, on=["seg_idx", "seg_val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])  # pairs sharing several segments
    )


# --- exact-similarity tiers ----------------------------------------------

def jaccard_pairs(df: DataFrame, block_col: Column, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3,
                  min_jaccard: float = 0.0) -> DataFrame:
    """Pairwise n-gram Jaccard similarity within blocks (equi-join on
    the blocking key keeps the pair count linear-ish)."""
    sh = df.select(
        F.col(id_col),
        block_col.alias("block"),
        char_shingles(F.col(text_col), n).alias("shingles"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.round(
        F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
        / F.size(F.array_union(F.col("a.shingles"), F.col("b.shingles"))),
        6,
    )
    return (
        a.join(b, on="block")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def embedding_near_pairs(df: DataFrame, block_col: Column,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         min_cosine: float = 0.9,
                         dim: int | None = None,
                         block_out: str | None = None) -> DataFrame:
    """Semantic near-dup: pairs with cosine ≥ τ, blocked by a coarse
    key (label, IVF centroid, LSH bucket) to bound the join.

    Vectors are L2-normalized once per row *before* the self-join, so
    per-pair work is a single dot product — at P pairs over n rows
    that is O(n·d + P·d), not O(P·3d) with two norms per pair.

    ``dim`` hands the per-pair dot to ``dot_unrolled``, which unrolls
    only up to the scorers' width gate (32 dims) and is the loop form
    past it. Unrolled at 64 dims it measured SLOWER here (2.7 → 6.6 s
    at sf0.1): the τ-filter is pushed through the projection,
    duplicating the 64-term expression into both filter and project,
    while the compact zip_with form stays cheap even evaluated twice.
    The default stays zip_with."""
    from ..functions.vector import dot_unrolled

    n_par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n_par:
        # guide §2.5 "input skew": with a single-row-group input the
        # k×d block assignment + normalization below pipeline into ONE
        # map task per evaluation (both join sides evaluate it —
        # measured as two 1-task ~1.1 s broadcast builds at sf0.1).
        # Split BEFORE the projection; self-disabling at scale.
        df = df.repartition(n_par, F.col(id_col))
    v = df.select(
        F.col(id_col), block_col.alias("block"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("_norm", F.sqrt(dot(F.col("v"), F.col("v")))).select(
        id_col, "block",
        F.transform(F.col("v"), lambda x: x / F.col("_norm")).alias(vec_col),
    )
    # Explicit-N repartition of the PROBE side on the join key (guide
    # §2.5): the membership frame is a few MB, so the planner
    # broadcasts one side — and the probe side then carries its
    # source partitioning (often 1 partition: a single parquet file
    # or an eager checkpoint), serializing the quadratic per-block
    # pair work into one task (measured at sf0.1: 501k pairs in one
    # 10-16 s task; ~1 s spread). An explicit numPartitions is exempt
    # from AQE coalescing and derives from the cluster's parallelism,
    # not a constant; the build/broadcast side stays un-repartitioned
    # (at scale, past the broadcast threshold, the join inserts its
    # own exchange there — same shape either way). Spreading by
    # (block, id) rather than block alone additionally splits a hot
    # block's quadratic work across tasks — legal because the
    # broadcast join imposes no probe-side co-partitioning.
    a = v.repartition(v.sparkSession.sparkContext.defaultParallelism,
                      F.col("block"), F.col(id_col)).alias("a")
    b = v.alias("b")
    av, bv = F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")
    cos = F.round(
        dot_unrolled(av, bv, dim) if dim is not None else dot(av, bv), 6
    )
    out_cols = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        cos.alias("cosine"),
    ]
    if block_out is not None:
        # `on="block"` coalesces the key into one output column
        out_cols.insert(0, F.col("block").alias(block_out))
    return (
        a.join(b, on="block")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(*out_cols)
        .filter(F.col("cosine") >= min_cosine)
    )


def soft_blocked_near_pairs(df: DataFrame, cells_col: Column,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            min_cosine: float = 0.9,
                            block_out: str | None = None,
                            materialize_memberships: bool = False
                            ) -> DataFrame:
    """`embedding_near_pairs` with SOFT (multi-cell) blocking: each
    row belongs to an ARRAY of blocks (its top-m nearest IVF cells —
    standard SemDeDup/IVF soft assignment) and a pair is a candidate
    iff the two rows share ANY cell. This closes the cell-boundary
    miss of hard blocking (measured 7.3 % of planted near-dup pairs
    straddle a boundary at 1M rows × 1000 cells — BASELINE.md
    §SemDeDup): a straddling pair is missed only when the two copies
    share NONE of their m cells, which for near-identical vectors
    requires the boundary to split both their 1st AND 2nd
    assignments differently.

    Shape at scale: rows are exploded once per cell (m× the scan,
    2× for top-2) and the pair join stays a cell-local equi-join —
    candidate volume ≈ m²·(Σ cell²)/corpus, still n²/k-bounded, no
    all-pairs. A pair sharing several cells would be emitted once per
    shared cell; the dedupe is ALGEBRAIC, not a distinct shuffle:
    keep the pair only in the SMALLEST shared cell id
    (``block == array_min(array_intersect(a.cells, b.cells))``, a
    2×2 array intersect — cheaper than the d-dim dot it gates, and
    evaluated before the cosine filter).

    ``materialize_memberships``: localCheckpoint the normalized +
    exploded membership frame before the self-join. A self-join
    evaluates its input plan on BOTH sides, so with an expensive
    ``cells_col`` (the k×d-literal top-2 assignment) and the d
    per-element normalizations, the un-materialized form pays the
    assignment/normalize work twice per run — measured 2.9× end-to-end
    at sf0.1 (18.3 s → 6.2 s, identical values). This is the
    in-memory single-session analog of the persisted bucketed layout
    (``write_soft_membership_layout``), which remains the production
    path: at 100 TB the membership frame is corpus-sized and belongs
    on disk bucketed, not in a checkpoint."""
    n_par = df.sparkSession.sparkContext.defaultParallelism
    if materialize_memberships and df.rdd.getNumPartitions() < n_par:
        # guide §2.5 "input skew": a single-row-group input (one
        # parquet file, an eager checkpoint) pipelines the k×d top-m
        # assignment + d normalizations into ONE map task before the
        # first exchange (measured: a 1-task 2.1 s checkpoint job at
        # sf0.1, 1.9 s of it CPU). Split BEFORE the expensive
        # projection — deterministic key, value-neutral. Self-
        # disabling at scale: a real corpus scan already has ≥ cores
        # partitions, so no shuffle is added.
        df = df.repartition(n_par, F.col(id_col))
    v = df.select(
        F.col(id_col), cells_col.alias("cells"),
        as_double(F.col(vec_col)).alias("v"),
    ).withColumn("_norm", F.sqrt(dot(F.col("v"), F.col("v")))).select(
        id_col, "cells",
        F.transform(F.col("v"), lambda x: x / F.col("_norm")).alias(vec_col),
    ).withColumn("block", F.explode("cells"))
    if materialize_memberships:
        v = v.localCheckpoint(eager=True)
    # pin the PROBE side's parallelism AND spread hot cells (guide
    # §2.5): hashing on block alone puts a popular cell's WHOLE n_c²
    # pair work in one task (measured: max task 3.2 s vs median
    # 0.1 s on the clustered fixture). The join is a broadcast hash
    # join, so probe-side partitioning is free to spread by
    # (block, id) — deterministic, value-neutral. Past the broadcast
    # threshold the planner re-exchanges by block for the sort-merge
    # join and AQE's skew splitting takes over there.
    a = v.repartition(n_par, F.col("block"), F.col(id_col)).alias("a")
    b = v.alias("b")
    cos = F.round(dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6)
    out_cols = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        cos.alias("cosine"),
    ]
    if block_out is not None:
        out_cols.insert(0, F.col("block").alias(block_out))
    return (
        a.join(b, on="block")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(F.col("block") == F.array_min(
            F.array_intersect(F.col("a.cells"), F.col("b.cells"))))
        .select(*out_cols)
        .filter(F.col("cosine") >= min_cosine)
    )


def write_soft_membership_layout(df: DataFrame, cells_col: Column,
                                 path: str, table_name: str,
                                 buckets: int = 64,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding") -> None:
    """Persist the soft-assignment memberships as a BUCKETED table so
    the SemDeDup pair join runs exchange-free.

    ``soft_blocked_near_pairs`` explodes the top-m cell memberships
    in-plan, which re-shuffles the m·n exploded rows on the cell key
    every run (the dominant cost at 1M×1000 cells: 419 s solo,
    BASELINE.md §round-8). This writer pays that explode ONCE:
    normalize → explode ``cells`` to one row per (row, cell) →
    ``bucketBy(buckets, "block")`` + ``sortBy("block")`` into an
    external table at ``path``. A self-join of the table on ``block``
    then needs NO ShuffleExchange on either side (Spark's bucketed
    sort-merge join; the bucket key equals the join key), so the
    per-run cost is the cell-local pair work itself — the layout form
    SCALE.md promises for every blocked-join operator.

    The table keeps the full ``cells`` array alongside the exploded
    ``block`` so the smallest-shared-cell algebraic dedupe still
    evaluates without a DISTINCT.

    Size ``buckets`` ≥ ~8× the cluster's parallelism: a bucketed scan
    is exactly one task per bucket and AQE cannot re-split it (no
    exchange to re-plan), so too few buckets serializes the skewed
    tail — measured at 1M×1000 cells on 32 cores: 64 buckets 664 s,
    256 buckets 416 s ≡ the shuffled form's 419 s with zero
    exchanges (BASELINE.md §round-8)."""
    spark = df.sparkSession
    n_par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n_par:
        # guide §2.5 "input skew": a single-row-group input pipelines
        # the k×d assignment + normalization into ONE map task before
        # any exchange (measured: a 1-task 1.7 s write job at sf0.1).
        # Split BEFORE the expensive projection; self-disabling at
        # scale where the scan already has ≥ cores partitions.
        df = df.repartition(n_par, F.col(id_col))
    v = df.select(
        F.col(id_col), cells_col.alias("cells"),
        as_double(F.col(vec_col)).alias("v"),
    ).withColumn("_norm", F.sqrt(dot(F.col("v"), F.col("v")))).select(
        id_col, "cells",
        F.transform(F.col("v"), lambda x: x / F.col("_norm")).alias(vec_col),
    ).withColumn("block", F.explode("cells"))
    # repartition by the BUCKET key before the bucketed write:
    # `repartition(n, col)` and bucketBy share the same
    # pmod(murmur3, n) assignment, so each task holds exactly one
    # bucket → ONE file per bucket. Without it a bucketed write emits
    # (input partitions × buckets) files — at 100 TB that is millions
    # of small files (guide §6); here it also spreads the write across
    # `buckets` tasks instead of the input's partition count.
    v = v.repartition(buckets, F.col("block"))
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    (v.write.mode("overwrite")
     .bucketBy(buckets, "block").sortBy("block")
     .option("path", path).saveAsTable(table_name))


def soft_layout_near_pairs(spark, table_name: str,
                           min_cosine: float = 0.9,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           block_out: str | None = None) -> DataFrame:
    """`soft_blocked_near_pairs` over a persisted bucketed membership
    layout (``write_soft_membership_layout``): identical pair
    semantics — candidates share a cell, pairs dedupe algebraically to
    their smallest shared cell, cosine is the dot of the layout's
    pre-normalized vectors — but the self-join on ``block`` is
    bucket-co-located, so the plan has no ShuffleExchange (pinned in
    tests/test_plans.py). Per-run cost drops from
    shuffle(m·n) + join to join only."""
    t = spark.table(table_name)
    a, b = t.alias("a"), t.alias("b")
    cos = F.round(dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6)
    out_cols = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        cos.alias("cosine"),
    ]
    if block_out is not None:
        out_cols.insert(0, F.col("block").alias(block_out))
    return (
        a.join(b, on="block")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(F.col("block") == F.array_min(
            F.array_intersect(F.col("a.cells"), F.col("b.cells"))))
        .select(*out_cols)
        .filter(F.col("cosine") >= min_cosine)
    )


# --- Bloom-filter incremental dedup ---------------------------------------
#
# Deduping a NEW batch against a massive historical corpus must not
# join the corpus per batch. The Bloom filter is the standard answer:
# scan the history once into an m-bit filter (a compact aggregate),
# broadcast it, and probe each incoming batch map-side. "Maybe seen"
# rows (all k probe bits set) go to an exact check or are dropped;
# "definitely new" rows (any bit clear — the Bloom guarantee: no
# false negatives) skip the expensive path entirely. At 100 TB the
# history scan amortizes over every later batch, and the filter is
# incrementally maintainable: bit_or the new batch's own word frame
# into the stored one (a union-groupBy on ≤m/64 rows).
#
# Hashing is the portable md5 pair + Kirsch–Mitzenmacher derivation
# (g_s = h1 + s·h2, exact int64 for s ≤ 7 — same discipline as
# MinHash), so the DuckDB oracle reproduces every probe bit and the
# flag set hash-matches exactly: the "approximate" structure is
# bit-deterministic, like the engine's other sketches.

_BLOOM_M = 1 << 18      # filter bits (power of two; 4 KiB packed)
_BLOOM_K = 5            # probe hashes (K-M bound: s ≤ 7)


def _bloom_positions(text: Column, m: int, k: int) -> Column:
    """The k probe bit positions of one value: (h1 + s·h2) mod m,
    s = 0..k-1. Both halves come from ONE md5 per row."""
    h1, h2 = hash64_pair(text)
    return F.transform(F.sequence(F.lit(0), F.lit(k - 1)),
                       lambda s: F.pmod(h1 + s * h2, F.lit(m)))


def bloom_filter_build(df: DataFrame, text_col: str = "text",
                       m: int = _BLOOM_M, k: int = _BLOOM_K) -> DataFrame:
    """Build the packed filter: ``(word, bits)`` with ``word`` =
    bit position / 64 and ``bits`` the bit_or of the 1-bit masks —
    at most m/64 rows regardless of corpus size (the broadcastable
    invariant). One scan, one uniform ≤m/64-key shuffle."""
    pos = df.select(
        F.explode(_bloom_positions(F.col(text_col), m, k)).alias("bit"))
    return (pos.select(
        (F.col("bit") / 64).cast("long").alias("word"),
        # shiftleft() the function takes a literal shift; the SQL
        # form accepts the column
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))")
        .alias("mask"))
        .groupBy("word").agg(F.bit_or("mask").alias("bits")))


def bloom_filter_probe(batch: DataFrame, bloom: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       m: int = _BLOOM_M, k: int = _BLOOM_K) -> DataFrame:
    """Probe a batch against a built filter: ``(id_col, maybe_dup)``
    — true iff ALL k probe bits are set (standard Bloom semantics:
    false positives at the designed rate, never false negatives).
    The filter side broadcasts (≤m/64 rows); the only shuffle is the
    per-id k-row regroup (uniform ids)."""
    probes = batch.select(
        F.col(id_col),
        F.explode(_bloom_positions(F.col(text_col), m, k)).alias("bit"))
    probes = probes.select(
        id_col, (F.col("bit") / 64).cast("long").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))")
        .alias("mask"))
    joined = probes.join(F.broadcast(bloom), on="word", how="left")
    hit = (F.col("bits").isNotNull()
           & (F.col("bits").bitwiseAND(F.col("mask")) != 0))
    return (joined.groupBy(id_col)
            .agg((F.min(hit.cast("int")) == 1).alias("maybe_dup")))


# --- spark.ml MinHashLSH tier --------------------------------------------

def ml_minhash_similarity_join(df_a: DataFrame, df_b: DataFrame,
                               text_col: str = "text", id_col: str = "doc_id",
                               max_jaccard_dist: float = 0.5,
                               num_hash_tables: int = 5,
                               vocab_size: int = 1 << 18,
                               seed: int = 42) -> DataFrame:
    """Near-dup similarity join via pyspark.ml's MinHashLSH
    ``approxSimilarityJoin`` (SURVEY.md §7 M6): shingle → sparse
    binary vector (hashing-trick) → banded minhash join → pairs with
    Jaccard *distance* ≤ threshold.

    Complements the expression-level MinHash (minhash_signature):
    that one is oracle-checkable; this one plugs into the ml Pipeline
    ecosystem. Returns (id_a, id_b, jaccard_dist)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, RegexTokenizer

    tok = RegexTokenizer(inputCol=text_col, outputCol="__toks",
                         pattern=r"\W+", minTokenLength=1)
    tf = HashingTF(inputCol="__toks", outputCol="__features",
                   numFeatures=vocab_size, binary=True)
    fa = tf.transform(tok.transform(df_a))
    fb = tf.transform(tok.transform(df_b))
    model = MinHashLSH(inputCol="__features", outputCol="__hashes",
                       numHashTables=num_hash_tables, seed=seed).fit(fa)
    joined = model.approxSimilarityJoin(fa, fb, max_jaccard_dist,
                                        distCol="jaccard_dist")
    return joined.select(
        F.col(f"datasetA.{id_col}").alias("id_a"),
        F.col(f"datasetB.{id_col}").alias("id_b"),
        F.round("jaccard_dist", 6).alias("jaccard_dist"),
    ).filter(F.col("id_a") < F.col("id_b"))


# --- benchmark decontamination -------------------------------------------

def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination (the published n-gram overlap method:
    GPT-3 appendix C / PaLM §7 use 8–13-gram collision against eval
    sets): flag corpus documents sharing ≥ ``min_hits`` distinct word
    ``n``-grams with any benchmark document. Returns ``(id_col,
    n_hits)`` for flagged documents — anti-join against it to scrub.

    Scale shape: the benchmark side is eval sets (MBs, not TBs) — its
    distinct-shingle frame broadcasts. The corpus side explodes
    shingles scan-locally and hits the broadcast hash join *before*
    any shuffle; only matched (rare) rows reach the per-doc count agg.
    No corpus shuffle, no skew key (shingle join is broadcast-side).
    """
    from ..functions.text import word_shingles_arr

    def shingled(df: DataFrame, cols: list[str]) -> DataFrame:
        # tokenize ONCE into a bound column; the shingle lambda slices
        # the materialized array (word_shingles inline would re-run
        # the tokenizer regex per shingle slot — measured 4× slower)
        t = df.select(*cols, tokens(F.col(text_col)).alias("__toks")) \
              .filter(F.size("__toks") >= n)
        return t.select(
            *cols,
            F.explode(word_shingles_arr(F.col("__toks"), n))
            .alias("shingle"))

    bench = shingled(benchmark, []).distinct()
    hits = (
        shingled(corpus, [id_col])
        .join(F.broadcast(bench), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return hits.filter(F.col("n_hits") >= min_hits)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a
    near-dup pair graph by min-label propagation. Returns
    ``(id_col, cluster_id)`` where ``cluster_id`` is the smallest
    member id of the component — the canonical "keep one per cluster"
    key of every web-scale dedup pipeline (pairs alone can't dedup:
    A~B and B~C must collapse to ONE cluster even when A~C was never
    a candidate pair).

    Each round joins labels to the undirected edge list, takes the
    min neighbor label, and stops at fixpoint (no label changed).
    Rounds needed = graph diameter, and near-dup components are
    shallow (dup clusters are cliques-ish, diameter ≤ ~3), so 3-4
    shuffle rounds in practice; ``localCheckpoint`` truncates the
    growing lineage each round. At 100 TB with adversarial chain
    graphs, swap the propagation loop for the alternating
    large-star/small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce") — same per-round join shape, O(log n)
    round bound; the fixpoint contract and output schema stay
    identical.
    """
    und = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(edges.select(F.col(dst).alias("a"),
                               F.col(src).alias("b")))
    if nodes is None:
        labels = und.select(F.col("a").alias("id")).distinct()
    else:
        labels = nodes.select(F.col(id_col).alias("id")).distinct()
    labels = labels.withColumn("lbl", F.col("id")).localCheckpoint()
    und = und.localCheckpoint()
    for _ in range(max_iter):
        nbr_min = (
            und.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy("a").agg(F.min("lbl").alias("nbr_lbl"))
            .withColumnRenamed("a", "id")
        )
        new = labels.join(nbr_min, "id", "left").select(
            "id", F.least(F.col("lbl"),
                          F.coalesce("nbr_lbl", F.col("lbl"))).alias("lbl")
        ).localCheckpoint()
        changed = (
            new.alias("n").join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl")).limit(1).count()
        )
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    return labels.select(F.col("id").alias(id_col),
                         F.col("lbl").alias("cluster_id"))


def cell_local_components(nodes: DataFrame, edges: DataFrame,
                          cell_col: str = "cell",
                          id_col: str = "vec_id",
                          src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Connected components when every edge stays INSIDE a blocking
    cell (SemDeDup: pairs are generated within learned clusters, so
    components are cell-bounded by construction). That bound changes
    the algorithm: instead of `connected_components`' global
    min-label iteration (one join + one convergence count PER round),
    a single cogroup on the cell key hands each cell's nodes + edges
    to an Arrow-batched union-find — one shuffle total, no driver
    round-trips, and per-task memory bounded by the largest cell
    (the same bound the pair join already requires, enforced by the
    cap-and-split policy). Returns ``(id_col, cluster_id)`` with
    cluster_id = min member id — identical semantics to
    `connected_components`, value-oracle-compatible."""
    import pandas as pd

    def resolve(node_pdf: "pd.DataFrame", edge_pdf: "pd.DataFrame"):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for x in node_pdf[id_col]:
            parent[x] = x
        for a, b in zip(edge_pdf[src], edge_pdf[dst]):
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the label IS the min member id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        ids = list(node_pdf[id_col])
        return pd.DataFrame({id_col: ids,
                             "cluster_id": [find(x) for x in ids]})

    from .skew import pin_group_parallelism

    # pin both cogroup inputs (see pin_group_parallelism: AQE
    # coalesces the tiny exchanges to one task and the per-cell
    # union-finds run serially)
    return (pin_group_parallelism(nodes.select(cell_col, id_col),
                                  cell_col).groupBy(cell_col)
            .cogroup(pin_group_parallelism(
                edges.select(cell_col, src, dst), cell_col)
                .groupBy(cell_col))
            .applyInPandas(resolve,
                           schema=f"{id_col} long, cluster_id long"))


def duplicated_window_stats(df: DataFrame, window: int = 10,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            use_hash: bool = True,
                            portable: bool = True) -> DataFrame:
    """Exact-substring duplication — the distributed analog of
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": repeated ≥w-token
    spans are memorization hazards). Every length-``window`` token
    window is keyed; a key occurring in MORE THAN ONE document marks a
    duplicated span. Per-doc output: ``(doc_id, dup_windows,
    total_windows, dup_frac)``.

    Shape: one explode over sliding windows (scan-local — windows are
    built by ``transform(sequence(...))`` over the token array, no
    self-join), one groupBy on the window key (uniform 60-bit hash →
    skew-free shuffle), one key-equi-join back, one per-doc agg. At
    100 TB that is 2 shuffles of ``Σ(len_d − w + 1)`` small rows —
    the suffix array's O(total_tokens) work distributed, vs the
    undistributable single-node suffix array build. ``use_hash``
    shuffles 8-byte keys instead of ~6·w-byte window strings; the
    md5-derived ``hash64`` is portable, so the DuckDB oracle
    reproduces the exact same keys (collision probability over n
    windows ≈ n²/2⁶¹ — at 10¹⁰ windows use ``hash64_pair`` and key on
    both halves). ``portable=False`` keys on ``xxhash64`` instead —
    not oracle-reproducible, but markedly cheaper per window
    (measured at 10M docs / 210M windows: md5 is the dominant cost);
    use it when no cross-engine check is needed."""
    toks = tokens(F.col(text_col))
    toked = df.select(F.col(id_col), toks.alias("toks")).filter(
        F.size("toks") >= window)
    wins = toked.select(
        F.col(id_col),
        F.explode(F.expr(
            f"transform(sequence(1, size(toks) - {window - 1}), "
            f"i -> array_join(slice(toks, i, {window}), ' '))"
        )).alias("win"),
    )
    if not use_hash:
        key = F.col("win")
    elif portable:
        key = hash64(F.col("win"))
    else:
        key = F.xxhash64(F.col("win"))
    keyed = wins.select(F.col(id_col), key.alias("wkey"))
    dup_keys = (
        keyed.groupBy("wkey")
        .agg(F.count_distinct(id_col).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("wkey", F.lit(1).alias("__dup"))
    )
    marked = keyed.join(dup_keys, on="wkey", how="left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("__dup").isNotNull(), 1).otherwise(0))
            .alias("dup_windows"),
            F.count(F.lit(1)).alias("total_windows"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_windows") / F.col("total_windows"), 6),
        )
    )
