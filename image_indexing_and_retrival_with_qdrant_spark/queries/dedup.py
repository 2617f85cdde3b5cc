"""Dedup queries over ``documents``/``embeddings`` (SURVEY.md §7 M6,
§1.4; north-star training-data operators).

Fixture note: the synthetic corpus draws from a ~31-word vocabulary,
so token-level MinHash/SimHash collide heavily (that is the data, not
a bug — verified against the oracle). Pair-producing queries therefore
emit *aggregate* candidate counts (bounded output, still value-checked)
while signature queries emit full per-doc rows.
"""

from __future__ import annotations

from ..functions.localframe import local_literal_df
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    connected_components,
    dedup_keep_first,
    embedding_near_pairs,
    exact_dedup_groups,
    jaccard_pairs,
    minhash_band_pairs,
    minhash_signature,
    simhash,
    simhash_near_pairs,
)
from ..registry import register
from ..tables import load

_HASH = "CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"
# second independent 60-bit half of the same digest (hash64_pair twin)
_HASH2 = "CAST(('0x' || substr(md5({expr}), 17, 15)) AS BIGINT)"

_TOKS = (
    "SELECT doc_id, unnest(list_distinct(regexp_extract_all(text, '\\w+'))) AS term"
    " FROM documents"
)

# Kirsch–Mitzenmacher seed hashes from one digest: g_s = h1 + s*h2
# (functions/text.py::hash64_pair; exact int64 for s <= 7).
_KM_HASHED = (
    f"SELECT doc_id, {_HASH.format(expr='term')} AS h1,"
    f" {_HASH2.format(expr='term')} AS h2 FROM toks"
)


@register(
    "dedup_exact_groups",
    """
    SELECT md5(text) AS content_hash,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(doc_id) AS keeper_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groups with keeper ids."""
    return exact_dedup_groups(load(spark, sf_dir, "documents"))


@register(
    "dedup_rerun_semantics",
    """
    SELECT 'append' AS mode, CAST(COUNT(*) * 2 AS BIGINT) AS n_rows FROM documents
    UNION ALL
    SELECT 'merge' AS mode, CAST(COUNT(DISTINCT text) AS BIGINT) AS n_rows FROM documents
    """,
)
def dedup_rerun_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-indexing the same corpus twice: append mode duplicates every
    point (reference behavior — fresh uuid4 per run,
    ``incremental_indexing_colpali_with_qdrant.py:258``, SURVEY.md
    §1.4); merge mode keeps one row per distinct content."""
    docs = load(spark, sf_dir, "documents")
    rerun = docs.unionAll(docs)  # second indexing run
    append_n = rerun.agg(F.count(F.lit(1)).alias("n_rows")).select(
        F.lit("append").alias("mode"), "n_rows"
    )
    merge_n = (
        dedup_keep_first(rerun)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit("merge").alias("mode"), "n_rows")
    )
    return append_n.unionAll(merge_n)


_MINHASH_SIG_ORACLE = (
    f"WITH toks AS ({_TOKS}), hashed AS ({_KM_HASHED})\n"
    "SELECT doc_id,\n"
    + ",\n".join(f"  MIN(h1 + {s} * h2) AS mh{s}" for s in range(8))
    + "\nFROM hashed GROUP BY doc_id"
)


@register("dedup_minhash_signatures", _MINHASH_SIG_ORACLE)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (8 portable hash functions)."""
    return minhash_signature(load(spark, sf_dir, "documents"), num_hashes=8)


_MH_COLS = ", ".join(f"MIN(h1 + {s} * h2) AS mh{s}" for s in range(8))

_MINHASH_PAIRS_ORACLE = f"""
WITH toks AS ({_TOKS}),
hashed AS ({_KM_HASHED}),
sig AS (
  SELECT doc_id, {_MH_COLS}
  FROM hashed GROUP BY doc_id
),
bands AS (
  SELECT doc_id, concat_ws('_', 0, mh0, mh1) AS band_sig FROM sig
  UNION ALL SELECT doc_id, concat_ws('_', 1, mh2, mh3) FROM sig
  UNION ALL SELECT doc_id, concat_ws('_', 2, mh4, mh5) FROM sig
  UNION ALL SELECT doc_id, concat_ws('_', 3, mh6, mh7) FROM sig
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_bands
  FROM bands a JOIN bands b ON a.band_sig = b.band_sig AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
       CAST(COALESCE(SUM(CASE WHEN n_shared_bands = 4 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_all_band_pairs
FROM pairs
"""


@register("dedup_minhash_candidates", _MINHASH_PAIRS_ORACLE)
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-pair statistics (4 bands × 2 hashes)."""
    sig = minhash_signature(load(spark, sf_dir, "documents"), num_hashes=8)
    pairs = minhash_band_pairs(sig, num_hashes=8, band_size=2)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("n_shared_bands") == 4, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_all_band_pairs"),
    )


_SIMHASH_ORACLE = f"""
WITH toks AS ({_TOKS}),
h AS (SELECT doc_id, {_HASH.format(expr='term')} AS th FROM toks),
bitsum AS (
  SELECT doc_id, b.i,
         SUM(CASE WHEN (th >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN generate_series(0, 15) AS b(i)
  GROUP BY doc_id, b.i
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
         AS simhash
FROM bitsum GROUP BY doc_id
"""


@register("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit SimHash fingerprint."""
    return simhash(load(spark, sf_dir, "documents"), bits=16)


_SIMHASH_PAIRS_ORACLE = f"""
WITH toks AS ({_TOKS}),
h AS (SELECT doc_id, {_HASH.format(expr='term')} AS th FROM toks),
bitsum AS (
  SELECT doc_id, b.i,
         SUM(CASE WHEN (th >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN generate_series(0, 15) AS b(i)
  GROUP BY doc_id, b.i
),
sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM bitsum GROUP BY doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_near_pairs
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("dedup_simhash_near_pairs", _SIMHASH_PAIRS_ORACLE)
def dedup_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pair count (Hamming ≤ 3). The Spark side uses
    pigeonhole multi-block blocking (4 segments → per-segment
    equi-joins); the oracle is the *unblocked* exact pair count —
    matching it proves the blocking is complete, not an
    approximation."""
    sh = simhash(load(spark, sf_dir, "documents"), bits=16)
    pairs = simhash_near_pairs(sh, bits=16, max_hamming=3)
    return pairs.agg(F.count(F.lit(1)).alias("n_near_pairs"))


@register(
    "dedup_ngram_jaccard",
    """
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - 2, 1)),
               i -> substring(text, i, 3))) AS shingles
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.shingles, b.shingles))
                 / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
                        AS DOUBLE), 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity for all pairs within a source
    block (the verifier tier for LSH candidates)."""
    docs = load(spark, sf_dir, "documents")
    return jaccard_pairs(docs, F.col("source"), n=3, min_jaccard=0.0)


@register(
    "dedup_embedding_cosine",
    # normalize-then-dot, mirroring the Spark operator's shape exactly
    # (same per-element ops → bit-identical scores before rounding)
    """
    WITH nv AS (
      SELECT vec_id, label,
             list_transform(
               CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))
             ) AS v
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v), 6) AS cosine
    FROM nv a JOIN nv b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v), 6) >= 0.3
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs: cosine ≥ 0.3 within label blocks."""
    emb = load(spark, sf_dir, "embeddings")
    return embedding_near_pairs(emb, F.col("label"), min_cosine=0.3)


def _semantic_cells_oracle(sf_dir: str, thr: float = 0.3) -> str:
    """Oracle factory: re-derives the deterministic kmeans_np cells
    (same centroid literals as the ANN det tier), recomputes the
    first-min argmin assignment, then the within-cell normalize-
    then-dot pairs — the full SemDeDup path value-checked."""
    from .ann import _duck_sq_dist, _np_centroids

    cents = _np_centroids(sf_dir)
    dl = "list_value(" + ", ".join(
        _duck_sq_dist("e.embedding", c) for c in cents) + ")"
    return f"""
    WITH cand AS MATERIALIZED (
      SELECT e.vec_id,
             CAST(list_position({dl}, list_min({dl})) - 1 AS BIGINT)
               AS cell,
             list_transform(
               CAST(e.embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
             ) AS v
      FROM embeddings e
    )
    SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v), 6) AS cosine
    FROM cand a JOIN cand b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v), 6) >= {thr}
    """


@register("dedup_semantic_cells", _semantic_cells_oracle)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup pairs blocked
    by LEARNED kmeans cells instead of ground-truth labels — cluster
    the embeddings, compare only within a cluster. This is the scale
    path `dedup_embedding_cosine`'s docstring promises: the label
    column doesn't exist in a real corpus, while the IVF layout is
    already there for search, so dedup rides the same index. Blocking
    makes the pair join O(Σ cell²) instead of O(n²), and on disk the
    self-join is partition-local over the ``partitionBy(centroid_id)``
    layout (no shuffle of the corpus — each cell joins within its own
    partition). Assignment reuses the cached deterministic IVF index
    (`queries/ann.py::_ivf_det_index`), so the centroids are shared
    literals with the oracle and the whole path — training,
    assignment, blocking, scoring — hash-checks end to end."""
    from .ann import _ivf_det_index

    assigned, _ = _ivf_det_index(spark, sf_dir)
    return embedding_near_pairs(
        assigned.withColumn("cell", F.col("centroid_id").cast("long")),
        F.col("cell"), min_cosine=0.3, block_out="cell")


def _semantic_keep_oracle(sf_dir: str, thr: float = 0.3) -> str:
    """Oracle factory for the full SemDeDup resolution: det cells,
    within-cell edges, recursive-CTE components (min reachable label
    ≡ min-label-propagation fixpoint), and the keep policy as a
    window over (centroid_dist DESC, vec_id ASC)."""
    from .ann import _duck_sq_dist, _np_centroids

    cents = _np_centroids(sf_dir)
    dl = "list_value(" + ", ".join(
        _duck_sq_dist("e.embedding", c) for c in cents) + ")"
    return f"""
    WITH RECURSIVE cand AS MATERIALIZED (
      SELECT e.vec_id,
             CAST(list_position({dl}, list_min({dl})) - 1 AS BIGINT)
               AS cell,
             ROUND(list_min({dl}), 6) AS cdist,
             list_transform(
               CAST(e.embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
             ) AS v
      FROM embeddings e
    ),
    edges AS MATERIALIZED (
      SELECT a.vec_id AS ea, b.vec_id AS eb
      FROM cand a JOIN cand b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.v, b.v), 6) >= {thr}
    ),
    und AS MATERIALIZED (SELECT ea AS a, eb AS b FROM edges
            UNION ALL SELECT eb, ea FROM edges),
    reach(id, lbl) AS (
      SELECT vec_id, vec_id FROM cand
      UNION
      SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.id
    ),
    clusters AS (
      SELECT id AS vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
    )
    SELECT c.vec_id, d.cell, c.cluster_id, d.cdist,
           ROW_NUMBER() OVER (
             PARTITION BY c.cluster_id
             ORDER BY d.cdist DESC, c.vec_id ASC) = 1 AS keep
    FROM clusters c JOIN cand d ON c.vec_id = d.vec_id
    """


@register("dedup_semantic_keep", _semantic_keep_oracle)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SemDeDup resolution: within-cell near-dup pairs →
    connected components → one survivor per component, chosen as the
    point FARTHEST from its cluster centroid (Abbas et al. 2023 keep
    the low-centroid-similarity example — it is the least redundant
    member; ties by min vec_id). Emits every point with its cell,
    duplicate-cluster id, rounded own-centroid distance, and the keep
    flag — the drop list a training-data pipeline actually consumes.
    Since edges never cross cells, components resolve CELL-LOCALLY:
    one cogroup hands each cell's nodes + edges to an Arrow-batched
    union-find (`cell_local_components`) — one shuffle, no global
    min-label iteration (measured 8.8 → ~2 s at sf0.1: the loop's
    per-round join + convergence count is pure overhead when the
    graph is cell-bounded)."""
    from pyspark.sql import Window

    from ..operators.dedup import cell_local_components
    from .ann import _ivf_det_index

    assigned, _ = _ivf_det_index(spark, sf_dir)
    rows = assigned.select(
        "vec_id", "embedding",
        F.col("centroid_id").cast("long").alias("cell"),
        F.round(F.col("centroid_dist"), 6).alias("cdist"))
    pairs = embedding_near_pairs(rows, F.col("cell"), min_cosine=0.3,
                                 block_out="cell")
    cc = cell_local_components(rows, pairs)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("cdist").desc(), F.col("vec_id").asc())
    return (rows.join(cc, "vec_id")
            .select("vec_id", "cell", "cluster_id", "cdist")
            .withColumn("keep", F.row_number().over(w) == 1))


def _semantic_soft_pairs_oracle(sf_dir: str, thr: float = 0.3) -> str:
    """Oracle factory for SOFT (top-2 cell) SemDeDup blocking:
    re-derives the centroids, computes each vector's two nearest
    cells via a (d, i)-lexicographic struct sort (identical
    tie-break to Spark's array_sort over the same bit-equal
    distances), unnests to (vector, cell) memberships, and keeps a
    qualifying pair only in the smallest shared cell — the same
    algebraic dedupe the Spark side applies instead of a DISTINCT."""
    from .ann import _duck_sq_dist, _np_centroids

    cents = _np_centroids(sf_dir)
    sl = "[" + ", ".join(
        f"{{'d': {_duck_sq_dist('e.embedding', c)}, 'i': {cid}}}"
        for cid, c in enumerate(cents)) + "]"
    return f"""
    WITH cand AS MATERIALIZED (
      SELECT e.vec_id,
             list_transform(list_sort({sl}),
                            s -> CAST(s.i AS BIGINT))[1:2] AS cells,
             list_transform(
               CAST(e.embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
             ) AS v
      FROM embeddings e
    ),
    ex AS MATERIALIZED (SELECT vec_id, cells, v, unnest(cells) AS cell FROM cand)
    SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v), 6) AS cosine
    FROM ex a JOIN ex b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE a.cell = list_min(list_intersect(a.cells, b.cells))
      AND ROUND(list_dot_product(a.v, b.v), 6) >= {thr}
    """


@register("dedup_semantic_soft_pairs", _semantic_soft_pairs_oracle)
def dedup_semantic_soft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with top-2 SOFT cell assignment — the boundary-miss
    fix for `dedup_semantic_cells`: hard blocking loses the near-dup
    pairs whose two members straddle a cell boundary (measured 7.3 %
    of planted pairs at 1M rows × 1000 cells, BASELINE.md §SemDeDup;
    soft top-2 recovers recall ≥0.99 at the same shape). Each vector
    joins its TWO nearest cells (standard IVF soft assignment /
    SemDeDup's published mitigation), pairs are generated within any
    shared cell, and each qualifying pair is kept exactly once — in
    the smallest shared cell id, an algebraic rule evaluated on the
    2-element cell arrays rather than a global DISTINCT shuffle.
    Candidate volume stays n²/k-bounded (≈4× hard blocking for
    top-2). Assignment, blocking, scoring, and the dedupe rule all
    hash-check against the DuckDB twin."""
    from ..operators.ann import nearest_cells
    from ..operators.dedup import soft_blocked_near_pairs
    from .ann import _np_centroids

    cents = _np_centroids(sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    rows = emb.select(
        "vec_id", "embedding",
        F.transform(nearest_cells(cents, "embedding", 2),
                    lambda s: s["i"].cast("long")).alias("cells"))
    return soft_blocked_near_pairs(rows, F.col("cells"), min_cosine=0.3,
                                   block_out="cell",
                                   materialize_memberships=True)


@register("dedup_semantic_soft_layout_pairs", _semantic_soft_pairs_oracle)
def dedup_semantic_soft_layout_pairs(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """`dedup_semantic_soft_pairs` through the PERSISTED bucketed
    membership layout (`write_soft_membership_layout` +
    `soft_layout_near_pairs`): the 2n soft memberships are written
    once bucketBy(cell), and the pair join is a bucket-co-located
    SortMergeJoin with zero ShuffleExchanges (plan-pinned in
    tests/test_plans.py; bucket-count calibration in BASELINE.md
    §round-8 — size buckets ≥ ~8× cluster parallelism). Pair
    semantics are identical to the in-plan soft join, so the oracle
    is the same DuckDB twin — the exchange-free path itself is
    value-verified."""
    import shutil
    import tempfile

    from ..operators.ann import nearest_cells
    from ..operators.dedup import (
        soft_layout_near_pairs,
        write_soft_membership_layout,
    )
    from .ann import _np_centroids

    cents = _np_centroids(sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    rows = emb.select(
        "vec_id", "embedding",
        F.transform(nearest_cells(cents, "embedding", 2),
                    lambda s: s["i"].cast("long")).alias("cells"))
    from ..bench_phases import phase

    path = tempfile.mkdtemp(prefix="qd_soft_members_")
    table = "qd_soft_members_q"
    try:
        # bucket count derives from the DATA, capped by the cluster
        # (r11 verdict #2): a bucketed scan is one task per bucket and
        # AQE cannot re-split it, so too few buckets serializes the
        # skewed tail — but sizing by parallelism ALONE wrote 8×cores
        # near-empty buckets over a 4k-membership fixture (256 tiny
        # files + 256 near-empty scan tasks at 32c: the small-files
        # trap of guide §6 the writer exists to avoid; measured
        # 14.5 s @32c vs 4.4 s @8c on the same data). Target ~8k
        # membership rows per bucket (BASELINE.md §round-8
        # calibration: 1M rows × top-2 memberships / 256 buckets ≈
        # 8k rows each), floor 8, cap 8× parallelism. The membership
        # count is 2× the corpus rows (top-2 soft cells), read from
        # the parquet footer — metadata, not a Spark job.
        import os

        import pyarrow.parquet as _pq

        n_members = 2 * _pq.ParquetFile(
            os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows
        buckets = max(8, min(8 * spark.sparkContext.defaultParallelism,
                             n_members // 8192))
        with phase("build"):
            write_soft_membership_layout(rows, F.col("cells"), path,
                                         table, buckets=buckets)
        with phase("search"):
            res = soft_layout_near_pairs(spark, table, min_cosine=0.3,
                                         block_out="cell")
            out = res.collect()
        return local_literal_df(spark, out, res.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(path, ignore_errors=True)


def _semantic_soft_keep_oracle(sf_dir: str, thr: float = 0.3) -> str:
    """Oracle factory for the full SOFT SemDeDup resolution: top-2
    cells via struct sort, soft-blocked edges (smallest-shared-cell
    dedupe), recursive-CTE components — which may CROSS cells under
    soft blocking — and the farthest-from-primary-centroid keep."""
    from .ann import _duck_sq_dist, _np_centroids

    cents = _np_centroids(sf_dir)
    sl = "[" + ", ".join(
        f"{{'d': {_duck_sq_dist('e.embedding', c)}, 'i': {cid}}}"
        for cid, c in enumerate(cents)) + "]"
    return f"""
    WITH RECURSIVE cand AS MATERIALIZED (
      SELECT e.vec_id, list_sort({sl}) AS s,
             list_transform(
               CAST(e.embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
             ) AS v
      FROM embeddings e
    ),
    cand2 AS MATERIALIZED (
      SELECT vec_id,
             list_transform(s, x -> CAST(x.i AS BIGINT))[1:2] AS cells,
             CAST(s[1].i AS BIGINT) AS cell,
             ROUND(s[1].d, 6) AS cdist, v
      FROM cand
    ),
    ex AS MATERIALIZED (SELECT vec_id, cells, v, unnest(cells) AS cm FROM cand2),
    edges AS MATERIALIZED (
      SELECT a.vec_id AS ea, b.vec_id AS eb
      FROM ex a JOIN ex b ON a.cm = b.cm AND a.vec_id < b.vec_id
      WHERE a.cm = list_min(list_intersect(a.cells, b.cells))
        AND ROUND(list_dot_product(a.v, b.v), 6) >= {thr}
    ),
    und AS MATERIALIZED (SELECT ea AS a, eb AS b FROM edges
            UNION ALL SELECT eb, ea FROM edges),
    reach(id, lbl) AS (
      SELECT vec_id, vec_id FROM cand2
      UNION
      SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.id
    ),
    clusters AS (
      SELECT id AS vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
    )
    SELECT c.vec_id, d.cell, c.cluster_id, d.cdist,
           ROW_NUMBER() OVER (
             PARTITION BY c.cluster_id
             ORDER BY d.cdist DESC, c.vec_id ASC) = 1 AS keep
    FROM clusters c JOIN cand2 d ON c.vec_id = d.vec_id
    """


@register("dedup_semantic_soft_keep", _semantic_soft_keep_oracle)
def dedup_semantic_soft_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SemDeDup resolution over SOFT (top-2 cell) pairs: the
    keep policy of `dedup_semantic_keep` (one survivor per component,
    farthest from its PRIMARY centroid, ties by min vec_id) on the
    recall-complete soft edge set. The structural difference from the
    hard tier: soft edges can CROSS primary cells (a~b share a's
    secondary cell, b~c share b's secondary), so components are no
    longer cell-bounded and the cell-local union-find does not apply
    — this tier pays the generic min-label propagation
    (`connected_components`: diameter-bounded shuffle rounds) for
    boundary-complete clusters. The oracle recomputes everything —
    top-2 assignment, soft edges, transitive closure, keep window —
    with a recursive CTE, so cross-cell chains must collapse
    identically in both engines."""
    from ..operators.ann import nearest_cells
    from ..operators.dedup import (
        connected_components,
        soft_blocked_near_pairs,
    )
    from .ann import _np_centroids

    cents = _np_centroids(sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    rows = emb.select(
        "vec_id", "embedding",
        nearest_cells(cents, "embedding", 2).alias("__s"),
    ).select(
        "vec_id", "embedding",
        F.expr("transform(__s, s -> CAST(s.i AS BIGINT))").alias("cells"),
        F.expr("CAST(__s[0].i AS BIGINT)").alias("cell"),
        F.round(F.expr("__s[0].d"), 6).alias("cdist"))
    pairs = soft_blocked_near_pairs(rows, F.col("cells"), min_cosine=0.3,
                                    materialize_memberships=True)
    cc = connected_components(pairs, nodes=rows, id_col="vec_id")
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("cdist").desc(), F.col("vec_id").asc())
    return (rows.join(cc, "vec_id")
            .select("vec_id", "cell", "cluster_id", "cdist")
            .withColumn("keep", F.row_number().over(w) == 1))


@register(
    "dedup_duplicate_clusters",
    """
    WITH RECURSIVE sh AS MATERIALIZED (
      SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - 2, 1)),
               i -> substring(text, i, 3))) AS shingles
      FROM documents
    ),
    edges AS MATERIALIZED (
      SELECT a.doc_id AS ea, b.doc_id AS eb
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE ROUND(len(list_intersect(a.shingles, b.shingles))
            / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
                   AS DOUBLE), 6) >= 0.6
    ),
    und AS MATERIALIZED (SELECT ea AS a, eb AS b FROM edges
            UNION ALL SELECT eb, ea FROM edges),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.id
    )
    SELECT id AS doc_id, MIN(lbl) AS cluster_id,
           id = MIN(lbl) AS keep
    FROM reach GROUP BY id
    """,
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup resolution: 3-gram Jaccard ≥ 0.6 pairs (source-
    blocked) → connected components → per-doc cluster id + the
    keep-one-per-cluster survivor flag. The oracle recomputes the
    same components with a recursive CTE (min reachable label ≡
    min-label-propagation fixpoint), so the iterative Spark loop is
    value-checked end to end — transitive A~B~C chains must collapse
    identically in both engines."""
    docs = load(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, F.col("source"), n=3, min_jaccard=0.6)
    cc = connected_components(pairs, nodes=docs, id_col="doc_id")
    return cc.withColumn("keep", F.col("doc_id") == F.col("cluster_id"))


_W = 10  # window length in tokens (Lee et al. use 50 BPE tokens; the
#          synthetic docs are ~45 words, so 10 keeps spans sub-doc)

@register(
    "dedup_exact_substrings",
    f"""
    WITH toked AS (
      SELECT doc_id, regexp_extract_all(text, '\\w+') AS toks
      FROM documents
    ),
    wins AS (
      SELECT doc_id,
             {_HASH.format(expr=f"array_to_string(list_slice(toks, i, i + {_W} - 1), ' ')")} AS wkey
      FROM toked, UNNEST(range(1, len(toks) - {_W} + 2)) AS t(i)
      WHERE len(toks) >= {_W}
    ),
    dup AS (
      SELECT wkey FROM wins GROUP BY wkey
      HAVING COUNT(DISTINCT doc_id) > 1
    ),
    stats AS (
      SELECT w.doc_id,
             CAST(SUM(CASE WHEN d.wkey IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS dup_windows,
             CAST(COUNT(*) AS BIGINT) AS total_windows
      FROM wins w LEFT JOIN dup d ON w.wkey = d.wkey
      GROUP BY w.doc_id
    )
    SELECT doc_id, dup_windows, total_windows,
           ROUND(dup_windows / CAST(total_windows AS DOUBLE), 6) AS dup_frac
    FROM stats
    WHERE dup_windows > 0
    """,
)
def dedup_exact_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication (suffix-array dedup's distributed
    analog, Lee et al. 2022): docs containing a 10-token window that
    also occurs in another document, with per-doc duplicated-window
    counts and fraction. The window keys are the portable md5-derived
    ``hash64``, so the oracle reproduces them bit-for-bit."""
    from ..operators.dedup import duplicated_window_stats

    docs = load(spark, sf_dir, "documents")
    return duplicated_window_stats(docs, window=_W).filter(
        F.col("dup_windows") > 0)


_BLOOM_ORACLE = f"""
WITH hist AS (
  SELECT DISTINCT text FROM documents WHERE doc_id < 350
),
hh AS (
  SELECT {_HASH.format(expr='text')} AS h1,
         {_HASH2.format(expr='text')} AS h2
  FROM hist
),
hbits AS (
  SELECT DISTINCT (h1 + s * h2) % 262144 AS bit
  FROM hh, (SELECT unnest(generate_series(0, 4)) AS s)
),
batch AS (
  SELECT doc_id, {_HASH.format(expr='text')} AS h1,
         {_HASH2.format(expr='text')} AS h2
  FROM documents WHERE doc_id >= 250
),
bprobe AS (
  SELECT doc_id, (h1 + s * h2) % 262144 AS bit
  FROM batch, (SELECT unnest(generate_series(0, 4)) AS s)
),
flags AS (
  SELECT doc_id,
         MIN(CASE WHEN bit IN (SELECT bit FROM hbits)
             THEN 1 ELSE 0 END) = 1 AS maybe_dup
  FROM bprobe GROUP BY doc_id
)
SELECT doc_id, maybe_dup FROM flags
"""


@register("dedup_bloom_incremental", _BLOOM_ORACLE)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a historical corpus WITHOUT joining
    it per batch: docs < 350 are the history, docs ≥ 250 the incoming
    batch (the 250-349 overlap plants guaranteed re-ingested rows —
    every one MUST flag; the fixture's texts are otherwise distinct,
    so the rest flag only at the designed false-positive rate). The
    history scans ONCE into a packed m-bit Bloom filter (≤ m/64
    ``(word, bits)`` rows — broadcastable at any corpus size); the
    batch probes it map-side and flags rows whose k probe bits are all
    set. No false negatives by construction, so unflagged rows safely
    skip any exact check. Probes use the portable md5 pair +
    Kirsch–Mitzenmacher hashes (the MinHash discipline), making the
    filter bit-deterministic: the oracle re-derives every probe bit as
    a position-set membership — exactly equivalent to the packed
    word test."""
    from ..operators.dedup import bloom_filter_build, bloom_filter_probe

    docs = load(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") < 350)
    batch = docs.filter(F.col("doc_id") >= 250)
    bloom = bloom_filter_build(hist)
    return bloom_filter_probe(batch, bloom)
