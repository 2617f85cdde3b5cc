"""Approximate nearest-neighbor tiers (SURVEY.md §4, §7 M5).

The reference delegates ANN to Qdrant's server-side HNSW (built past
``indexing_threshold``,
``incremental_indexing_colpali_with_qdrant.py:132``). Spark has no
HNSW; the scale-out design replaces it with two tiers, both judged by
recall@k against the exact scan (FIXTURES.md §4 — approximate by
design, rows-only in the driver):

- **IVF (inverted file / coarse quantization)**: KMeans centroids →
  every vector assigned to its nearest centroid → corpus stored
  ``partitionBy(centroid_id)`` → a query probes only the ``nprobe``
  nearest centroids' partitions. With the partition layout on disk,
  Catalyst's partition pruning turns the probe into a scan of
  ``nprobe/k`` of the data — this is the 100 TB path.
  ``nprobe = k_centroids`` degenerates to the exact scan (recall 1.0),
  which the tests pin.
- **LSH (random hyperplane / sign projection)**: portable, seeded,
  pure-column-expression sign-bit signatures; candidates = rows whose
  signature matches the query's in any band; exact rescoring of
  candidates. (``pyspark.ml``'s BucketedRandomProjectionLSH offers the
  same via ``approxNearestNeighbors``, but it is driver-loop oriented
  for multi-query use; the expression form broadcasts any number of
  queries.)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from ..functions.localframe import local_literal_df

from ..functions.vector import as_double, cosine, dot, dot_unrolled
from .topk import global_topk

__all__ = ["ivf_build", "ivf_search", "ivf_cell_counts",
           "ivf_split_hot_cells", "ivf_probe_ids", "nearest_cells",
           "nearest_np", "nearest_sql", "lsh_signatures", "lsh_band_frame",
           "lsh_candidates", "lsh_probe", "lsh_probe_literal",
           "lsh_query_signature", "lsh_search"]


# --- IVF ------------------------------------------------------------------

#: The one size gate of the nearest-centroid rule: a codebook of
#: k·d ≤ this many coordinates (PQ: the whole projection's
#: blocks·k·subdim) runs as the SQL expression, a larger one as the
#: Arrow UDF over ``nearest_np``. Both forms return the same ids and
#: distances, so the gate only picks the faster one: the expression is
#: interpreted (higher-order functions keep its projection out of
#: whole-stage codegen) and linear in k·d, the UDF pays a fixed
#: Arrow/worker cost and is nearly flat in k; they cross between 256
#: and 512 coordinates. Median of 3 warm wall seconds of one
#: assignment pass over 20k cached rows, local[4], Spark 4.1.2
#: (``python stress.py assign 20000 <dim>``; SCALE.md §"Loop-shaped
#: k-way centroid expressions"):
#:
#:   dim 16:  k      4     8    16    32    64   128   256
#:            sql  0.31  0.29  0.43  0.74  1.33  2.21  4.52
#:            udf  0.55  0.42  0.41  0.40  0.43  0.41  0.38
#:   dim 64:  k      4     8    16    32    64   128   256
#:            sql  0.41  0.57  0.95  1.86  3.29  6.32 14.51
#:            udf  0.47  0.43  0.41  0.45  0.43  0.38  0.41
NEAREST_SQL_MAX = 512


def nearest_sql(centroids: list[list[float]], vec_sql: str,
                n: int = 1) -> str:
    """The nearest-centroid rule as SQL: the ``n`` nearest centroids of
    the array ``vec_sql`` as ``(d, i)`` structs sorted by (distance,
    id). ``d`` is squared euclid as a LEFT-TO-RIGHT float64 fold of
    (x − c)² (``aggregate(zip_with(...))`` seeded with 0.0 — exact,
    every term is ≥ +0.0), one ``transform`` over a constant-folded
    2D centroid literal, so the plan stays O(1) in k·d (the literals
    are data, not generated code)."""
    rows = ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in c) + ")"
        for c in centroids)
    return (f"slice(sort_array(transform(array({rows}), (c, i) -> "
            f"named_struct('d', aggregate(zip_with(CAST({vec_sql} AS "
            f"ARRAY<DOUBLE>), c, (x, y) -> (x - y) * (x - y)), "
            f"CAST(0.0 AS DOUBLE), (a, x) -> a + x), 'i', i))), 1, "
            f"{int(n)})")


def nearest_np(V, C, n: int = 1):
    """The nearest-centroid rule in numpy: ``(D, I)``, each (rows × n),
    the ``n`` nearest rows of ``C`` to each row of ``V`` sorted by
    (d, i) — the same fold distances and order as ``nearest_sql``,
    bit for bit.

    BLAS only picks candidates. With u = 2⁻⁵³ and γₘ = mu/(1 − mu),
    let M = (‖v‖ + max‖c‖)², D the exact distance, F its fold value and
    A = ‖c‖² − 2v·c as BLAS computes it (any summation order):
    - |A + ‖v‖² − D| ≤ γ_d(‖c‖² + 2‖v‖‖c‖) + u(1+γ_d)(‖v‖+‖c‖)²
      ≤ γ_{d+1}·M (dot and norm errors, then the rounded subtraction);
    - |F − D| ≤ γ_{d+2}·D ≤ γ_{d+2}·M (each (x−c)² carries γ₃, the
      sequential sum of d non-negative terms γ_{d−1}).
    So A_j − A_s > 4γ_{d+2}·M implies F_j > F_s. Every centroid whose
    A is within that slack of the n-th smallest A is a candidate; any
    other centroid loses to each of the n smallest-A ones under the
    fold, so the fold's top n lies among the candidates, which are
    re-ranked by the fold itself. Usually there are exactly n. The
    slack carries 2⁻³⁰ relative headroom for rounding in computing it
    and in the comparison. A row with fewer than n candidates (a NaN
    coordinate) folds against all k."""
    C = np.asarray(C, dtype=np.float64)
    V = np.asarray(V, dtype=np.float64).reshape(-1, C.shape[1])
    n = min(n, len(C))
    m, d = V.shape
    if m == 0:
        return np.empty((0, n)), np.empty((0, n), dtype=np.int64)
    c_sq = (C * C).sum(axis=1)
    A = V @ C.T
    A *= -2.0
    A += c_sq
    A -= (A.min(axis=1, keepdims=True) if n == 1
          else np.partition(A, n - 1, axis=1)[:, n - 1:n])
    reach = np.sqrt((V * V).sum(axis=1)) + np.sqrt(c_sq.max())
    u = (d + 2) * 2.0 ** -53
    slack = 4.0 * u / (1 - u) * (1 + 2.0 ** -30) * reach * reach
    cand = A <= slack[:, None]
    cand[cand.sum(axis=1) < n] = True
    rows, cols = np.nonzero(cand)
    diff = (V[rows] - C[cols]).T
    dist = np.zeros(len(rows))
    for x in diff:
        dist = dist + x * x
    order = np.lexsort((cols, dist, rows))
    first = np.concatenate(([0], np.cumsum(cand.sum(axis=1))[:-1]))
    take = order[(first[:, None] + np.arange(n)).ravel()]
    return dist[take].reshape(m, n), cols[take].reshape(m, n)


def _arrow_rows(v, d: int):
    """An Arrow ``list<double>`` batch as an (m × d) float64 matrix of
    its non-null rows, plus the validity mask."""
    valid = np.asarray(v.is_valid(), dtype=bool)
    flat = v.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(-1, d), valid


def _nearest_udf(centroids: list[list[float]], n: int):
    """``nearest_np`` as an Arrow UDF returning ``nearest_sql``'s
    shape. A null vector gets what the expression gives it: every
    distance null, so the ids in order."""
    C = np.asarray(centroids, dtype=np.float64)
    n = min(n, len(C))

    @arrow_udf("array<struct<d:double,i:int>>")
    def nearest(v: pa.Array) -> pa.Array:
        V, valid = _arrow_rows(v, C.shape[1])
        D = np.zeros((len(valid), n))
        ids = np.tile(np.arange(n), (len(valid), 1))
        D[valid], ids[valid] = nearest_np(V, C, n)
        cells = pa.StructArray.from_arrays(
            [pa.array(D.ravel(), mask=np.repeat(~valid, n)),
             pa.array(ids.ravel().astype(np.int32))], names=["d", "i"])
        offsets = np.arange(0, len(valid) * n + 1, n, dtype=np.int32)
        return pa.ListArray.from_arrays(pa.array(offsets), cells)

    return nearest


def nearest_cells(centroids: list[list[float]], vec: Column | str,
                  n: int = 1) -> Column:
    """The ``n`` nearest centroids of each row's vector as sorted
    ``(d, i)`` structs (``[0].i`` is the row's cell) — the one
    nearest-centroid rule every cell assignment, soft top-n, probe list
    and PQ code uses, so a point and a probe always agree on its cell.
    ``vec`` is a column name or a Column. ``nearest_sql`` runs when
    k·d ≤ ``NEAREST_SQL_MAX`` and ``vec`` is a name; otherwise (a
    Column has no SQL text to inline) the Arrow UDF over
    ``nearest_np``. The two return the same values."""
    k, d = len(centroids), len(centroids[0])
    if isinstance(vec, str) and k * d <= NEAREST_SQL_MAX:
        return F.expr(nearest_sql(centroids, f"`{vec}`", n))
    col = F.col(f"`{vec}`") if isinstance(vec, str) else vec
    return _nearest_udf(centroids, n)(col.cast("array<double>"))


def ivf_build(corpus: DataFrame, k_centroids: int = 16,
              vec_col: str = "embedding", id_col: str = "vec_id",
              seed: int = 42, max_iter: int = 10,
              sample_fraction: float | None = None):
    """KMeans coarse quantizer. Returns (assigned_corpus, centroids)
    where ``assigned_corpus`` carries a ``centroid_id`` column — at
    scale, write it ``partitionBy("centroid_id")``.

    With ``sample_fraction`` set, KMeans trains on a seeded sample and
    the full corpus is assigned by ``nearest_cells`` — the scale path
    (SCALE.md): training cost is bounded by the sample, the assignment
    is one projection over one scan."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus
    if sample_fraction is not None:
        train = corpus.sample(fraction=sample_fraction, seed=seed)
    feat = train.withColumn("__features", array_to_vector(as_double(F.col(vec_col))))
    model = KMeans(k=k_centroids, seed=seed, maxIter=max_iter,
                   featuresCol="__features", predictionCol="centroid_id").fit(feat)
    centroids = [c.tolist() for c in model.clusterCenters()]
    if sample_fraction is not None:
        assigned = corpus.withColumn(
            "centroid_id", nearest_cells(centroids, vec_col)[0]["i"])
    else:
        full_feat = corpus.withColumn(
            "__features", array_to_vector(as_double(F.col(vec_col)))
        )
        assigned = model.transform(full_feat).drop("__features")
    spark = corpus.sparkSession
    cdf = local_literal_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "centroid_id int, centroid array<double>",
    )
    return assigned, cdf


def ivf_cell_counts(assigned: DataFrame) -> dict[int, int]:
    """Per-cell row counts (≤ k_centroids rows driver-side) — the
    balance diagnostic a layout owner watches: max(count)/total is the
    hot-cell fraction, and a probe of that cell costs that fraction of
    the corpus scan."""
    return {r.centroid_id: r.n for r in
            assigned.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n")).collect()}


def ivf_split_hot_cells(assigned: DataFrame,
                        centroids: list[list[float]] | DataFrame,
                        cap_fraction: float = 0.05,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        seed: int = 42, train_sample: int = 20_000,
                        max_subs: int = 256,
                        counts: dict[int, int] | None = None):
    """Cap-and-split IVF rebalance (SCALE.md §ANN: bucket skew is the
    known failure mode). Any cell holding more than ``cap_fraction``
    of the corpus — typically the result of ingesting a dense region
    AFTER the coarse quantizer was trained (centroid drift) — is
    re-trained in place: ``ceil(cell/cap)`` sub-centroids are fit
    (deterministic `kmeans_np`) on a seeded, id-sorted sample of the
    cell's own members, and ONLY that cell's rows are re-assigned
    among the new sub-centroids (one projection over the
    hot partition — cold partitions are never read or rewritten,
    which on a ``partitionBy(centroid_id)`` layout makes the rebalance
    cost proportional to the hot data, not the corpus). The retired
    centroid id is dropped from the centroid table; sub-centroids get
    fresh ids above the existing range, so cold cells keep their
    partition directories untouched.

    Semantics are preserved exactly: cells are a partition of the
    corpus before and after, so an exhaustive probe still equals the
    exact scan (pinned in tests/test_ann.py). Recall at fixed nprobe
    IMPROVES for queries near the former hot region (the probe now
    scans the relevant sub-cell instead of the merged blob); a probe
    budget stated as a fraction of cells keeps its cost bound because
    sub-cells are at-or-under the cap by construction.

    Returns ``(assigned, centroid_rows)`` where ``centroid_rows`` is
    ``[(cid, center), ...]`` ready for `spark.createDataFrame(...,
    "centroid_id int, centroid array<double>")`."""
    import math

    if isinstance(centroids, DataFrame):
        cent_rows = [(int(r.centroid_id), list(r.centroid))
                     for r in centroids.collect()]
    else:
        cent_rows = list(enumerate(centroids))
    if counts is None:
        counts = ivf_cell_counts(assigned)
    total = sum(counts.values())
    hot = {cid: c for cid, c in counts.items()
           if c / total > cap_fraction}
    if not hot:
        return assigned, cent_rows
    next_id = max(cid for cid, _ in cent_rows) + 1
    out_rows = [(cid, c) for cid, c in cent_rows if cid not in hot]
    pieces = [assigned.filter(~F.col("centroid_id").isin(list(hot)))]
    for cid in sorted(hot):
        cnt = hot[cid]
        k_sub = min(max_subs,
                    max(2, math.ceil(cnt / (cap_fraction * total))))
        cell = assigned.filter(F.col("centroid_id") == cid)
        frac = min(1.0, (train_sample * 1.25) / cnt)
        sample = (cell.select(F.col(id_col), as_double(F.col(vec_col))
                              .alias("__v"))
                  .sample(fraction=frac, seed=seed)
                  .limit(train_sample).collect())
        # id-sort for a stable training order (collect order isn't)
        X = [r[1] for r in sorted(sample, key=lambda r: r[0])]
        subs = kmeans_np(X, min(k_sub, len(X)), seed=seed)
        pieces.append(cell.withColumn(
            "centroid_id",
            (nearest_cells(subs, vec_col)[0]["i"]
             + F.lit(next_id)).cast("int")))
        out_rows.extend((next_id + j, s) for j, s in enumerate(subs))
        next_id += len(subs)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out, out_rows


def ivf_probe_ids(centroids: DataFrame, query: DataFrame, nprobe: int,
                  query_vec_col: str = "query_vec") -> list[int]:
    """The ids of the ``nprobe`` centroids nearest the one query row,
    collected driver-side so a probe filters the corpus by a literal,
    partition-pruned ``centroid_id IN (...)`` (a broadcast join would
    scan every partition). The table is ≤ k rows, so it is ranked by
    ``nearest_np`` on the driver — the cells' own assignment rule."""
    cents = sorted(centroids.collect(), key=lambda r: r.centroid_id)
    qv = query.select(query_vec_col).first()[0]
    _, ids = nearest_np([qv], [r.centroid for r in cents], nprobe)
    return [int(cents[i].centroid_id) for i in ids[0]]


def ivf_search(assigned: DataFrame, centroids: DataFrame, query: DataFrame,
               k: int = 5, nprobe: int = 4, id_col: str = "vec_id",
               vec_col: str = "embedding", query_vec_col: str = "query_vec",
               round_digits: int | None = 6,
               probe_ids: list[int] | None = None) -> DataFrame:
    """Probe the nprobe nearest centroids, exact cosine within them.

    The centroid shortlist is ``ivf_probe_ids`` (a literal, statically
    partition-pruned ``centroid_id IN (...)``). Callers that already
    hold the centroids driver-side (the deterministic kmeans_np tiers,
    or an exhaustive probe) pass ``probe_ids`` directly and skip even
    that ≤k-row collect.

    Cells are probed by **squared euclidean** distance — the same
    rule the vectors were assigned with (Voronoi cells are euclidean
    constructs; ranking them by dot/cosine loses the query's own cell
    on non-normalized corpora)."""
    if probe_ids is None:
        probe_ids = ivf_probe_ids(centroids, query, nprobe, query_vec_col)

    candidates = assigned.filter(F.col("centroid_id").isin(probe_ids))
    score = cosine(as_double(F.col(vec_col)), as_double(F.col(query_vec_col)))
    if round_digits is not None:
        score = F.round(score, round_digits)
    scored = (
        candidates.join(F.broadcast(query.select(query_vec_col)))
        .withColumn("score", score)
        .select(id_col, "score")
    )
    return global_topk(scored, [("score", False), (id_col, True)], k)


# --- sign-projection LSH --------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signatures(df: DataFrame, dim: int, vec_col: str = "embedding",
                   n_planes: int = 8, n_bands: int = 2,
                   seed: int = 7) -> DataFrame:
    """Random-hyperplane sign signatures, split into bands. Adds
    ``band0..band{n_bands-1}`` string columns (bucket keys). Pure
    column expressions — signature computation is scan-local."""
    planes = _hyperplanes(dim, n_planes, seed)
    per_band = n_planes // n_bands
    # dot_unrolled on (name, literal plane) renders one SQL string per
    # plane (~ms) instead of dim F.lit py4j calls; the sum order is
    # identical to the zip_with dot, so signatures are unchanged
    bits = [
        F.when(dot_unrolled(vec_col, p, dim) >= 0, "1").otherwise("0")
        for p in planes
    ]
    out = df
    for b in range(n_bands):
        sig = F.concat(*bits[b * per_band:(b + 1) * per_band])
        out = out.withColumn(f"band{b}", sig)
    return out


def lsh_band_frame(df: DataFrame, dim: int, vec_col: str = "embedding",
                   carry_cols: tuple[str, ...] = (), n_planes: int = 8,
                   n_bands: int = 2, seed: int = 7) -> DataFrame:
    """Stacked ``(band_idx, band_sig, *carry)`` frame — one row per
    (row, band). This is the bucket-materialized layout: at scale,
    persist it ``bucketBy(band_sig)`` (or partition on a band_sig
    prefix) once, and every probe becomes a bucket-pruned equi-join.
    Mirrors ``dedup.minhash_band_pairs``'s stacked-band shape."""
    sig = lsh_signatures(df, dim, vec_col, n_planes, n_bands, seed)
    bands = F.array(*[F.col(f"band{b}") for b in range(n_bands)])
    return sig.select(
        *carry_cols, F.posexplode(bands).alias("band_idx", "band_sig")
    )


def _flip_variant(sig: Column, positions: tuple[int, ...],
                  length: int) -> Column:
    """The signature string with the 1-indexed ``positions`` bits
    flipped — one concat expression, no UDF."""
    parts = []
    for i in range(1, length + 1):
        ch = F.substring(sig, i, 1)
        if i in positions:
            ch = F.when(ch == "1", F.lit("0")).otherwise(F.lit("1"))
        parts.append(ch)
    return F.concat(*parts)


def _lsh_candidates_with_dups(c_stack: DataFrame, query: DataFrame, dim: int,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              query_vec_col: str = "query_vec",
                              n_planes: int = 8, n_bands: int = 2,
                              seed: int = 7,
                              multiprobe: int = 0) -> DataFrame:
    """Bucket-matched rows, one per (row, matching bucket) — a row
    matching several bands/probe-buckets appears several times."""
    q_stack = lsh_band_frame(
        query.withColumnRenamed(query_vec_col, vec_col), dim, vec_col,
        (vec_col,), n_planes, n_bands, seed,
    ).withColumnRenamed(vec_col, query_vec_col)

    if multiprobe:
        from itertools import combinations

        per_band = n_planes // n_bands
        variants = [F.col("band_sig")]
        for r in range(1, min(multiprobe, per_band) + 1):
            for combo in combinations(range(1, per_band + 1), r):
                variants.append(
                    _flip_variant(F.col("band_sig"), combo, per_band))
        q_stack = q_stack.withColumn(
            "band_sig", F.explode(F.array(*variants)))

    return c_stack.join(F.broadcast(q_stack), on=["band_idx", "band_sig"])


def lsh_candidates(c_stack: DataFrame, query: DataFrame, dim: int,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_vec_col: str = "query_vec", n_planes: int = 8,
                   n_bands: int = 2, seed: int = 7,
                   multiprobe: int = 0) -> DataFrame:
    """The candidate rows a probe would rescore: equi-join of the
    corpus band frame against the (optionally multi-probe-expanded)
    broadcast query bands, deduplicated per row. Split out so the
    recall harness can measure candidate-set cost directly."""
    return _lsh_candidates_with_dups(
        c_stack, query, dim, id_col, vec_col, query_vec_col,
        n_planes, n_bands, seed, multiprobe,
    ).dropDuplicates([id_col])


def lsh_probe(c_stack: DataFrame, query: DataFrame, dim: int, k: int = 5,
              id_col: str = "vec_id", vec_col: str = "embedding",
              query_vec_col: str = "query_vec", n_planes: int = 8,
              n_bands: int = 2, seed: int = 7,
              round_digits: int | None = 6,
              multiprobe: int = 0) -> DataFrame:
    """Probe a prebuilt corpus band frame (``lsh_band_frame`` with
    ``carry_cols=(id_col, vec_col)``): candidates = rows whose
    signature matches a query band bucket, then exact cosine rescoring
    of candidates only. The probe is an **equi-join** on
    ``(band_idx, band_sig)`` against the broadcast query bands
    (BroadcastHashJoin — the hashed relation rejects non-matching
    buckets at scan speed; on a band-bucketed/persisted layout the
    scan itself prunes). The corpus signature build is a one-time
    index cost — callers cache/persist ``c_stack`` and pay only this
    probe per query, the same build-outside-the-timer policy as the
    IVF/PQ/SQ/BQ tiers (Qdrant builds HNSW once, too).

    ``multiprobe=m`` (query-directed multi-probe LSH, Lv et al.,
    VLDB'07): additionally probe every bucket within Hamming distance
    ``m`` of each query band signature — with ``b`` bits per band
    that is ``Σ_{{r≤m}} C(b,r)`` buckets per band, generated as pure
    concat/flip column expressions on the (tiny, broadcast) query
    side. The corpus side is untouched, so recall rises without
    touching signature layout or paying a second scan: only the
    candidate set grows, by roughly the probe-bucket multiple."""
    cand_dup = _lsh_candidates_with_dups(
        c_stack, query, dim, id_col, vec_col, query_vec_col,
        n_planes, n_bands, seed, multiprobe)
    score = cosine(as_double(F.col(vec_col)), as_double(F.col(query_vec_col)))
    if round_digits is not None:
        score = F.round(score, round_digits)
    scored = cand_dup.select(F.col(id_col), score.alias("score"))
    # A row matching in several bands/probe-buckets appears up to
    # n_bands·buckets times with an IDENTICAL score, so dedup can run
    # AFTER top-k: the top k·dups rows by (score, id) are guaranteed to
    # contain the k distinct best ids. That keeps the corpus-sized path
    # a single TakeOrderedAndProject (map-side prune, no exchange) and
    # moves the dropDuplicates shuffle onto ≤ k·dups rows.
    dups = n_bands
    if multiprobe:
        from math import comb

        per_band = n_planes // n_bands
        dups *= sum(comb(per_band, r)
                    for r in range(0, min(multiprobe, per_band) + 1))
    top_dup = global_topk(scored, [("score", False), (id_col, True)], k * dups)
    # bounded input (≤ k·dups rows): single-partition dedup is safe and
    # skips a 32-task exchange round
    return global_topk(top_dup.coalesce(1).dropDuplicates([id_col]),
                       [("score", False), (id_col, True)], k)


def lsh_query_signature(qvec, dim: int, n_planes: int = 8,
                        n_bands: int = 2, seed: int = 7) -> list[str]:
    """Driver-side band signatures for ONE query vector — bit-identical
    to the expression path: each hyperplane dot accumulates left-to-
    right in float64, exactly the order ``dot_unrolled`` renders, and
    Python floats ARE IEEE doubles, so the signs (hence signatures)
    cannot differ. This is how any client-side LSH system works: the
    query hashes at the client, the store only answers bucket reads."""
    planes = _hyperplanes(dim, n_planes, seed)
    bits = []
    for p in planes:
        s = 0.0
        for j in range(dim):
            s += float(qvec[j]) * p[j]
        bits.append("1" if s >= 0 else "0")
    per_band = n_planes // n_bands
    return ["".join(bits[b * per_band:(b + 1) * per_band])
            for b in range(n_bands)]


def _probe_buckets(sigs: list[str], multiprobe: int) -> list[tuple[int, str]]:
    """(band_idx, band_sig) bucket list, multi-probe-expanded."""
    from itertools import combinations

    out = []
    for b, sig in enumerate(sigs):
        variants = [sig]
        for r in range(1, min(multiprobe, len(sig)) + 1):
            for combo in combinations(range(len(sig)), r):
                variants.append("".join(
                    ("0" if ch == "1" else "1") if i in combo else ch
                    for i, ch in enumerate(sig)))
        out.extend((b, v) for v in variants)
    return out


def lsh_probe_literal(c_stack: DataFrame, qvec, dim: int, k: int = 5,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_planes: int = 8, n_bands: int = 2, seed: int = 7,
                      round_digits: int | None = 6,
                      multiprobe: int = 0) -> DataFrame:
    """``lsh_probe`` with the query as a plain vector: the band
    signatures are computed driver-side (``lsh_query_signature``,
    bit-identical) and the probe is a LITERAL bucket predicate pushed
    into the band-frame scan — no broadcast side, no per-query
    planning/codegen of the 8×dim signature expressions (~0.7 s/query
    at dim=64), and on a ``bucketBy(band_sig)``/partitioned layout the
    literal predicate prunes files statically. Results (ids and
    scores) are identical to ``lsh_probe`` — pinned in
    tests/test_ann.py."""
    buckets = _probe_buckets(
        lsh_query_signature(qvec, dim, n_planes, n_bands, seed), multiprobe)
    pred = None
    for b, sig in buckets:
        term = (F.col("band_idx") == b) & (F.col("band_sig") == sig)
        pred = term if pred is None else (pred | term)
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    score = cosine(as_double(F.col(vec_col)), as_double(qlit))
    if round_digits is not None:
        score = F.round(score, round_digits)
    scored = c_stack.filter(pred).select(F.col(id_col),
                                         score.alias("score"))
    # same dedup-after-top-k argument as lsh_probe
    dups = len(buckets)
    top_dup = global_topk(scored, [("score", False), (id_col, True)], k * dups)
    return global_topk(top_dup.coalesce(1).dropDuplicates([id_col]),
                       [("score", False), (id_col, True)], k)


def lsh_search(corpus: DataFrame, query: DataFrame, dim: int, k: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               query_vec_col: str = "query_vec", n_planes: int = 8,
               n_bands: int = 2, seed: int = 7,
               round_digits: int | None = 6,
               multiprobe: int = 0) -> DataFrame:
    """One-shot convenience: build the corpus band frame, then
    ``lsh_probe``. Repeated queries should build
    ``lsh_band_frame(corpus, ..., carry_cols=(id_col, vec_col))``
    once (persist / bucketBy(band_sig) on disk) and call
    ``lsh_probe`` directly — see queries/ann.py's cached index."""
    c_stack = lsh_band_frame(corpus, dim, vec_col, (id_col, vec_col),
                             n_planes, n_bands, seed)
    return lsh_probe(c_stack, query, dim, k, id_col, vec_col,
                     query_vec_col, n_planes, n_bands, seed,
                     round_digits, multiprobe)


# --- deterministic numpy KMeans (the sample-train scale path, made
# --- bit-reproducible so the IVF tier can carry a full value oracle)

def kmeans_np(data, k: int, seed: int = 42, max_iter: int = 10):
    """Lloyd's KMeans in pure numpy with DETERMINISTIC float behavior:
    distances via squared-difference pairwise sums (`(x−c)²` summed
    with np.sum's pairwise reduction — no BLAS GEMM, whose reduction
    order varies with thread count), k-means++-free seeded init
    (first-k of a seeded permutation), first-minimum argmin
    tie-break, means via np.mean (pairwise, deterministic). Given the
    same rows in the same order, any process produces bit-identical
    centroids — which is what lets a query builder and its oracle
    generator derive the SAME codebook independently.

    This mirrors how production IVF actually trains (FAISS: sampled
    in-memory train, then distributed assignment); the engine's
    assignment/probe stay Spark expressions over centroid literals.
    """
    X = np.asarray(data, dtype=np.float64)
    n = X.shape[0]
    if n < k:
        raise ValueError(f"need >= {k} training rows, got {n}")
    rng = np.random.RandomState(seed)
    C = X[np.sort(rng.permutation(n)[:k])].copy()
    for _ in range(max_iter):
        # (n, k) squared distances without GEMM, one centroid at a
        # time: same elementwise (x−c)² and same pairwise np.sum over
        # the dim axis as the broadcast (n, k, dim) form — bit-equal
        # results — but peak memory is (n, dim) instead of (n, k,
        # dim), which at the 64k×64×64 auto-index train shape is the
        # difference between 32 MB and 2 GB per iteration (measured
        # minutes → seconds)
        d = np.stack([((X - c) ** 2).sum(axis=1) for c in C], axis=1)
        assign = np.argmin(d, axis=1)  # first-min tie-break
        newC = C.copy()
        for j in range(k):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
        if np.array_equal(newC, C):
            break
        C = newC
    return [c.tolist() for c in C]


def read_vectors_np(parquet_path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    sample: int | None = None, seed: int = 42):
    """Driver-side vector fetch for deterministic training: read the
    parquet directly (pyarrow), sort by id (a total, engine-agnostic
    order), optionally take a seeded row sample. Both the Spark query
    builder and the DuckDB oracle generator call THIS — same rows,
    same order, same floats — so their trained codebooks are
    bit-identical. At 100 TB the equivalent is a seeded sample job
    written to one file; training is in-memory either way (FAISS
    convention)."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = np.asarray(t.column(id_col))
    order = np.argsort(ids, kind="stable")
    vecs = t.column(vec_col).to_pylist()
    X = np.asarray([vecs[i] for i in order], dtype=np.float64)
    if sample is not None and sample < len(X):
        rng = np.random.RandomState(seed)
        X = X[np.sort(rng.permutation(len(X))[:sample])]
    return X
