"""MaxSim multivector queries (SURVEY.md §2.4 Q2, §2.5 A3).

Multivector fixtures are derived deterministically from the flat
``embeddings`` table: the 64-d embedding is reshaped into 8 vectors of
8 dims (FIXTURES.md §1 ``multivec_docs`` at fixture scale — models the
ColPali 1030×128 shape, ``/root/reference/README.md:91``, at toy
scale). The DuckDB oracle does the identical reshape with list slices.
"""

from __future__ import annotations

from ..functions.localframe import local_literal_df
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.maxsim import as_multivector, maxsim_knn, maxsim_knn_exact
from ..registry import register
from ..tables import load

_DIM, _N = 8, 8  # 64-d flat embedding → 8 vectors × 8 dims

_MAXSIM_ORACLE = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id, qi.i, dj.j,
         list_dot_product(
           (CAST(e.embedding AS DOUBLE[]))[(dj.j - 1) * {_DIM} + 1 : dj.j * {_DIM}],
           q.qe[(qi.i - 1) * {_DIM} + 1 : qi.i * {_DIM}]
         ) AS dp
  FROM embeddings e
  CROSS JOIN q
  CROSS JOIN generate_series(1, {_N}) AS qi(i)
  CROSS JOIN generate_series(1, {_N}) AS dj(j)
),
mx AS (SELECT vec_id, i, MAX(dp) AS m FROM pairs GROUP BY vec_id, i),
sc AS (SELECT vec_id, ROUND(SUM(m), 6) AS score FROM mx GROUP BY vec_id)
SELECT vec_id, score FROM sc ORDER BY score DESC, vec_id LIMIT 5
"""


def _multivec_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", as_multivector(F.col("embedding"), _DIM, _N).alias("vectors")
    )


def _multivec_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") == 0).select(
        as_multivector(F.col("embedding"), _DIM, _N).alias("query_vectors")
    )


@register("maxsim_top5", _MAXSIM_ORACLE)
def maxsim_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxSim top-5 via the vectorized pandas-UDF scorer (the
    production path — reference comparator semantics at
    ``with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:128-130``).
    Uses the flat-storage scorer: the 64-d embedding IS the flat 8×8
    multivector, so no nested-array Arrow transfer is needed."""
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("mv"))
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("query_mv")
    )
    return maxsim_knn(corpus, query, k=5, mv_col="mv",
                      query_mv_col="query_mv", flat_dim=_DIM)


@register("maxsim_exact_top5", _MAXSIM_ORACLE)
def maxsim_exact_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxSim top-5 via the pure-relational explode/agg twin."""
    return maxsim_knn_exact(
        _multivec_corpus(spark, sf_dir), _multivec_query(spark, sf_dir), k=5
    )


_MAXSIM_FILTERED_ORACLE = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id, e.label, qi.i, dj.j,
         list_dot_product(
           (CAST(e.embedding AS DOUBLE[]))[(dj.j - 1) * {_DIM} + 1 : dj.j * {_DIM}],
           q.qe[(qi.i - 1) * {_DIM} + 1 : qi.i * {_DIM}]
         ) AS dp
  FROM embeddings e
  CROSS JOIN q
  CROSS JOIN generate_series(1, {_N}) AS qi(i)
  CROSS JOIN generate_series(1, {_N}) AS dj(j)
  WHERE e.label = 7
),
mx AS (SELECT vec_id, label, i, MAX(dp) AS m FROM pairs GROUP BY vec_id, label, i),
sc AS (SELECT vec_id, label, ROUND(SUM(m), 6) AS score FROM mx GROUP BY vec_id, label)
SELECT vec_id, label, score FROM sc ORDER BY score DESC, vec_id LIMIT 5
"""


@register("maxsim_filtered_top5", _MAXSIM_FILTERED_ORACLE)
def maxsim_filtered_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload-filtered MaxSim (F4 on the multivector path): the
    ``query_filter`` surface the reference declares on every
    multivector ``query_points`` call
    (``with_colpali_v1.3/qdrant_query_with_colpali.py:109-114``) —
    WHERE label=7 runs before scoring, pushed into the scan."""
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("mv")
    )
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("query_mv")
    )
    return maxsim_knn(corpus, query, k=5, mv_col="mv", query_mv_col="query_mv",
                      payload_cols=["label"], prefilter=F.col("label") == 7,
                      flat_dim=_DIM)


_MAXSIM_INDEXED_ORACLE = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT CAST(e.vec_id AS VARCHAR) AS id, qi.i, dj.j,
         list_dot_product(
           (CAST(e.embedding AS DOUBLE[]))[(dj.j - 1) * {_DIM} + 1 : dj.j * {_DIM}],
           q.qe[(qi.i - 1) * {_DIM} + 1 : qi.i * {_DIM}]
         ) AS dp
  FROM embeddings e
  CROSS JOIN q
  CROSS JOIN generate_series(1, {_N}) AS qi(i)
  CROSS JOIN generate_series(1, {_N}) AS dj(j)
),
mx AS (SELECT id, i, MAX(dp) AS m FROM pairs GROUP BY id, i),
sc AS (SELECT id, ROUND(SUM(m), 6) AS score FROM mx GROUP BY id)
SELECT id, score FROM sc ORDER BY score DESC, CAST(id AS BIGINT) LIMIT 5
"""


def _pool_dim(arr: str, j: int) -> str:
    """Mean-pool dim j over the 8 blocks of a flat 64-d multivector,
    left-to-right — the op shape of both `mean_pool_flat` (write-time
    sidecar) and the Python query pooling in `Collection.search`."""
    return "((" + " + ".join(f"{arr}[{b * _DIM + j}]"
                             for b in range(_N)) + f") / {_N})"


def _routed_maxsim_oracle() -> str:
    """Two-stage twin: stage 1 ranks docs by cosine of MEAN-POOLED
    vectors against the pooled query and keeps the routed depth (200 —
    `routing._MAXSIM_RESCORE` for target 0.95 at k≤10); stage 2 scores
    the shortlist with exact MaxSim. Mirrors
    `Collection.search(recall_target=)` → `_maxsim_stage1` +
    `maxsim_knn` op-for-op (double math, round(6) on the final score,
    ties by id)."""
    pd = [_pool_dim("e.emb", j) for j in range(1, _DIM + 1)]
    pq = [_pool_dim("q.qe", j) for j in range(1, _DIM + 1)]
    dot = " + ".join(f"({d}) * ({qd})" for d, qd in zip(pd, pq))
    nd = " + ".join(f"({d}) * ({d})" for d in pd)
    nq = " + ".join(f"({qd}) * ({qd})" for qd in pq)
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
q AS (SELECT emb AS qe FROM e WHERE id = 0),
stage1 AS (
  SELECT e.id, ({dot}) / (sqrt({nd}) * sqrt({nq})) AS ps
  FROM e CROSS JOIN q
),
short AS (SELECT id FROM stage1 ORDER BY ps DESC, id LIMIT 200),
pairs AS (
  SELECT e.id, qi.i, dj.j,
         list_dot_product(
           e.emb[(dj.j - 1) * {_DIM} + 1 : dj.j * {_DIM}],
           q.qe[(qi.i - 1) * {_DIM} + 1 : qi.i * {_DIM}]
         ) AS dp
  FROM e
  JOIN short USING (id)
  CROSS JOIN q
  CROSS JOIN generate_series(1, {_N}) AS qi(i)
  CROSS JOIN generate_series(1, {_N}) AS dj(j)
),
mx AS (SELECT id, i, MAX(dp) AS m FROM pairs GROUP BY id, i),
sc AS (SELECT id, ROUND(SUM(m), 6) AS score FROM mx GROUP BY id),
routed AS (SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 5),
allpairs AS (
  SELECT e.id, qi.i, dj.j,
         list_dot_product(
           e.emb[(dj.j - 1) * {_DIM} + 1 : dj.j * {_DIM}],
           q.qe[(qi.i - 1) * {_DIM} + 1 : qi.i * {_DIM}]
         ) AS dp
  FROM e CROSS JOIN q
  CROSS JOIN generate_series(1, {_N}) AS qi(i)
  CROSS JOIN generate_series(1, {_N}) AS dj(j)
),
amx AS (SELECT id, i, MAX(dp) AS m FROM allpairs GROUP BY id, i),
asc_ AS (SELECT id, ROUND(SUM(m), 6) AS score FROM amx GROUP BY id),
exact AS (SELECT id, score FROM asc_ ORDER BY score DESC, id LIMIT 5)
SELECT 'routed_t95' AS routing_case, id, score FROM routed
UNION ALL
SELECT 'exact_t100' AS routing_case, id, score FROM exact
"""


@register("maxsim_recall_routed_top5", _routed_maxsim_oracle())
def maxsim_recall_routed_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`search(recall_target=)` on a flat MULTIVECTOR collection
    (round 6): a target below the exact cutover routes to two-stage
    MaxSim at the depth the measured pooling-faithful curve prescribes
    (`routing._MAXSIM_RESCORE`: 0.95 → rescore 200 at k≤10 — the
    production ColPali read path, BASELINE.md §MaxSim-at-shape, now
    reachable by stating a recall requirement instead of tuning
    depth); target 1.0 routes to the exact scan. The oracle mirrors
    BOTH stages — pooled-cosine top-200 shortlist, exact MaxSim on the
    survivors — so the routed path itself is value-checked, not just
    its exact-fallback cases (the fixture's random vectors make
    two-stage ≢ exact at depth 200, so agreement is only reachable by
    reproducing the stage-1 semantics)."""
    import shutil
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        as_multivector(F.col("embedding"), _DIM, _N).alias("embedding"),
    )
    qv = [list(v) for v in
          pts.filter(F.col("id") == 0).collect()[0].embedding]
    root = tempfile.mkdtemp(prefix="qd_mv_routed_")
    try:
        from ..catalog import create_collection

        coll = create_collection(root, "mv", dim=_DIM, multivector=True,
                                 normalize=False)
        coll.upsert(spark, pts, mode="append")
        routed = coll.search(spark, qv, k=5, recall_target=0.95) \
            .select(F.lit("routed_t95").alias("routing_case"), "id", "score")
        exact = coll.search(spark, qv, k=5, recall_target=1.0) \
            .select(F.lit("exact_t100").alias("routing_case"), "id", "score")
        out = routed.unionByName(exact)
        return local_literal_df(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _batch_two_stage_oracle() -> str:
    """Batched two-stage twin: per-query pooled-cosine top-200, UNION
    of shortlists, exact MaxSim per query over the union, top-3 per
    query — mirroring batched `_maxsim_stage1` + `maxsim_knn(batch=True)`
    (each query ranks the whole union, a superset of its own
    shortlist)."""
    pd = [_pool_dim("e.emb", j) for j in range(1, _DIM + 1)]
    pq = [_pool_dim("q.qe", j) for j in range(1, _DIM + 1)]
    dot = " + ".join(f"({d}) * ({qd})" for d, qd in zip(pd, pq))
    nd = " + ".join(f"({d}) * ({d})" for d in pd)
    nq = " + ".join(f"({qd}) * ({qd})" for qd in pq)
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
q AS (SELECT CAST(id AS INTEGER) AS query_idx, emb AS qe
      FROM e WHERE id IN (0, 1)),
stage1 AS (
  SELECT q.query_idx, e.id,
         ({dot}) / (sqrt({nd}) * sqrt({nq})) AS ps
  FROM e CROSS JOIN q
),
short AS (
  SELECT query_idx, id FROM (
    SELECT query_idx, id,
           ROW_NUMBER() OVER (PARTITION BY query_idx
                              ORDER BY ps DESC, id) AS rn
    FROM stage1) WHERE rn <= 200
),
uni AS (SELECT DISTINCT id FROM short),
pairs AS (
  SELECT q.query_idx, e.id, qi.i, dj.j,
         list_dot_product(
           e.emb[(dj.j - 1) * {_DIM} + 1 : dj.j * {_DIM}],
           q.qe[(qi.i - 1) * {_DIM} + 1 : qi.i * {_DIM}]
         ) AS dp
  FROM e
  JOIN uni USING (id)
  CROSS JOIN q
  CROSS JOIN generate_series(1, {_N}) AS qi(i)
  CROSS JOIN generate_series(1, {_N}) AS dj(j)
),
mx AS (SELECT query_idx, id, i, MAX(dp) AS m
       FROM pairs GROUP BY query_idx, id, i),
sc AS (SELECT query_idx, id, ROUND(SUM(m), 6) AS score
       FROM mx GROUP BY query_idx, id),
ranked AS (
  SELECT query_idx, id, score,
         ROW_NUMBER() OVER (PARTITION BY query_idx
                            ORDER BY score DESC, id) AS rn
  FROM sc)
SELECT query_idx, CAST(rn AS INTEGER) AS rank, id, score
FROM ranked WHERE rn <= 3
"""


@register("maxsim_batch_two_stage_top3", _batch_two_stage_oracle())
def maxsim_batch_two_stage_top3(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Batched two-stage MaxSim (round 6): ``search_batch(rescore=)``
    on a flat multivector collection — ONE pooled-column pass ranks
    every query's stage-1 candidates, the union shortlist is
    batch-scored with exact MaxSim, ranks returned per query. The
    at-100-TB shape for N-query ColPali workloads: stage 1 reads
    1/n_vecs of the bytes once (not per query), stage 2 reads ≤ Q·N
    rows (`catalog.py::_maxsim_stage1`, batch leaf). Oracle mirrors both
    stages per query including the union-superset ranking."""
    import shutil
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        as_multivector(F.col("embedding"), _DIM, _N).alias("embedding"),
    )
    qvs = [[list(v) for v in r.embedding]
           for r in pts.filter(F.col("id").isin(0, 1))
           .orderBy("id").collect()]
    root = tempfile.mkdtemp(prefix="qd_mv_batch2s_")
    try:
        from ..catalog import create_collection

        coll = create_collection(root, "mv", dim=_DIM, multivector=True,
                                 normalize=False)
        coll.upsert(spark, pts, mode="append")
        out = coll.search_batch(spark, qvs, k=3, rescore=200) \
            .select("query_idx", "rank", "id", "score")
        return local_literal_df(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("maxsim_indexed_top5", _MAXSIM_INDEXED_ORACLE)
def maxsim_indexed_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-indexed multivector collection end-to-end: upsert nested
    8×8 multivectors past ``indexing_threshold`` (flattened at write,
    IVF built over mean-pooled routing vectors — the coarse stage of a
    PLAID-style late-interaction index), then ``search`` routes
    through the layout. Exhaustive probing ≡ the exact MaxSim scan, so
    the whole pool → carve → probe → MaxSim path is oracle-checked;
    ``nprobe < k_centroids`` is the approximate mode (pinned in
    tests/test_auto_index.py)."""
    import shutil
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").cast("string").alias("id"),
        as_multivector(F.col("embedding"), _DIM, _N).alias("embedding"),
    )
    qv = [list(v) for v in
          pts.filter(F.col("id") == "0").collect()[0].embedding]
    root = tempfile.mkdtemp(prefix="qd_mv_index_")
    try:
        from ..catalog import create_collection

        coll = create_collection(root, "mv", dim=_DIM, multivector=True,
                                 normalize=False, indexing_threshold=1,
                                 k_centroids=4)
        coll.upsert(spark, pts, mode="append")
        assert coll.has_index(), "threshold crossed but index not built"
        res = coll.search(spark, qv, k=5)
        # materialize before the temp layout is removed; sort ties the
        # same way as the oracle (score desc, numeric id)
        return local_literal_df(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- round 9 continuation: the reference's ACTUAL configuration ---
# multivector points behind the server's HNSW (hnsw_config on a
# multivector collection): graphs over the pooled routing vectors,
# beam = stage 1, exact MaxSim rescore of the bounded candidates.

_HNSW_MV = {"m": 4, "ef_construct": 32, "ef": 16, "k_centroids": 4}
_HNSW_MV_CACHE: dict = {}


def _np_hnsw_mv_candidates(sf_dir: str) -> list[int]:
    """Driver-side twin of the multivector graph read path, every
    stage bit-equal to the catalog: pooled vectors via the
    mean_pool_flat fold (left-to-right over subvectors, / n), cells =
    kmeans_np over the id-ordered pooled prefix (`_train_prefix`) +
    sequential-fold first-min assignment, per-cell deterministic
    graphs over the pooled vectors, default probe = every cell, beam
    ef over each."""
    if sf_dir not in _HNSW_MV_CACHE:
        import os

        import numpy as np
        import pyarrow.parquet as papq

        from ..operators.ann import kmeans_np
        from ..operators.hnsw import (
            _normalize_rows,
            hnsw_build_np,
            hnsw_search_np,
        )

        t = papq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                            columns=["vec_id", "embedding"])
        raw_ids = np.asarray(t.column("vec_id"))
        order = np.argsort(raw_ids, kind="stable")
        vecs = t.column("embedding").to_pylist()
        ids = [int(raw_ids[i]) for i in order]
        flat = [[float(x) for x in vecs[i]] for i in order]

        def pool(v: list[float]) -> list[float]:
            out = []
            for j in range(_DIM):
                acc = 0.0
                for i in range(_N):
                    acc += v[i * _DIM + j]
                out.append(acc / _N)
            return out

        pooled = [pool(v) for v in flat]
        cents = kmeans_np(pooled, _HNSW_MV["k_centroids"], seed=42)
        cells: dict[int, list[int]] = {}
        for p, v in enumerate(pooled):
            best_d, best_i = None, 0
            for cid, c in enumerate(cents):
                acc = 0.0
                for x, y in zip(v, c):
                    acc += (x - y) * (x - y)
                if best_d is None or acc < best_d:
                    best_d, best_i = acc, cid
            cells.setdefault(best_i, []).append(p)
        q = flat[ids.index(0)]
        qp = [sum(q[i * _DIM + j] for i in range(_N)) / _N
              for j in range(_DIM)]
        # NOTE the catalog pools the QUERY as sum-over-subvectors per
        # dim (search()'s pooled_q) — same left-to-right order as the
        # generator sum here
        cand: list[int] = []
        for cid in sorted(cells):
            rows = cells[cid]
            seg_ids = [ids[p] for p in rows]
            X = np.asarray([pooled[p] for p in rows], dtype=np.float64)
            levels, adj = hnsw_build_np(
                seg_ids, X, m=_HNSW_MV["m"],
                ef_construct=_HNSW_MV["ef_construct"])
            res = hnsw_search_np(levels, adj, _normalize_rows(X),
                                 np.asarray(qp, dtype=np.float64),
                                 ef=_HNSW_MV["ef"])
            cand += [seg_ids[p] for _, p in res]
        _HNSW_MV_CACHE[sf_dir] = sorted(cand)
    return _HNSW_MV_CACHE[sf_dir]


def _hnsw_mv_oracle(sf_dir: str, k: int = 5) -> str:
    """Oracle FACTORY: the pooled-graph beam shortlist re-derived
    driver-side (literal IN), the exact MaxSim over those candidates
    recomputed independently in DuckDB (slice pairs → per-query-vector
    MAX → SUM, round 6 — the `_MAXSIM_ORACLE` shape)."""
    cand = ", ".join(str(i) for i in _np_hnsw_mv_candidates(sf_dir))
    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
    pairs AS (
      SELECT e.vec_id, qi.i, dj.j,
             list_dot_product(
               (CAST(e.embedding AS DOUBLE[]))
                 [(dj.j - 1) * {_DIM} + 1 : dj.j * {_DIM}],
               q.qe[(qi.i - 1) * {_DIM} + 1 : qi.i * {_DIM}]
             ) AS dp
      FROM embeddings e
      CROSS JOIN q
      CROSS JOIN generate_series(1, {_N}) AS qi(i)
      CROSS JOIN generate_series(1, {_N}) AS dj(j)
      WHERE e.vec_id IN ({cand})
    ),
    mx AS (SELECT vec_id, i, MAX(dp) AS m FROM pairs GROUP BY vec_id, i),
    sc AS (SELECT vec_id, ROUND(SUM(m), 6) AS score
           FROM mx GROUP BY vec_id)
    SELECT vec_id AS id, score FROM sc
    ORDER BY score DESC, id LIMIT {k}
    """


_MV_SQ_CACHE: dict = {}


def _mv_sq_params(sf_dir: str) -> tuple[list[float], list[float]]:
    """Driver-side twin of `sq_train_flat` on the multivector fixture:
    per-dim (min, step) pooled over every SUBVECTOR of every row —
    min/max are order-exact, step = (mx − mn)/256.0 in the same Python
    float op the catalog freezes, so the factory's literals are
    bit-identical to the collection's frozen params."""
    if sf_dir not in _MV_SQ_CACHE:
        import os

        import numpy as np
        import pyarrow.parquet as papq

        t = papq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                            columns=["embedding"])
        X = np.asarray(t.column("embedding").to_pylist(),
                       dtype=np.float64).reshape(-1, _N, _DIM)
        mins = [float(x) for x in X.min(axis=(0, 1))]
        maxs = [float(x) for x in X.max(axis=(0, 1))]
        steps = [(mx - mn) / 256.0 for mn, mx in zip(mins, maxs)]
        _MV_SQ_CACHE[sf_dir] = (mins, steps)
    return _MV_SQ_CACHE[sf_dir]


def _hnsw_mv_quant_oracle(sf_dir: str, k: int = 5, m: int = 20) -> str:
    """Oracle FACTORY for the quantized multivector graph search,
    every tier re-derived: the pooled-graph beam candidates driver-side
    (same cells/graphs/beam as `_np_hnsw_mv_candidates` — quantization
    never touches the pooled routing space), the SQ params via
    `_mv_sq_params`, then IN SQL: encode→decode each candidate's
    subvectors to bucket centers (clamped floor, the `sq_encode_flat` /
    `sq_decode_np` arithmetic), approximate MaxSim ROUND(6) top-m
    (ties by id — `_mv_quant_shortlist`'s discipline), and the exact
    full-width MaxSim over ONLY those m survivors for the final
    top-k."""
    cand = ", ".join(str(i) for i in _np_hnsw_mv_candidates(sf_dir))
    mins, steps = _mv_sq_params(sf_dir)

    def dq(d: int) -> str:
        mn, st = mins[d - 1], steps[d - 1]
        x = f"e.emb[(dj.j - 1) * {_DIM} + {d}]"
        if st == 0.0:
            dec = f"{mn!r}"
        else:
            dec = (f"({mn!r} + (CAST(LEAST(255, GREATEST(0, "
                   f"CAST(floor(({x} - {mn!r}) / {st!r}) AS INTEGER)"
                   f")) AS DOUBLE) + 0.5) * {st!r})")
        return f"(({dec}) * q.qe[(qi.i - 1) * {_DIM} + {d}])"

    qdp = " + ".join(dq(d) for d in range(1, _DIM + 1))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings WHERE vec_id IN ({cand})),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id = 0),
    qpairs AS (
      SELECT e.vec_id, qi.i, dj.j, {qdp} AS dp
      FROM e CROSS JOIN q
      CROSS JOIN generate_series(1, {_N}) AS qi(i)
      CROSS JOIN generate_series(1, {_N}) AS dj(j)
    ),
    qmx AS (SELECT vec_id, i, MAX(dp) AS mx
            FROM qpairs GROUP BY vec_id, i),
    qsc AS (SELECT vec_id, ROUND(SUM(mx), 6) AS ascore
            FROM qmx GROUP BY vec_id),
    short AS (SELECT vec_id FROM qsc
              ORDER BY ascore DESC, vec_id LIMIT {m}),
    pairs AS (
      SELECT e.vec_id, qi.i, dj.j,
             list_dot_product(
               e.emb[(dj.j - 1) * {_DIM} + 1 : dj.j * {_DIM}],
               q.qe[(qi.i - 1) * {_DIM} + 1 : qi.i * {_DIM}]
             ) AS dp
      FROM e JOIN short USING (vec_id)
      CROSS JOIN q
      CROSS JOIN generate_series(1, {_N}) AS qi(i)
      CROSS JOIN generate_series(1, {_N}) AS dj(j)
    ),
    mx AS (SELECT vec_id, i, MAX(dp) AS m FROM pairs
           GROUP BY vec_id, i),
    sc AS (SELECT vec_id, ROUND(SUM(m), 6) AS score
           FROM mx GROUP BY vec_id)
    SELECT vec_id AS id, score FROM sc
    ORDER BY score DESC, id LIMIT {k}
    """


@register("ingest_hnsw_multivector_quantized_search",
          _hnsw_mv_quant_oracle)
def ingest_hnsw_multivector_quantized_search(spark: SparkSession,
                                             sf_dir: str) -> DataFrame:
    """The ColPali-at-100-TB byte story end-to-end (round 11): a
    MULTIVECTOR collection with ``quantization='sq'`` behind
    ``hnsw_config`` — int8 codes per SUBVECTOR dim in a sidecar (4×
    under fp32), pooled-vector graphs for routing. ``search`` then
    composes three tiers: the pooled-graph beam (stage 1), the
    approximate-MaxSim rank of the candidates' CODES (the quantized
    tier — the full-width column is never read here), and the exact
    full-width MaxSim rescore of only max(k, ⌈k·oversampling⌉)
    survivors. The oracle factory re-derives cells, graphs, beam, SQ
    params, the decoded approximate rank, and the exact rescore —
    the full composed read path is value-checked, not just its
    pieces."""
    import shutil
    import tempfile

    from ..bench_phases import phase
    from ..catalog import create_collection

    emb = load(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        as_multivector(F.col("embedding"), _DIM, _N).alias("embedding"),
    )
    qv = [list(v) for v in
          pts.filter(F.col("id") == 0).collect()[0].embedding]
    root = tempfile.mkdtemp(prefix="qd_mv_hnswq_")
    try:
        coll = create_collection(
            root, "mvhq", dim=_DIM, multivector=True, normalize=False,
            quantization="sq", indexing_threshold=1,
            k_centroids=_HNSW_MV["k_centroids"],
            hnsw_config={"m": _HNSW_MV["m"],
                         "ef_construct": _HNSW_MV["ef_construct"]})
        coll.upsert(spark, pts, mode="append")
        assert coll.has_index() and coll._has_hnsw()
        assert coll.meta.get("codes_layout") == "cells"
        with phase("search"):
            res = coll.search(spark, qv, k=5,
                              hnsw_ef=_HNSW_MV["ef"]) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("ingest_hnsw_multivector_search", _hnsw_mv_oracle)
def ingest_hnsw_multivector_search(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The reference's OWN configuration end-to-end: a MULTIVECTOR
    collection behind the server index (``hnsw_config`` +
    ``indexing_threshold`` — ColPali pages behind Qdrant HNSW,
    ``incremental_indexing_colpali_with_qdrant.py:116-141``). One
    upsert pools every point, carves cells over the pooled vectors,
    and builds a graph per cell; ``search(hnsw_ef=16)`` beams the
    pooled graphs (stage 1 — genuinely approximate: ≤16×4 candidates
    of a 10×+ larger corpus) and exact-MaxSim-rescores the bounded
    union. Cells, graphs, and beam are re-derived by the oracle
    factory; the MaxSim rescore is recomputed in DuckDB."""
    import shutil
    import tempfile

    from ..bench_phases import phase
    from ..catalog import create_collection

    emb = load(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        as_multivector(F.col("embedding"), _DIM, _N).alias("embedding"),
    )
    qv = [list(v) for v in
          pts.filter(F.col("id") == 0).collect()[0].embedding]
    root = tempfile.mkdtemp(prefix="qd_mv_hnsw_")
    try:
        coll = create_collection(
            root, "mvh", dim=_DIM, multivector=True, normalize=False,
            indexing_threshold=1,
            k_centroids=_HNSW_MV["k_centroids"],
            hnsw_config={"m": _HNSW_MV["m"],
                         "ef_construct": _HNSW_MV["ef_construct"]})
        coll.upsert(spark, pts, mode="append")
        assert coll.has_index() and coll._has_hnsw()
        with phase("search"):
            res = coll.search(spark, qv, k=5,
                              hnsw_ef=_HNSW_MV["ef"]) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
