"""The one nearest-centroid rule (operators/ann.py): the numpy kernel,
the SQL form, the UDF form and the catalog's cells all return the
left-to-right float64 fold's answer, ties ordered by centroid id.

The inputs are lattice rows: coordinates on a 0.1 grid (not exact in
binary), so many rows sit at a real tie between two centroids that
rounding then decides. A ``‖c‖² − 2v·c`` BLAS argmin decides a share
of those differently from the fold."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
    NEAREST_SQL_MAX,
    _nearest_udf,
    nearest_cells,
    nearest_np,
    nearest_sql,
)


def _lattice(m: int, k: int, d: int, seed: int = 0):
    rng = np.random.default_rng(seed)
    C = rng.integers(-3, 4, size=(k, d)) * 0.1
    V = (rng.integers(-3, 4, size=(m, d)) * 0.1
         + rng.integers(0, 2, size=(m, d)) * 0.05)
    return V, C


def _fold_ref(V, C, n: int):
    """Plain reference: per centroid, the sequential sum of (x − c)²
    from 0.0; each row's n smallest by (distance, id)."""
    D = np.empty((len(V), len(C)))
    for i, c in enumerate(C):
        acc = np.zeros(len(V))
        for j in range(V.shape[1]):
            acc = acc + (V[:, j] - c[j]) * (V[:, j] - c[j])
        D[:, i] = acc
    ids = np.tile(np.arange(len(C)), (len(V), 1))
    order = np.lexsort((ids, D), axis=1)[:, :n]
    return np.take_along_axis(D, order, axis=1), order


@pytest.mark.parametrize("d", [2, 8, 64])
@pytest.mark.parametrize("n", [1, 2, 4])
def test_nearest_np_is_the_sequential_fold(d, n):
    V, C = _lattice(3000, 16, d)
    C[9] = C[4]  # an exact tie on every row: ordered by id
    D, ids = nearest_np(V, C, n)
    D_ref, ids_ref = _fold_ref(V, C, n)
    assert np.array_equal(ids, ids_ref)
    assert np.array_equal(D, D_ref)
    assert (ids == 4).any()
    assert all(4 in r and list(r).index(4) < list(r).index(9)
               for r in ids[(ids == 9).any(axis=1)])


def test_nearest_np_edges():
    V, C = _lattice(5, 3, 4)
    D, ids = nearest_np(V, C, 10)  # n past k: every centroid, sorted
    assert ids.shape == (5, 3)
    assert np.array_equal(D, _fold_ref(V, C, 3)[0])
    D, ids = nearest_np(np.empty((0, 4)), C, 2)
    assert D.shape == ids.shape == (0, 2)
    V[1, 2] = np.nan  # a NaN row: every distance NaN, ids in order
    assert list(nearest_np(V, C, 2)[1][1]) == [0, 1]


def _rows(df):
    return {r.vid: [(s.d, s.i) for s in r.c] for r in df.collect()}


@pytest.mark.parametrize("k,d", [(16, 8), (16, 64), (128, 8)],
                         ids=["16x8", "16x64", "128x8"])
def test_nearest_forms_agree(spark, k, d):
    """The SQL form and the UDF form (each run whatever side of the
    gate k·d is on) return identical sorted (d, i) lists, equal to the
    driver kernel's, for n = 1, 2, 4 — a null vector too; and
    ``nearest_cells`` picks the UDF only past ``NEAREST_SQL_MAX``."""
    V, C = _lattice(1000, k, d, seed=1)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(V.tolist())] + [(len(V), None)],
        "vid int, v array<double>")
    for n in (1, 2, 4):
        by_sql = _rows(df.select(
            "vid", F.expr(nearest_sql(C.tolist(), "v", n)).alias("c")))
        by_udf = _rows(df.select(
            "vid", _nearest_udf(C.tolist(), n)(F.col("v")).alias("c")))
        assert by_sql == by_udf
        D, ids = nearest_np(V, C, n)
        assert all(by_sql[i] == list(zip(D[i].tolist(), ids[i].tolist()))
                   for i in range(len(V)))
        assert by_sql[len(V)] == [(None, i) for i in range(n)]
        assert all(len({i for _, i in c}) == n for c in by_sql.values())
    plan = df.select(nearest_cells(C.tolist(), "v")[0]["i"])._jdf \
        .queryExecution().executedPlan().toString()
    assert ("ArrowEvalPython" in plan) == (k * d > NEAREST_SQL_MAX)


def test_ivf_cells_match_the_probe_on_ties(spark, tmp_path):
    """A 64-d collection with 16 cells (past the gate: the layout is
    assigned by the UDF form) over lattice-tied points: every stored
    point's ``.ivf`` cell is the driver probe's first cell. The 16
    centroids are the first 16 points — a 16-row train set is its own
    codebook — so they sit on the lattice too."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    V, C = _lattice(2000, 16, 64, seed=3)

    def frame(vecs, lo):
        return spark.createDataFrame(
            [(lo + i, v) for i, v in enumerate(vecs.tolist())],
            "id long, embedding array<double>")

    coll = create_collection(str(tmp_path), "ties", dim=64, metric="euclid",
                             normalize=False, indexing_threshold=16,
                             k_centroids=16)
    coll.upsert(spark, frame(C, 0))
    assert coll.has_index()
    assert coll._centroids(spark) == C.tolist()
    coll.upsert(spark, frame(V, 16))
    stored = spark.read.parquet(coll._ivf_points).select(
        "id", "embedding", "centroid_id").collect()
    assert len(stored) == 16 + len(V)
    bad = [r.id for r in stored
           if coll._probe(spark, [list(r.embedding)], 1)[0] != r.centroid_id]
    assert bad == []
