"""Collection-level quantization (Qdrant quantization_config): codes
sidecar maintained across upsert/delete, search = quantized prefetch
+ exact rescore."""

import os

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection


def _pts(spark, ids):
    # unit-ish 4-d vectors spread on distinct directions
    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5), float(i % 3), 1.0])
            for i in ids]
    return spark.createDataFrame(rows, "id int, embedding array<double>")


@pytest.mark.parametrize("q", ["sq", "bq"])
def test_quantized_search_matches_exact(spark, tmp_path, q):
    coll = create_collection(str(tmp_path), f"q_{q}", dim=4,
                             quantization=q)
    coll.upsert(spark, _pts(spark, range(40)))
    assert os.path.exists(coll._codes_path)
    qv = [2.0, 1.0, 0.0, 1.0]
    # generous oversampling => shortlist covers the true top-k
    approx = coll.search(spark, qv, k=5, oversampling=8.0).collect()
    exact = coll.search(spark, qv, k=5, exact=True).collect()
    assert [(r.id, r.score) for r in approx] == [(r.id, r.score) for r in exact]


def test_sq_params_frozen_and_incremental_append(spark, tmp_path):
    coll = create_collection(str(tmp_path), "qi", dim=4, quantization="sq")
    coll.upsert(spark, _pts(spark, range(20)))
    mins1 = list(coll.meta["sq_mins"])
    n1 = spark.read.parquet(coll._codes_path).count()
    assert n1 == 20
    coll.upsert(spark, _pts(spark, range(100, 120)))
    # train happened once; codes appended for the new batch only
    assert list(coll.meta["sq_mins"]) == mins1
    assert spark.read.parquet(coll._codes_path).count() == 40
    hits = coll.search(spark, [2.0, 1.0, 0.0, 1.0], k=3,
                       oversampling=16.0).collect()
    assert len(hits) == 3


def test_delete_refreshes_codes(spark, tmp_path):
    coll = create_collection(str(tmp_path), "qd", dim=4, quantization="bq")
    coll.upsert(spark, _pts(spark, range(30)))
    removed = coll.delete(spark, F.col("id") >= 20)
    assert removed == 10
    codes = spark.read.parquet(coll._codes_path)
    assert codes.count() == 20
    assert codes.filter(F.col("id") >= 20).count() == 0


def test_quantization_validation(tmp_path):
    with pytest.raises(ValueError, match="quantization must be"):
        create_collection(str(tmp_path), "bad", dim=4, quantization="pq9")
    with pytest.raises(ValueError, match="multivector collections support"):
        # sq is ALLOWED on multivector (round 11); the vector
        # quantizers whose codes aren't per-dim are not
        create_collection(str(tmp_path), "bad2", dim=4, multivector=True,
                          quantization="pq")
    with pytest.raises(ValueError, match="don't apply"):
        create_collection(str(tmp_path), "bad3",
                          vectors={"a": {"dim": 4}}, quantization="sq")


def test_update_collection_toggles_quantization(spark, tmp_path):
    """Qdrant update_collection: enable quantization post-create
    (sidecar trains/encodes over the current table), switch kinds,
    and disable (sidecar dropped, searches go exact)."""
    coll = create_collection(str(tmp_path), "uc", dim=4)
    coll.upsert(spark, _pts(spark, range(30)))
    assert not os.path.exists(coll._codes_path)
    coll.update_collection(spark, quantization="sq")
    assert os.path.exists(coll._codes_path)
    assert "sq_mins" in coll.meta
    qv = [2.0, 1.0, 0.0, 1.0]
    approx = coll.search(spark, qv, k=3, oversampling=10.0).collect()
    exact = coll.search(spark, qv, k=3, exact=True).collect()
    assert [r.id for r in approx] == [r.id for r in exact]
    # switch to bq: frozen sq params dropped, codes re-encoded
    coll.update_collection(spark, quantization="bq")
    assert "sq_mins" not in coll.meta
    assert len(coll.search(spark, qv, k=3, oversampling=10.0).collect()) == 3
    # disable: sidecar gone
    coll.update_collection(spark, quantization=None)
    assert not os.path.exists(coll._codes_path)
    assert len(coll.search(spark, qv, k=3).collect()) == 3


def test_update_collection_lowers_indexing_threshold(spark, tmp_path):
    """Lowering the threshold below the current count builds the IVF
    layout on the spot."""
    coll = create_collection(str(tmp_path), "ut", dim=4)
    coll.upsert(spark, _pts(spark, range(40)))
    assert not coll.has_index()
    coll.update_collection(spark, indexing_threshold=10)
    assert coll.has_index()
    hits = coll.search(spark, [2.0, 1.0, 0.0, 1.0], k=3)
    assert len(hits.collect()) == 3


@pytest.mark.parametrize("kw", [
    {"quantization": "sq"},
    {"hnsw_config": {"m": 4, "ef_construct": 16}},
], ids=["sq", "hnsw"])
def test_lowered_threshold_derives_every_layout(spark, tmp_path, kw):
    """Lowering the threshold runs what a threshold-crossing upsert
    runs: the cells, then the codes sidecar re-encoded over them, then
    the graphs — not the cells alone — and searches through the new
    layouts return the exact scan's hits."""
    coll = create_collection(str(tmp_path), "lt", dim=4,
                             indexing_threshold=1000, k_centroids=4, **kw)
    coll.upsert(spark, _pts(spark, range(60)))
    coll.update_collection(spark, indexing_threshold=10)
    assert coll.has_index()
    if "quantization" in kw:
        assert coll.meta["codes_layout"] == "cells"
    else:
        assert coll.meta.get("hnsw_built")
        assert coll._plan_facts(coll._vector_cfg(None, "embedding"))["graphs"]
    qv = [2.0, 1.0, 0.0, 1.0]
    got = coll.search(spark, qv, k=5, **({"oversampling": 16.0}
                                          if "quantization" in kw
                                          else {"hnsw_ef": 64}))
    exact = coll.search(spark, qv, k=5, exact=True)
    assert ([(r.id, r.score) for r in got.collect()]
            == [(r.id, r.score) for r in exact.collect()])


def test_appended_codes_share_points_layout_cells(spark, tmp_path):
    """An append puts every new point in the SAME IVF cell in the codes
    sidecar as in the points layout (probe pruning over the codes is
    complete only then). At k·d = 16·64 the codegen'd assignment and
    the BLAS UDF sit on opposite sides of the projection budget, and
    on a point near a cell boundary the two can disagree — so the
    appended points here are centroid-pair midpoints."""
    import numpy as np

    dim = 64
    rng = np.random.RandomState(11)
    coll = create_collection(str(tmp_path), "qcells", dim=dim,
                             normalize=False, indexing_threshold=200,
                             k_centroids=16, quantization="sq")
    coll.upsert(spark, spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(dim)]) for i in range(400)],
        "id int, embedding array<double>"))
    assert coll.has_index() and coll.meta["codes_layout"] == "cells"
    C = np.asarray(coll._centroids(spark))
    mids = []
    for i in range(len(C)):
        for j in range(i + 1, len(C)):
            mid = (C[i] + C[j]) / 2
            if set(np.argsort(((C - mid) ** 2).sum(axis=1))[:2]) == {i, j}:
                mids.append(mid)
    mids = mids[:60]
    assert len(mids) >= 20
    coll.upsert(spark, spark.createDataFrame(
        [(1000 + i, [float(x) for x in v]) for i, v in enumerate(mids)],
        "id int, embedding array<double>"))

    def cells(path):
        return {r.id: r.centroid_id for r in spark.read.parquet(path)
                .filter(F.col("id") >= 1000)
                .select("id", "centroid_id").collect()}

    points = cells(coll._ivf_points)
    assert len(points) == len(mids)
    assert cells(coll._codes_path) == points


@pytest.mark.parametrize("dim,cells", [(8, False), (96, True)],
                         ids=["flat-8d", "cells-96d"])
def test_bq_shortlist_batch_matches_single(spark, tmp_path, dim, cells):
    """The BQ codes shortlist ranks one query and a batch with the same
    Hamming expression: the batch's (query, id) pairs are each single
    query's shortlist (ids only — the Hamming rank is not returned)."""
    kw = dict(indexing_threshold=1, k_centroids=4) if cells else {}
    rows = [(i, [float((i * (j + 3)) % 7 - 3) + 0.25 * j
                 for j in range(dim)]) for i in range(60)]
    coll = create_collection(str(tmp_path), "bqs", dim=dim,
                             quantization="bq", **kw)
    coll.upsert(spark, spark.createDataFrame(
        rows, "id int, embedding array<double>"))
    assert coll.meta["codes_layout"] == ("cells" if cells else "flat")
    qvs = [[1.0 - (j % 3) for j in range(dim)],
           [float((j * 5) % 7 - 3) for j in range(dim)]]
    batch = coll._quant_shortlist(spark, qvs, 7, "id", batch=True).collect()
    singles = sorted((i, r.id) for i, qv in enumerate(qvs)
                     for r in coll._quant_shortlist(spark, [qv], 7,
                                                    "id").collect())
    assert len(singles) == 14
    assert sorted((r.query_idx, r.id) for r in batch) == singles
