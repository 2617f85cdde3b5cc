"""Quantized MULTIVECTOR collections (round 11): ``quantization='sq'``
on MaxSim spaces — int8 codes per SUBVECTOR dim in the sidecar, an
approximate-MaxSim codes tier between routing and the exact full-width
rescore. Composes with fp16 storage (codes quantize the stored,
fp16-rounded values) and with ``hnsw_config`` (graphs stay over the
POOLED routing vectors — never over codes of the flat space).

Reference anchor: the server the reference delegates to compresses
multivector subvectors the same way (Qdrant ScalarQuantization on a
MultiVectorConfig collection); the reference itself leaves
quantization at the server default
(``incremental_indexing_colpali_with_qdrant.py:116-141`` declares the
collection, the server owns the codes).
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection

_DIM, _N = 4, 3  # 3 subvectors × 4 dims


def _mv_rows(ids):
    rows = []
    for i in ids:
        mv = [[float((i * 7 + j * 3 + s) % 11) / 11.0 + (0.1 if s else 0.0)
               for j in range(_DIM)] for s in range(_N)]
        rows.append((i, mv))
    return rows


def _pts(spark, ids):
    return spark.createDataFrame(
        _mv_rows(ids), "id int, embedding array<array<double>>")


_QV = [[0.9, 0.1, 0.4, 0.7], [0.2, 0.8, 0.3, 0.5], [0.6, 0.6, 0.1, 0.2]]


def _np_exact(ids, qv=_QV):
    X = np.array([mv for _, mv in _mv_rows(ids)], dtype=np.float64)
    Q = np.asarray(qv, dtype=np.float64)
    s = np.round(np.matmul(Q[None], X.transpose(0, 2, 1))
                 .max(axis=2).sum(axis=1), 6)
    return sorted(zip(ids, s), key=lambda t: (-t[1], t[0]))


def test_mv_sq_search_matches_exact(spark, tmp_path):
    coll = create_collection(str(tmp_path), "mvsq", dim=_DIM,
                             multivector=True, normalize=False,
                             quantization="sq")
    coll.upsert(spark, _pts(spark, range(40)))
    assert os.path.exists(coll._codes_path)
    codes = spark.read.parquet(coll._codes_path)
    # packed uint8 binary codes: ONE byte per flat element
    assert codes.select(F.length("codes")).distinct().collect()[0][0] \
        == _DIM * _N
    # generous oversampling => the codes shortlist covers the true top-k
    approx = coll.search(spark, _QV, k=5, oversampling=8.0).collect()
    exact = coll.search(spark, _QV, k=5, exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]
    want = _np_exact(list(range(40)))[:5]
    assert [(r.id, r.score) for r in exact] == \
        [(i, pytest.approx(s, abs=1e-9)) for i, s in want]


def test_mv_sq_params_pool_subvectors_and_freeze(spark, tmp_path):
    coll = create_collection(str(tmp_path), "mvf", dim=_DIM,
                             multivector=True, normalize=False,
                             quantization="sq")
    coll.upsert(spark, _pts(spark, range(20)))
    X = np.array([mv for _, mv in _mv_rows(range(20))], dtype=np.float64)
    assert list(coll.meta["sq_mins"]) == [float(x) for x in
                                          X.min(axis=(0, 1))]
    steps = [(float(mx) - float(mn)) / 256.0 for mn, mx in
             zip(X.min(axis=(0, 1)), X.max(axis=(0, 1)))]
    assert list(coll.meta["sq_steps"]) == steps
    mins1 = list(coll.meta["sq_mins"])
    coll.upsert(spark, _pts(spark, range(100, 120)))
    # frozen train params; codes appended for the new batch only
    assert list(coll.meta["sq_mins"]) == mins1
    assert spark.read.parquet(coll._codes_path).count() == 40


def test_mv_sq_fp16_composes(spark, tmp_path):
    """datatype='float16' × quantization='sq': codes quantize the
    STORED (fp16-rounded) values; search = codes tier + exact rescore
    over the fp16 bytes."""
    coll = create_collection(str(tmp_path), "mvh16", dim=_DIM,
                             multivector=True, normalize=False,
                             quantization="sq", datatype="float16")
    coll.upsert(spark, _pts(spark, range(30)))
    X = np.array([mv for _, mv in _mv_rows(range(30))],
                 dtype=np.float64).astype(np.float16).astype(np.float64)
    assert list(coll.meta["sq_mins"]) == [float(x) for x in
                                          X.min(axis=(0, 1))]
    approx = coll.search(spark, _QV, k=4, oversampling=8.0).collect()
    exact = coll.search(spark, _QV, k=4, exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]


def test_mv_sq_hnsw_graphs_stay_pooled(spark, tmp_path):
    coll = create_collection(str(tmp_path), "mvgq", dim=_DIM,
                             multivector=True, normalize=False,
                             quantization="sq", indexing_threshold=1,
                             k_centroids=2,
                             hnsw_config={"m": 4, "ef_construct": 16})
    coll.upsert(spark, _pts(spark, range(60)))
    assert coll.has_index() and coll._has_hnsw()
    assert coll.meta.get("codes_layout") == "cells"
    g = spark.read.parquet(coll._hnsw_graphs)
    # pooled routing vectors in the graph sidecar, NOT flat-space codes
    assert "codes" not in g.columns and "embedding" in g.columns
    hits = coll.search(spark, _QV, k=5, hnsw_ef=60,
                       oversampling=12.0).collect()
    exact = coll.search(spark, _QV, k=5, exact=True).collect()
    # exhaustive beam + generous oversampling recovers the exact top-k
    assert [(r.id, r.score) for r in hits] == \
        [(r.id, r.score) for r in exact]


def test_mv_sq_filter_routes_exact(spark, tmp_path):
    """Filter-correct rule: any query_filter skips the codes tier
    (codes carry no payload) — results are the exact filtered scan."""
    coll = create_collection(str(tmp_path), "mvflt", dim=_DIM,
                             multivector=True, normalize=False,
                             quantization="sq")
    coll.upsert(spark, _pts(spark, range(40)))
    got = coll.search(spark, _QV, k=3,
                      query_filter=F.col("id") % 2 == 0).collect()
    want = [t for t in _np_exact(list(range(40))) if t[0] % 2 == 0][:3]
    assert [(r.id, r.score) for r in got] == \
        [(i, pytest.approx(s, abs=1e-9)) for i, s in want]


def test_mv_sq_batch_union_superset(spark, tmp_path):
    coll = create_collection(str(tmp_path), "mvb", dim=_DIM,
                             multivector=True, normalize=False,
                             quantization="sq")
    coll.upsert(spark, _pts(spark, range(40)))
    qv2 = [[0.1, 0.9, 0.2, 0.3], [0.7, 0.2, 0.8, 0.1],
           [0.3, 0.3, 0.6, 0.9]]
    out = coll.search_batch(spark, [_QV, qv2], k=3,
                            oversampling=10.0).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_idx, []).append((r.id, r.score))
    exact0 = _np_exact(list(range(40)), _QV)[:3]
    exact1 = _np_exact(list(range(40)), qv2)[:3]
    assert by_q[0] == [(i, pytest.approx(s, abs=1e-9))
                       for i, s in exact0]
    assert by_q[1] == [(i, pytest.approx(s, abs=1e-9))
                       for i, s in exact1]


def test_mv_sq_shortlist_single_is_batch_of_one(spark, tmp_path):
    """One query scores the codes with the multi-query scorer as a
    batch of one (the same matmul), so its shortlist is the batch's."""
    coll = create_collection(str(tmp_path), "mv1", dim=_DIM,
                             multivector=True, normalize=False,
                             quantization="sq")
    coll.upsert(spark, _pts(spark, range(40)))
    flat = [x for v in _QV for x in v]
    one = coll._mv_quant_shortlist(spark, [flat], 7, "id", coll.meta, None)
    batch = coll._mv_quant_shortlist(spark, [flat], 7, "id", coll.meta,
                                     None, batch=True)
    assert len(one) == 7 and sorted(one) == sorted(batch)


def test_mv_sq_quantization_params(spark, tmp_path):
    coll = create_collection(str(tmp_path), "mvqp", dim=_DIM,
                             multivector=True, normalize=False,
                             quantization="sq")
    coll.upsert(spark, _pts(spark, range(40)))
    # ignore=True bypasses the codes tier entirely
    ig = coll.search(spark, _QV, k=5,
                     quantization_params={"ignore": True}).collect()
    exact = coll.search(spark, _QV, k=5, exact=True).collect()
    assert [(r.id, r.score) for r in ig] == \
        [(r.id, r.score) for r in exact]
    with pytest.raises(ValueError, match="always rescores"):
        coll.search(spark, _QV, k=5,
                    quantization_params={"rescore": False})
    with pytest.raises(ValueError, match="unknown quantization_params"):
        coll.search(spark, _QV, k=5, quantization_params={"x": 1})


def test_mv_update_config_enables_sq(spark, tmp_path):
    coll = create_collection(str(tmp_path), "mvu", dim=_DIM,
                             multivector=True, normalize=False)
    coll.upsert(spark, _pts(spark, range(30)))
    assert not os.path.exists(coll._codes_path)
    coll.update_collection(spark, quantization="sq")
    assert os.path.exists(coll._codes_path)
    approx = coll.search(spark, _QV, k=4, oversampling=10.0).collect()
    exact = coll.search(spark, _QV, k=4, exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]
    coll.update_collection(spark, quantization=None)
    assert not os.path.exists(coll._codes_path)


def test_mv_rejects_non_sq_quantizers(tmp_path):
    for q in ("bq", "pq", "opq"):
        with pytest.raises(ValueError,
                           match="multivector collections support"):
            create_collection(str(tmp_path), f"bad_{q}", dim=_DIM,
                              multivector=True, quantization=q)
