"""recommend_batch is recommend for many requests: every request of a
batch returns exactly the (id, score) rows a single recommend call
returns, on every collection shape the planner routes differently."""

import random

import pytest

from image_indexing_and_retrival_with_qdrant_spark.catalog import (
    create_collection,
)

_DIM = 8
_N = 60
# multi-example requests with negatives, plus a positive-only one
_REQUESTS = [([1, 2], [3]), ([4, 5, 6], [7, 8]), ([9], []),
             ([10, 11], [12, 13, 14])]

_SHAPES = {
    "cosine_normalize": dict(dim=_DIM),
    "dot": dict(dim=_DIM, metric="dot", normalize=False),
    "euclid": dict(dim=_DIM, metric="euclid"),
    "ivf": dict(dim=_DIM, indexing_threshold=1, k_centroids=4),
    "hnsw": dict(dim=_DIM, indexing_threshold=1, k_centroids=2,
                 hnsw_config={"m": 4, "ef_construct": 16}),
    "sq": dict(dim=_DIM, quantization="sq"),
    "named_using": dict(vectors={"a": {"dim": _DIM},
                                 "b": {"dim": 3, "metric": "dot"}}),
    "string_ids": dict(dim=_DIM),
}


def _vec(rnd, d):
    return [rnd.gauss(0.0, 1.0) for _ in range(d)]


def _collection(spark, tmp_path, shape):
    rnd = random.Random(11)
    coll = create_collection(str(tmp_path), shape, **_SHAPES[shape])
    if shape == "named_using":
        rows = [(i, _vec(rnd, _DIM), _vec(rnd, 3), f"t{i % 3}")
                for i in range(_N)]
        schema = "id long, a array<double>, b array<double>, tag string"
    else:
        rows = [(str(i) if shape == "string_ids" else i, _vec(rnd, _DIM),
                 f"t{i % 3}") for i in range(_N)]
        schema = (f"id {'string' if shape == 'string_ids' else 'long'}, "
                  "embedding array<double>, tag string")
    coll.upsert(spark, spark.createDataFrame(rows, schema))
    return coll


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_recommend_batch_rows_equal_recommend(spark, tmp_path, shape):
    coll = _collection(spark, tmp_path, shape)
    if shape in ("ivf", "hnsw"):
        assert coll.has_index()
    if shape == "hnsw":
        assert coll._has_hnsw()
    using = "a" if shape == "named_using" else None
    key = str if shape == "string_ids" else int
    reqs = [([key(i) for i in p], [key(i) for i in n]) for p, n in _REQUESTS]
    batch = coll.recommend_batch(spark, reqs, k=5, using=using).collect()
    assert {r.query_idx for r in batch} == set(range(len(reqs)))
    for qi, (pos, neg) in enumerate(reqs):
        got = [(r.id, r.score) for r in
               sorted((r for r in batch if r.query_idx == qi),
                      key=lambda r: r.rank)]
        want = [(r.id, r.score) for r in coll.recommend(
            spark, pos, neg, k=5, using=using).collect()]
        assert got == want, (qi, got, want)
        assert not {i for i, _ in got} & {*pos, *neg}  # examples excluded


def test_recommend_batch_sparse_space_rejects_per_request_filters(spark,
                                                                  tmp_path):
    """A sparse batch takes one shared filter, so the per-request
    example exclusions raise the planner's error."""
    coll = create_collection(str(tmp_path), "sp", sparse_vectors={"text": {}})
    coll.upsert(spark, spark.createDataFrame(
        [(i, [i % 5, 5 + i % 3], [1.0, 0.5]) for i in range(10)],
        "id long, text__sidx array<int>, text__sval array<double>"))
    with pytest.raises(ValueError, match="per-request filters are "
                                         "dense-batch-only"):
        coll.recommend_batch(spark, [([1, 2], [3])], k=3)
