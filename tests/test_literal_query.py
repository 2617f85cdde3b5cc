"""One catalog query is an array literal (operators/knn.py): a single
dense search scores the query vector inlined in the score expression —
no broadcast join, no local query frame, one Spark job — while a batch
joins its broadcast query frame. Both must return the same rows and the
same score bits on either side of the scorers' width gate (32 dims)."""

import numpy as np
import pytest

from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection
from image_indexing_and_retrival_with_qdrant_spark.plans.explain import formatted_plan

DIMS = (16, 32, 33, 64)  # both sides of functions/vector.py's gate
METRICS = {"cos": {"metric": "cosine"},  # normalize-at-write default
           "dot": {"metric": "dot", "normalize": False},
           "euc": {"metric": "euclid", "normalize": False},
           "man": {"metric": "manhattan", "normalize": False}}
N = 150


def _space(dim, m):
    return f"v{dim}_{m}"


@pytest.fixture(scope="module")
def coll(spark, tmp_path_factory):
    """One collection holding a named space per (dim, metric): a
    single upsert serves every case."""
    spaces = {_space(d, m): {"dim": d, **cfg}
              for d in DIMS for m, cfg in METRICS.items()}
    c = create_collection(str(tmp_path_factory.mktemp("lit")), "lit",
                          vectors=spaces)
    rng = np.random.default_rng(13)
    cols = {s: rng.standard_normal((N, cfg["dim"])).tolist()
            for s, cfg in spaces.items()}
    names = list(spaces)
    rows = [(i, f"t{i % 3}", *[cols[s][i] for s in names]) for i in range(N)]
    ddl = "id int, tag string, " + ", ".join(
        f"{s} array<double>" for s in names)
    c.upsert(spark, spark.createDataFrame(rows, ddl))
    return c


def _query(dim):
    return np.random.default_rng(dim).standard_normal(dim).tolist()


@pytest.mark.parametrize("dim", DIMS)
def test_single_search_matches_batch_of_one(spark, coll, dim):
    """``search(q)`` (array literal) and ``search_batch([q])``
    (broadcast frame) return the same rows, payload and score bits,
    with and without ``score_threshold``."""
    q = _query(dim)
    for m in METRICS:
        using, thr = _space(dim, m), None
        for n in (8, 5):  # then cut the list at its 5th score
            single = [(r.id, r.tag, r.score) for r in coll.search(
                spark, q, k=8, using=using, score_threshold=thr).collect()]
            batch = [(r.id, r.tag, r.score) for r in coll.search_batch(
                spark, [q], k=8, using=using,
                score_threshold=thr).collect()]
            assert single == batch, (using, thr)
            assert len(single) == n, (using, thr)
            thr = single[4][2]


def test_single_exact_search_plan_is_joinless(spark, coll):
    """Q=1: the query is a literal in the score — no
    BroadcastNestedLoopJoin, no LocalTableScan query frame — and the
    top-k is still TakeOrderedAndProject."""
    plan = formatted_plan(coll.search(spark, _query(64), k=5, exact=True,
                                      using=_space(64, "cos")))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LocalTableScan" not in plan
    assert "TakeOrderedAndProject" in plan


def test_single_exact_search_runs_one_job(spark, coll):
    """The search is one Spark job: no broadcast job for a query
    frame (counted by the StatusTracker over a job group)."""
    sc = spark.sparkContext
    group = "test_literal_query_one_job"
    sc.setJobGroup(group, group)
    try:
        hits = coll.search(spark, _query(64), k=5, exact=True,
                           using=_space(64, "cos")).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(hits) == 5
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
