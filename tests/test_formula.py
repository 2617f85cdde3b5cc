"""Formula score boosting (Qdrant FormulaQuery analog)."""

import math

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.operators.formula import (
    exp_decay_sql,
    formula_rescore,
    gauss_decay_sql,
    lin_decay_sql,
)
from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY
from tests.oracle import compare


def _eval(spark, sql: str, x: float) -> float:
    return spark.range(1).select(
        F.expr(sql.replace("x_val", repr(float(x)))).alias("v")
    ).collect()[0].v


@pytest.mark.parametrize("builder", [lin_decay_sql, exp_decay_sql,
                                     gauss_decay_sql])
def test_decay_contract(spark, builder):
    """Every decay is 1 at the target, `midpoint` at |x−target|=scale,
    monotone non-increasing away from the target, and bounded [0,1]."""
    sql = builder("x_val", target=10.0, scale=4.0, midpoint=0.5)
    assert _eval(spark, sql, 10.0) == pytest.approx(1.0)
    assert _eval(spark, sql, 14.0) == pytest.approx(0.5)
    assert _eval(spark, sql, 6.0) == pytest.approx(0.5)
    vals = [_eval(spark, sql, 10.0 + d) for d in (0, 1, 2, 4, 8, 16)]
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_lin_decay_clamps_to_zero(spark):
    sql = lin_decay_sql("x_val", target=0.0, scale=1.0, midpoint=0.5)
    assert _eval(spark, sql, 100.0) == 0.0


def test_decay_rejects_bad_midpoint():
    for bad in (0.0, 1.0, -1.0, 2.0):
        with pytest.raises(ValueError):
            gauss_decay_sql("x", 0.0, 1.0, midpoint=bad)


def test_formula_rescore_reranks(spark):
    """A boost formula must be able to overturn the prescore order."""
    shortlist = spark.createDataFrame(
        [(1, 0.9, 100.0), (2, 0.8, 0.0)],
        "vec_id long, score double, pop double",
    )
    out = formula_rescore(
        shortlist, "0.1 * score + 0.9 * (pop / 100.0)", k=2)
    rows = out.collect()
    assert [r.vec_id for r in rows] == [1, 2]
    assert rows[0].boosted == pytest.approx(0.1 * 0.9 + 0.9)
    # ... and with the weights flipped toward the prescore, id 2 wins
    out2 = formula_rescore(
        shortlist, "score + 0.0 * pop", k=1)
    assert out2.collect()[0].vec_id == 1


@pytest.mark.parametrize(
    "name", ["knn_formula_boost_top5", "docs_formula_boost_top10"])
@pytest.mark.parametrize("sf", ["sf_smoke", "sf_oracle"])
def test_formula_oracle_parity(spark, name, sf, request):
    """Registry formula and oracle share the same SQL text — parity is
    'same doubles', checked at both fixture scales."""
    compare(spark, REGISTRY[name], request.getfixturevalue(sf), name)


def test_collection_search_formula(spark, tmp_path):
    """Collection.search(formula=...) — prefetch with the collection
    metric, rescore with a formula over score + payload, rank by the
    formula value (returned as `score`, Qdrant semantics)."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "fx", dim=4)
    rows = [(i, [1.0, 0.0, 0.0, float(i) / 100.0], float(i))
            for i in range(20)]
    coll.upsert(spark, spark.createDataFrame(
        rows, "id int, embedding array<double>, pop double"))
    qv = [1.0, 0.0, 0.0, 0.0]
    plain = coll.search(spark, qv, k=5).collect()
    boosted = coll.search(spark, qv, k=5,
                          formula="0.01 * score + pop / 19.0").collect()
    # popularity dominates: highest-pop ids win despite lower cosine
    assert [r.id for r in boosted] == [19, 18, 17, 16, 15]
    assert [r.id for r in plain] != [r.id for r in boosted]
    assert "score" in boosted[0].asDict()
    # offset pages the BOOSTED order
    page2 = coll.search(spark, qv, k=2, offset=2,
                        formula="0.01 * score + pop / 19.0").collect()
    assert [r.id for r in page2] == [17, 16]


def test_collection_query_prefetch_formula(spark, tmp_path):
    """Qdrant's full pipeline: prefetch branches → fusion → formula
    rescore over fused prescore + payload."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        Prefetch,
        create_collection,
    )

    coll = create_collection(
        str(tmp_path), "uqf",
        vectors={"dense": {"dim": 2, "metric": "dot",
                           "normalize": False}})
    pts = spark.createDataFrame(
        [(1, [1.0, 0.0], 0.0), (2, [0.8, 0.0], 100.0),
         (3, [0.1, 0.0], 50.0)],
        "id int, dense array<double>, pop double")
    coll.upsert(spark, pts)
    plain = coll.query(
        spark, Prefetch([1.0, 0.0], using="dense", limit=3),
        fusion="rrf", k=3).collect()
    assert [r.id for r in plain] == [1, 2, 3]
    boosted = coll.query(
        spark, Prefetch([1.0, 0.0], using="dense", limit=3),
        fusion="rrf", k=3, formula="score + pop / 100.0").collect()
    # pop boost overturns the fused order: 2 (rrf@2 + 1.0) wins
    assert boosted[0].id == 2
    assert "score" in boosted[0].asDict() and "pop" in boosted[0].asDict()


def test_search_formula_offset_beyond_default_prefetch(spark, tmp_path):
    """Paging deep into a boosted ranking must widen the prefetch:
    k=5, offset=60 needs 65 shortlist rows — the default depth is
    derived from k+offset, not k alone."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "fo", dim=2,
                             normalize=False, metric="dot")
    rows = [(i, [1.0, 0.0], float(i)) for i in range(80)]
    coll.upsert(spark, spark.createDataFrame(
        rows, "id int, embedding array<double>, pop double"))
    page = coll.search(spark, [1.0, 0.0], k=5, offset=60,
                       formula="pop").collect()
    # boosted order = pop desc = id desc; page rows 61..65 → 19..15
    assert [r.id for r in page] == [19, 18, 17, 16, 15]


def test_query_formula_over_rescore_and_query_objects(spark, tmp_path):
    """formula= is never silently dropped: over a vector or point-id
    rescore it boosts the candidate-restricted search (at that
    search's ``max(50, 10k)`` depth), and with a query object it
    raises."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        Prefetch,
        RecommendQuery,
        create_collection,
    )

    coll = create_collection(str(tmp_path), "fq", dim=4)
    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5), float(i % 3), 1.0],
             float(i)) for i in range(40)]
    coll.upsert(spark, spark.createDataFrame(
        rows, "id int, embedding array<double>, pop double"))
    pf = Prefetch([2.0, 1.0, 0.0, 1.0], limit=15)
    cand = [r.id for r in coll.search(spark, pf.query, k=15).collect()]
    for q in ([0.0, 1.0, 1.0, 1.0], cand[0]):  # a vector, a point id
        # the boost is the payload alone: top-5 by pop among the
        # candidates (query-by-id excludes the point itself)
        want = sorted((i for i in cand if i != q), reverse=True)[:5]
        got = coll.query(spark, pf, query=q, k=5, formula="pop").collect()
        assert [(r.id, r.score) for r in got] == [(i, float(i)) for i in want]
        plain = coll.query(spark, pf, query=q, k=5).collect()
        assert [r.id for r in plain] != want
    with pytest.raises(ValueError, match="formula"):
        coll.query(spark, pf, query=RecommendQuery([1]), k=3,
                   formula="score + pop")
