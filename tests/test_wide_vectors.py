"""Wide-vector codegen gate (round 6): past _UNROLL_MAX_DIM the
unrolled score builders return their loop-shaped HOF twins — janino's
64 KB method limit rejects ~768 inline terms, which silently drops
the whole stage to interpreted execution (measured 10×+ slower at
768-d, the width of real production embeddings). The HOF twins fold
identically (same left-to-right order), so the gate must be
bit-invisible."""

import pytest
from pyspark.sql import functions as F

import image_indexing_and_retrival_with_qdrant_spark.functions.vector as V
from image_indexing_and_retrival_with_qdrant_spark.operators.knn import dense_knn
from image_indexing_and_retrival_with_qdrant_spark.operators.sq import (
    sq_encode,
    sq_search,
    sq_train,
)

DIM = 300  # > _UNROLL_MAX_DIM


def _corpus(spark, n=200):
    rows = [(i, [((i * 31 + j * 7) % 97) / 97.0 - 0.5
                 for j in range(DIM)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def _qv():
    return [((j * 13) % 89) / 89.0 - 0.5 for j in range(DIM)]


@pytest.fixture()
def narrow(monkeypatch):
    """Force the legacy unrolled form for an A/B bit comparison."""
    monkeypatch.setattr(V, "_UNROLL_MAX_DIM", 10**9)


def test_gate_active_above_threshold(spark):
    assert DIM > V._UNROLL_MAX_DIM
    # the gated builder parses and evaluates
    df = _corpus(spark, 5).select(
        V.dot_unrolled("embedding", _qv(), DIM).alias("d"))
    assert len(df.collect()) == 5


def test_dense_knn_bits_match(spark, monkeypatch):
    """A/B: gated HOF result vs forced-unrolled result, all metrics;
    and the literal query vector (the single catalog query's operand)
    vs the broadcast frame. The unrolled literal form is pinned at
    narrow widths by tests/test_literal_query.py."""
    qv = _qv()
    corpus = _corpus(spark)
    qdf = spark.createDataFrame([(qv,)], "query_vec array<double>")
    for metric in ("cosine", "dot", "euclid", "manhattan"):
        def top(query):
            return [(r.vec_id, r.score) for r in
                    dense_knn(corpus, query, k=7, dim=DIM, metric=metric,
                              round_digits=None).collect()]
        wide = top(qdf)
        assert top(qv) == wide, metric  # literal operand, loop form
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(V, "_UNROLL_MAX_DIM", 10**9)
            assert top(qdf) == wide, metric  # identical BITS (no rounding)


def test_sq_search_bits_match(spark):
    corpus = _corpus(spark)
    mins, steps = sq_train(corpus, DIM)
    codes = sq_encode(corpus, mins, steps)
    qv = _qv()
    wide = [(r.vec_id, r.score) for r in
            sq_search(codes, mins, steps, qv, k=7,
                      round_digits=None).collect()]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(V, "_UNROLL_MAX_DIM", 10**9)  # sq_score's gate
        nar = [(r.vec_id, r.score) for r in
               sq_search(codes, mins, steps, qv, k=7,
                         round_digits=None).collect()]
    assert wide == nar


def test_wide_collection_end_to_end(spark, tmp_path):
    """A 300-d quantized+indexed collection searches correctly
    through the composed path (codes ranking on the loop form)."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection

    rows = [(i, [((i * 31 + j * 7) % 97) / 97.0 - 0.5
                 for j in range(DIM)]) for i in range(80)]
    pts = spark.createDataFrame(rows, "id int, embedding array<double>")
    coll = create_collection(str(tmp_path), "w", dim=DIM,
                             quantization="sq", normalize=False,
                             indexing_threshold=1, k_centroids=4)
    coll.upsert(spark, pts)
    qv = _qv()
    approx = coll.search(spark, qv, k=5, oversampling=16.0).collect()
    exact = coll.search(spark, qv, k=5, exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]
    batch = coll.search_batch(spark, [qv], k=5, oversampling=16.0).collect()
    assert [(r.id, r.score) for r in batch] == \
        [(r.id, r.score) for r in exact]


def test_sq_expressions_stay_compiled_past_unroll_gate(spark, tmp_path):
    """SQ's one width gate (operators/sq.py): with the interpreted
    fallback OFF a codegen failure raises instead of silently running
    the stage interpreted, so the encode at 160 dims and one search and
    a batch at 224 dims must all compile — the unrolled encode busts
    janino's 64 KB method limit at 160, the unrolled score at 224. The
    batch ranks with the same expression as each single search."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    def frame(dim, n):
        rows = [(i, [((i * 31 + j * 7) % 97) / 97.0 - 0.5
                     for j in range(dim)]) for i in range(n)]
        return spark.createDataFrame(rows, "id int, embedding array<double>")

    coll = create_collection(str(tmp_path), "g224", dim=224,
                             quantization="sq", normalize=False)
    coll.upsert(spark, frame(224, 40))
    qvs = [[((j * 13) % 89) / 89.0 - 0.5 for j in range(224)],
           [((j * 5) % 23) / 23.0 - 0.5 for j in range(224)]]
    qp = {"rescore": False}
    prior = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        enc = frame(160, 30)
        mins, steps = sq_train(enc, 160)
        codes = sq_encode(enc, mins, steps, id_col="id").collect()
        assert len(codes) == 30 and len(codes[0].codes) == 160
        singles = sorted(
            (i, r.id, r.score) for i, qv in enumerate(qvs)
            for r in coll.search(spark, qv, k=5,
                                 quantization_params=qp).collect())
        batch = coll.search_batch(spark, qvs, k=5,
                                  quantization_params=qp).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prior)
    assert len(singles) == 10
    assert sorted((r.query_idx, r.id, r.score) for r in batch) == singles
