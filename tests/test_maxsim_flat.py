"""Flat vs nested MaxSim scorers must agree exactly."""

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.operators.maxsim import (
    as_multivector,
    maxsim_knn,
)
from image_indexing_and_retrival_with_qdrant_spark.tables import load


def test_flat_scorer_matches_nested(spark, sf_smoke):
    emb = load(spark, sf_smoke, "embeddings")
    nested_corpus = emb.select(
        "vec_id", as_multivector(F.col("embedding"), 8, 8).alias("vectors")
    )
    nested_q = emb.filter(F.col("vec_id") == 0).select(
        as_multivector(F.col("embedding"), 8, 8).alias("query_vectors")
    )
    flat_corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vectors")
    )
    flat_q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("query_vectors")
    )
    a = maxsim_knn(nested_corpus, nested_q, k=10).collect()
    b = maxsim_knn(flat_corpus, flat_q, k=10, flat_dim=8).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_stacked_batch_scorer_matches_relational(spark, sf_smoke):
    """The captured batch scorer (uniform lengths → one stacked
    matmul over every query) must equal the pure-relational scorer
    per query — pins that the (B, Σq, n) matmul slices are the same
    dgemms the per-row loop runs, including tie order."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.maxsim import (
        maxsim_knn_exact,
    )

    emb = load(spark, sf_smoke, "embeddings")
    flat = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vectors"))
    qrows = emb.filter(F.col("vec_id").isin(1, 2)).orderBy(
        "vec_id").collect()
    batched = maxsim_knn(flat, None, k=5, flat_dim=8, batch=True,
                         queries_flat=[[float(x) for x in r.embedding]
                                       for r in qrows])
    got = {qid: [] for qid in (1, 2)}
    for r in batched.orderBy("query_idx", "rank").collect():
        got[r.query_idx + 1].append((r.vec_id, r.score))
    for qid in (1, 2):
        nested_q = emb.filter(F.col("vec_id") == qid).select(
            as_multivector(F.col("embedding"), 8, 8).alias("query_vectors"))
        nested_c = emb.select(
            "vec_id", as_multivector(F.col("embedding"), 8, 8).alias("vectors"))
        want = [(r.vec_id, r.score)
                for r in maxsim_knn_exact(nested_c, nested_q, k=5).collect()]
        assert got[qid] == want


def test_search_batch_multivector(spark, tmp_path):
    """query_batch_points over a MaxSim collection: one corpus pass,
    per-query ranks, parity with looped single searches."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection

    coll = create_collection(str(tmp_path), "mvb", dim=2, multivector=True,
                             normalize=False)
    pts = spark.createDataFrame(
        [(1, [[1.0, 0.0], [0.0, 1.0]]), (2, [[0.5, 0.5]]),
         (3, [[2.0, 0.0]])],
        "id int, embedding array<array<double>>",
    )
    coll.upsert(spark, pts)
    q0 = [[1.0, 0.0]]              # best: 3 (2.0)
    q1 = [[0.0, 1.0], [1.0, 0.0]]  # per-doc: 1 -> 1+1=2, 3 -> 0+2=2, tie
    out = coll.search_batch(spark, [q0, q1], k=2).collect()
    got = {(r.query_idx, r.rank): (r.id, r.score) for r in out}
    assert got[(0, 1)] == (3, 2.0)
    assert got[(0, 2)] == (1, 1.0)
    assert got[(1, 1)] == (1, 2.0)  # tie broken by id
    assert got[(1, 2)] == (3, 2.0)
    # parity with the single-query path
    single = coll.search(spark, q0, k=2).collect()
    assert [(r.id, r.score) for r in single] == [got[(0, 1)], got[(0, 2)]]



def _mv_batch_collection(spark, tmp_path):
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "mvb", dim=2, multivector=True,
                             normalize=False)
    coll.upsert(spark, spark.createDataFrame(
        [(1, [[1.0, 0.0], [0.0, 1.0]]), (2, [[0.5, 0.5]]),
         (3, [[2.0, 0.0]])],
        "id int, embedding array<array<double>>"))
    return coll


def test_search_batch_multivector_with_vectors(spark, tmp_path):
    """with_vectors=True on a multivector batch: the searched space's
    stored vector rides along per hit, exactly as in single search."""
    coll = _mv_batch_collection(spark, tmp_path)
    qs = [[[1.0, 0.0]], [[0.0, 1.0], [1.0, 0.0]]]
    df = coll.search_batch(spark, qs, k=2, with_vectors=True)
    assert "embedding" in df.columns, df.columns
    out = df.collect()
    for i, q in enumerate(qs):
        single = coll.search(spark, q, k=2, with_vectors=True).collect()
        assert [(r.id, r.score, r.embedding) for r in out
                if r.query_idx == i] == \
            [(r.id, r.score, r.embedding) for r in single]


def test_search_batch_multivector_hnsw_ef_needs_hnsw_config(spark, tmp_path):
    """hnsw_ef on a multivector collection created without
    hnsw_config raises for a batch, as it does for single search."""
    coll = _mv_batch_collection(spark, tmp_path)
    q = [[1.0, 0.0]]
    with pytest.raises(ValueError, match="hnsw_ef needs"):
        coll.search(spark, q, k=2, hnsw_ef=16)
    with pytest.raises(ValueError, match="hnsw_ef needs"):
        coll.search_batch(spark, [q, q], k=2, hnsw_ef=16)

def test_query_capture_matches_query_column(spark, sf_smoke):
    """maxsim_knn(queries_flat=...) (query captured in the UDF closure —
    the at-shape path, no per-row query copy) must be bit-identical to
    the query-as-column form."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.maxsim import maxsim_knn
    from image_indexing_and_retrival_with_qdrant_spark.tables import load

    emb = load(spark, sf_smoke, "embeddings")
    corpus = emb.select("vec_id", F.col("embedding").alias("flat"))
    qflat = [float(x) for x in
             emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    query = spark.createDataFrame([(qflat,)], "query_flat array<double>")
    col_form = maxsim_knn(corpus, query, k=10, id_col="vec_id",
                          mv_col="flat", query_mv_col="query_flat",
                          flat_dim=8).collect()
    cap_form = maxsim_knn(corpus, None, k=10, id_col="vec_id",
                          mv_col="flat", flat_dim=8,
                          queries_flat=[qflat]).collect()
    assert [(r.vec_id, r.score) for r in col_form] == \
           [(r.vec_id, r.score) for r in cap_form]


def test_multi_query_capture_matches_single_capture(spark, sf_smoke):
    """The one capture scorer gives each query of a batch the bits a
    one-query call gives it, over every cell decode — float32
    arrays, fp16 bytes and SQ codes (bucket centres) — for uniform
    and ragged doc shapes alike."""
    from pyspark.sql import functions as F

    from image_indexing_and_retrival_with_qdrant_spark.operators.maxsim import (
        halfvec_encode_udf,
        maxsim_capture_udf,
    )

    dim = 4
    docs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0]),   # 2 subvecs
         (2, [0.0, 1.0, 0.0, 0.0, 0.5, 0.5, 0.0, 0.0]),
         (3, [0.0, 0.0, 1.0, 0.0] * 3)],                  # ragged: 3
        "vec_id long, vectors array<double>")
    queries = [[1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0],
               [0.0, 1.0, 0.0, 0.0]]
    sq = ([-1.0, -0.5, 0.0, -2.0], [0.01, 0.02, 0.005, 0.03])

    @F.pandas_udf("binary")
    def to_codes(v):  # uint8 codes, one per element
        return v.map(lambda x: bytes(int(c * 37) % 256 for c in x))

    inputs = [
        (docs.select("vec_id", F.col("vectors").cast("array<float>")
                     .alias("cell")), None),
        (docs.select("vec_id", halfvec_encode_udf(F.col("vectors"))
                     .alias("cell")), None),
        (docs.select("vec_id", to_codes(F.col("vectors")).alias("cell")),
         sq),
    ]
    for cells, params in inputs:
        multi = {r.vec_id: r.s for r in cells.select(
            "vec_id", maxsim_capture_udf(dim, queries, params)(
                F.col("cell")).alias("s")).collect()}
        for qi, q in enumerate(queries):
            single = {r.vec_id: r.s for r in cells.select(
                "vec_id", maxsim_capture_udf(dim, [q], params)(
                    F.col("cell")).alias("s")).collect()}
            assert set(single) == {1, 2, 3}
            for vid in single:
                assert multi[vid][qi] == single[vid][0], (params, vid, qi)
    # end-to-end batch: ranked per query_idx, same as per-query top-k
    out = maxsim_knn(docs, None, k=2, mv_col="vectors", flat_dim=dim,
                     queries_flat=queries, batch=True).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_idx, []).append(r)
    assert set(by_q) == {0, 1}
    assert by_q[0][0].vec_id == 1  # q0 aligns with doc 1's subvectors
    # q1 = [0,1,0,0]: docs 1 and 2 both contain it exactly (score 1.0)
    # → id tie-break ranks 1 then 2
    assert [(r.vec_id, r.score) for r in by_q[1]] == [(1, 1.0), (2, 1.0)]
    for qi, q in enumerate(queries):
        single = maxsim_knn(docs, None, k=2, mv_col="vectors",
                            flat_dim=dim, queries_flat=[q]).collect()
        assert [(r.vec_id, r.score) for r in single] == \
            [(r.vec_id, r.score) for r in by_q[qi]]


def test_collection_search_batch_multivector_capture(spark, tmp_path):
    """search_batch on a multivector collection goes through the
    captured-batch scorer and still returns per-query ranks."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "mvb", dim=2,
                             multivector=True, normalize=False)
    pts = spark.createDataFrame(
        [(1, [[1.0, 0.0]]), (2, [[0.0, 1.0]]), (3, [[0.7, 0.7]])],
        "id int, embedding array<array<double>>")
    coll.upsert(spark, pts)
    out = coll.search_batch(
        spark, [[[1.0, 0.0]], [[0.0, 1.0]]], k=1).collect()
    got = {r.query_idx: r.id for r in out}
    assert got == {0: 1, 1: 2}


def test_halfvec_scorer_matches_fp16_reference(spark):
    """fp16 binary multivectors (halfvec_encode_udf) score EXACTLY as
    the numpy fp16-roundtrip reference — the scorer decodes bytes and
    upcasts to float64, so the only difference from fp32 is the
    storage rounding itself; top-k ordering survives it on separated
    data."""
    import numpy as np
    from pyspark.sql import functions as F

    from image_indexing_and_retrival_with_qdrant_spark.operators.maxsim import (
        halfvec_encode_udf,
        maxsim_knn,
    )

    dim, n_vecs = 4, 3
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(n_vecs * dim)])
            for i in range(50)]
    corpus = spark.createDataFrame(rows, "vec_id int, flat array<double>")
    half = corpus.select(
        "vec_id", halfvec_encode_udf(F.col("flat")).alias("flat"))
    qflat = [float(x) for x in rng.standard_normal(2 * dim)]

    got = {r.vec_id: r.score for r in maxsim_knn(
        half, None, k=None, id_col="vec_id", mv_col="flat",
        flat_dim=dim, queries_flat=[qflat]).collect()}
    Q = np.asarray(qflat, dtype=np.float64).reshape(-1, dim)
    for i, flat in rows:
        D = np.asarray(flat, dtype=np.float16).astype(
            np.float64).reshape(-1, dim)
        want = round(float((Q @ D.T).max(axis=1).sum()), 6)
        assert got[i] == want, (i, got[i], want)

    # fp32 and fp16 rankings agree at this precision/scale
    full = [r.vec_id for r in maxsim_knn(
        corpus, None, k=5, id_col="vec_id", mv_col="flat",
        flat_dim=dim, queries_flat=[qflat]).collect()]
    halfk = [r.vec_id for r in maxsim_knn(
        half, None, k=5, id_col="vec_id", mv_col="flat",
        flat_dim=dim, queries_flat=[qflat]).collect()]
    assert full == halfk


def test_halfvec_batch_scorer_and_nulls(spark):
    """The multi-query capture scorer takes fp16 bytes too; null
    multivectors encode to null (dropped by the caller's IsNotNull)."""
    import numpy as np
    from pyspark.sql import functions as F

    from image_indexing_and_retrival_with_qdrant_spark.operators.maxsim import (
        halfvec_encode_udf,
        maxsim_knn,
    )

    dim = 4
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(2 * dim)])
            for i in range(20)] + [(99, None)]
    corpus = spark.createDataFrame(rows, "vec_id int, flat array<double>")
    half = corpus.select(
        "vec_id", halfvec_encode_udf(F.col("flat")).alias("flat"))
    assert half.filter(F.col("flat").isNull()).count() == 1
    half = half.filter(F.col("flat").isNotNull())
    qflats = [[float(x) for x in rng.standard_normal(dim)]
              for _ in range(2)]
    out = maxsim_knn(half, None, k=3, id_col="vec_id", mv_col="flat",
                     flat_dim=dim, queries_flat=qflats,
                     batch=True).collect()
    assert {r.query_idx for r in out} == {0, 1}
    Q0 = np.asarray(qflats[0], dtype=np.float64).reshape(-1, dim)
    best = max(
        ((i, float((Q0 @ np.asarray(f, np.float16).astype(np.float64)
                    .reshape(-1, dim).T).max(axis=1).sum()))
         for i, f in rows if f is not None), key=lambda t: (t[1], -t[0]))
    top0 = [r for r in out if r.query_idx == 0][0]
    assert top0.vec_id == best[0]


def test_search_batch_two_stage(spark, tmp_path):
    """Batched two-stage MaxSim (round 6): `search_batch(rescore=N)`
    runs ONE pooled stage-1 pass for all queries and batch-scores the
    union shortlist; on a pooling-faithful corpus it equals the exact
    batch, and `recall_target=` routes to the measured depth."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    rows = []
    for i in range(40):
        base = [1.0 + 0.01 * i, float(i % 7), float((i * 3) % 11), 1.0]
        rows.append((i, [base, [x * 0.5 for x in base]]))
    coll = create_collection(str(tmp_path), "mv_b2", dim=4,
                             multivector=True, normalize=True)
    coll.upsert(spark, spark.createDataFrame(
        rows, "id int, embedding array<array<double>>"))
    qs = [rows[17][1], rows[3][1]]

    def key(df):
        return sorted((r.query_idx, r.rank, r.id, r.score)
                      for r in df.collect())

    exact = key(coll.search_batch(spark, qs, k=3))
    assert key(coll.search_batch(spark, qs, k=3, rescore=20)) == exact
    # recall_target routes to the measured depth (0.95 -> 200 at k<=10)
    assert key(coll.search_batch(spark, qs, k=3,
                                 recall_target=0.95)) == \
        key(coll.search_batch(spark, qs, k=3, rescore=200)) == exact
    # exactness target stays the exact batch
    assert key(coll.search_batch(spark, qs, k=3,
                                 recall_target=1.0)) == exact
