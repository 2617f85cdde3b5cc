"""Segment-sharded HNSW: determinism, exactness, recall, parity, plan
shape (operators/hnsw.py, queries/hnsw.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.operators.hnsw import (
    _normalize_rows,
    derive_entry,
    hnsw_build_np,
    hnsw_layout,
    hnsw_layout_search,
    hnsw_level,
    hnsw_search_np,
)
from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY
from image_indexing_and_retrival_with_qdrant_spark.tables import load
from tests.oracle import compare


def _toy(n=300, d=16, seed=7):
    rng = np.random.RandomState(seed)
    X = rng.randn(n, d)
    return list(range(n)), X


def test_level_distribution_geometric():
    """Hash-derived levels follow the HNSW geometric law: ~1/m of the
    nodes per extra level, independent of insertion order."""
    levels = [hnsw_level(i, 8) for i in range(20000)]
    counts = np.bincount(levels)
    assert counts[0] / len(levels) == pytest.approx(1 - 1 / 8, abs=0.02)
    assert counts[1] / len(levels) == pytest.approx(7 / 64, abs=0.02)


def test_build_deterministic():
    ids, X = _toy()
    a = hnsw_build_np(ids, X)
    b = hnsw_build_np(ids, X)
    assert a == b  # levels AND adjacency, bit-for-bit


def test_links_bidirectional_and_capped():
    ids, X = _toy()
    levels, adj = hnsw_build_np(ids, X, m=8)
    for p in range(len(ids)):
        for lv, nbrs in enumerate(adj[p]):
            assert len(nbrs) <= (16 if lv == 0 else 8)
            assert len(set(nbrs)) == len(nbrs)
            for nb in nbrs:
                assert p != nb


def test_exhaustive_equals_brute_force():
    """ef >= n provably degenerates to the exact scan — the property
    the static oracle of ann_hnsw_exhaustive_top5 rests on."""
    ids, X = _toy()
    levels, adj = hnsw_build_np(ids, X)
    Xn = _normalize_rows(X)
    q = np.random.RandomState(1).randn(16)
    res = hnsw_search_np(levels, adj, Xn, q, ef=10 ** 9)
    qn = _normalize_rows(q[None, :])[0]
    brute = sorted(zip(((Xn - qn) ** 2).sum(axis=1), range(len(ids))))
    assert [p for _, p in res] == [p for _, p in brute]


def test_exhaustive_covers_disconnected_graph():
    """The restart loop reaches nodes the beam can't: cut every link
    of the last 20 nodes — ef >= n must still return all of them."""
    ids, X = _toy()
    levels, adj = hnsw_build_np(ids, X)
    cut = set(range(len(ids) - 20, len(ids)))
    for p in range(len(ids)):
        for lv in range(len(adj[p])):
            if p in cut:
                adj[p][lv] = []
            else:
                adj[p][lv] = [nb for nb in adj[p][lv] if nb not in cut]
    res = hnsw_search_np(levels, adj, _normalize_rows(X),
                         X[0], ef=10 ** 9)
    assert len(res) == len(ids)


def test_recall_at_practical_ef():
    """Beam recall@10 on random vectors (the hardest case — no cluster
    structure): ef=32 over one 300-node segment. Measured 1.0; pin a
    margin."""
    ids, X = _toy()
    levels, adj = hnsw_build_np(ids, X)
    Xn = _normalize_rows(X)
    hits = total = 0
    for seed in (1, 2, 3):
        q = np.random.RandomState(seed).randn(16)
        res = hnsw_search_np(levels, adj, Xn, q, ef=32)
        qn = _normalize_rows(q[None, :])[0]
        brute = sorted(zip(((Xn - qn) ** 2).sum(axis=1),
                           range(len(ids))))
        hits += len({p for _, p in res[:10]} &
                    {p for _, p in brute[:10]})
        total += 10
    assert hits / total >= 0.9, f"HNSW recall@10: {hits}/{total}"


def test_spark_layout_matches_driver_twin(spark, sf_smoke):
    """The applyInPandas search emits the SAME candidate ids as the
    driver-side twin the oracle factories run — the bit-parity the
    ann_hnsw_top5 oracle rests on."""
    from image_indexing_and_retrival_with_qdrant_spark.queries.hnsw import (
        _np_hnsw_candidates,
        _np_query_vec,
    )

    emb = load(spark, sf_smoke, "embeddings")
    lay = hnsw_layout(emb, n_segments=4, m=8, ef_construct=64)
    got = hnsw_layout_search(lay, _np_query_vec(sf_smoke), ef=32).collect()
    assert sorted(r.vec_id for r in got) == \
        _np_hnsw_candidates(sf_smoke, 32)


def test_registered_queries_hash_match(spark, sf_smoke):
    for name in ("ann_hnsw_top5", "ann_hnsw_exhaustive_top5",
                 "ann_hnsw_routed_top5", "ann_hnsw_batch_top3"):
        compare(spark, REGISTRY[name], sf_smoke, name)


def test_batch_search_matches_single(spark, sf_smoke):
    """The batched per-segment search returns each query's single-query
    candidate set exactly (one shared deserialize is an execution
    detail, not a semantic one)."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.hnsw import (
        hnsw_layout_search_batch,
    )
    from image_indexing_and_retrival_with_qdrant_spark.queries.hnsw import (
        _hnsw_index,
        _np_query_vec,
    )

    lay = _hnsw_index(spark, sf_smoke)
    qs = [(q, _np_query_vec(sf_smoke, q)) for q in (1, 2)]
    batch = hnsw_layout_search_batch(lay, qs, ef=16).collect()
    for qid, qv in qs:
        single = sorted(r.vec_id for r in
                        hnsw_layout_search(lay, qv, ef=16).collect())
        got = sorted(r.vec_id for r in batch if r.query_id == qid)
        assert got == single


def test_exhaustive_query_equals_dense_knn(spark, sf_smoke):
    """End-to-end: the exhaustive HNSW query returns exactly the exact
    scan's top-5 (ids AND rounded scores)."""
    hnsw = REGISTRY["ann_hnsw_exhaustive_top5"].builder(
        spark, sf_smoke).collect()
    exact = REGISTRY["knn_dense_top5"].builder(spark, sf_smoke).collect()
    assert [(r.vec_id, r.score) for r in hnsw] == \
        [(r.vec_id, r.score) for r in exact]


def test_routed_probes_only_nprobe_segments(spark, sf_smoke):
    """The routed search touches only the nprobe probed cells' graph
    rows — per-query work independent of the rest of the corpus."""
    from image_indexing_and_retrival_with_qdrant_spark.queries.ann import (
        _np_probe,
    )
    from image_indexing_and_retrival_with_qdrant_spark.queries.hnsw import (
        _hnsw_index,
        _np_query_vec,
    )

    lay = _hnsw_index(spark, sf_smoke, routed=True)
    probe = _np_probe(sf_smoke, 4)
    got = hnsw_layout_search(lay, _np_query_vec(sf_smoke), ef=32,
                             segments=probe)
    segs = {r.segment for r in got.select("segment").distinct().collect()}
    assert segs <= set(probe)
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "FlatMapGroupsInPandas" in plan  # per-segment search body


def test_rescore_plan_shape(spark, sf_oracle):
    """Literal-IN pruned scan + TakeOrderedAndProject — the bounded
    shortlist never sorts the corpus."""
    df = REGISTRY["ann_hnsw_top5"].builder(spark, sf_oracle)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [In(vec_id" in plan


def test_entry_point_derivation():
    ids, X = _toy()
    levels, _ = hnsw_build_np(ids, X)
    e = derive_entry(levels)
    top = max(levels)
    assert levels[e] == top
    assert all(levels[p] < top for p in range(e))


def _layout_rows(df, data_col="embedding"):
    return sorted((r.segment, r.pos, r.vec_id, r.level,
                   tuple(tuple(nb) for nb in r.links),
                   tuple(r[data_col])) for r in df.collect())


@pytest.mark.parametrize("quantized", [False, True])
def test_layout_resume_equals_scratch_build(spark, quantized):
    """``hnsw_layout`` over (a segment's built layout rows + new rows
    with higher ids) resumes the built prefix and equals the
    from-scratch build of the union; a segment with no built rows
    builds from scratch in the same call. Plain and SQ-code
    (``data_cols``/``decode``) layouts."""
    from pyspark.errors import PythonException

    from image_indexing_and_retrival_with_qdrant_spark.operators.sq import (
        sq_decode_np,
        sq_encode,
        sq_train,
    )

    ids, X = _toy(n=120, d=8, seed=13)
    pts = spark.createDataFrame(
        [(i, i % 2, [float(x) for x in v]) for i, v in zip(ids, X)],
        "vec_id bigint, seg bigint, embedding array<double>")
    kw = dict(m=4, ef_construct=16)
    data_col = "embedding"
    if quantized:
        mins, steps = sq_train(pts, 8)
        pts = sq_encode(pts, mins, steps, carry_cols=("seg",))
        data_col = "codes"

        def decode(pdf):
            return sq_decode_np(np.asarray(
                [np.asarray(c) for c in pdf["codes"]], dtype=np.int64),
                mins, steps)

        kw.update(data_cols=["codes"], data_schema="codes array<int>",
                  decode=decode)
    scratch = hnsw_layout(pts, seg_col="seg", **kw)
    in_prefix = (F.col("seg") == 0) & (F.col("vec_id") < 80)
    prefix = hnsw_layout(pts.filter(in_prefix), seg_col="seg", **kw)
    new = pts.filter(~in_prefix).withColumnRenamed("seg", "segment")
    resumed = hnsw_layout(
        prefix.unionByName(new, allowMissingColumns=True),
        seg_col="segment", **kw)
    assert _layout_rows(resumed, data_col) == \
        _layout_rows(scratch, data_col)
    # a new id not strictly above the built prefix cannot resume
    clash = new.union(new.filter(F.col("vec_id") == 82).withColumn(
        "vec_id", F.lit(10).cast("bigint")))
    with pytest.raises(PythonException, match="strictly above"):
        hnsw_layout(prefix.unionByName(clash, allowMissingColumns=True),
                    seg_col="segment", **kw).collect()
