"""Fusion operators (RRF / DBSF) + the universal query API."""

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.catalog import (
    Prefetch,
    create_collection,
)
from image_indexing_and_retrival_with_qdrant_spark.operators.fusion import (
    dbsf_fuse,
    rrf_fuse,
)
from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY
from tests.oracle import compare


@pytest.mark.parametrize("sf", ["sf_smoke", "sf_oracle"])
def test_sparse_dense_rrf_oracle(spark, sf, request):
    compare(spark, REGISTRY["hybrid_sparse_dense_rrf_top10"],
            request.getfixturevalue(sf), "hybrid_sparse_dense_rrf_top10")


def _branch(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, score double")


def test_rrf_hand_computed(spark):
    a = _branch(spark, [(1, 0.9), (2, 0.8), (3, 0.7)])
    b = _branch(spark, [(2, 5.0), (4, 4.0)])
    out = {r.doc_id: r.rrf for r in rrf_fuse([a, b], k=10).collect()}
    assert out[2] == round(1 / 62 + 1 / 61, 6)  # rank 2 in a, rank 1 in b
    assert out[1] == round(1 / 61, 6)
    assert out[4] == round(1 / 62, 6)
    assert out[3] == round(1 / 63, 6)


def test_rrf_ascending_branch(spark):
    """A distance branch (lower better) fuses via negated scores."""
    dist = _branch(spark, [(1, 0.1), (2, 5.0)])  # 1 is the best
    out = rrf_fuse([(dist, True)], k=2).collect()
    assert [r.doc_id for r in out] == [1, 2]


def test_dbsf_hand_computed(spark):
    # branch scores 1,2,3: mu=2, sigma=sqrt(2/3)
    a = _branch(spark, [(1, 1.0), (2, 2.0), (3, 3.0)])
    out = {r.doc_id: r.dbsf for r in dbsf_fuse([a], k=3).collect()}
    import math
    sig = math.sqrt(2.0 / 3.0)
    assert out[2] == pytest.approx(0.5, abs=1e-6)
    assert out[3] == pytest.approx((3 - (2 - 3 * sig)) / (6 * sig), abs=1e-6)
    # constant branch: everyone present scores 0.5
    c = _branch(spark, [(7, 1.0), (8, 1.0)])
    outc = {r.doc_id: r.dbsf for r in dbsf_fuse([c], k=2).collect()}
    assert outc == {7: 0.5, 8: 0.5}


def test_collection_query_prefetch(spark, tmp_path):
    """Universal query API over named spaces: dense + MaxSim branches
    fused with RRF; DBSF also runs; validation errors surface."""
    coll = create_collection(
        str(tmp_path), "uq",
        vectors={"dense": {"dim": 2, "metric": "dot", "normalize": False},
                 "late": {"dim": 2, "multivector": True,
                          "normalize": False}})
    pts = spark.createDataFrame(
        [(1, [1.0, 0.0], [[1.0, 0.0]]), (2, [0.8, 0.0], [[0.0, 1.0]]),
         (3, [0.0, 0.5], [[0.9, 0.1]])],
        "id int, dense array<double>, late array<array<double>>")
    coll.upsert(spark, pts)
    out = coll.query(
        spark,
        [Prefetch([1.0, 0.0], using="dense", limit=2),
         Prefetch([[1.0, 0.0]], using="late", limit=2)],
        fusion="rrf", k=3).collect()
    scores = {r.id: r.rrf for r in out}
    # dense ranks: 1,2 ; late ranks: 1,3 -> id1 in both at rank 1
    assert scores[1] == round(2 / 61, 6)
    assert scores[2] == round(1 / 62, 6)
    assert scores[3] == round(1 / 62, 6)
    dbsf = coll.query(spark, Prefetch([1.0, 0.0], using="dense"),
                      fusion="dbsf", k=3).collect()
    assert len(dbsf) >= 2
    with pytest.raises(ValueError, match="unknown fusion"):
        coll.query(spark, [Prefetch([1.0, 0.0], using="dense")],
                   fusion="mean")
    with pytest.raises(ValueError, match="at least one"):
        coll.query(spark, [], fusion="rrf")


# -- nested prefetch + vector-query rescore (round 6) ------------------

def _ms_coll(spark, tmp_path):
    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5), float(i % 3), 1.0],
             [float(i % 7 + 1), float((i * 3) % 5)]) for i in range(60)]
    pts = spark.createDataFrame(
        rows, "id int, full array<double>, head array<double>")
    c = create_collection(str(tmp_path), "ms", vectors={
        "full": {"dim": 4, "metric": "cosine", "normalize": False},
        "head": {"dim": 2, "metric": "cosine", "normalize": False}})
    c.upsert(spark, pts)
    return c


QF, QH = [2.0, 1.0, 0.0, 1.0], [2.0, 1.0]


def test_query_vector_rescore_exhaustive_equals_search(spark, tmp_path):
    """query_points(prefetch=..., query=vec): with the coarse stage
    covering the corpus, the rescore equals the plain search."""
    c = _ms_coll(spark, tmp_path)
    out = c.query(spark, [Prefetch(QH, using="head", limit=60)],
                  query=QF, using="full", k=5).collect()
    exact = c.search(spark, QF, k=5, using="full").collect()
    assert [(r.id, r.score) for r in out] == \
        [(r.id, r.score) for r in exact]


def test_query_vector_rescore_restricts_to_candidates(spark, tmp_path):
    """A truncating coarse stage really restricts: every rescored hit
    is a coarse candidate, and scores are full-dims cosine."""
    c = _ms_coll(spark, tmp_path)
    coarse = {r.id for r in
              c.search(spark, QH, k=10, using="head").collect()}
    out = c.query(spark, [Prefetch(QH, using="head", limit=10)],
                  query=QF, using="full", k=5).collect()
    assert {r.id for r in out} <= coarse
    exact = {r.id: r.score
             for r in c.search(spark, QF, k=60, using="full").collect()}
    assert all(r.score == exact[r.id] for r in out)


def test_nested_prefetch_recurses(spark, tmp_path):
    """Prefetch-in-prefetch: inner candidates bound the middle stage,
    whose candidates bound the rescore (three-stage pipeline)."""
    c = _ms_coll(spark, tmp_path)
    inner = Prefetch(QH, using="head", limit=30)
    mid = Prefetch(QH, using="head", limit=10, prefetch=inner)
    out = c.query(spark, [mid], query=QF, using="full", k=5).collect()
    assert len(out) == 5
    coarse30 = {r.id for r in
                c.search(spark, QH, k=30, using="head").collect()}
    assert {r.id for r in out} <= coarse30


def test_nested_prefetch_composes_with_fusion(spark, tmp_path):
    """Without query=, nested branches still fuse (each branch's own
    nesting applies before fusion)."""
    c = _ms_coll(spark, tmp_path)
    b1 = Prefetch(QF, using="full", limit=5,
                  prefetch=Prefetch(QH, using="head", limit=20))
    b2 = Prefetch(QH, using="head", limit=5)
    out = c.query(spark, [b1, b2], fusion="rrf", k=5).collect()
    assert len(out) == 5


def test_multistage_registry_oracle(spark, sf_smoke):
    compare(spark, REGISTRY["knn_multistage_prefetch_top5"], sf_smoke,
            "knn_multistage_prefetch_top5")


def test_query_batch_matches_per_request_query(spark, tmp_path):
    """query_batch_points (universal API): each request's rows/ranks
    equal its standalone query(); branch score semantics (fusion desc
    vs distance-rescore asc) drive per-request rank direction."""
    coll = create_collection(
        str(tmp_path), "qb",
        vectors={"dense": {"dim": 2, "metric": "dot", "normalize": False}})
    pts = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.8, 0.0]), (3, [0.0, 0.5]),
         (4, [0.5, 0.5])],
        "id int, dense array<double>")
    coll.upsert(spark, pts)
    reqs = [
        {"prefetch": [Prefetch([1.0, 0.0], using="dense", limit=3),
                      Prefetch([0.0, 1.0], using="dense", limit=3)],
         "fusion": "rrf", "k": 3},
        {"prefetch": Prefetch([0.0, 1.0], using="dense", limit=4),
         "query": [1.0, 0.0], "using": "dense", "k": 2},
    ]
    out = coll.query_batch(spark, reqs).collect()
    by_idx = {}
    for r in out:
        by_idx.setdefault(r.query_idx, []).append(r)
    assert set(by_idx) == {0, 1}
    # request 0: same ids+scores as standalone rrf query
    solo0 = coll.query(spark, **reqs[0]).collect()
    assert ({(r.id, r.score) for r in by_idx[0]}
            == {(r.id, round(r.rrf, 6)) for r in solo0}
            or {(r.id, r.score) for r in by_idx[0]}
            == {(r.id, r.rrf) for r in solo0})
    # ranks are 1..n per request, following score desc for fusion
    r0 = sorted(by_idx[0], key=lambda r: r.rank)
    assert [r.rank for r in r0] == list(range(1, len(r0) + 1))
    assert all(a.score >= b.score for a, b in zip(r0, r0[1:]))
    # request 1 (vector rescore): matches standalone query()
    solo1 = {(r.id, r.score) for r in coll.query(spark, **reqs[1]).collect()}
    assert {(r.id, r.score) for r in by_idx[1]} == solo1
    with pytest.raises(ValueError, match="at least one request"):
        coll.query_batch(spark, [])


def test_collection_hybrid_query_oracle(spark, sf_smoke):
    """Dense + sparse prefetch fused with RRF through the collection
    surface (mixed-space collection, universal query API)."""
    compare(spark, REGISTRY["ingest_hybrid_query"], sf_smoke,
            "ingest_hybrid_query")


def test_query_with_payload_selector(spark, sf_smoke, tmp_path):
    """query() with_payload: None keeps each path's legacy shape;
    True joins payload onto fused shortlists; list/False narrow —
    values unchanged in every form."""
    from pyspark.sql import functions as F

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        Prefetch, create_collection,
    )
    from image_indexing_and_retrival_with_qdrant_spark.sources.embedder import (
        HashEmbedder,
    )
    from image_indexing_and_retrival_with_qdrant_spark.sources.ingest import (
        build_points,
    )
    from image_indexing_and_retrival_with_qdrant_spark.tables import load

    emb = HashEmbedder(dim=8)
    docs = load(spark, sf_smoke, "documents")
    points = build_points(
        emb.embed(docs, text_col="text"), id_key=F.col("text"),
        payload={"lang": F.col("lang"), "doc_id": F.col("doc_id")},
        with_timestamp=False)
    coll = create_collection(str(tmp_path), "q", dim=8, normalize=False)
    coll.upsert(spark, points)
    qv = [0.1] * 8
    pf = [Prefetch(qv, limit=20), Prefetch(qv, limit=10)]
    legacy = coll.query(spark, prefetch=pf, fusion="rrf", k=5)
    assert set(legacy.columns) == {"id", "rrf"}
    withp = coll.query(spark, prefetch=pf, fusion="rrf", k=5,
                       with_payload=True)
    assert {"id", "rrf", "lang", "doc_id"} <= set(withp.columns)
    key = lambda d: sorted((r.id, r.rrf) for r in d.collect())
    assert key(withp) == key(legacy)
    only = coll.query(spark, prefetch=pf, fusion="rrf", k=5,
                      with_payload=["lang"])
    assert set(only.columns) == {"id", "rrf", "lang"}
    # rescore path: legacy keeps payload; False strips it
    resc = coll.query(spark, prefetch=pf, query=qv, k=5)
    assert "lang" in resc.columns
    resc_np = coll.query(spark, prefetch=pf, query=qv, k=5,
                         with_payload=False)
    assert "lang" not in resc_np.columns
    assert sorted((r.id, r.score) for r in resc_np.collect()) == \
        sorted((r.id, r.score) for r in resc.collect())


def test_query_group_by_matches_manual_grouping(spark, tmp_path):
    """query(group_by=) — Qdrant query_points_groups in the universal
    form: the grouped output must re-derive from the ungrouped fused
    pool (best group_size per group, groups ranked by their best
    fused score, group_rank attached)."""
    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5), float(i % 3), 1.0],
             [float(i % 7 + 1), float((i * 3) % 5)], f"g{i % 4}")
            for i in range(60)]
    pts = spark.createDataFrame(
        rows, "id int, full array<double>, head array<double>, grp string")
    c = create_collection(str(tmp_path), "gq", vectors={
        "full": {"dim": 4, "metric": "cosine", "normalize": False},
        "head": {"dim": 2, "metric": "cosine", "normalize": False}})
    c.upsert(spark, pts)
    qf, qh = [2.0, 1.0, 0.0, 1.0], [2.0, 1.0]
    branches = [Prefetch(qf, using="full", limit=40),
                Prefetch(qh, using="head", limit=40)]
    grouped = c.query(spark, branches, fusion="rrf", k=2,
                      group_by="grp", group_size=3).collect()
    # re-derive from the ungrouped pool at the same depth
    pool = {r.id: r.score for r in c.query(
        spark, branches, fusion="rrf", k=50)
        .withColumnRenamed("rrf", "score").collect()}
    grp_of = {i: f"g{i % 4}" for i in range(60)}
    by_grp: dict = {}
    for pid, s in pool.items():
        by_grp.setdefault(grp_of[pid], []).append((-s, pid))
    want_groups = sorted(
        by_grp, key=lambda g: min(by_grp[g]))[:2]
    got_groups = {}
    for r in grouped:
        got_groups.setdefault(r.grp, []).append((r.group_rank, r.rank, r.id))
    assert set(got_groups) == set(want_groups)
    for g, members in got_groups.items():
        want = [pid for _, pid in sorted(by_grp[g])[:3]]
        assert [pid for _, rk, pid in sorted(members)] == want
    # rescore form groups too, and with_lookup attaches group payload
    lk = create_collection(str(tmp_path), "lkup", dim=2, normalize=False)
    lk.upsert(spark, spark.createDataFrame(
        [(f"g{i}", [1.0, 0.0], f"meta{i}") for i in range(4)],
        "id string, embedding array<double>, note string"))
    out = c.query(spark, [Prefetch(qh, using="head", limit=40)],
                  query=qf, using="full", k=2,
                  group_by="grp", group_size=2,
                  with_lookup=lk).collect()
    assert len({r.grp for r in out}) == 2
    assert all(r.lookup_note == "meta" + r.grp[1:] for r in out)
    with pytest.raises(ValueError, match="need group_by"):
        c.query(spark, branches, k=2, group_size=5)


def test_query_group_by_fusion_joins_payload(spark, tmp_path):
    """Grouping a fused pool keeps its payload: with_payload=True (the
    grouped default) joins every payload field the ungrouped fused
    result joins, with the same values per id."""
    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5), float(i % 3), 1.0],
             f"g{i % 4}", i * 10) for i in range(40)]
    c = create_collection(str(tmp_path), "gp", dim=4, normalize=False)
    c.upsert(spark, spark.createDataFrame(
        rows, "id int, embedding array<double>, grp string, pop int"))
    pf = [Prefetch([2.0, 1.0, 0.0, 1.0], limit=20),
          Prefetch([1.0, 0.0, 1.0, 1.0], limit=20)]
    flat = c.query(spark, pf, k=50, with_payload=True)
    grouped = c.query(spark, pf, k=2, group_by="grp", group_size=2)
    assert set(flat.columns) - {"rrf"} <= set(grouped.columns)
    want = {r.id: (r.grp, r.pop) for r in flat.collect()}
    got = grouped.collect()
    assert len(got) == 4 and all((r.grp, r.pop) == want[r.id] for r in got)


# ---------------------------------------------------------------------------
# Universal query API: query-object forms (RecommendQuery / DiscoverQuery /
# ContextQuery / OrderByQuery / SampleQuery as query=)
# ---------------------------------------------------------------------------

from image_indexing_and_retrival_with_qdrant_spark.catalog import (  # noqa: E402
    ContextQuery,
    DiscoverQuery,
    OrderByQuery,
    RecommendQuery,
    SampleQuery,
)


def _qobj_coll(spark, tmp_path):
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(6)],
             i % 4, float(i)) for i in range(50)]
    pts = spark.createDataFrame(
        rows, "id int, embedding array<double>, tag int, w double")
    c = create_collection(str(tmp_path), "qo", dim=6, normalize=False)
    c.upsert(spark, pts)
    return c, [Prefetch([1.0, 0.5, -0.5, 1.0, 0.0, 0.5], limit=20)]


def test_query_object_recommend_matches_dedicated(spark, tmp_path):
    """query=RecommendQuery over prefetch == recommend() restricted to
    the candidate ids; without prefetch == recommend() verbatim."""
    c, pf = _qobj_coll(spark, tmp_path)
    cand = [r.id for r in c.search(
        spark, pf[0].query, k=20).select("id").collect()]
    for strategy in ("average_vector", "best_score"):
        got = c.query(spark, pf,
                      query=RecommendQuery([1, 2], [3], strategy=strategy),
                      k=5).select("id", "score").collect()
        want = c.recommend(spark, [1, 2], [3], k=5, strategy=strategy,
                           query_filter=F.col("id").isin(cand),
                           ).select("id", "score").collect()
        assert [(r.id, r.score) for r in got] == \
            [(r.id, r.score) for r in want]
    got = c.query(spark, None, query=RecommendQuery([1], [2]),
                  k=5).select("id", "score").collect()
    want = c.recommend(spark, [1], [2], k=5).select("id", "score").collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]


def test_query_object_discover_and_context(spark, tmp_path):
    """DiscoverQuery/ContextQuery == discover() on the candidate set."""
    c, pf = _qobj_coll(spark, tmp_path)
    cand = [r.id for r in c.search(
        spark, pf[0].query, k=20).select("id").collect()]
    flt = F.col("id").isin(cand)
    got = c.query(spark, pf, query=DiscoverQuery(4, [(1, 2), (5, 6)]),
                  k=5).select("id", "score").collect()
    want = c.discover(spark, [(1, 2), (5, 6)], target=4, k=5,
                      query_filter=flt).select("id", "score").collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]
    got = c.query(spark, pf, query=ContextQuery([(1, 2)]),
                  k=5).select("id", "score").collect()
    want = c.discover(spark, [(1, 2)], target=None, k=5,
                      query_filter=flt).select("id", "score").collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]


def test_query_object_order_by_and_sample(spark, tmp_path):
    """OrderByQuery walks the payload field over the candidates
    (order_value attached, start_from/desc honored); SampleQuery is a
    deterministic seeded-hash sample, collection-wide sans prefetch."""
    c, pf = _qobj_coll(spark, tmp_path)
    cand = sorted(r.id for r in c.search(
        spark, pf[0].query, k=20).select("id").collect())
    out = c.query(spark, pf, query=OrderByQuery("w"), k=5).collect()
    assert [r.id for r in out] == sorted(cand)[:5]
    assert [r.order_value for r in out] == [float(i) for i in sorted(cand)[:5]]
    out = c.query(spark, pf, query=OrderByQuery("w", desc=True,
                                                start_from=30.0),
                  k=3).collect()
    le30 = [i for i in sorted(cand, reverse=True) if i <= 30]
    assert [r.id for r in out] == le30[:3]
    assert "embedding" not in out[0].asDict()  # vectors stay dropped
    s1 = [r.id for r in c.query(spark, pf, query=SampleQuery(seed=7),
                                k=5).collect()]
    s2 = [r.id for r in c.query(spark, pf, query=SampleQuery(seed=7),
                                k=5).collect()]
    assert s1 == s2 and len(s1) == 5 and set(s1) <= set(cand)
    full = [r.id for r in c.query(spark, None, query=SampleQuery(seed=7),
                                  k=50).collect()]
    assert sorted(full) == list(range(50))  # collection-wide, uniform rank


def test_query_order_by_rejects_non_numeric_key(spark, tmp_path):
    """OrderByQuery ranks numeric and timestamp fields (Qdrant's
    order_by key types): a string field raises ValueError naming its
    type instead of failing the order_value cast at execution, while
    scroll(order_by=) still pages the same field."""
    rows = [(i, [float(i % 5), 1.0], f"s{i % 5}") for i in range(20)]
    c = create_collection(str(tmp_path), "obs", dim=2, normalize=False)
    c.upsert(spark, spark.createDataFrame(
        rows, "id int, embedding array<double>, s string"))
    with pytest.raises(ValueError, match="string"):
        c.query(spark, None, query=OrderByQuery("s"), k=3)
    page = c.scroll(spark, limit=3, order_by="s").collect()
    assert [r.s for r in page] == ["s0", "s0", "s0"]


def test_query_object_guards(spark, tmp_path):
    """No score to rank by: order_by/sample reject group_by and batch."""
    c, pf = _qobj_coll(spark, tmp_path)
    with pytest.raises(ValueError, match="group_by"):
        c.query(spark, pf, query=SampleQuery(), k=3, group_by="tag")
    with pytest.raises(ValueError, match="score to rank"):
        c.query_batch(spark, [{"prefetch": pf,
                               "query": OrderByQuery("w"), "k": 3}])
    with pytest.raises(ValueError, match="prefetch"):
        c.query(spark, None, query=[1.0] * 6, k=3)  # vector needs prefetch
    # a batch returns (query_idx, id, score, rank) rows: keys whose
    # output that shape would drop are rejected, not silently ignored
    for key, val in (("group_by", "tag"), ("group_size", 3),
                     ("with_lookup", c), ("with_payload", ["tag"]),
                     ("with_vectors", True)):
        with pytest.raises(ValueError, match=key):
            c.query_batch(spark, [{"prefetch": pf, "k": 3, key: val}])


def test_query_object_group_by_and_batch(spark, tmp_path):
    """RecommendQuery composes with group_by (pool re-grouped) and
    with query_batch (scores rank descending for best_score)."""
    c, pf = _qobj_coll(spark, tmp_path)
    out = c.query(spark, pf, query=RecommendQuery([1], strategy="best_score"),
                  k=2, group_by="tag", group_size=2).collect()
    assert len({r.tag for r in out}) == 2
    assert all(r.group_rank in (1, 2) for r in out)
    got = c.query_batch(spark, [
        {"prefetch": pf, "query": RecommendQuery([1], strategy="best_score"),
         "k": 3}]).collect()
    scores = [r.score for r in sorted(got, key=lambda r: r.rank)]
    assert scores == sorted(scores, reverse=True)


def test_query_batch_discover_ranks_by_zones(spark, tmp_path):
    """DiscoverQuery through query_batch ranks exactly like query():
    zones satisfied DESC first, target score second — not by the score
    column alone (discovery's score is the target similarity, the rank
    is the zone count)."""
    c, pf = _qobj_coll(spark, tmp_path)
    dq = DiscoverQuery(4, [(1, 2), (5, 6)])
    want = [r.id for r in c.query(spark, pf, query=dq, k=5).collect()]
    got = c.query_batch(spark, [{"prefetch": pf, "query": dq, "k": 5}]
                        ).collect()
    assert [r.id for r in sorted(got, key=lambda r: r.rank)] == want
    # ContextQuery (no target → no zone rank) still ranks by score desc
    cq = ContextQuery([(1, 2)])
    wantc = [r.id for r in c.query(spark, pf, query=cq, k=5).collect()]
    gotc = c.query_batch(spark, [{"prefetch": pf, "query": cq, "k": 5}]
                         ).collect()
    assert [r.id for r in sorted(gotc, key=lambda r: r.rank)] == wantc


def test_query_batch_discover_follows_metric(spark, tmp_path):
    """On a distance space discovery's target score ranks ascending
    (as discover() itself ranks), so query_batch's rank and a
    with_vectors re-sort keep query()'s order."""
    c = create_collection(str(tmp_path), "de", dim=3, metric="euclid")
    c.upsert(spark, spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(3)])
         for i in range(40)], "id int, embedding array<double>"))
    pf = [Prefetch([1.0, 0.5, -0.5], limit=25)]
    dq = DiscoverQuery(0, [(1, 2)])
    want = [r.id for r in c.query(spark, pf, query=dq, k=6).collect()]
    got = c.query_batch(spark, [{"prefetch": pf, "query": dq, "k": 6}])
    assert [r.id for r in sorted(got.collect(), key=lambda r: r.rank)] == want
    assert [r.id for r in c.query(spark, pf, query=dq, k=6,
                                  with_vectors=True).collect()] == want


def test_query_discover_group_by_regroups_pool(spark, tmp_path):
    """DiscoverQuery composes with group_by: groups rank by zones
    satisfied DESC, then target score DESC, then id — the grouped
    output re-derives from the ungrouped pool. ``rank`` is the
    position within the group, as in every grouped form; the zone
    count orders the rows but is not returned."""
    c, pf = _qobj_coll(spark, tmp_path)
    dq = DiscoverQuery(0, [(1, 2), (3, 4)])
    pool = sorted(((-r.rank, -r.score, r.id, r.tag) for r in c.query(
        spark, pf, query=dq, k=50).collect()))
    members: dict = {}
    for *_, pid, tag in pool:  # best-first, so groups in best-hit order
        members.setdefault(tag, []).append(pid)
    want = {(tag, gi + 1, ri + 1, pid)
            for gi, tag in enumerate(list(members)[:2])
            for ri, pid in enumerate(members[tag][:2])}
    out = c.query(spark, pf, query=dq, k=2, group_by="tag", group_size=2)
    assert "__zones" not in out.columns
    assert {(r.tag, r.group_rank, r.rank, r.id)
            for r in out.collect()} == want


@pytest.mark.parametrize("name", [
    "knn_query_recommend_prefetch_top5",
    "knn_query_order_by_top5",
    "knn_query_sample_top5",
    "knn_query_discover_prefetch_top5",
    "knn_query_context_prefetch_top5",
])
def test_query_object_registry_oracle(spark, sf_smoke, name):
    compare(spark, REGISTRY[name], sf_smoke, name)


def test_query_by_id_through_universal_api(spark, tmp_path):
    """query=<point id> on the universal API (Qdrant query-by-id in
    query_points): the stored vector drives the rescore over the
    prefetch candidates, the point excludes itself."""
    c, pf = _qobj_coll(spark, tmp_path)
    qv = [float(x) for x in c.read(spark).filter(
        F.col("id") == 3).collect()[0].embedding]
    cand = [r.id for r in c.search(
        spark, pf[0].query, k=20).select("id").collect()]
    got = c.query(spark, pf, query=3, k=5).select("id", "score").collect()
    want = c.search(spark, qv, k=5,
                    query_filter=F.col("id").isin(cand) & (F.col("id") != 3)
                    ).select("id", "score").collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]
    assert all(r.id != 3 for r in got)


def test_query_with_vectors_on_every_path(spark, tmp_path):
    """with_vectors=True attaches the stored vector on the rescore,
    fusion, query-object, and grouped paths; values match storage and
    ordering is unchanged."""
    c, pf = _qobj_coll(spark, tmp_path)
    stored = {r.id: [float(x) for x in r.embedding]
              for r in c.read(spark).select("id", "embedding").collect()}

    def check(df, base_ids):
        rows = df.collect()
        assert [r.id for r in rows] == base_ids
        for r in rows:
            assert [float(x) for x in r.embedding] == stored[r.id]

    qv = [1.0, 0.5, -0.5, 1.0, 0.0, 0.5]
    base = c.query(spark, pf, query=qv, k=5)
    check(c.query(spark, pf, query=qv, k=5, with_vectors=True),
          [r.id for r in base.collect()])
    base = c.query(spark, pf, fusion="rrf", k=5)
    check(c.query(spark, pf, fusion="rrf", k=5, with_vectors=True),
          [r.id for r in base.collect()])
    base = c.query(spark, pf, query=RecommendQuery([1], [2]), k=5)
    check(c.query(spark, pf, query=RecommendQuery([1], [2]), k=5,
                  with_vectors=True), [r.id for r in base.collect()])
    base = c.query(spark, pf, query=OrderByQuery("w", desc=True), k=5)
    check(c.query(spark, pf, query=OrderByQuery("w", desc=True), k=5,
                  with_vectors=True), [r.id for r in base.collect()])
    grouped = c.query(spark, pf, query=qv, k=2, group_by="tag",
                      group_size=2, with_vectors=True).collect()
    assert grouped and all(
        [float(x) for x in r.embedding] == stored[r.id] for r in grouped)


def test_query_with_vectors_named_selector(spark, tmp_path):
    """with_vectors=[names] attaches exactly those spaces' columns
    (Qdrant's vector-name selector), any space — searched or not."""
    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5), float(i % 3), 1.0],
             [float(i % 7 + 1), float((i * 3) % 5)]) for i in range(30)]
    pts = spark.createDataFrame(
        rows, "id int, full array<double>, head array<double>")
    c = create_collection(str(tmp_path), "wv", vectors={
        "full": {"dim": 4, "metric": "cosine", "normalize": False},
        "head": {"dim": 2, "metric": "cosine", "normalize": False}})
    c.upsert(spark, pts)
    out = c.query(spark, [Prefetch([2.0, 1.0], using="head", limit=10)],
                  query=[2.0, 1.0, 0.0, 1.0], using="full", k=3,
                  with_vectors=["head"]).collect()
    stored = {r.id: list(r.head) for r in pts.collect()}
    assert all(list(r.head) == stored[r.id] for r in out)
    assert "full" not in out[0].asDict()  # selector is exact
    both = c.query(spark, [Prefetch([2.0, 1.0], using="head", limit=10)],
                   query=[2.0, 1.0, 0.0, 1.0], using="full", k=3,
                   with_vectors=["full", "head"]).collect()
    assert {"full", "head"} <= set(both[0].asDict())


def test_query_with_vectors_sparse_space(spark, tmp_path):
    """with_vectors over a hybrid collection: True on a sparse-using
    rescore attaches the index/value pair; the name selector mixes
    dense and sparse spaces."""
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(4)],
             [i % 3, 3 + i % 2], [1.0 + i % 4, 0.5]) for i in range(30)]
    pts = spark.createDataFrame(
        rows, "id int, dense array<double>, "
              "text__sidx array<int>, text__sval array<double>")
    c = create_collection(str(tmp_path), "hv",
                          vectors={"dense": {"dim": 4, "metric": "dot",
                                             "normalize": False}},
                          sparse_vectors={"text": {}})
    c.upsert(spark, pts)
    pf = [Prefetch([1.0, 0.5, -0.5, 1.0], using="dense", limit=15)]
    out = c.query(spark, pf, query=([0, 3], [1.0, 1.0]), using="text",
                  k=3, with_vectors=True).collect()
    stored = {r.id: (list(r.text__sidx), list(r.text__sval))
              for r in pts.collect()}
    assert all((list(r.text__sidx), list(r.text__sval)) == stored[r.id]
               for r in out)
    both = c.query(spark, pf, query=([0, 3], [1.0, 1.0]), using="text",
                   k=3, with_vectors=["dense", "text"]).collect()
    assert {"dense", "text__sidx", "text__sval"} <= set(both[0].asDict())
