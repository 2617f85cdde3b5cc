"""Distance-metric parity: euclid/manhattan collections rank
ascending, threshold is a max bound, and the Collection surface
dispatches on the declared metric (Qdrant Distance.{EUCLID,MANHATTAN})."""

import math

import pytest

from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection


def _mk(spark, tmp_path, metric):
    coll = create_collection(str(tmp_path), f"m_{metric}", dim=3, metric=metric)
    pts = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]),
         (3, [1.0, 1.0, 0.0]), (4, [3.0, 4.0, 0.0])],
        "id int, embedding array<double>",
    )
    coll.upsert(spark, pts)
    return coll


def test_euclid_collection_not_normalized(spark, tmp_path):
    # metric != cosine => normalize defaults off; vectors stored raw
    coll = _mk(spark, tmp_path, "euclid")
    assert not coll.meta["normalize"]
    stored = {r.id: list(r.embedding) for r in coll.read(spark).collect()}
    assert stored[4] == [3.0, 4.0, 0.0]


def test_euclid_search_ranks_ascending(spark, tmp_path):
    coll = _mk(spark, tmp_path, "euclid")
    hits = coll.search(spark, [0.0, 0.0, 0.0], k=4).collect()
    assert [r.id for r in hits] == [1, 2, 3, 4]
    assert hits[0].score == 0.0
    assert hits[3].score == 5.0  # 3-4-5 triangle
    assert hits[2].score == pytest.approx(math.sqrt(2.0), abs=1e-6)


def test_euclid_threshold_is_max_bound(spark, tmp_path):
    coll = _mk(spark, tmp_path, "euclid")
    hits = coll.search(spark, [0.0, 0.0, 0.0], k=4, score_threshold=2.0)
    assert {r.id for r in hits.collect()} == {1, 2, 3}


def test_manhattan_search(spark, tmp_path):
    coll = _mk(spark, tmp_path, "manhattan")
    hits = coll.search(spark, [0.0, 0.0, 0.0], k=4).collect()
    assert [r.id for r in hits] == [1, 2, 3, 4]
    assert [r.score for r in hits] == [0.0, 1.0, 2.0, 7.0]


def test_dot_metric_skips_normalization(spark, tmp_path):
    coll = _mk(spark, tmp_path, "dot")
    hits = coll.search(spark, [1.0, 1.0, 0.0], k=4).collect()
    # raw inner products: id4 = 7, id3 = 2, id2 = 1, id1 = 0
    assert [r.id for r in hits] == [4, 3, 2, 1]
    assert hits[0].score == 7.0


def test_batch_search_euclid(spark, tmp_path):
    coll = _mk(spark, tmp_path, "euclid")
    out = coll.search_batch(spark, [[0.0, 0.0, 0.0], [3.0, 4.0, 0.0]], k=2)
    rows = {(r.query_idx, r.rank): r.id for r in out.collect()}
    assert rows[(0, 1)] == 1 and rows[(1, 1)] == 4


def test_search_groups(spark, tmp_path):
    """query_points_groups analog: per-group cap + group ranking by
    best hit, on a collection with a payload group key."""
    coll = create_collection(str(tmp_path), "g", dim=2, metric="euclid")
    pts = spark.createDataFrame(
        [(1, "a", [0.0, 0.0]), (2, "a", [0.1, 0.0]), (3, "a", [0.2, 0.0]),
         (4, "b", [1.0, 0.0]), (5, "b", [1.1, 0.0]),
         (6, "c", [9.0, 0.0])],
        "id int, src string, embedding array<double>",
    )
    coll.upsert(spark, pts)
    out = coll.search_groups(spark, [0.0, 0.0], group_by="src",
                             limit=2, group_size=2).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r.src, []).append(r)
    assert set(by_group) == {"a", "b"}  # c's best (9.0) loses the group race
    a = sorted(by_group["a"], key=lambda r: r.rank)
    assert [r.id for r in a] == [1, 2]  # capped at group_size=2: id 3 dropped
    assert a[0].group_rank == 1
    assert by_group["b"][0].group_rank == 2


def test_recommend_average_vector(spark, tmp_path):
    """Qdrant recommend: avg(pos) − avg(neg) query, examples
    excluded. With pos={2,3} along +x and neg={4} along +y, the
    composed query points toward +x−y territory: id 5 (x-axis point)
    must beat id 6 (y-axis point)."""
    coll = create_collection(str(tmp_path), "r", dim=2, metric="dot",
                             normalize=False)
    pts = spark.createDataFrame(
        [(2, [1.0, 0.0]), (3, [0.8, 0.0]), (4, [0.0, 1.0]),
         (5, [0.9, 0.1]), (6, [0.1, 0.9])],
        "id int, embedding array<double>",
    )
    coll.upsert(spark, pts)
    hits = coll.recommend(spark, positive=[2, 3], negative=[4], k=5).collect()
    ids = [r.id for r in hits]
    assert set(ids) == {5, 6}  # examples excluded
    assert ids[0] == 5
    # qv = (0.9, 0) - (0, 1) = (0.9, -1); dot with id5 = .81-.1=.71
    assert hits[0].score == pytest.approx(0.71, abs=1e-6)


def test_recommend_best_score_strategy(spark, tmp_path):
    """strategy=best_score: score = max positive similarity unless the
    best negative wins, then -(max_neg^2) — a point sitting on the
    negative example must sink below every positive-side point."""
    coll = create_collection(str(tmp_path), "bs", dim=2, metric="dot",
                             normalize=False)
    pts = spark.createDataFrame(
        [(2, [1.0, 0.0]), (4, [0.0, 1.0]),
         (5, [0.9, 0.1]), (6, [0.05, 0.95])],
        "id int, embedding array<double>",
    )
    coll.upsert(spark, pts)
    hits = coll.recommend(spark, positive=[2], negative=[4], k=5,
                          strategy="best_score").collect()
    ids = [r.id for r in hits]
    assert set(ids) == {5, 6} and ids[0] == 5
    assert hits[0].score == pytest.approx(0.9, abs=1e-6)   # mp wins
    assert hits[1].score == pytest.approx(-0.9025, abs=1e-6)  # -(0.95^2)
    with pytest.raises(ValueError, match="unknown recommend strategy"):
        coll.recommend(spark, positive=[2], strategy="nope")


def test_recommend_lookup_from_other_collection(spark, tmp_path):
    """Qdrant LookupLocation: example ids resolve in ANOTHER
    collection (user profiles → document corpus). Foreign ids don't
    name points here, so nothing is excluded — a corpus point sharing
    an id with the profile example must still be returned."""
    corpus = create_collection(str(tmp_path / "a"), "docs", dim=2,
                               metric="dot", normalize=False)
    corpus.upsert(spark, spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, [0.1, 0.9]), (7, [1.0, 0.0])],
        "id int, embedding array<double>"))
    profiles = create_collection(str(tmp_path / "b"), "profiles", dim=2,
                                 metric="dot", normalize=False)
    profiles.upsert(spark, spark.createDataFrame(
        [(7, [1.0, 0.0]), (8, [0.0, 1.0])],
        "id int, embedding array<double>"))
    hits = corpus.recommend(spark, positive=[7], negative=[8], k=5,
                            lookup_from=profiles).collect()
    ids = [r.id for r in hits]
    assert set(ids) == {1, 2, 7}  # id 7 NOT excluded (foreign example)
    assert ids[0] == 7            # qv=(1,-1): dot 1.0 beats 0.8
    assert hits[0].score == pytest.approx(1.0, abs=1e-6)
    # unknown foreign id still rejected
    with pytest.raises(ValueError, match="not found"):
        corpus.recommend(spark, positive=[99], lookup_from=profiles)


def test_recommend_missing_example_rejected(spark, tmp_path):
    coll = _mk(spark, tmp_path, "dot")
    with pytest.raises(ValueError, match="not found"):
        coll.recommend(spark, positive=[99])
    with pytest.raises(ValueError, match="positive"):
        coll.recommend(spark, positive=[])


def test_unknown_metric_rejected(spark, tmp_path):
    from image_indexing_and_retrival_with_qdrant_spark.operators.knn import _score
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="unknown metric"):
        _score(F.col("a"), F.col("b"), False, 3, "hamming")


def test_search_offset_pagination(spark, tmp_path):
    """Qdrant's offset param: page 2 of the ranked results, no
    overlap with page 1 (window over <= k+offset rows only)."""
    coll = _mk(spark, tmp_path, "euclid")
    page1 = coll.search(spark, [0.0, 0.0, 0.0], k=2).collect()
    page2 = coll.search(spark, [0.0, 0.0, 0.0], k=2, offset=2).collect()
    assert [r.id for r in page1] == [1, 2]
    assert [r.id for r in page2] == [3, 4]
    with pytest.raises(ValueError, match="finite k"):
        coll.search(spark, [0.0, 0.0, 0.0], k=None, offset=2)


def test_search_groups_with_lookup(spark, tmp_path):
    """Qdrant WithLookup: the group id names a point in another
    collection; its payload joins onto every result row as
    lookup_<field> columns (a missing lookup point leaves nulls)."""
    coll = create_collection(str(tmp_path), "gl", dim=2, metric="euclid")
    pts = spark.createDataFrame(
        [(1, 10, [0.0, 0.0]), (2, 10, [0.1, 0.0]),
         (3, 20, [1.0, 0.0]), (4, 99, [9.0, 0.0])],
        "id int, doc int, embedding array<double>")
    coll.upsert(spark, pts)
    docs = create_collection(str(tmp_path), "gl_docs", dim=2)
    docs.upsert(spark, spark.createDataFrame(
        [(10, [1.0, 0.0], "alpha"), (20, [0.0, 1.0], "beta")],
        "id int, embedding array<double>, title string"))
    out = coll.search_groups(spark, [0.0, 0.0], group_by="doc",
                             limit=3, group_size=1,
                             with_lookup=docs).collect()
    got = {r.doc: r for r in out}
    assert got[10].lookup_title == "alpha"
    assert got[20].lookup_title == "beta"
    assert got[99].lookup_title is None  # no lookup point: nulls
    # field subset projection
    out2 = coll.search_groups(spark, [0.0, 0.0], group_by="doc",
                              limit=1, group_size=1,
                              with_lookup=(docs, ["title"])).collect()
    assert out2[0].lookup_title == "alpha"
    assert "lookup_id" not in out2[0].asDict()


def test_search_groups_multivector(spark, tmp_path):
    """Groups compose with MaxSim queries too (Qdrant groups accept
    any query type): per-group cap + group ranking by best MaxSim."""
    coll = create_collection(str(tmp_path), "gmv", dim=2,
                             multivector=True, normalize=False)
    pts = spark.createDataFrame(
        [(1, "a", [[1.0, 0.0]]), (2, "a", [[0.9, 0.0]]),
         (3, "b", [[0.5, 0.0]]), (4, "c", [[0.0, 1.0]])],
        "id int, src string, embedding array<array<double>>")
    coll.upsert(spark, pts)
    out = coll.search_groups(spark, [[1.0, 0.0]], group_by="src",
                             limit=2, group_size=1).collect()
    got = {r.src: (r.id, r.group_rank) for r in out}
    assert got == {"a": (1, 1), "b": (3, 2)}  # c's best (0.0) loses


# search_groups is the group stage over the exact scored search; one
# collection per shape it must hold on (≤ 120 points each)
_GROUP_SHAPES = {
    "flat": dict(dim=4),
    "filtered": dict(dim=4),
    "euclid": dict(dim=4, metric="euclid"),
    "ivf": dict(dim=4, indexing_threshold=50, k_centroids=4),
    "hnsw": dict(dim=4, indexing_threshold=50, k_centroids=4,
                 hnsw_config={"m": 4, "ef_construct": 16}),
    "mv32": dict(dim=2, multivector=True, normalize=False),
    "mv16": dict(dim=2, multivector=True, normalize=False,
                 datatype="float16"),
    "dot": dict(vectors={"d": {"dim": 4, "metric": "dot",
                               "normalize": False}}),
}


def _expected_groups(rows, asc, limit, size):
    """Python re-derivation: best ``size`` rows per group in the
    space's direction (id tie-break), groups by their best row."""
    members: dict = {}
    for r in sorted(rows, key=lambda r: (r.score if asc else -r.score,
                                         r.id)):
        members.setdefault(r.grp, [])
        if len(members[r.grp]) < size:
            members[r.grp].append(r.id)
    return {(g, gi + 1, ri + 1, pid)
            for gi, g in enumerate(list(members)[:limit])
            for ri, pid in enumerate(members[g])}


@pytest.mark.parametrize("shape", list(_GROUP_SHAPES))
def test_search_groups_regroups_exact_search(spark, tmp_path, shape):
    """search_groups on every collection shape (flat, filtered, euclid,
    IVF, HNSW, multivector fp32/fp16, named dot space) equals the
    groups re-derived from the exact search's full ranking; on the
    flat shape recommend_groups equals the groups of recommend()."""
    from pyspark.sql import functions as F

    kw = _GROUP_SHAPES[shape]
    mv = kw.get("multivector", False)
    using = "d" if shape == "dot" else None
    rows = []
    for i in range(120):
        v = [float(((i + 1) * (j + 3) * 7919) % 97) / 97.0 - 0.5
             for j in range(4)]
        rows.append((i, [v[:2], v[2:]] if mv else v, f"g{i % 9}", i % 5))
    vtype = "array<array<double>>" if mv else "array<double>"
    coll = create_collection(str(tmp_path), "sg", **kw)
    coll.upsert(spark, spark.createDataFrame(
        rows, f"id int, {using or 'embedding'} {vtype}, grp string, "
        "pop int"))
    qv = [0.3, -0.2, 0.1, 0.4]
    q = [qv[:2], qv[2:]] if mv else qv
    flt = F.col("pop") > 1 if shape == "filtered" else None
    exact = coll.search(spark, q, k=None, exact=True, query_filter=flt,
                        using=using).collect()
    got = coll.search_groups(spark, q, group_by="grp", limit=3,
                             group_size=2, query_filter=flt, using=using)
    assert ({(r.grp, r.group_rank, r.rank, r.id) for r in got.collect()}
            == _expected_groups(exact, shape == "euclid", 3, 2))
    if shape == "flat":
        pool = coll.recommend(spark, [1, 2], [3], k=None).collect()
        got = coll.recommend_groups(spark, [1, 2], group_by="grp",
                                    negative=[3], limit=3, group_size=2)
        assert ({(r.grp, r.group_rank, r.rank, r.id)
                 for r in got.collect()}
                == _expected_groups(pool, False, 3, 2))


def test_recommend_groups(spark, tmp_path):
    """recommend_groups = recommend composition ranked as groups:
    examples excluded, best hit per group, groups by best hit."""
    coll = create_collection(str(tmp_path), "rg", dim=2,
                             normalize=False, metric="dot")
    pts = spark.createDataFrame(
        [(1, "a", [1.0, 0.0]),   # positive example (excluded)
         (2, "a", [0.9, 0.1]), (3, "b", [0.8, 0.0]),
         (4, "b", [0.1, 0.9]), (5, "c", [-1.0, 0.0])],
        "id int, src string, embedding array<double>")
    coll.upsert(spark, pts)
    out = coll.recommend_groups(spark, positive=[1], group_by="src",
                                limit=2, group_size=1).collect()
    got = {r.src: r.id for r in out}
    assert got == {"a": 2, "b": 3}  # id 1 excluded; c's best loses
    ranks = {r.src: r.group_rank for r in out}
    assert ranks == {"a": 1, "b": 2}
    with pytest.raises(ValueError, match="at least one positive"):
        coll.recommend_groups(spark, positive=[], group_by="src")


def test_with_lookup_excludes_lookup_vectors_under_named_space(spark,
                                                               tmp_path):
    """with_lookup's default field list must drop the LOOKUP
    collection's own vector columns even when the searched space is a
    named one (the searched space's name is irrelevant there)."""
    coll = create_collection(
        str(tmp_path), "gl2",
        vectors={"dense": {"dim": 2, "metric": "dot",
                           "normalize": False}})
    coll.upsert(spark, spark.createDataFrame(
        [(1, 10, [1.0, 0.0]), (2, 20, [0.0, 1.0])],
        "id int, doc int, dense array<double>"))
    docs = create_collection(str(tmp_path), "gl2_docs", dim=2)
    docs.upsert(spark, spark.createDataFrame(
        [(10, [1.0, 0.0], "alpha")],
        "id int, embedding array<double>, title string"))
    out = coll.search_groups(spark, [1.0, 0.0], group_by="doc",
                             limit=2, group_size=1, using="dense",
                             with_lookup=docs)
    assert "lookup_embedding" not in out.columns
    rows = {r.doc: r for r in out.collect()}
    assert rows[10].lookup_title == "alpha"
