"""Named vector spaces (Qdrant ``vectors_config={name: ...}`` +
``query_points(using=...)``): one collection holding several vector
columns with independent dim/metric/normalize, searched by name."""

import pytest

from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection


@pytest.fixture()
def coll(spark, tmp_path):
    c = create_collection(
        str(tmp_path), "nv",
        vectors={
            "dense": {"dim": 2, "metric": "dot", "normalize": False},
            "late": {"dim": 2, "multivector": True, "normalize": False},
        },
    )
    pts = spark.createDataFrame(
        [(1, "a", [1.0, 0.0], [[1.0, 0.0], [0.0, 1.0]]),
         (2, "b", [0.0, 1.0], [[0.5, 0.5]]),
         (3, "a", [0.5, 0.5], [[1.0, 1.0], [2.0, 0.0]])],
        "id int, tag string, dense array<double>, "
        "late array<array<double>>",
    )
    c.upsert(spark, pts)
    return c


def test_storage_layout(spark, coll):
    t = coll.read(spark)
    assert set(t.columns) == {"id", "tag", "dense", "late", "late__nv",
                              "late__pooled"}  # r5: stage-1 sidecar
    row = {r.id: r for r in t.collect()}
    assert list(row[1].late) == [1.0, 0.0, 0.0, 1.0]  # flat multivector
    assert row[1].late__nv == 2
    assert list(row[1].late__pooled) == [0.5, 0.5]  # write-time pooling
    assert list(row[1].dense) == [1.0, 0.0]  # normalize off: raw


def test_search_using_dense(spark, coll):
    hits = coll.search(spark, [1.0, 0.0], k=3, using="dense").collect()
    assert [r.id for r in hits] == [1, 3, 2]
    assert hits[0].score == 1.0
    # payload excludes every vector column of every space
    assert set(hits[0].asDict()) == {"id", "tag", "score"}


def test_search_using_maxsim(spark, coll):
    # query [[1,0]]: maxsim = max dot against each doc's subvectors
    hits = coll.search(spark, [[1.0, 0.0]], k=3, using="late").collect()
    assert [r.id for r in hits] == [3, 1, 2]  # 2.0, 1.0, 0.5
    assert hits[0].score == 2.0


def test_using_required_when_ambiguous(spark, coll):
    with pytest.raises(ValueError, match="pass using="):
        coll.search(spark, [1.0, 0.0], k=1)
    with pytest.raises(ValueError, match="unknown vector name"):
        coll.search(spark, [1.0, 0.0], k=1, using="nope")


def test_single_space_defaults(spark, tmp_path):
    c = create_collection(
        str(tmp_path), "one",
        vectors={"img": {"dim": 2, "metric": "euclid"}})
    pts = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0])], "id int, img array<double>")
    c.upsert(spark, pts)
    hits = c.search(spark, [0.0, 0.0], k=2).collect()  # using implied
    assert [r.id for r in hits] == [1, 2]
    assert hits[1].score == 5.0


def test_batch_and_groups_and_recommend_route_by_name(spark, coll):
    out = coll.search_batch(spark, [[1.0, 0.0], [0.0, 1.0]], k=1,
                            using="dense").collect()
    assert {(r.query_idx, r.id) for r in out} == {(0, 1), (1, 2)}
    g = coll.search_groups(spark, [1.0, 0.0], group_by="tag",
                           limit=1, group_size=2, using="dense").collect()
    assert {r.id for r in g} == {1, 3}
    r = coll.recommend(spark, positive=[1], k=1, using="dense").collect()
    assert r[0].id == 3  # id 1 excluded; [1,0]·[0.5,.5] > [1,0]·[0,1]
    # batched MaxSim routes through the named multivector space
    mv = coll.search_batch(spark, [[[1.0, 0.0]]], k=1, using="late").collect()
    assert (mv[0].query_idx, mv[0].id, mv[0].score) == (0, 3, 2.0)


def test_upsert_validates_named_spaces(spark, tmp_path, coll):
    with pytest.raises(ValueError, match="missing vector columns"):
        coll.upsert(spark, spark.createDataFrame(
            [(9, [1.0, 0.0])], "id int, dense array<double>"))
    with pytest.raises(ValueError, match="dimension mismatch"):
        coll.upsert(spark, spark.createDataFrame(
            [(9, [1.0, 0.0, 3.0], [[1.0, 0.0]])],
            "id int, dense array<double>, late array<array<double>>"))


def test_config_validation(tmp_path):
    with pytest.raises(ValueError, match="don't"):
        create_collection(str(tmp_path), "bad1", dim=4,
                          vectors={"a": {"dim": 2}})
    with pytest.raises(ValueError, match="needs a dim"):
        create_collection(str(tmp_path), "bad2", vectors={"a": {}})
    with pytest.raises(ValueError, match="dim is required"):
        create_collection(str(tmp_path), "bad3")


def test_per_space_unknown_keys_rejected(tmp_path):
    # round-6 (ADVICE r5): silently dropping a per-space spec key hands
    # the user different storage than requested — reject instead
    with pytest.raises(ValueError, match="unknown key"):
        create_collection(str(tmp_path), "nv_bad",
                          vectors={"v": {"dim": 2, "dtype": "float16"}})
    with pytest.raises(ValueError, match="multivector"):
        create_collection(str(tmp_path), "nv_d16",
                          vectors={"v": {"dim": 2, "datatype": "float16"}})
    with pytest.raises(ValueError, match="float32"):
        create_collection(
            str(tmp_path), "nv_f8",
            vectors={"v": {"dim": 2, "multivector": True,
                           "datatype": "float8"}})


def test_per_space_float16_storage_and_search(spark, tmp_path):
    from pyspark.sql.types import BinaryType

    pts_schema = ("id int, late array<array<double>>")
    rows = [(i, [[float(i % 5 + 1), 0.5 * (i % 3)],
                 [0.25 * (i % 7), float(i % 4)]]) for i in range(30)]
    f32 = create_collection(
        str(tmp_path), "sp32",
        vectors={"late": {"dim": 2, "multivector": True,
                          "normalize": False}})
    f16 = create_collection(
        str(tmp_path), "sp16",
        vectors={"late": {"dim": 2, "multivector": True,
                          "normalize": False, "datatype": "float16"}})
    pts = spark.createDataFrame(rows, pts_schema)
    f32.upsert(spark, pts)
    f16.upsert(spark, pts)
    t = f16.read(spark)
    assert isinstance(t.schema["late"].dataType, BinaryType)
    q = [[1.0, 0.5]]
    want = [(r.id, r.score) for r in
            f32.search(spark, q, k=7, using="late").collect()]
    got = [(r.id, r.score) for r in
           f16.search(spark, q, k=7, using="late").collect()]
    # fixture values are exact in fp16, so results match bit-for-bit
    assert got == want


# -- per-space quantization (Qdrant VectorParams.quantization_config) --

def _qpts(spark, n=40):
    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5 + 1)],
             [float((i * 2) % 9), float(i % 4)]) for i in range(n)]
    return spark.createDataFrame(
        rows, "id int, fast array<double>, raw array<double>")


@pytest.fixture()
def qcoll(spark, tmp_path):
    c = create_collection(
        str(tmp_path), "pq",
        vectors={
            "fast": {"dim": 2, "metric": "dot", "normalize": False,
                     "quantization": "sq"},
            "raw": {"dim": 2, "metric": "dot", "normalize": False},
        },
    )
    c.upsert(spark, _qpts(spark))
    return c


def test_per_space_sidecar_layout(spark, qcoll):
    import os
    assert os.path.isdir(qcoll._codes_path_for("fast"))
    assert not os.path.exists(qcoll._codes_path_for("raw"))
    assert not os.path.exists(qcoll._codes_path)  # no collection-level
    cfg = qcoll.meta["vectors"]["fast"]
    assert cfg["quantization"] == "sq"
    assert len(cfg["sq_mins"]) == 2  # frozen train params live per-space
    assert qcoll.meta["vectors"]["raw"].get("quantization") is None
    codes = spark.read.parquet(qcoll._codes_path_for("fast"))
    assert codes.count() == 40


def test_per_space_quantized_search_matches_exact(spark, qcoll):
    qv = [2.0, 3.0]
    approx = qcoll.search(spark, qv, k=5, using="fast",
                          oversampling=10.0).collect()
    exact = qcoll.search(spark, qv, k=5, using="fast",
                         exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]
    # the unquantized space is untouched by the sibling's sidecar
    raw = qcoll.search(spark, qv, k=5, using="raw").collect()
    assert len(raw) == 5


def test_per_space_batch_matches_single(spark, qcoll):
    qs = [[2.0, 3.0], [5.0, 1.0]]
    batch = qcoll.search_batch(spark, qs, k=3, using="fast",
                               oversampling=6.0).collect()
    singles = []
    for i, q in enumerate(qs):
        singles += [(i, r.id, r.score) for r in
                    qcoll.search(spark, q, k=3, using="fast",
                                 oversampling=6.0).collect()]
    assert sorted((r.query_idx, r.id, r.score) for r in batch) == \
        sorted(singles)


def test_per_space_append_encodes_increment(spark, qcoll):
    more = spark.createDataFrame(
        [(100, [9.0, 9.0], [1.0, 1.0])],
        "id int, fast array<double>, raw array<double>")
    qcoll.upsert(spark, more)
    codes = spark.read.parquet(qcoll._codes_path_for("fast"))
    assert codes.count() == 41


def test_per_space_bq(spark, tmp_path):
    c = create_collection(
        str(tmp_path), "bqn",
        vectors={"b": {"dim": 2, "metric": "dot", "normalize": False,
                       "quantization": "bq"}})
    c.upsert(spark, spark.createDataFrame(
        [(i, [float(i % 3 - 1), float((i * 7) % 5 - 2)])
         for i in range(30)], "id int, b array<double>"))
    approx = c.search(spark, [1.0, -1.0], k=4, using="b",
                      oversampling=8.0).collect()
    exact = c.search(spark, [1.0, -1.0], k=4, using="b",
                     exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]


def test_per_space_quantization_rejects_multivector(tmp_path):
    with pytest.raises(ValueError, match="dense spaces"):
        create_collection(
            str(tmp_path), "bad",
            vectors={"late": {"dim": 2, "multivector": True,
                              "quantization": "bq"}})


@pytest.mark.parametrize("datatype", [None, "float16"])
def test_per_space_multivector_sq_at_create(spark, tmp_path, datatype):
    """A named multivector space takes quantization='sq' at create, as
    the single space and the update switch do: the upsert builds its
    codes sidecar and the codes tier ranks like the exact scan."""
    import os

    late = {"dim": 2, "multivector": True, "normalize": False,
            "quantization": "sq"}
    if datatype:
        late["datatype"] = datatype
    c = create_collection(str(tmp_path), "mvsq", vectors={
        "late": late, "dense": {"dim": 2, "normalize": False}})
    c.upsert(spark, spark.createDataFrame(
        [(i, [float(i % 5), 1.0],
          [[float(i % 7) / 7.0, float(i % 3)], [float(i % 4), 0.5]])
         for i in range(30)],
        "id int, dense array<double>, late array<array<double>>"))
    assert os.path.isdir(c._codes_path_for("late"))
    assert not os.path.exists(c._codes_path_for("dense"))
    qv = [[1.0, 0.2], [0.3, 0.9]]
    approx = c.search(spark, qv, k=5, using="late",
                      oversampling=8.0).collect()
    exact = c.search(spark, qv, k=5, using="late", exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]


def test_per_space_sidecar_survives_snapshot(spark, qcoll):
    snap = qcoll.create_snapshot()
    before = qcoll.search(spark, [2.0, 3.0], k=3, using="fast").collect()
    qcoll.upsert(spark, spark.createDataFrame(
        [(200, [8.0, 8.0], [2.0, 2.0])],
        "id int, fast array<double>, raw array<double>"))
    qcoll.restore_snapshot(snap)
    import os
    assert os.path.isdir(qcoll._codes_path_for("fast"))
    after = qcoll.search(spark, [2.0, 3.0], k=3, using="fast").collect()
    assert [(r.id, r.score) for r in before] == \
        [(r.id, r.score) for r in after]


def test_update_collection_per_space_quantization(spark, tmp_path):
    """Qdrant update_collection(vectors_config={name:
    VectorParamsDiff}): enable, then drop, a named space's
    quantizer post-create."""
    import os
    c = create_collection(
        str(tmp_path), "uq",
        vectors={"a": {"dim": 2, "metric": "dot", "normalize": False},
                 "b": {"dim": 2, "metric": "dot", "normalize": False}})
    c.upsert(spark, _qpts(spark).withColumnsRenamed(
        {"fast": "a", "raw": "b"}))
    c.update_collection(spark, vectors={"a": {"quantization": "sq"}})
    assert os.path.isdir(c._codes_path_for("a"))
    assert not os.path.exists(c._codes_path_for("b"))
    assert len(c.meta["vectors"]["a"]["sq_mins"]) == 2
    qv = [2.0, 3.0]
    approx = c.search(spark, qv, k=4, using="a",
                      oversampling=10.0).collect()
    exact = c.search(spark, qv, k=4, using="a", exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]
    c.update_collection(spark, vectors={"a": {"quantization": None}})
    assert not os.path.exists(c._codes_path_for("a"))
    assert "sq_mins" not in c.meta["vectors"]["a"]
    again = c.search(spark, qv, k=4, using="a").collect()
    assert [(r.id, r.score) for r in again] == \
        [(r.id, r.score) for r in exact]


def test_update_collection_vectors_rejections(spark, tmp_path):
    c = create_collection(
        str(tmp_path), "rj",
        vectors={"late": {"dim": 2, "multivector": True,
                          "normalize": False}})
    with pytest.raises(ValueError, match="unknown vector name"):
        c.update_collection(spark, vectors={"nope": {"quantization": "sq"}})
    # multivector spaces accept quantization='sq' only (the int8
    # subvector codes tier); every other quantizer still rejects
    with pytest.raises(ValueError, match="quantization='sq'"):
        c.update_collection(spark, vectors={"late": {"quantization": "bq"}})
    with pytest.raises(ValueError, match="unknown key"):
        c.update_collection(spark, vectors={"late": {"hnsw_ef": 7}})
    flat = create_collection(str(tmp_path), "fl", dim=2, normalize=False)
    with pytest.raises(ValueError, match="no named vectors"):
        flat.update_collection(spark, vectors={"a": {"quantization": "sq"}})


def test_search_with_vectors(spark, qcoll):
    """Qdrant query_points(with_vectors=True): the searched space's
    stored vector is an output column; sibling spaces' vectors and
    sidecars stay internal."""
    out = qcoll.search(spark, [2.0, 3.0], k=3, using="fast",
                       with_vectors=True).collect()
    cols = set(out[0].asDict())
    assert "fast" in cols and "raw" not in cols
    plain = qcoll.search(spark, [2.0, 3.0], k=3, using="fast").collect()
    assert "fast" not in set(plain[0].asDict())
    batch = qcoll.search_batch(spark, [[2.0, 3.0]], k=2, using="fast",
                               with_vectors=True).collect()
    assert "fast" in set(batch[0].asDict())


def test_search_with_vectors_name_selector(spark, qcoll):
    """Qdrant's vector-name selector on search/search_batch
    (query_points/search_batch accept with_vectors=[names] everywhere,
    not just the universal query API): exactly the named spaces'
    columns attach — searched or not — values match storage, ordering
    unchanged."""
    stored = {r.id: (list(r.fast), list(r.raw))
              for r in qcoll.read(spark).select("id", "fast",
                                                "raw").collect()}
    plain = qcoll.search(spark, [2.0, 3.0], k=3, using="fast").collect()
    out = qcoll.search(spark, [2.0, 3.0], k=3, using="fast",
                       with_vectors=["raw"]).collect()
    assert [r.id for r in out] == [r.id for r in plain]
    assert "fast" not in out[0].asDict()  # selector is exact
    assert all(list(r.raw) == stored[r.id][1] for r in out)
    both = qcoll.search(spark, [2.0, 3.0], k=3, using="fast",
                        with_vectors=["fast", "raw"]).collect()
    assert all((list(r.fast), list(r.raw)) == stored[r.id]
               for r in both)
    assert [r.id for r in both] == [r.id for r in plain]


def test_search_batch_with_vectors_name_selector(spark, qcoll):
    """List selector on the batched path: per-request ordering is the
    plain batch's; the named columns ride along."""
    stored = {r.id: list(r.raw)
              for r in qcoll.read(spark).select("id", "raw").collect()}
    qs = [[2.0, 3.0], [1.0, 1.0]]
    plain = qcoll.search_batch(spark, qs, k=3, using="fast").collect()
    out = qcoll.search_batch(spark, qs, k=3, using="fast",
                             with_vectors=["raw"]).collect()
    assert ([(r.query_idx, r.id) for r in out]
            == [(r.query_idx, r.id) for r in plain])
    assert "fast" not in out[0].asDict()
    assert all(list(r.raw) == stored[r.id] for r in out)
