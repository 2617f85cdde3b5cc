"""Collection point-management surface: delete-by-filter, keyset
scroll, compaction (the Qdrant client ops beyond the reference's own
usage — a reference user switching engines keeps their workflow)."""

import os

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection
from image_indexing_and_retrival_with_qdrant_spark.sources.embedder import HashEmbedder
from image_indexing_and_retrival_with_qdrant_spark.sources.ingest import build_points
from image_indexing_and_retrival_with_qdrant_spark.tables import load

_E = HashEmbedder(dim=8)


def _fill(spark, sf_dir, tmp_path, **kw):
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        payload={"doc_id": F.col("doc_id"), "lang": F.col("lang")},
        with_timestamp=False,
    ).dropDuplicates(["id"])
    coll = create_collection(str(tmp_path), "c", dim=8, normalize=False, **kw)
    coll.upsert(spark, points, mode="merge")
    return coll


def test_delete_by_filter(spark, sf_smoke, tmp_path):
    coll = _fill(spark, sf_smoke, tmp_path)
    n = coll.count(spark)
    n_en = coll.read(spark).filter(F.col("lang") == "en").count()
    assert 0 < n_en < n
    removed = coll.delete(spark, F.col("lang") == "en")
    assert removed == n_en
    assert coll.count(spark) == n - n_en
    assert coll.read(spark).filter(F.col("lang") == "en").count() == 0


def test_delete_refreshes_index(spark, sf_smoke, tmp_path):
    coll = _fill(spark, sf_smoke, tmp_path,
                 indexing_threshold=1, k_centroids=4)
    assert coll.has_index()
    removed = coll.delete(spark, F.col("lang") == "en")
    assert removed > 0
    layout = spark.read.parquet(coll._ivf_points)
    assert layout.count() == coll.count(spark)
    assert layout.filter(F.col("lang") == "en").count() == 0


def test_scroll_keyset_pagination(spark, sf_smoke, tmp_path):
    coll = _fill(spark, sf_smoke, tmp_path)
    n = coll.count(spark)
    seen, after, pages = [], None, 0
    while True:
        page = coll.scroll(spark, limit=150, after_id=after).collect()
        if not page:
            break
        assert "embedding" not in page[0].asDict()  # ids+payload only
        seen.extend(r.id for r in page)
        after = page[-1].id
        pages += 1
    assert len(seen) == n == len(set(seen))  # no overlap, no skips
    assert seen == sorted(seen)
    assert pages == -(-n // 150)
    with_vec = coll.scroll(spark, limit=1, with_vectors=True).collect()[0]
    assert len(with_vec.embedding) == 8


def test_compact_merges_files(spark, sf_smoke, tmp_path):
    coll = _fill(spark, sf_smoke, tmp_path)
    # append-mode churn: many small file-sets
    docs = load(spark, sf_smoke, "documents").limit(20)
    for _ in range(3):
        pts = build_points(_E.embed(docs, text_col="text"), id_key=None,
                           payload={"doc_id": F.col("doc_id"),
                                    "lang": F.col("lang")},
                           with_timestamp=False)
        coll.upsert(spark, pts, mode="append")
    n = coll.count(spark)
    files_before = len([f for f in os.listdir(coll.path)
                        if f.endswith(".parquet")])
    assert files_before > 1
    files_after = coll.compact(spark, target_rows_per_file=10**6)
    assert files_after == 1 < files_before
    assert coll.count(spark) == n  # lossless


@pytest.mark.parametrize("layout", ["shard_key", "payload_index"])
def test_compact_keeps_partitioned_layout(spark, tmp_path, layout):
    """compact rewrites through the payload-index / shard-key
    ``partitionBy`` layout: the next upsert appends into the same
    partition directories, so no compacted point goes missing."""
    import random

    rnd = random.Random(7)
    coll = create_collection(
        str(tmp_path), "cp", dim=4, normalize=False,
        **({"shard_key": "tenant"} if layout == "shard_key" else {}))
    if layout == "payload_index":
        coll.create_payload_index(spark, "tenant")

    def batch(ids):
        return spark.createDataFrame(
            [(i, [rnd.gauss(0.0, 1.0) for _ in range(4)],
              "acme" if i % 2 else "beta") for i in ids],
            "id long, embedding array<double>, tenant string")

    for lo in range(0, 400, 100):  # append churn: one file-set each
        coll.upsert(spark, batch(range(lo, lo + 100)))
    old = {r.id: list(r.embedding) for r in coll.read(spark).collect()}
    n_files = coll.compact(spark, target_rows_per_file=100)
    assert n_files == coll._data_file_count() > 0
    coll.upsert(spark, batch(range(400, 405)))
    assert coll.count(spark) == coll.count(spark, exact=False) == 405
    assert sorted(d for d in os.listdir(coll.path)
                  if not d.startswith(("_", "."))) == \
        ["tenant=acme", "tenant=beta"]
    acme = ({"shard_key_selector": "acme"} if layout == "shard_key"
            else {"query_filter": F.col("tenant") == "acme"})
    for pid in (1, 3, 199, 399):  # pre-compact acme points
        hits = coll.search(spark, old[pid], k=1, exact=True,
                           **acme).collect()
        assert [(h.id, h.tenant) for h in hits] == [(pid, "acme")]


def test_search_batch_matches_per_query_search(spark, sf_smoke, tmp_path):
    """query_batch_points analog: one corpus pass must return exactly
    what per-query search() returns, including through the IVF route
    (union of every query's probed cells)."""
    coll = _fill(spark, sf_smoke, tmp_path,
                 indexing_threshold=1, k_centroids=4)
    assert coll.has_index()
    qvs = [list(r.embedding) for r in
           coll.read(spark).orderBy("id").limit(3).collect()]
    batch = coll.search_batch(spark, qvs, k=4)
    got = {(r.query_idx, r.id, r.score, r.rank) for r in batch.collect()}
    want = set()
    for i, qv in enumerate(qvs):
        for rank, r in enumerate(
                coll.search(spark, qv, k=4).collect(), 1):
            want.add((i, r.id, r.score, rank))
    assert got == want


def test_retrieve_by_ids(spark, sf_smoke, tmp_path):
    coll = _fill(spark, sf_smoke, tmp_path)
    some = [r.id for r in coll.read(spark).limit(3).collect()]
    got = coll.retrieve(spark, some).collect()
    assert {r.id for r in got} == set(some)
    assert "embedding" not in got[0].asDict()
    withv = coll.retrieve(spark, some[:1], with_vectors=True).collect()
    assert len(withv[0].embedding) == 8


def test_count_with_filter(spark, sf_smoke, tmp_path):
    from image_indexing_and_retrival_with_qdrant_spark.filters import FieldCondition, Filter

    coll = _fill(spark, sf_smoke, tmp_path)
    n = coll.count(spark)
    n_en = coll.count(spark, Filter(must=[FieldCondition("lang", match="en")]))
    assert 0 < n_en < n
    assert n_en == coll.read(spark).filter(F.col("lang") == "en").count()


def test_set_payload_by_ids_and_filter(spark, sf_smoke, tmp_path):
    from image_indexing_and_retrival_with_qdrant_spark.filters import FieldCondition

    coll = _fill(spark, sf_smoke, tmp_path)
    some = [r.id for r in coll.read(spark).limit(2).collect()]
    n = coll.set_payload(spark, {"reviewed": True}, some)
    assert n == 2
    t = coll.read(spark)
    assert t.filter(F.col("reviewed")).count() == 2
    assert t.filter(F.col("reviewed").isNull()).count() == coll.count(spark) - 2
    # filter selector + overwrite of an existing column
    n2 = coll.set_payload(spark, {"lang": "xx"},
                          FieldCondition("lang", match="en"))
    assert n2 > 0
    assert coll.count(spark, FieldCondition("lang", match="en")) == 0
    assert coll.count(spark, FieldCondition("lang", match="xx")) == n2


def test_delete_and_clear_payload(spark, sf_smoke, tmp_path):
    coll = _fill(spark, sf_smoke, tmp_path)
    some = [r.id for r in coll.read(spark).limit(2).collect()]
    n = coll.delete_payload(spark, ["lang"], some)
    assert n == 2
    t = coll.read(spark)
    assert t.filter(F.col("id").isin(some) & F.col("lang").isNotNull()).count() == 0
    assert t.schema["lang"].dataType.typeName() == "string"  # type kept
    coll.clear_payload(spark, some)
    row = coll.read(spark).filter(F.col("id") == some[0]).collect()[0]
    assert row.doc_id is None and row.lang is None
    assert row.embedding is not None  # vector untouched
    # every vector space and its sidecars stay as they were on the
    # other shapes too: named spaces, sparse index/value arrays, the
    # pooled multivector column
    shapes = {
        "named": (dict(vectors={"a": {"dim": 2},
                                "b": {"dim": 2, "metric": "dot"}}),
                  [(1, [1.0, 0.0], [0.0, 1.0], "x", 7),
                   (2, [0.0, 1.0], [1.0, 0.0], "y", 9)],
                  "id long, a array<double>, b array<double>"),
        "sparse": (dict(dim=2, sparse_vectors={"s": {}}),
                   [(1, [1.0, 0.0], [0, 3], [1.0, 2.0], "x", 7),
                    (2, [0.0, 1.0], [1], [0.5], "y", 9)],
                   "id long, embedding array<double>, s__sidx array<int>, "
                   "s__sval array<double>"),
        "pooled": (dict(dim=2, multivector=True, normalize=False),
                   [(1, [[1.0, 0.0], [0.0, 1.0]], "x", 7),
                    (2, [[0.5, 0.5]], "y", 9)],
                   "id long, embedding array<array<double>>"),
    }
    for name, (kw, rows, schema) in shapes.items():
        c = create_collection(str(tmp_path), name, **kw)
        c.upsert(spark, spark.createDataFrame(
            rows, schema + ", tag string, rank long"))
        before = {r.id: r.asDict() for r in c.read(spark).collect()}
        vec_cols = set(before[1]) - {"id", "tag", "rank"}
        assert name != "pooled" or "embedding__pooled" in vec_cols
        assert c.clear_payload(spark, [1]) == 1
        after = {r.id: r.asDict() for r in c.read(spark).collect()}
        assert after[1]["tag"] is None and after[1]["rank"] is None
        assert {k: after[1][k] for k in vec_cols} == \
            {k: before[1][k] for k in vec_cols}, name
        assert after[2] == before[2], name


def test_payload_reserved_columns_rejected(spark, sf_smoke, tmp_path):
    import pytest

    coll = _fill(spark, sf_smoke, tmp_path)
    some = [r.id for r in coll.read(spark).limit(1).collect()]
    with pytest.raises(ValueError, match="reserved"):
        coll.set_payload(spark, {"embedding": 1}, some)
    with pytest.raises(ValueError, match="reserved"):
        coll.delete_payload(spark, ["id"], some)
    with pytest.raises(ValueError, match="empty payload"):
        coll.set_payload(spark, {}, some)


def test_scroll_order_by_payload(spark, sf_smoke, tmp_path):
    coll = _fill(spark, sf_smoke, tmp_path)
    page = coll.scroll(spark, limit=5, order_by="doc_id").collect()
    vals = [r.doc_id for r in page]
    assert vals == sorted(vals)
    # next page starts from the last value (inclusive, id tie-break)
    page2 = coll.scroll(spark, limit=5, order_by="doc_id",
                        start_from=vals[-1]).collect()
    assert page2[0].doc_id >= vals[-1]
    desc = coll.scroll(spark, limit=3, order_by="doc_id", desc=True).collect()
    ds = [r.doc_id for r in desc]
    assert ds == sorted(ds, reverse=True)


def test_facet_counts(spark, sf_smoke, tmp_path):
    from image_indexing_and_retrival_with_qdrant_spark.filters import FieldCondition

    coll = _fill(spark, sf_smoke, tmp_path)
    fc = coll.facet(spark, "lang").collect()
    assert fc[0]["count"] >= fc[-1]["count"]
    total = sum(r["count"] for r in fc)
    assert total == coll.count(spark)
    en = coll.facet(spark, "lang",
                    facet_filter=FieldCondition("lang", match="en")).collect()
    assert len(en) == 1 and en[0].value == "en"
    assert en[0]["count"] == coll.count(spark, FieldCondition("lang", match="en"))


def test_collection_sample_deterministic(spark, tmp_path):
    """Hash-rank sampling: filter-aware, reproducible, n-bounded."""
    from pyspark.sql import functions as F  # noqa: F811

    from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection

    coll = create_collection(str(tmp_path), "samp", dim=2, metric="euclid")
    coll.upsert(spark, spark.createDataFrame(
        [(i, [float(i), 0.0], i % 2) for i in range(40)],
        "id int, embedding array<double>, parity int"))
    s1 = [r.id for r in coll.sample(spark, n=7).collect()]
    s2 = [r.id for r in coll.sample(spark, n=7).collect()]
    assert len(s1) == 7 and s1 == s2
    evens = coll.sample(spark, n=50, query_filter=F.col("parity") == 0)
    ids = [r.id for r in evens.collect()]
    assert len(ids) == 20 and all(i % 2 == 0 for i in ids)


def test_update_vectors_replaces_only_vectors(spark, sf_smoke, tmp_path):
    """Qdrant update_vectors: provided ids get the new vector (search
    reflects it), payload untouched, unknown ids ignored."""
    coll = _fill(spark, sf_smoke, tmp_path)
    two = coll.read(spark).limit(2).collect()
    target, other = two[0], two[1]
    new_vec = [9.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    upd = spark.createDataFrame(
        [(target.id, new_vec), ("no_such_id", new_vec)],
        "id string, embedding array<double>")
    n = coll.update_vectors(spark, upd)
    assert n == 1  # unknown id ignored
    row = coll.retrieve(spark, [target.id], with_vectors=True).collect()[0]
    assert list(row.embedding) == new_vec
    assert row.lang == target.lang  # payload untouched
    # search for the new direction finds the updated point first
    hits = coll.search(spark, new_vec, k=1).collect()
    assert hits[0].id == target.id
    # untouched point keeps its vector
    row2 = coll.retrieve(spark, [other.id], with_vectors=True).collect()[0]
    assert list(row2.embedding) == list(other.embedding)


def test_update_vectors_renormalizes_on_cosine(spark, sf_smoke, tmp_path):
    """normalize-at-write collections re-normalize updated vectors."""
    docs = load(spark, sf_smoke, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False).dropDuplicates(["id"])
    coll = create_collection(str(tmp_path), "cn", dim=8, normalize=True)
    coll.upsert(spark, points, mode="merge")
    pid = coll.read(spark).limit(1).collect()[0].id
    upd = spark.createDataFrame(
        [(pid, [3.0, 4.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])],
        "id string, embedding array<double>")
    assert coll.update_vectors(spark, upd) == 1
    v = list(coll.retrieve(spark, [pid], with_vectors=True)
             .collect()[0].embedding)
    assert abs(v[0] - 0.6) < 1e-12 and abs(v[1] - 0.8) < 1e-12


def test_delete_vectors_nulls_space(spark, sf_smoke, tmp_path):
    """delete_vectors nulls the vector on matching points: they drop
    out of search but keep id + payload."""
    coll = _fill(spark, sf_smoke, tmp_path)
    n = coll.count(spark)
    n_en = coll.read(spark).filter(F.col("lang") == "en").count()
    removed = coll.delete_vectors(
        spark, ["embedding"], F.col("lang") == "en")
    assert removed == n_en
    assert coll.count(spark) == n  # points remain
    t = coll.read(spark)
    assert t.filter(F.col("embedding").isNull()).count() == n_en
    qv = [1.0] + [0.0] * 7
    hit_ids = {r.id for r in coll.search(spark, qv, k=n).collect()}
    en_ids = {r.id for r in t.filter(F.col("lang") == "en").collect()}
    assert not (hit_ids & en_ids)  # nulled vectors unsearchable
    import pytest
    with pytest.raises(ValueError):
        coll.delete_vectors(spark, ["lang"], F.col("lang") == "de")


def test_update_vectors_collapses_duplicate_ids(spark, sf_smoke, tmp_path):
    """Duplicate ids in the update batch must not fan out the join and
    duplicate points in the rewritten collection (ADVICE r3)."""
    coll = _fill(spark, sf_smoke, tmp_path)
    n_before = coll.count(spark)
    pid = coll.read(spark).limit(1).collect()[0].id
    v1 = [9.0] + [0.0] * 7
    v2 = [0.0, 9.0] + [0.0] * 6
    upd = spark.createDataFrame(
        [(pid, v1), (pid, v2)], "id string, embedding array<double>")
    n = coll.update_vectors(spark, upd)
    assert n == 1
    assert coll.count(spark) == n_before          # no fanout
    t = coll.read(spark)
    assert t.filter(F.col("id") == pid).count() == 1
    got = list(t.filter(F.col("id") == pid).collect()[0].embedding)
    assert got in (v1, v2)                        # one of the batch rows


def test_update_vectors_refreshes_multivector_nv(spark, tmp_path):
    """A multivector update with a different subvector count must
    refresh the n_vecs sidecar so MaxSim scoring sees the new shape."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection

    coll = create_collection(str(tmp_path), "uvnv", dim=2,
                             multivector=True, normalize=False)
    coll.upsert(spark, spark.createDataFrame(
        [(1, [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]), (2, [[0.5, 0.5]])],
        "id int, embedding array<array<double>>"))
    upd = spark.createDataFrame(
        [(1, [[2.0, 0.0], [0.0, 2.0]])],
        "id int, embedding array<array<double>>")
    assert coll.update_vectors(spark, upd) == 1
    row = {r.id: r for r in coll.read(spark).collect()}
    assert row[1].n_vecs == 2                     # sidecar refreshed
    assert list(row[1].embedding) == [2.0, 0.0, 0.0, 2.0]
    assert row[2].n_vecs == 1                     # untouched point kept
    # MaxSim search over the updated collection uses the new shape
    hits = coll.search(spark, [[1.0, 0.0]], k=1).collect()
    assert hits[0].id == 1 and abs(hits[0].score - 2.0) < 1e-12


def test_delete_vectors_rejects_sidecar_and_nulls_nv(spark, tmp_path):
    """Sidecar names (n_vecs/__nv) are not deletable spaces; deleting
    a multivector space nulls its sidecar together with the vectors."""
    import pytest

    from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection

    coll = create_collection(str(tmp_path), "dvnv", dim=2,
                             multivector=True, normalize=False)
    coll.upsert(spark, spark.createDataFrame(
        [(1, [[1.0, 0.0]]), (2, [[0.0, 1.0], [1.0, 0.0]])],
        "id int, embedding array<array<double>>"))
    with pytest.raises(ValueError):
        coll.delete_vectors(spark, ["n_vecs"], F.col("id") == 1)
    assert coll.delete_vectors(spark, ["embedding"], F.col("id") == 2) == 1
    row = {r.id: r for r in coll.read(spark).collect()}
    assert row[2].embedding is None and row[2].n_vecs is None
    assert row[1].n_vecs == 1


def test_recommend_batch_one_pass(spark, tmp_path):
    """Many recommend requests, one corpus scan: per-request composed
    vectors + per-request example exclusion."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "rb", dim=2,
                             normalize=False, metric="dot")
    pts = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]),
         (4, [0.1, 0.9]), (5, [-1.0, 0.0])],
        "id int, embedding array<double>")
    coll.upsert(spark, pts)
    out = coll.recommend_batch(
        spark, [([1], []), ([3], [])], k=1).collect()
    got = {r.query_idx: r.id for r in out}
    # request 0 (like id1, +x): best non-example is 2;
    # request 1 (like id3, +y): best non-example is 4
    assert got == {0: 2, 1: 4}
    # single-request parity with recommend
    single = coll.recommend(spark, positive=[1], k=1).collect()
    assert single[0].id == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one positive"):
        coll.recommend_batch(spark, [([], [2])])


def test_overwrite_payload_replaces_whole_payload(spark, tmp_path):
    """overwrite_payload nulls every payload column of matching points
    and sets only the provided keys (set_payload merges instead)."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "ow", dim=2)
    pts = spark.createDataFrame(
        [(1, [1.0, 0.0], "keepme", 7), (2, [0.0, 1.0], "other", 9)],
        "id int, embedding array<double>, tag string, rank long")
    coll.upsert(spark, pts)
    n = coll.overwrite_payload(spark, {"tag": "fresh"}, [1])
    assert n == 1
    rows = {r.id: r for r in coll.read(spark).collect()}
    assert rows[1].tag == "fresh" and rows[1].rank is None  # replaced
    assert rows[2].tag == "other" and rows[2].rank == 9     # untouched
    # vectors survive
    assert list(rows[1].embedding) and list(rows[2].embedding)


def test_recommend_batch_string_ids(spark, tmp_path):
    """Point ids may be strings (Qdrant UUID convention); the batch
    exclusion frame must type itself from the examples."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "rbs", dim=2,
                             normalize=False, metric="dot")
    pts = spark.createDataFrame(
        [("a1", [1.0, 0.0]), ("a2", [0.9, 0.1]), ("a3", [0.0, 1.0])],
        "id string, embedding array<double>")
    coll.upsert(spark, pts)
    out = coll.recommend_batch(spark, [(["a1"], [])], k=1).collect()
    assert out[0].id == "a2"  # a1 excluded


def test_update_collection_disable_threshold_drops_layout(spark, tmp_path):
    """Disabling indexing_threshold must take the built layout with it
    — otherwise later upserts go stale-invisible to routed searches."""
    import os

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "dis", dim=4,
                             indexing_threshold=10)
    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5), float(i % 3), 1.0])
            for i in range(30)]
    coll.upsert(spark, spark.createDataFrame(
        rows, "id int, embedding array<double>"))
    assert coll.has_index()
    coll.update_collection(spark, indexing_threshold=None)
    assert not coll.has_index()
    assert not os.path.exists(coll._ivf_points)
    # new points visible to default (now exact) search
    # direction (0,0,0,1) is unique: every synthetic vector has a
    # nonzero first component, so only the new point scores cosine 1.0
    coll.upsert(spark, spark.createDataFrame(
        [(999, [0.0, 0.0, 0.0, 50.0])],
        "id int, embedding array<double>"))
    top = coll.search(spark, [0.0, 0.0, 0.0, 1.0], k=1).collect()
    assert top[0].id == 999


def test_update_collection_rejects_multivector_quantization(spark, tmp_path):
    import pytest as _pytest

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "mvq", dim=2,
                             multivector=True)
    # multivector collections accept quantization='sq' only (the int8
    # subvector codes tier, tests/test_mv_quantized.py); every other
    # quantizer still rejects
    with _pytest.raises(ValueError, match="quantization='sq'"):
        coll.update_collection(spark, quantization="bq")


def test_point_ops_rewrite_is_file_scoped(spark, tmp_path):
    """Round-5 (VERDICT r4 item 3): selector-scoped point ops must
    rewrite ONLY the files holding matched rows — every other data
    file stays byte-identical. Covers set_payload (existing column),
    delete_payload, overwrite_payload (existing column), clear_payload,
    update_vectors, delete_vectors, and delete; a set_payload or
    overwrite_payload adding a NEW column is a schema change and
    remains a table-wide rewrite."""
    import hashlib

    from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection

    coll = create_collection(str(tmp_path), "scopedops", dim=2,
                             metric="euclid", normalize=False)
    coll.upsert(spark, spark.createDataFrame(
        [(i, [float(i), 0.0], "en" if i < 10 else "de", "x")
         for i in range(20)],
        "id int, embedding array<double>, lang string, tag string"))
    coll.create_payload_index(spark, "lang")

    def snapshot():
        out = {}
        for root, _d, files in os.walk(coll.path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, coll.path)] = hashlib.md5(
                        open(p, "rb").read()).hexdigest()
        return out

    def de_untouched(before, after):
        de = {k for k in before if "lang=de" in k}
        assert de, "expected a lang=de partition"
        for k in de:
            assert after[k] == before[k], f"{k} was rewritten"

    # set_payload on an EXISTING column, en-only selector
    before = snapshot()
    assert coll.set_payload(spark, {"tag": "seen"},
                            F.col("lang") == "en") == 10
    after = snapshot()
    de_untouched(before, after)
    t = coll.read(spark)
    assert t.filter(F.col("tag") == "seen").count() == 10
    assert t.filter((F.col("lang") == "de") & (F.col("tag") == "x")
                    ).count() == 10

    # delete_payload scoped
    before = snapshot()
    assert coll.delete_payload(spark, ["tag"], [3, 4]) == 2
    after = snapshot()
    de_untouched(before, after)
    assert coll.read(spark).filter(F.col("tag").isNull()).count() == 2

    # overwrite_payload on an existing key, and clear_payload, scoped
    before = snapshot()
    assert coll.overwrite_payload(spark, {"tag": "ow"}, [8]) == 1
    assert coll.clear_payload(spark, [9]) == 1
    after = snapshot()
    de_untouched(before, after)
    rows = {r.id: r for r in coll.read(spark).filter(
        F.col("id").isin([8, 9])).collect()}
    assert (rows[8].tag, rows[8].lang) == ("ow", None)
    assert (rows[9].tag, rows[9].lang) == (None, None)

    # update_vectors scoped to the files holding the batch ids
    before = snapshot()
    upd = spark.createDataFrame([(5, [50.0, 0.0])],
                                "id int, embedding array<double>")
    assert coll.update_vectors(spark, upd) == 1
    after = snapshot()
    de_untouched(before, after)
    got = coll.read(spark).filter(F.col("id") == 5).collect()[0]
    assert list(got.embedding) == [50.0, 0.0]

    # delete_vectors scoped
    before = snapshot()
    assert coll.delete_vectors(spark, ["embedding"],
                               F.col("id").isin([6])) == 1
    after = snapshot()
    de_untouched(before, after)
    assert coll.read(spark).filter(F.col("embedding").isNull()).count() == 1

    # delete scoped: only en files rewritten, de rows all survive
    before = snapshot()
    assert coll.delete(spark, F.col("id") < 2) == 2
    after = snapshot()
    de_untouched(before, after)
    assert coll.count(spark) == 18
    assert coll.read(spark).filter(F.col("lang") == "de").count() == 10

    # NEW column via set_payload = schema change = full rewrite (every
    # file carries the new column so reads are file-order-independent)
    assert coll.set_payload(spark, {"fresh": 1}, [7]) == 1
    t = coll.read(spark)
    assert "fresh" in t.columns
    assert t.filter(F.col("fresh").isNotNull()).count() == 1
    de_file = [k for k in snapshot() if "lang=de" in k][0]
    import pyarrow.parquet as pq
    cols = pq.read_schema(os.path.join(coll.path, de_file)).names
    assert "fresh" in cols  # schema uniform across files

    # a NEW key via overwrite_payload is the same schema change
    assert coll.overwrite_payload(spark, {"fresh2": "v"}, [12]) == 1
    files = snapshot()
    assert files and all(
        "fresh2" in pq.read_schema(os.path.join(coll.path, k)).names
        for k in files)
    t = coll.read(spark)
    assert t.filter(F.col("fresh2").isNotNull()).count() == 1


def test_delete_null_predicate_keeps_rows(spark, tmp_path):
    """SQL DELETE semantics: a NULL predicate row is a non-match and
    must survive (round-5 clarification alongside the scoped rewrite)."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection

    coll = create_collection(str(tmp_path), "delnull", dim=2,
                             metric="euclid", normalize=False)
    coll.upsert(spark, spark.createDataFrame(
        [(1, [1.0, 0.0], "en"), (2, [2.0, 0.0], None),
         (3, [3.0, 0.0], "de")],
        "id int, embedding array<double>, lang string"))
    assert coll.delete(spark, F.col("lang") == "en") == 1
    left = {r.id for r in coll.read(spark).collect()}
    assert left == {2, 3}  # NULL-lang row kept


def test_scroll_with_filter(spark, sf_smoke, tmp_path):
    """Qdrant scroll(scroll_filter=): the predicate restricts the
    keyset walk on every page, composing with after_id."""
    from image_indexing_and_retrival_with_qdrant_spark.filters import FieldCondition

    coll = _fill(spark, sf_smoke, tmp_path)
    n_en = coll.read(spark).filter(F.col("lang") == "en").count()
    seen, after = [], None
    while True:
        page = coll.scroll(spark, limit=100, after_id=after,
                           scroll_filter=FieldCondition("lang", match="en")
                           ).collect()
        if not page:
            break
        assert all(r.lang == "en" for r in page)
        seen.extend(r.id for r in page)
        after = page[-1].id
    assert len(seen) == n_en == len(set(seen))
    # order_by + filter compose too
    page = coll.scroll(spark, limit=5, order_by="doc_id",
                       scroll_filter=FieldCondition("lang", match="en")
                       ).collect()
    assert all(r.lang == "en" for r in page)
    vals = [r.doc_id for r in page]
    assert vals == sorted(vals)


def test_payload_sidecar_columns_rejected(spark, sf_smoke, tmp_path):
    # round-6 (ADVICE r5): the vector SIDECARS (n_vecs, {vec}__pooled,
    # named {name}__nv) are vector data, not payload — writable via
    # set_payload/delete_payload they would silently corrupt stage-1
    # two-stage scores
    import pytest

    coll = _fill(spark, sf_smoke, tmp_path)
    some = [r.id for r in coll.read(spark).limit(1).collect()]
    with pytest.raises(ValueError, match="reserved"):
        coll.set_payload(spark, {"n_vecs": 3}, some)
    with pytest.raises(ValueError, match="reserved"):
        coll.set_payload(spark, {"embedding__pooled": [0.0]}, some)
    with pytest.raises(ValueError, match="reserved"):
        coll.delete_payload(spark, ["embedding__pooled"], some)
    with pytest.raises(ValueError, match="reserved"):
        coll.delete_payload(spark, ["n_vecs"], some)


def test_compact_cluster_by_defragments_tenants(spark, sf_smoke, tmp_path):
    """Tenant defragmentation (Qdrant defragmentation_key): after
    compact(cluster_by=['lang']) each output file holds a contiguous
    lang range (tight parquet min/max footers -> file-level skipping
    for pushed payload filters), and results are lossless."""
    import pyarrow.parquet as pq

    coll = _fill(spark, sf_smoke, tmp_path)
    before = {(r.id, r.lang) for r in
              coll.read(spark).select("id", "lang").collect()}
    n_files = coll.compact(spark, target_rows_per_file=10,
                           cluster_by=["lang"])
    assert n_files > 1
    after = {(r.id, r.lang) for r in
             coll.read(spark).select("id", "lang").collect()}
    assert after == before  # lossless rewrite
    # per-file footer ranges must not interleave: sorted by min, each
    # file's min >= previous file's max (contiguous range layout)
    ranges = []
    for f in os.listdir(coll.path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(coll.path, f)).metadata
        idx = {md.schema.column(i).name: i
               for i in range(md.num_columns)}
        stats = md.row_group(0).column(idx["lang"]).statistics
        lo, hi = stats.min, stats.max
        for g in range(1, md.num_row_groups):
            s = md.row_group(g).column(idx["lang"]).statistics
            lo, hi = min(lo, s.min), max(hi, s.max)
        ranges.append((lo, hi))
    ranges.sort()
    for (_, prev_hi), (nxt_lo, _) in zip(ranges, ranges[1:]):
        assert nxt_lo >= prev_hi


def test_query_by_id_excludes_self(spark, sf_smoke, tmp_path):
    """Qdrant query_points(query=point_id): stored vector as query,
    the point itself excluded; unknown ids raise."""
    import pytest as _pytest

    coll = _fill(spark, sf_smoke, tmp_path)
    some = coll.read(spark).orderBy("id").limit(1).collect()[0]
    hits = coll.search(spark, some.id, k=5).collect()
    assert some.id not in {r.id for r in hits}
    # identical to searching with the stored vector + explicit excl
    manual = coll.search(spark, list(some.embedding), k=6).collect()
    manual_ids = [r.id for r in manual if r.id != some.id][:5]
    assert [r.id for r in hits] == manual_ids
    with _pytest.raises(ValueError, match="not found"):
        coll.search(spark, "no-such-id", k=5)


def test_collection_info(spark, sf_smoke, tmp_path):
    """get_collection analog: status/config/counts, with the yellow
    (needs-indexing) state surfaced like Qdrant's optimizing status."""
    coll = _fill(spark, sf_smoke, tmp_path)
    meta_only = coll.info()
    assert meta_only["points_count"] is None  # metadata-only form
    assert meta_only["status"] == "green" and not meta_only["indexed"]
    full = coll.info(spark)
    assert full["points_count"] == coll.count(spark)
    assert full["segments_count"] >= 1
    assert full["config"]["dim"] == 8
    # crossing the threshold without an index -> yellow; rebuild -> green
    coll.meta["indexing_threshold"] = 1
    assert coll.info(spark)["status"] == "yellow"
    coll.meta["k_centroids"] = 4
    coll.rebuild_index(spark)
    after = coll.info(spark)
    assert after["status"] == "green" and after["indexed"]


def test_with_payload_selector(spark, sf_smoke, tmp_path):
    """Qdrant with_payload forms: True (all), False (none), include
    list, exclude dict — on search, scroll, and retrieve."""
    import pytest as _pytest

    coll = _fill(spark, sf_smoke, tmp_path)
    qv = list(coll.read(spark).orderBy("id").limit(1)
              .collect()[0].embedding)
    full = coll.search(spark, qv, k=3)
    assert {"doc_id", "lang"} <= set(full.columns)
    none = coll.search(spark, qv, k=3, with_payload=False)
    assert set(none.columns) == {"id", "score"}
    # values identical to the full search, just narrowed
    assert [(r.id, r.score) for r in none.collect()] == \
        [(r.id, r.score) for r in full.collect()]
    only = coll.search(spark, qv, k=3, with_payload=["lang"])
    assert set(only.columns) == {"id", "score", "lang"}
    excl = coll.search(spark, qv, k=3, with_payload={"exclude": ["lang"]})
    assert "lang" not in excl.columns and "doc_id" in excl.columns
    with _pytest.raises(ValueError, match="unknown fields"):
        coll.search(spark, qv, k=3, with_payload=["nope"])
    # scroll: order_by may name an excluded field; page order holds
    page = coll.scroll(spark, limit=5, order_by="doc_id",
                       with_payload=["lang"]).collect()
    assert set(page[0].asDict()) == {"id", "lang"}
    ref = [r.id for r in coll.scroll(spark, limit=5,
                                     order_by="doc_id").collect()]
    assert [r.id for r in page] == ref
    got = coll.retrieve(spark, ref[:2], with_payload=False).collect()
    assert set(got[0].asDict()) == {"id"}


def test_list_and_delete_collection(spark, sf_smoke, tmp_path):
    """Qdrant get_collections / delete_collection analogs: listing
    follows the meta sidecar, deletion removes every state path plus
    snapshots and dangling aliases, and is idempotent."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        collection_exists, delete_collection, list_aliases,
        list_collections, update_aliases)

    root = str(tmp_path)
    assert list_collections(root) == []
    coll = _fill(spark, sf_smoke, tmp_path,
                 indexing_threshold=1)  # force an IVF layout on disk
    create_collection(root, "other", dim=8)
    assert list_collections(root) == ["c", "other"]
    coll.rebuild_index(spark)
    coll.create_snapshot("s1")
    update_aliases(root, create={"docs": "c", "keep": "other"})
    state = coll._state_paths()
    assert len(state) > 1  # main table + index layouts
    assert delete_collection(root, "c") is True
    assert list_collections(root) == ["other"]
    assert not collection_exists(root, "c")
    for p in state:
        assert not os.path.exists(p)
    assert not os.path.exists(os.path.join(root, "_snapshots", "c"))
    # alias at the deleted collection dropped; unrelated alias kept
    assert list_aliases(root) == {"keep": "other"}
    assert delete_collection(root, "c") is False  # idempotent


def test_with_payload_on_batch_and_derived_search(spark, sf_smoke, tmp_path):
    """with_payload narrows search_batch, recommend, discover, and
    search_groups identically to the full run (values unchanged)."""
    coll = _fill(spark, sf_smoke, tmp_path)
    first = coll.read(spark).orderBy("id").limit(2).collect()
    qv = list(first[0].embedding)
    ids = [r.id for r in first]

    full = coll.search_batch(spark, [qv, qv], k=3)
    none = coll.search_batch(spark, [qv, qv], k=3, with_payload=False)
    assert set(none.columns) == {"query_idx", "id", "score", "rank"}
    key = lambda d: sorted((r.query_idx, r.id, r.score) for r in d.collect())
    assert key(none) == key(full)

    rec = coll.recommend(spark, positive=[ids[0]], k=3,
                         with_payload=["lang"])
    assert set(rec.columns) == {"id", "score", "lang"}
    rec_bs = coll.recommend(spark, positive=ids, k=3,
                            strategy="best_score", with_payload=False)
    assert set(rec_bs.columns) == {"id", "score"}

    disc = coll.discover(spark, context=[(ids[0], ids[1])], k=3,
                         with_payload=False)
    assert set(disc.columns) == {"id", "score"}
    disc_t = coll.discover(spark, context=[(ids[0], ids[1])],
                           target=ids[0], k=3, with_payload=["lang"])
    assert "lang" in disc_t.columns and "doc_id" not in disc_t.columns

    grp = coll.search_groups(spark, qv, group_by="lang", limit=2,
                             group_size=2, with_payload=False)
    # the group key and ranks survive payload=False
    assert {"lang", "group_rank", "rank", "id", "score"} <= set(grp.columns)
    assert "doc_id" not in grp.columns


def test_count_fast_path(spark, sf_smoke, tmp_path):
    """count(exact=False): footer-metadata count, no Spark job —
    equal to the exact count, including after deletes and on
    partitioned (payload-indexed) layouts."""
    coll = _fill(spark, sf_smoke, tmp_path)
    n = coll.count(spark)
    assert coll.count(spark, exact=False) == n
    coll.delete(spark, F.col("lang") == "en")
    n2 = coll.count(spark)
    assert n2 < n and coll.count(spark, exact=False) == n2
    coll.create_payload_index(spark, "lang")  # partitionBy rewrite
    assert coll.count(spark, exact=False) == n2


@pytest.mark.parametrize("filled", [False, True])
def test_point_op_validation_before_empty_return(spark, tmp_path, filled):
    """Every point op validates its arguments before the
    empty-collection return: an invalid call raises the same
    ValueError on an empty collection as on a filled one, and a valid
    call on an empty collection returns 0."""
    coll = create_collection(str(tmp_path), "val", dim=2,
                             metric="euclid", shard_key="tenant")
    if filled:
        coll.upsert(spark, spark.createDataFrame(
            [(1, [1.0, 0.0], "acme", "x")],
            "id int, embedding array<double>, tenant string, tag string"))
    bad_vec = spark.createDataFrame([(1, [1.0, 0.0])],
                                    "id int, nope array<double>")
    invalid = [
        (lambda: coll.set_payload(spark, {"id": 1}, [1]), "reserved"),
        (lambda: coll.set_payload(spark, {"tenant": "b"}, [1]), "reserved"),
        (lambda: coll.set_payload(spark, {}, [1]), "empty payload"),
        (lambda: coll.set_payload(spark, {"tag": "y"}, None),
         "points selector required"),
        (lambda: coll.overwrite_payload(spark, {"embedding": 1}, [1]),
         "reserved"),
        (lambda: coll.overwrite_payload(spark, {}, [1]), "empty payload"),
        (lambda: coll.delete_payload(spark, ["embedding"], [1]), "reserved"),
        (lambda: coll.delete_payload(spark, ["n_vecs"], [1]), "reserved"),
        (lambda: coll.clear_payload(spark, None),
         "points selector required"),
        (lambda: coll.delete_vectors(spark, ["nope"], [1]),
         "unknown vector column"),
        (lambda: coll.delete_vectors(spark, ["n_vecs"], [1]),
         "unknown vector column"),
        (lambda: coll.update_vectors(spark, bad_vec),
         "unknown vector columns"),
    ]
    for call, match in invalid:
        with pytest.raises(ValueError, match=match):
            call()
    valid = [
        lambda: coll.set_payload(spark, {"tag": "y"}, [1]),
        lambda: coll.overwrite_payload(spark, {"tag": "z"}, [1]),
        lambda: coll.delete_payload(spark, ["tag"], [1]),
        lambda: coll.clear_payload(spark, [1]),
        lambda: coll.delete_vectors(spark, ["embedding"], [1]),
        lambda: coll.delete(spark, F.col("id") == 1),
    ]
    assert [call() for call in valid] == [int(filled)] * len(valid)


def test_shard_key_is_not_payload(spark, tmp_path):
    """Points route by their shard key (Qdrant custom sharding); it is
    not payload. overwrite_payload and clear_payload keep it, so the
    points stay in their shard's counts and searches, and
    set_payload / delete_payload naming it raise."""
    coll = create_collection(str(tmp_path), "sk", dim=2, metric="dot",
                             normalize=False, shard_key="tenant")
    coll.upsert(spark, spark.createDataFrame(
        [(i, [float(i + 1), 0.0], "acme" if i < 4 else "globex", "x")
         for i in range(8)],
        "id int, embedding array<double>, tenant string, tag string"))
    assert coll.overwrite_payload(spark, {"tag": "y"}, [1]) == 1
    assert coll.clear_payload(spark, [2]) == 1
    rows = {r.id: r for r in coll.read(spark).collect()}
    assert (rows[1].tenant, rows[1].tag) == ("acme", "y")
    assert (rows[2].tenant, rows[2].tag) == ("acme", None)
    assert coll.count(spark, shard_key_selector="acme") == 4
    hits = coll.search(spark, [1.0, 0.0], k=8, shard_key_selector="acme")
    assert sorted(r.id for r in hits.collect()) == [0, 1, 2, 3]
    with pytest.raises(ValueError, match="reserved"):
        coll.set_payload(spark, {"tenant": "globex"}, [1])
    with pytest.raises(ValueError, match="reserved"):
        coll.delete_payload(spark, ["tenant"], [1])


_SIDECAR_SHAPES = {
    "sq": dict(quantization="sq"),
    "sq_ivf": dict(quantization="sq", indexing_threshold=10,
                   k_centroids=2),
    "pca": dict(transform="pca", pca_dim=2, indexing_threshold=1,
                k_centroids=2),
    "postings": dict(sparse_vectors={"s": {"full_scan_threshold": 1}}),
}


@pytest.mark.parametrize("shape", sorted(_SIDECAR_SHAPES))
def test_payload_ops_keep_vector_sidecars(spark, tmp_path, shape):
    """Payload-only writes leave every sidecar that holds no payload —
    SQ codes (flat or cell-partitioned), the PCA projection, sparse
    postings and their df table — byte for byte, and searches return
    what they returned before; ``.ivf``, a payload copy, is the one
    layout re-derived."""
    import hashlib
    import random

    coll = create_collection(str(tmp_path), shape, dim=4, metric="euclid",
                             **_SIDECAR_SHAPES[shape])
    rnd = random.Random(5)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(4)],
             [i % 5, 5 + i % 3], [1.0, 0.5], "en" if i % 2 else "de", i)
            for i in range(40)]
    pts = spark.createDataFrame(
        rows, "id int, embedding array<double>, s__sidx array<int>, "
        "s__sval array<double>, lang string, rank int")
    if shape != "postings":
        pts = pts.drop("s__sidx", "s__sval")
    coll.upsert(spark, pts)
    sidecars = {
        "sq": [coll._codes_path], "sq_ivf": [coll._codes_path],
        "pca": [coll._pca_path_for(None)],
        "postings": [coll._postings_path_for("s"),
                     coll._postings_path_for("s") + ".df"]}[shape]

    def digest():
        out = {}
        for side in sidecars:
            for root, _d, files in os.walk(side):
                for f in files:
                    if f.endswith(".parquet"):
                        p = os.path.join(root, f)
                        out[p] = hashlib.md5(open(p, "rb").read()).hexdigest()
        assert out, f"no sidecar files under {sidecars}"
        return out

    def hits():
        q = (([0, 5], [1.0, 1.0]) if shape == "postings"
             else [0.5, -0.25, 0.75, 0.1])
        return [(r.id, r.score) for r in coll.search(
            spark, q, k=5, using="s" if shape == "postings" else None,
            with_payload=False).collect()]

    before, found = digest(), hits()
    assert coll.set_payload(spark, {"lang": "xx"}, [1, 2]) == 2
    assert coll.overwrite_payload(spark, {"lang": "yy"}, [3]) == 1
    assert coll.delete_payload(spark, ["rank"], [4]) == 1
    assert coll.clear_payload(spark, [5]) == 1
    assert digest() == before
    assert hits() == found
    if shape == "sq_ivf":
        ivf = spark.read.parquet(coll._ivf_points)
        assert {r.id: r.lang for r in ivf.filter(
            F.col("id") <= 3).collect()} == {0: "de", 1: "xx", 2: "xx",
                                             3: "yy"}


def test_schema_cache_partition_only_write_then_new_key(spark, tmp_path):
    """The one parquet schema cache (``tables._read_cached``) is keyed
    on the directory's mtime. A file-scoped point op on a payload-index
    layout lands only in partition subdirectories (through
    ``_swap_staged_files``), so the root's mtime does not move — safe,
    because a file-scoped op never changes the columns. A
    ``set_payload`` that adds a new key is a schema change and rewrites
    table-wide, so on an IVF-indexed collection the new column reads
    back from the table and from the cells layout."""
    import random

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        _read_parquet,
    )

    rnd = random.Random(11)
    coll = create_collection(str(tmp_path), "sc", dim=4, normalize=False,
                             indexing_threshold=1, k_centroids=2)
    coll.create_payload_index(spark, "tenant")
    coll.upsert(spark, spark.createDataFrame(
        [(i, [rnd.gauss(0.0, 1.0) for _ in range(4)],
          ("acme", "beta", "corp", "dyne")[i % 4], i) for i in range(200)],
        "id long, embedding array<double>, tenant string, price long"))
    assert coll.has_index()
    _read_parquet(spark, coll.path)  # warm the cache
    root_mtime = os.stat(coll.path).st_mtime_ns
    before = set(os.listdir(coll.path))

    assert coll.set_payload(spark, {"price": -1}, [3]) == 1
    assert os.stat(coll.path).st_mtime_ns == root_mtime
    assert set(os.listdir(coll.path)) == before
    assert coll.read(spark).filter(F.col("id") == 3).first().price == -1

    assert coll.set_payload(spark, {"flag": "hot"}, [5, 6]) == 2
    got = {r.id: r.flag for r in coll.read(spark).select(
        "id", "flag").collect()}
    assert got[5] == got[6] == "hot" and got[7] is None
    cells = _read_parquet(spark, coll._ivf_points)
    assert "flag" in cells.columns
    assert {r.id for r in cells.filter(F.col("flag") == "hot")
            .select("id").collect()} == {5, 6}


def test_upsert_keeps_one_file_schema(spark, tmp_path):
    """Every main-table write leaves ONE file schema, so what a read
    sees never depends on which file Spark samples for the schema. A
    batch lacking a payload column an earlier ``set_payload`` added
    appends it as typed NULL; a batch carrying a new column (plain
    append or merge) rewrites the table with it, NULL on the old rows.
    Values survive ``compact``."""
    import pyarrow.parquet as pq

    def footers():
        return {frozenset(pq.read_schema(os.path.join(root, f)).names)
                for root, _dirs, files in os.walk(coll.path)
                for f in files if f.endswith(".parquet")}

    def batch(lo, extra=None):
        cols = "id long, embedding array<double>"
        rows = [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(lo, lo + 10)]
        if extra:
            cols += f", {extra} string"
            rows = [r + (f"{extra}{r[0]}",) for r in rows]
        return spark.createDataFrame(rows, cols)

    coll = create_collection(str(tmp_path), "one", dim=4, normalize=False)
    coll.upsert(spark, batch(0))
    coll.set_payload(spark, {"tier": 2}, [1])
    coll.upsert(spark, batch(10))
    assert len(footers()) == 1
    coll.upsert(spark, batch(20, "color"))
    coll.upsert(spark, batch(25, "shape"), mode="merge")
    assert len(footers()) == 1
    coll.upsert(spark, batch(35))
    assert len(footers()) == 1
    for _ in range(2):
        got = {r.id: (r.tier, r.color, r.shape) for r in coll.read(spark)
               .select("id", "tier", "color", "shape").collect()}
        assert len(got) == 45
        assert got[1] == (2, None, None) and got[0] == (None, None, None)
        assert got[20] == (None, "color20", None)
        assert got[25] == (None, None, "shape25")  # merge replaced 25..29
        assert got[34] == (None, None, "shape34")
        assert got[35] == (None, None, None)
        coll.compact(spark)
        assert len(footers()) == 1
