"""Snapshots (Qdrant ``create_snapshot``/``recover_snapshot``),
collection aliases (``update_collection_aliases``), and ordered batch
update (``batch_update_points``)."""

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.catalog import (
    create_collection,
    list_aliases,
    resolve_collection,
    update_aliases,
)
from image_indexing_and_retrival_with_qdrant_spark.filters import FieldCondition


def _mk(spark, tmp_path, name="snap", **kw):
    coll = create_collection(str(tmp_path), name, dim=3, metric="euclid", **kw)
    pts = spark.createDataFrame(
        [(i, [float(i), 0.0, 0.0], ["red", "green"][i % 2])
         for i in range(10)],
        "id int, embedding array<double>, color string",
    )
    coll.upsert(spark, pts)
    return coll


def test_snapshot_restore_roundtrip(spark, tmp_path):
    coll = _mk(spark, tmp_path)
    before = {(r.id, r.color) for r in coll.read(spark).collect()}
    snap = coll.create_snapshot()
    assert coll.list_snapshots() == [snap]
    assert coll.delete(spark, F.col("color") == "red") == 5
    assert coll.count(spark) == 5
    coll.restore_snapshot(snap)
    assert {(r.id, r.color) for r in coll.read(spark).collect()} == before
    with pytest.raises(ValueError, match="unknown snapshot"):
        coll.restore_snapshot("nope")
    coll.delete_snapshot(snap)
    assert coll.list_snapshots() == []


def test_snapshot_carries_index(spark, tmp_path):
    """Restore rolls back the IVF layout with the table — searches on
    the restored collection route through the snapshotted index."""
    coll = create_collection(str(tmp_path), "idx", dim=3, metric="euclid",
                             normalize=False, indexing_threshold=5,
                             k_centroids=2)
    pts = spark.createDataFrame(
        [(i, [float(i), 0.0, 0.0]) for i in range(8)],
        "id int, embedding array<double>")
    coll.upsert(spark, pts)
    assert coll.has_index()
    hits_before = [r.id for r in coll.search(spark, [3.0, 0.0, 0.0], k=3)
                   .collect()]
    snap = coll.create_snapshot("pre")
    coll.upsert(spark, spark.createDataFrame(
        [(100, [3.1, 0.0, 0.0])], "id int, embedding array<double>"))
    assert 100 in {r.id for r in
                   coll.search(spark, [3.0, 0.0, 0.0], k=3).collect()}
    coll.restore_snapshot(snap)
    assert coll.has_index()
    assert [r.id for r in coll.search(spark, [3.0, 0.0, 0.0], k=3)
            .collect()] == hits_before


def test_aliases_repoint_atomically(spark, tmp_path):
    _mk(spark, tmp_path, "docs_v1")
    v2 = _mk(spark, tmp_path, "docs_v2")
    v2.delete(spark, F.col("color") == "red")
    update_aliases(str(tmp_path), create={"docs": "docs_v1"})
    assert resolve_collection(str(tmp_path), "docs").count(spark) == 10
    # blue/green switch: delete+create in one batch
    update_aliases(str(tmp_path), delete=["docs"],
                   create={"docs": "docs_v2"})
    assert list_aliases(str(tmp_path)) == {"docs": "docs_v2"}
    assert resolve_collection(str(tmp_path), "docs").count(spark) == 5
    # names shadow aliases; bad targets and shadowing aliases rejected
    assert resolve_collection(str(tmp_path), "docs_v1").count(spark) == 10
    with pytest.raises(ValueError, match="shadow"):
        update_aliases(str(tmp_path), create={"docs_v1": "docs_v2"})
    with pytest.raises(ValueError, match="does not exist"):
        update_aliases(str(tmp_path), create={"x": "missing"})
    with pytest.raises(ValueError, match="no collection or alias"):
        resolve_collection(str(tmp_path), "ghost")
    # per-collection listing (get_collection_aliases)
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        collection_aliases,
    )

    update_aliases(str(tmp_path), create={"docs2": "docs_v2"})
    assert collection_aliases(str(tmp_path), "docs_v2") == ["docs", "docs2"]
    assert collection_aliases(str(tmp_path), "docs_v1") == []


def test_batch_update_runs_in_order(spark, tmp_path):
    coll = _mk(spark, tmp_path)
    more = spark.createDataFrame(
        [(100, [50.0, 0.0, 0.0], "red")],
        "id int, embedding array<double>, color string")
    n = coll.batch_update(spark, [
        ("upsert", more),
        ("set_payload", {"tier": "hot"}, FieldCondition("color", match="red")),
        ("delete", F.col("color") == "green"),
    ])
    assert n == 3
    rows = {r.id: (r.color, r.tier) for r in coll.read(spark).collect()}
    assert rows[100] == ("red", "hot")          # upsert before set_payload
    assert all(c == "red" for c, _ in rows.values())
    assert len(rows) == 6
    # the other four batch_update_points kinds, still strictly in order
    upd = spark.createDataFrame([(6, [60.0, 0.0, 0.0])],
                                "id int, embedding array<double>")
    assert coll.batch_update(spark, [
        ("overwrite_payload", {"color": "blue"}, [0]),
        ("update_vectors", upd),
        ("delete_vectors", ["embedding"], [8]),
        ("clear_payload", [2]),
        ("set_payload", {"tier": "cold"}, F.col("color") == "blue"),
    ]) == 5
    rows = {r.id: r for r in coll.read(spark).collect()}
    assert (rows[0].color, rows[0].tier) == ("blue", "cold")
    assert list(rows[6].embedding) == [60.0, 0.0, 0.0]
    assert rows[8].embedding is None and rows[8].color == "red"
    assert rows[2].color is None and rows[2].tier is None
    assert (rows[4].color, rows[4].tier) == ("red", "hot")
    with pytest.raises(ValueError, match="unknown batch op"):
        coll.batch_update(spark, [("frobnicate", None)])


def test_sharded_collection_isolation(spark, tmp_path):
    """Custom sharding (Qdrant sharding_method=CUSTOM): the shard key
    leads the partition layout; shard_key_selector prunes to the
    named shards and never leaks cross-tenant rows."""
    import os

    from image_indexing_and_retrival_with_qdrant_spark.plans.explain import formatted_plan

    coll = create_collection(str(tmp_path), "mt", dim=2, metric="dot",
                             normalize=False, shard_key="tenant")
    pts = spark.createDataFrame(
        [(i, [float(i), 0.0], ["acme", "globex", "initech"][i % 3])
         for i in range(12)],
        "id int, embedding array<double>, tenant string")
    coll.upsert(spark, pts)
    assert {d for d in os.listdir(coll.path) if d.startswith("tenant=")} == \
        {"tenant=acme", "tenant=globex", "tenant=initech"}
    hits = coll.search(spark, [1.0, 0.0], k=10, shard_key_selector="acme")
    assert {r.tenant for r in hits.collect()} == {"acme"}
    plan = formatted_plan(hits)
    assert "PartitionFilters" in plan and "tenant" in plan.split(
        "PartitionFilters", 1)[1][:200]
    assert coll.count(spark, shard_key_selector=["acme", "globex"]) == 8
    # no selector = all shards (Qdrant's default fan-out)
    assert coll.count(spark) == 12
    with pytest.raises(ValueError, match="requires column"):
        coll.upsert(spark, pts.drop("tenant"))
    with pytest.raises(ValueError, match="shard key"):
        coll.drop_payload_index(spark, "tenant")
    plain = create_collection(str(tmp_path), "plain", dim=2, metric="dot",
                              normalize=False)
    plain.upsert(spark, pts.drop("tenant"))
    with pytest.raises(ValueError, match="without a shard key"):
        plain.search(spark, [1.0, 0.0], shard_key_selector="acme")


@pytest.mark.parametrize("shape", ["named", "sparse_only"])
def test_shard_key_on_named_and_sparse_only_collections(spark, tmp_path,
                                                        shape):
    """``shard_key`` holds for every collection shape: a named-vector
    and a sparse-only collection lay out ``tenant=`` partitions, and a
    ``shard_key_selector`` search and count read only that shard."""
    import os

    tenants = ["acme", "globex", "initech"]
    if shape == "named":
        coll = create_collection(
            str(tmp_path), "skn", shard_key="tenant",
            vectors={"v": {"dim": 2, "metric": "dot", "normalize": False}})
        pts = spark.createDataFrame(
            [(i, [float(i), 1.0], tenants[i % 3]) for i in range(12)],
            "id long, v array<double>, tenant string")
        query = {"query_vector": [1.0, 0.0], "using": "v"}
    else:
        coll = create_collection(str(tmp_path), "sks", shard_key="tenant",
                                 sparse_vectors={"text": {}})
        pts = spark.createDataFrame(
            [(i, tenants[i % 3], [0, 1 + i % 2], [float(i + 1), 0.5])
             for i in range(12)],
            "id long, tenant string, text__sidx array<int>, "
            "text__sval array<double>")
        query = {"query_vector": ([0], [1.0]), "using": "text"}
    coll.upsert(spark, pts)
    assert {d for d in os.listdir(coll.path) if d.startswith("tenant=")} \
        == {f"tenant={t}" for t in tenants}
    hits = coll.search(spark, k=10, shard_key_selector="acme",
                       **query).collect()
    assert [r.id for r in hits] == [9, 6, 3, 0]
    assert {r.tenant for r in hits} == {"acme"}
    assert coll.count(spark, shard_key_selector="acme") == 4
    assert coll.count(spark, shard_key_selector=["acme", "globex"]) == 8
    assert coll.count(spark) == 12
