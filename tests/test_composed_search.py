"""Composed IVF + quantization read path (round 6): when a collection
is both indexed and quantized, the codes sidecar shares the
``partitionBy(centroid_id)`` layout and ``search`` probes cells, ranks
the codes inside them, and exact-rescores the oversampled shortlist —
Qdrant's index-over-quantized-vectors semantics
(/root/reference/README.md quantization + indexing_threshold knobs)."""

import os

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection
from image_indexing_and_retrival_with_qdrant_spark.routing import route_for_recall


def _pts(spark, ids):
    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5), float(i % 3), 1.0])
            for i in ids]
    return spark.createDataFrame(rows, "id int, embedding array<double>")


QV = [2.0, 1.0, 0.0, 1.0]


@pytest.fixture()
def composed(spark, tmp_path):
    coll = create_collection(str(tmp_path), "ci", dim=4, quantization="sq",
                             indexing_threshold=1, k_centroids=4)
    coll.upsert(spark, _pts(spark, range(60)))
    assert coll.has_index()
    return coll


def test_codes_sidecar_shares_ivf_layout(spark, composed):
    assert composed.meta["codes_layout"] == "cells"
    subdirs = [d for d in os.listdir(composed._codes_path)
               if d.startswith("centroid_id=")]
    assert subdirs, "codes sidecar must be partitioned by centroid_id"
    codes = spark.read.parquet(composed._codes_path)
    assert codes.count() == 60
    assert "centroid_id" in codes.columns


def test_codes_cells_equal_points_cells(spark, composed):
    """The whole-table encode reads the cells LAYOUT back instead of
    re-assigning from the main table (r12: the layout is the faithful
    source — after split_hot_cells a global re-argmin need not
    reproduce the scoped split assignment, and probe pruning is only
    complete when codes share the points layout's cells). Pin the
    invariant: every id's codes cell == its points-layout cell."""
    pts = spark.read.parquet(composed._ivf_points) \
        .select("id", F.col("centroid_id").alias("pc"))
    codes = spark.read.parquet(composed._codes_path) \
        .select("id", F.col("centroid_id").alias("cc"))
    diff = pts.join(codes, on="id").filter(F.col("pc") != F.col("cc"))
    assert diff.count() == 0
    assert codes.count() == 60


def test_composed_exhaustive_equals_exact(spark, composed):
    # exhaustive probe (nprobe=None => all cells) + oversampling
    # covering the corpus => shortlist == corpus => result ≡ exact,
    # through the cells-codes scan + literal-IN rescore fetch
    approx = composed.search(spark, QV, k=5, oversampling=12.0).collect()
    exact = composed.search(spark, QV, k=5, exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]


def test_composed_probe_is_partition_pruned(spark, composed):
    """The codes scan inside the composed path must carry a
    centroid_id partition filter — only probed bucket dirs open."""
    short = composed._quant_shortlist(spark, [QV], 10, "id",
                                      probe_ids=[0, 2])
    plan = short._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan, plan
    rows = short.collect()
    assert 0 < len(rows) <= 10


def test_composed_append_keeps_layout(spark, composed):
    composed.upsert(spark, _pts(spark, range(100, 120)))
    codes = spark.read.parquet(composed._codes_path)
    assert codes.count() == 80
    assert codes.filter(F.col("centroid_id").isNull()).count() == 0
    approx = composed.search(spark, QV, k=5, oversampling=16.0).collect()
    exact = composed.search(spark, QV, k=5, exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]


def test_index_drop_flattens_codes_on_next_write(spark, composed):
    composed.update_collection(spark, indexing_threshold=None)
    assert not composed.has_index()
    # search still correct while the sidecar is mid-transition
    hits = composed.search(spark, QV, k=3, oversampling=20.0).collect()
    assert len(hits) == 3
    composed.upsert(spark, _pts(spark, range(200, 210)))
    assert composed.meta["codes_layout"] == "flat"
    codes = spark.read.parquet(composed._codes_path)
    assert "centroid_id" not in codes.columns
    assert codes.count() == 70


def test_quantization_enabled_on_indexed_collection(spark, tmp_path):
    """update_collection(quantization=) on an already-indexed
    collection writes the cells layout straight away."""
    coll = create_collection(str(tmp_path), "qi", dim=4,
                             indexing_threshold=1, k_centroids=4)
    coll.upsert(spark, _pts(spark, range(50)))
    assert coll.has_index()
    coll.update_collection(spark, quantization="sq")
    assert coll.meta["codes_layout"] == "cells"
    approx = coll.search(spark, QV, k=5, oversampling=10.0).collect()
    exact = coll.search(spark, QV, k=5, exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]


def test_routed_composed_knobs():
    # miss budget splits: t=0.9 => sub=0.95 => nprobe at the 0.995
    # fraction (2/16), SQ oversampling at its 0.95 ceiling (2x)
    r = route_for_recall(0.9, indexed=True, quantization="sq")
    assert r == {"exact": False, "nprobe": 2, "oversampling": 2.0,
                 "rescore": None, "hnsw_ef": None}
    # BQ has no trusted ceiling at any composed sub-target => index-
    # only fallback at the full target
    r = route_for_recall(0.9, indexed=True, quantization="bq")
    assert r == {"exact": False, "nprobe": 2, "oversampling": None,
                 "rescore": None, "hnsw_ef": None}
    # exactness still routes exact
    r = route_for_recall(1.0, indexed=True, quantization="sq")
    assert r["exact"] is True


def test_recall_target_through_composed_collection(spark, composed):
    # routed search runs end-to-end on the composed layout (knob
    # values are pinned above; result sanity: k rows, exact scores)
    hits = composed.search(spark, QV, k=3, recall_target=0.9).collect()
    assert len(hits) == 3
    exact = {r.id: r.score for r in
             composed.search(spark, QV, k=60, exact=True).collect()}
    for r in hits:
        assert r.score == exact[r.id]  # rescore is full-precision


def test_composed_registry_oracle(spark, sf_smoke):
    """The registered composed read path (exhaustive probe, truncating
    SQ shortlist, exact rescore) hash-matches its DuckDB twin."""
    from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY
    from tests.oracle import compare

    compare(spark, REGISTRY["ingest_quantized_index_search"], sf_smoke,
            "ingest_quantized_index_search")


QV2 = [0.5, 3.0, 1.0, 0.0]


def _pairs(rows):
    return sorted((r.query_idx, r.id, r.score) for r in rows)


def _singles(coll, spark, qs, k=3, **kw):
    out = []
    for i, q in enumerate(qs):
        out += [(i, r.id, r.score)
                for r in coll.search(spark, q, k=k, **kw).collect()]
    return sorted(out)


def test_batch_composed_matches_single(spark, composed):
    """search_batch on an indexed+quantized collection takes the
    batched codes prefetch; with the default exhaustive probe each
    query's result equals its single-query composed search."""
    batch = composed.search_batch(spark, [QV, QV2], k=3,
                                  oversampling=4.0).collect()
    assert _pairs(batch) == _singles(composed, spark, [QV, QV2],
                                     oversampling=4.0)


def test_batch_flat_quantized_matches_single(spark, tmp_path):
    coll = create_collection(str(tmp_path), "fq", dim=4,
                             quantization="sq")
    coll.upsert(spark, _pts(spark, range(60)))
    assert not coll.has_index()
    batch = coll.search_batch(spark, [QV, QV2], k=3,
                              oversampling=4.0).collect()
    assert _pairs(batch) == _singles(coll, spark, [QV, QV2],
                                     oversampling=4.0)


def test_batch_bq_composed_matches_single(spark, tmp_path):
    coll = create_collection(str(tmp_path), "bq", dim=4,
                             quantization="bq",
                             indexing_threshold=1, k_centroids=4)
    coll.upsert(spark, _pts(spark, range(60)))
    assert coll.meta["codes_layout"] == "cells"
    batch = coll.search_batch(spark, [QV, QV2], k=3,
                              oversampling=8.0).collect()
    assert _pairs(batch) == _singles(coll, spark, [QV, QV2],
                                     oversampling=8.0)


def test_batch_exact_skips_codes(spark, composed):
    """exact=True bypasses the quantized prefetch entirely — batch
    equals the exact per-query scans."""
    batch = composed.search_batch(spark, [QV, QV2], k=3,
                                  exact=True).collect()
    assert _pairs(batch) == _singles(composed, spark, [QV, QV2],
                                     exact=True)


def test_batch_codes_scan_partition_pruned(spark, composed):
    """The batched shortlist's codes scan carries the probe's
    centroid_id partition filter."""
    short = composed._quant_shortlist(spark, [QV, QV2], 10, "id",
                                      probe_ids=[0, 2], batch=True)
    plan = short._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan, plan
    rows = short.collect()
    assert {r.query_idx for r in rows} == {0, 1}


def test_composed_rescore_fetch_is_pushed_down(spark, composed):
    """The composed rescore fetch must push the literal id shortlist
    into the parquet scan (row-group pruning on the main table)."""
    res = composed.search(spark, QV, k=3, oversampling=4.0)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "In(id" in plan, plan


def test_batch_rescore_semi_join_broadcasts(spark, composed):
    """include_pairs restriction must be a broadcast LeftSemi hash
    join (tiny pair set; the corpus never shuffles) with the id
    shortlist pushed into the scan."""
    res = composed.search_batch(spark, [QV, QV2], k=3, oversampling=4.0)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "In(id" in plan, plan


def test_filtered_search_never_underfills(spark, tmp_path):
    """A selective payload filter must not lose matches to the
    quantized shortlist (the codes sidecar carries no payload, so a
    filter-blind shortlist would eat slots): with a filter present
    the engine routes filter-correct — full k results, exact scores."""
    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5), float(i % 3), 1.0],
             "rare" if i % 20 == 0 else "common") for i in range(60)]
    pts = spark.createDataFrame(
        rows, "id int, embedding array<double>, tag string")
    for kw in ({"quantization": "sq"},
               {"quantization": "sq", "indexing_threshold": 1,
                "k_centroids": 4}):
        coll = create_collection(str(tmp_path), f"f{len(kw)}", dim=4, **kw)
        coll.upsert(spark, pts)
        flt = F.col("tag") == "rare"  # 3 of 60 rows
        hits = coll.search(spark, QV, k=3, query_filter=flt,
                           oversampling=2.0).collect()
        exact = coll.search(spark, QV, k=3, query_filter=flt,
                            exact=True).collect()
        assert len(hits) == 3
        assert [(r.id, r.score) for r in hits] == \
            [(r.id, r.score) for r in exact]
        batch = coll.search_batch(spark, [QV], k=3, query_filter=flt,
                                  oversampling=2.0).collect()
        assert [(r.id, r.score) for r in batch] == \
            [(r.id, r.score) for r in exact]


def test_batch_per_query_filters_match_singles(spark, tmp_path):
    """Qdrant query_batch_points with a filter per request: each
    query's results equal its single filtered search; mixed
    None/Column/Filter-DSL entries accepted; length mismatch and
    multivector collections rejected."""
    from image_indexing_and_retrival_with_qdrant_spark.filters import (
        FieldCondition,
        Filter,
    )

    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5)],
             "a" if i % 2 else "b") for i in range(40)]
    pts = spark.createDataFrame(
        rows, "id int, embedding array<double>, tag string")
    coll = create_collection(str(tmp_path), "pq", dim=2, normalize=False)
    coll.upsert(spark, pts)
    qs = [[1.0, 2.0], [3.0, 0.5], [0.5, 0.5]]
    flts = [F.col("tag") == "a",
            Filter(must=[FieldCondition("tag", match="b")]),
            None]
    batch = coll.search_batch(spark, qs, k=3, query_filter=flts).collect()
    singles = []
    for i, (q, f) in enumerate(zip(qs, flts)):
        singles += [(i, r.id, r.score) for r in
                    coll.search(spark, q, k=3, query_filter=f).collect()]
    assert sorted((r.query_idx, r.id, r.score) for r in batch) == \
        sorted(singles)
    with pytest.raises(ValueError, match="filters for"):
        coll.search_batch(spark, qs, k=3, query_filter=flts[:2])
    mv = create_collection(str(tmp_path), "mvf", dim=2, multivector=True,
                           normalize=False)
    mv.upsert(spark, spark.createDataFrame(
        [(1, [[1.0, 0.0]])], "id int, embedding array<array<double>>"))
    with pytest.raises(ValueError, match="dense collections"):
        mv.search_batch(spark, [[[1.0, 0.0]]], k=1,
                        query_filter=[F.col("id") > 0])
