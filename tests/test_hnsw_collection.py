"""hnsw_config as collection config: creation validation, deferred
build, search semantics, point-op graph maintenance, snapshots
(catalog.py::_refresh_hnsw + the search graph branch)."""

import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.catalog import (
    create_collection,
)
from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY
from tests.oracle import compare


@pytest.fixture(scope="module")
def root():
    d = tempfile.mkdtemp(prefix="hnsw_coll_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _points(spark, n=300, dim=8, seed=3, prefix="id"):
    rng = np.random.RandomState(seed)
    return spark.createDataFrame(
        [(f"{prefix}{i:04d}", [float(x) for x in rng.randn(dim)])
         for i in range(n)],
        "id string, embedding array<double>")


@pytest.fixture(scope="module")
def coll(spark, root):
    c = create_collection(root, "h", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=4,
                          hnsw_config={"m": 4, "ef_construct": 32})
    c.upsert(spark, _points(spark), mode="merge")
    return c


def test_creation_validation(root):
    with pytest.raises(ValueError, match="indexing_threshold"):
        create_collection(root, "v1", dim=8,
                          hnsw_config={"m": 4, "ef_construct": 32})
    with pytest.raises(ValueError, match="unknown hnsw_config"):
        create_collection(root, "v2", dim=8, indexing_threshold=1,
                          hnsw_config={"ef": 10})
    with pytest.raises(ValueError, match="ef_construct >= m"):
        create_collection(root, "v3", dim=8, indexing_threshold=1,
                          hnsw_config={"m": 8, "ef_construct": 4})
    with pytest.raises(ValueError, match="exclusive"):
        create_collection(root, "v4", dim=8, indexing_threshold=1,
                          transform="pca", pca_dim=4,
                          hnsw_config={"m": 4, "ef_construct": 32})
    # quantization COMPOSES with hnsw_config (graphs over the codes
    # sidecar) — but only on cosine collections: the walk's decoded
    # geometry is the dot-ranked quantizer space
    with pytest.raises(ValueError, match="cosine"):
        create_collection(root, "v4e", dim=8, metric="euclid",
                          indexing_threshold=1, quantization="sq",
                          hnsw_config={"m": 4, "ef_construct": 32})
    with pytest.raises(ValueError, match="cosine/euclid"):
        create_collection(root, "v5", dim=8, metric="manhattan",
                          indexing_threshold=1,
                          hnsw_config={"m": 4, "ef_construct": 32})
    # multivector collections ARE allowed (the reference's own
    # configuration): graphs build over the pooled routing vector
    c = create_collection(root, "v6", dim=8, multivector=True,
                          indexing_threshold=1,
                          hnsw_config={"m": 4, "ef_construct": 32})
    assert c.meta["hnsw"] == {"m": 4, "ef_construct": 32,
                              "max_segment_size": 20_000}


def test_build_at_threshold(spark, coll):
    assert coll.has_index() and coll._has_hnsw()
    assert os.path.isdir(coll._hnsw_graphs)
    info = coll.info(spark)
    assert info["status"] == "green" and info["hnsw_built"]
    # one graph partition per IVF cell (cells are under the default
    # 20k max_segment_size, so exactly one chunk each)
    segs = {d for d in os.listdir(coll._hnsw_graphs)
            if d.startswith("segment=")}
    assert len(segs) == 4
    assert coll.meta["hnsw"]["max_segment_size"] == 20_000


def test_exhaustive_ef_equals_exact(spark, coll):
    """ef >= n makes the graph walk provably exact — through the REAL
    collection search path."""
    qv = [float(x) for x in np.random.RandomState(11).randn(8)]
    approx = [(r.id, r.score) for r in
              coll.search(spark, qv, k=5, hnsw_ef=10 ** 6).collect()]
    exact = [(r.id, r.score) for r in
             coll.search(spark, qv, k=5, exact=True).collect()]
    assert approx == exact


def test_default_ef_recall(spark, coll):
    """Default ef (max(4k, 64)) finds the exact top-5 on this corpus
    (measured 5/5 across seeds; pin ≥4)."""
    qv = [float(x) for x in np.random.RandomState(12).randn(8)]
    approx = {r.id for r in coll.search(spark, qv, k=5).collect()}
    exact = {r.id for r in
             coll.search(spark, qv, k=5, exact=True).collect()}
    assert len(approx & exact) >= 4


def test_append_rebuilds_touched_cells(spark, coll):
    new = _points(spark, n=20, seed=77, prefix="new")
    coll.upsert(spark, new, mode="merge")
    # every appended point reachable through the graph as its own NN
    for r in new.collect()[:3]:
        top = coll.search(spark, list(r.embedding), k=1,
                          hnsw_ef=64).collect()
        assert top and top[0].id == r.id


def test_delete_drops_from_graphs(spark, coll):
    coll.delete(spark, F.col("id") == "id0007")
    qv = [float(x) for x in np.random.RandomState(13).randn(8)]
    allids = {r.id for r in
              coll.search(spark, qv, k=10 ** 6, hnsw_ef=10 ** 6)
              .collect()}
    assert "id0007" not in allids


def test_filtered_search_routes_filter_correct(spark, coll):
    """A query_filter skips the graph branch (beam slots would eat
    matches) and routes index-only — exact within probed cells."""
    qv = [float(x) for x in np.random.RandomState(14).randn(8)]
    got = coll.search(spark, qv, k=3,
                      query_filter=F.col("id") == "id0001").collect()
    assert len(got) == 1 and got[0].id == "id0001"


def test_hnsw_ef_validation(spark, root):
    c = create_collection(root, "plain", dim=8, normalize=False)
    c.upsert(spark, _points(spark, n=20, seed=5, prefix="p"),
             mode="merge")
    qv = [0.0] * 8
    with pytest.raises(ValueError, match="hnsw_ef"):
        c.search(spark, qv, k=3, hnsw_ef=16)



def test_batch_hnsw_ef_validation_with_payload_selector(spark, root):
    """A with_payload selector must not drop hnsw_ef: on a collection
    without hnsw_config a batch raises, as single search does."""
    c = create_collection(root, "plain_wp", dim=8, normalize=False)
    c.upsert(spark, _points(spark, n=20, seed=6, prefix="w"),
             mode="merge")
    qv = [0.0] * 8
    for wp in (False, {"exclude": []}):
        with pytest.raises(ValueError, match="hnsw_ef"):
            c.search(spark, qv, k=3, with_payload=wp, hnsw_ef=16)
        with pytest.raises(ValueError, match="hnsw_ef"):
            c.search_batch(spark, [qv, qv], k=3, with_payload=wp,
                           hnsw_ef=16)

def test_snapshot_carries_graphs(spark, coll):
    snap = coll.create_snapshot()
    assert any(".hnsw" in p for p in os.listdir(coll._snap_dir(snap)))
    coll.delete_snapshot(snap)


def test_rebuild_index_rebuilds_graphs(spark, coll):
    coll.rebuild_index(spark)
    assert coll._has_hnsw()
    qv = [float(x) for x in np.random.RandomState(15).randn(8)]
    approx = [(r.id, r.score) for r in
              coll.search(spark, qv, k=5, hnsw_ef=10 ** 6).collect()]
    exact = [(r.id, r.score) for r in
             coll.search(spark, qv, k=5, exact=True).collect()]
    assert approx == exact


def test_lifecycle_oracle(spark, sf_smoke):
    compare(spark, REGISTRY["ingest_hnsw_index_search"], sf_smoke,
            "ingest_hnsw_index_search")


def test_multivector_graph_search(spark, root):
    """hnsw_config on a MULTIVECTOR collection (the reference's own
    configuration): graphs over the pooled routing vectors; ef >= n
    degenerates to the exact MaxSim scan; appended points reachable."""
    rng = np.random.RandomState(31)
    pts = spark.createDataFrame(
        [(i, [[float(x) for x in rng.randn(8)] for _ in range(4)])
         for i in range(200)],
        "id long, embedding array<array<double>>")
    c = create_collection(root, "mv_h", dim=8, multivector=True,
                          normalize=False, indexing_threshold=1,
                          k_centroids=4,
                          hnsw_config={"m": 4, "ef_construct": 32})
    c.upsert(spark, pts, mode="append")
    assert c._has_hnsw()
    qv = [[float(x) for x in rng.randn(8)] for _ in range(4)]
    exact = [(r.id, r.score) for r in
             c.search(spark, qv, k=5, exact=True).collect()]
    approx = [(r.id, r.score) for r in
              c.search(spark, qv, k=5, hnsw_ef=10 ** 6).collect()]
    assert approx == exact
    new = spark.createDataFrame(
        [(999, [[float(x) for x in rng.randn(8)] for _ in range(4)])],
        "id long, embedding array<array<double>>")
    c.upsert(spark, new, mode="append")
    r0 = new.collect()[0]
    top = c.search(spark, [list(v) for v in r0.embedding], k=1,
                   hnsw_ef=64).collect()
    assert top[0].id == 999


def test_multivector_lifecycle_oracle(spark, sf_smoke):
    compare(spark, REGISTRY["ingest_hnsw_multivector_search"],
            sf_smoke, "ingest_hnsw_multivector_search")


def test_multivector_quantized_lifecycle_oracle(spark, sf_smoke):
    """Round-11 composition: graphs + SQ codes tier + exact rescore,
    against the full factory oracle (cells, beam, SQ params, decoded
    approximate rank, and rescore all re-derived)."""
    compare(spark, REGISTRY["ingest_hnsw_multivector_quantized_search"],
            sf_smoke, "ingest_hnsw_multivector_quantized_search")


def test_batch_graph_search_equals_single(spark, coll):
    """search_batch walks each query's OWN probed cells' graphs in one
    shared pass — per-query results ≡ the single-query search."""
    rng = np.random.RandomState(21)
    qvs = [[float(x) for x in rng.randn(8)] for _ in range(3)]
    batch = coll.search_batch(spark, qvs, k=5, nprobe=2,
                              hnsw_ef=16).collect()
    for i, qv in enumerate(qvs):
        single = [(r.id, r.score) for r in
                  coll.search(spark, qv, k=5, nprobe=2,
                              hnsw_ef=16).collect()]
        got = [(r.id, r.score) for r in
               sorted((r for r in batch if r.query_idx == i),
                      key=lambda r: r.rank)]
        assert got == single


def test_batch_recall_target_graph(spark, coll):
    """recall_target routes the batch onto the graph tier with the
    SAME knobs as single-query search — batch ≡ single is the
    contract (absolute recall on the random fixture is the documented
    floor, measured on the clustered sweep instead)."""
    qvs = [[float(x) for x in np.random.RandomState(22).randn(8)]]
    got = [(r.id, r.score) for r in
           coll.search_batch(spark, qvs, k=5,
                             recall_target=0.9).collect()]
    single = [(r.id, r.score) for r in
              coll.search(spark, qvs[0], k=5,
                          recall_target=0.9).collect()]
    assert [g for g in got] == single


def test_update_collection_hnsw(spark, root):
    """update_collection(hnsw_config=): enable on an existing indexed
    collection (graphs build on the spot), m-change rebuilds, None
    drops the sidecar; disabling indexing_threshold takes the graphs
    with the layout."""
    c = create_collection(root, "upd", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=4)
    c.upsert(spark, _points(spark, n=120, seed=9, prefix="u"),
             mode="merge")
    assert c.has_index() and not c._has_hnsw()
    c.update_collection(spark, hnsw_config={"m": 4, "ef_construct": 16})
    assert c._has_hnsw() and os.path.isdir(c._hnsw_graphs)
    qv = [float(x) for x in np.random.RandomState(41).randn(8)]
    exact = [(r.id, r.score) for r in
             c.search(spark, qv, k=5, exact=True).collect()]
    assert [(r.id, r.score) for r in
            c.search(spark, qv, k=5, hnsw_ef=10 ** 6).collect()] == exact
    # m-change rebuilds (meta reflects the new config)
    c.update_collection(spark, hnsw_config={"m": 6, "ef_construct": 24})
    assert c.meta["hnsw"] == {"m": 6, "ef_construct": 24,
                              "max_segment_size": 20_000}
    assert c._has_hnsw()
    # disable: sidecar dropped, searches fall back to the cells scan
    c.update_collection(spark, hnsw_config=None)
    assert not c._has_hnsw() and not os.path.isdir(c._hnsw_graphs)
    assert len(c.search(spark, qv, k=5).collect()) == 5
    # graphs go with the layout when the threshold is disabled
    c.update_collection(spark, hnsw_config={"m": 4, "ef_construct": 16})
    assert c._has_hnsw()
    c.update_collection(spark, indexing_threshold=None)
    assert not c.has_index() and not os.path.isdir(c._hnsw_graphs)
    assert len(c.search(spark, qv, k=5).collect()) == 5  # exact scan


def test_max_segment_size_chunks(spark, root):
    """max_segment_size splits each cell's graph into id-ordered
    <=N-point sub-segments (the bounded-segment rule as config);
    probes expand to chunk segments via footers; exhaustive ef stays
    provably exact; appends keep the cap."""
    c = create_collection(root, "chunked", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=4,
                          hnsw_config={"m": 4, "ef_construct": 32,
                                       "max_segment_size": 40})
    c.upsert(spark, _points(spark, n=300, seed=3, prefix="c"),
             mode="merge")
    counts = c._partition_footer_counts(c._hnsw_graphs, "segment")
    assert max(counts.values()) <= 40
    assert sum(counts.values()) == 300
    assert any(s >= c._HNSW_SEG_STRIDE for s in counts)  # chunk ids
    qv = [float(x) for x in np.random.RandomState(51).randn(8)]
    exact = [(r.id, r.score) for r in
             c.search(spark, qv, k=5, exact=True).collect()]
    assert [(r.id, r.score) for r in
            c.search(spark, qv, k=5, hnsw_ef=10 ** 6).collect()] == exact
    c.upsert(spark, _points(spark, n=15, seed=61, prefix="cn"),
             mode="merge")
    counts = c._partition_footer_counts(c._hnsw_graphs, "segment")
    assert max(counts.values()) <= 40 and sum(counts.values()) == 315
    with pytest.raises(ValueError, match="max_segment_size"):
        create_collection(root, "badmss", dim=8, indexing_threshold=1,
                          hnsw_config={"m": 8, "ef_construct": 16,
                                       "max_segment_size": 4})


def test_segmented_lifecycle_oracle(spark, sf_smoke):
    compare(spark, REGISTRY["ingest_hnsw_segmented_search"], sf_smoke,
            "ingest_hnsw_segmented_search")


def test_append_duplicate_id_does_not_break_build(spark, root):
    """Append mode reproduces the reference's duplicate-on-reindex
    semantics: a repeated id must not fail the graph build mid-upsert
    (review finding — a strict-ascending check stranded the
    collection with the table written and the graphs stale)."""
    c = create_collection(root, "dup", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=2,
                          hnsw_config={"m": 4, "ef_construct": 16})
    c.upsert(spark, _points(spark, n=60, seed=8, prefix="d"),
             mode="append")
    # re-append the same batch: every id now exists twice
    c.upsert(spark, _points(spark, n=60, seed=8, prefix="d"),
             mode="append")
    qv = [float(x) for x in np.random.RandomState(71).randn(8)]
    rows = c.search(spark, qv, k=200, hnsw_ef=10 ** 6).collect()
    assert len(rows) == 120  # both copies searchable through graphs


def test_payload_ops_keep_graphs_without_rebuild(spark, root):
    """set_payload touches no vector, so the graph sidecar is reused
    byte-for-byte instead of rebuilt (review finding: a metadata edit
    was the most expensive operation on the collection)."""
    c = create_collection(root, "pay", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=2,
                          hnsw_config={"m": 4, "ef_construct": 16})
    c.upsert(spark, _points(spark, n=80, seed=10, prefix="y"),
             mode="merge")

    def mtimes():
        out = {}
        for r, _, fs in os.walk(c._hnsw_graphs):
            for f in fs:
                p = os.path.join(r, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    before = mtimes()
    c.set_payload(spark, {"tag": "x"}, F.col("id") == "y0001")
    assert mtimes() == before  # untouched sidecar
    # and the graphs still serve the (unchanged) point set exactly
    qv = [float(x) for x in np.random.RandomState(72).randn(8)]
    exact = [(r.id, r.score) for r in
             c.search(spark, qv, k=5, exact=True).collect()]
    assert [(r.id, r.score) for r in
            c.search(spark, qv, k=5, hnsw_ef=10 ** 6).collect()] == exact
    # a vector-touching op still rebuilds
    c.delete(spark, F.col("id") == "y0002")
    assert mtimes() != before


# --- hnsw_config × quantization (round 10): graphs over the codes
# --- sidecar, decoded walk, exact full-width rescore ------------------


@pytest.fixture(scope="module")
def qcoll(spark, root):
    c = create_collection(root, "hq", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=4,
                          quantization="sq",
                          hnsw_config={"m": 4, "ef_construct": 32})
    c.upsert(spark, _points(spark, seed=21, prefix="q"), mode="merge")
    return c


def test_quantized_graphs_store_codes_not_vectors(spark, qcoll):
    assert qcoll._has_hnsw() and qcoll.meta["codes_layout"] == "cells"
    lay = spark.read.parquet(qcoll._hnsw_graphs)
    assert "codes" in lay.columns and "embedding" not in lay.columns
    # one graph row per point, links present
    assert lay.count() == 300


def test_quantized_graph_search_rescores_exact(spark, qcoll):
    """The walk is approximate (quantized geometry) but every returned
    score must be the EXACT full-width cosine — the rescore contract."""
    qv = [float(x) for x in np.random.RandomState(5).randn(8)]
    got = qcoll.search(spark, qv, k=5, hnsw_ef=64).collect()
    exact = {r.id: r.score for r in
             qcoll.search(spark, qv, k=5, exact=True).collect()}
    assert len(got) == 5
    for r in got:
        if r.id in exact:
            assert r.score == exact[r.id]


def test_quantized_graph_exhaustive_beam_equals_exact(spark, qcoll):
    """ef >= n degenerates the walk to covering every node, so the
    full-width rescore must equal the exact scan bit-for-bit even
    though the walk ran in the decoded-code space."""
    qv = [float(x) for x in np.random.RandomState(6).randn(8)]
    graph = [(r.id, r.score) for r in
             qcoll.search(spark, qv, k=5, hnsw_ef=10 ** 6).collect()]
    exact = [(r.id, r.score) for r in
             qcoll.search(spark, qv, k=5, exact=True).collect()]
    assert graph == exact


def test_quantized_graph_batch_equals_single(spark, qcoll):
    qvs = [[float(x) for x in np.random.RandomState(s).randn(8)]
           for s in (7, 8)]
    singles = [[(r.id, r.score) for r in
                qcoll.search(spark, v, k=3, hnsw_ef=32).collect()]
               for v in qvs]
    batch = qcoll.search_batch(spark, qvs, k=3, hnsw_ef=32).collect()
    for i, want in enumerate(singles):
        assert [(r.id, r.score) for r in batch
                if r.query_idx == i] == want


def test_quantized_graph_ignore_routes_index_only(spark, qcoll):
    """quantization_params ignore=True asks for original-vector search
    — the code walk's geometry is the quantized one, so the engine
    must route index-only (exact within probed cells) instead."""
    qv = [float(x) for x in np.random.RandomState(9).randn(8)]
    ig = [(r.id, r.score) for r in
          qcoll.search(spark, qv, k=5,
                       quantization_params={"ignore": True}).collect()]
    exact = [(r.id, r.score) for r in
             qcoll.search(spark, qv, k=5, exact=True).collect()]
    assert ig == exact  # default probe is exhaustive at 4 cells


def test_quantized_graph_noscore_still_codes_ranking(spark, qcoll):
    """rescore=False bypasses the graph branch (it returns QUANTIZED
    ranking scores from the codes sidecar, no rescore stage)."""
    qv = [float(x) for x in np.random.RandomState(10).randn(8)]
    rows = qcoll.search(spark, qv, k=5,
                        quantization_params={"rescore": False}).collect()
    assert len(rows) == 5
    exact = {r.id: r.score for r in
             qcoll.search(spark, qv, k=200, exact=True).collect()}
    # quantized scores differ from exact cosine (they're dequantize-dot
    # values) — equality here would mean a silent rescore
    assert any(abs(r.score - exact[r.id]) > 1e-9 for r in rows)


def test_quantized_graph_append_maintains(spark, qcoll):
    before = spark.read.parquet(qcoll._hnsw_graphs).count()
    qcoll.upsert(spark, _points(spark, n=40, seed=22, prefix="r"),
                 mode="merge")
    after = spark.read.parquet(qcoll._hnsw_graphs).count()
    assert after == before + 40
    qv = [float(x) for x in np.random.RandomState(11).randn(8)]
    graph = [(r.id, r.score) for r in
             qcoll.search(spark, qv, k=5, hnsw_ef=10 ** 6).collect()]
    exact = [(r.id, r.score) for r in
             qcoll.search(spark, qv, k=5, exact=True).collect()]
    assert graph == exact


def test_quantizer_retrain_rebuilds_graphs(spark, root):
    c = create_collection(root, "hqr", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=2,
                          quantization="sq",
                          hnsw_config={"m": 4, "ef_construct": 16})
    c.upsert(spark, _points(spark, n=80, seed=23, prefix="t"),
             mode="merge")
    assert "codes" in spark.read.parquet(c._hnsw_graphs).columns
    # switch quantizer: graphs must rebuild over the NEW codes
    c.update_collection(spark, quantization="pq")
    assert c._has_hnsw()
    cols = spark.read.parquet(c._hnsw_graphs).columns
    assert "code0" in cols and "codes" not in cols
    # and back to None: graphs rebuild over full vectors
    c.update_collection(spark, quantization=None)
    assert "embedding" in spark.read.parquet(c._hnsw_graphs).columns
    qv = [float(x) for x in np.random.RandomState(12).randn(8)]
    graph = [(r.id, r.score) for r in
             c.search(spark, qv, k=5, hnsw_ef=10 ** 6).collect()]
    exact = [(r.id, r.score) for r in
             c.search(spark, qv, k=5, exact=True).collect()]
    assert graph == exact


def test_quantized_recall_target_routing(spark, qcoll):
    """recall_target on an sq+hnsw collection routes onto the
    two-draw-measured SQ code-graph grid (_HNSW_SQ_COMPOSED); above
    its ceilings the composed codes-scan tier takes over; pq stays
    off the (unmeasured) walk."""
    from image_indexing_and_retrival_with_qdrant_spark.routing import (
        route_for_recall,
    )

    r = route_for_recall(0.9, indexed=True, quantization="sq",
                         k_centroids=4, hnsw=True)
    assert r["hnsw_ef"] is not None and r["oversampling"] is None
    r = route_for_recall(0.97, indexed=True, quantization="sq",
                         k_centroids=4, hnsw=True)
    assert r["hnsw_ef"] is None and r["oversampling"] is not None
    r = route_for_recall(0.9, indexed=True, quantization="pq",
                         k_centroids=4, hnsw=True)
    assert r["hnsw_ef"] is None
    qv = [float(x) for x in np.random.RandomState(13).randn(8)]
    rows = qcoll.search(spark, qv, k=5, recall_target=0.9).collect()
    assert len(rows) == 5


def test_quantized_lifecycle_oracle(spark, sf_smoke):
    compare(spark, REGISTRY["ingest_hnsw_quantized_search"], sf_smoke,
            name="ingest_hnsw_quantized_search")


# --- incremental graph insert on append (round 10) --------------------


def _sidecar_rows(spark, c):
    rows = spark.read.parquet(c._hnsw_graphs).collect()
    return sorted(
        (r.segment, r.pos, r.vec_id, r.level,
         tuple(tuple(nb) for nb in r.links)) for r in rows)


def test_append_inserts_bit_identical_to_rebuild(spark, root):
    """Ascending-id appends INSERT into the live cell graphs
    (hnsw_layout_insert resume) — and the resulting sidecar must be
    BIT-IDENTICAL to rebuilding every graph from scratch over the
    same cells (the resume contract; the lifecycle oracle's twin
    builds from scratch, so anything else would hash-mismatch)."""
    c = create_collection(root, "inc", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=2,
                          hnsw_config={"m": 4, "ef_construct": 16,
                                       "max_segment_size": 40})
    c.upsert(spark, _points(spark, n=150, seed=31, prefix="a"),
             mode="merge")
    # full chunks' directories must not be rewritten by the append
    before = {}
    for d in os.listdir(c._hnsw_graphs):
        if d.startswith("segment="):
            p = os.path.join(c._hnsw_graphs, d)
            before[d] = max(os.stat(os.path.join(p, f)).st_mtime_ns
                            for f in os.listdir(p))
    # ids "b..." sort strictly above "a..." → pure insert in each cell
    c.upsert(spark, _points(spark, n=60, seed=32, prefix="b"),
             mode="merge")
    inserted = _sidecar_rows(spark, c)
    untouched = [d for d in before
                 if os.path.isdir(os.path.join(c._hnsw_graphs, d))]
    kept = 0
    for d in untouched:
        p = os.path.join(c._hnsw_graphs, d)
        mt = max(os.stat(os.path.join(p, f)).st_mtime_ns
                 for f in os.listdir(p))
        kept += int(mt == before[d])
    assert kept > 0, "append rewrote every chunk (no insert happened)"
    # force a from-scratch rebuild over the SAME cells
    c.meta.pop("hnsw_built", None)
    c._refresh_hnsw(spark, None, "id", "embedding", rewrote=True)
    assert _sidecar_rows(spark, c) == inserted


def test_append_interleaved_ids_falls_back_to_rebuild(spark, root):
    """A batch whose ids interleave with a cell's existing ids can't
    resume (insertion order is id-ascending over the union) — the
    cell rebuilds from scratch, and the result still matches."""
    c = create_collection(root, "inc2", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=2,
                          hnsw_config={"m": 4, "ef_construct": 16})
    # first batch: SPARSE ids (every other)
    import numpy as np
    rng = np.random.RandomState(33)
    a = spark.createDataFrame(
        [(f"x{2 * i:04d}", [float(v) for v in rng.randn(8)])
         for i in range(80)], "id string, embedding array<double>")
    c.upsert(spark, a, mode="merge")
    b = spark.createDataFrame(
        [(f"x{2 * i + 1:04d}", [float(v) for v in rng.randn(8)])
         for i in range(40)], "id string, embedding array<double>")
    c.upsert(spark, b, mode="merge")
    after = _sidecar_rows(spark, c)
    c.meta.pop("hnsw_built", None)
    c._refresh_hnsw(spark, None, "id", "embedding", rewrote=True)
    assert _sidecar_rows(spark, c) == after
    # and the graphs serve the union exactly at exhaustive ef
    qv = [float(v) for v in rng.randn(8)]
    graph = [(r.id, r.score) for r in
             c.search(spark, qv, k=5, hnsw_ef=10 ** 6).collect()]
    exact = [(r.id, r.score) for r in
             c.search(spark, qv, k=5, exact=True).collect()]
    assert graph == exact


def test_quantized_append_insert_parity(spark, root):
    """The insert path over CODE graphs (hnsw_config × quantization):
    same bit-parity contract, codes encoded from the batch with the
    frozen params (`quantizer(meta).encode`, shared with the sidecar
    writer)."""
    c = create_collection(root, "incq", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=2,
                          quantization="sq",
                          hnsw_config={"m": 4, "ef_construct": 16,
                                       "max_segment_size": 50})
    c.upsert(spark, _points(spark, n=120, seed=34, prefix="a"),
             mode="merge")
    c.upsert(spark, _points(spark, n=40, seed=35, prefix="b"),
             mode="merge")
    inserted = _sidecar_rows(spark, c)
    c.meta.pop("hnsw_built", None)
    c._refresh_hnsw(spark, None, "id", "embedding", rewrote=True)
    assert _sidecar_rows(spark, c) == inserted


@pytest.mark.parametrize("mss", [None, 20])
def test_mixed_append_one_build_matches_rebuild(spark, root, mss,
                                                monkeypatch):
    """One append that INSERTS into cell A (its new ids sort above A's
    stored ids) and REBUILDS cell B (ids interleave there only) runs
    the graph builder once, resuming only A's partial last segment:
    A's full chunks keep their files, and the sidecar equals a
    from-scratch rebuild."""
    from image_indexing_and_retrival_with_qdrant_spark.operators import (
        hnsw as hnsw_ops,
    )

    rng = np.random.RandomState(43)

    def pts(ids, center):
        return [(i, [float(center + x) for x in rng.randn(8)])
                for i in ids]

    schema = "id string, embedding array<double>"
    hcfg = {"m": 4, "ef_construct": 16}
    if mss:
        hcfg["max_segment_size"] = mss
    c = create_collection(root, f"mixed{mss or 0}", dim=8,
                          normalize=False, indexing_threshold=1,
                          k_centroids=2, hnsw_config=hcfg)
    c.upsert(spark, spark.createDataFrame(
        pts([f"a{i:03d}" for i in range(50)], 5.0)
        + pts([f"b{2 * i:03d}" for i in range(50)], -5.0), schema),
        mode="merge")
    ivf = {r.id: r.centroid_id for r in
           spark.read.parquet(c._ivf_points).collect()}
    cell_a, cell_b = ivf["a000"], ivf["b000"]
    assert cell_a != cell_b
    stride = c._HNSW_SEG_STRIDE
    # A's 50 stored points fill chunks 0..last, the last one partially
    # (max_segment_size takes its 20k default when unset)
    last = 49 // c.meta["hnsw"]["max_segment_size"]

    def mtimes():
        out = {}
        for d in os.listdir(c._hnsw_graphs):
            if d.startswith("segment="):
                p = os.path.join(c._hnsw_graphs, d)
                out[int(d.split("=")[1])] = max(
                    os.stat(os.path.join(p, f)).st_mtime_ns
                    for f in os.listdir(p))
        return out

    before = mtimes()
    calls = []
    real = hnsw_ops.hnsw_layout

    def spy(df, *a, **kw):
        calls.append(sorted(
            r.segment for r in df.filter(F.col("pos").isNotNull())
            .select("segment").distinct().collect()))
        return real(df, *a, **kw)

    monkeypatch.setattr(hnsw_ops, "hnsw_layout", spy)
    c.upsert(spark, spark.createDataFrame(
        pts([f"c{i:03d}" for i in range(15)], 5.0)
        + pts([f"b{2 * i + 1:03d}" for i in range(15)], -5.0), schema),
        mode="merge")
    monkeypatch.undo()
    # one build; its only prefix is A's partial last segment
    assert calls == [[cell_a * stride + last]]
    after = mtimes()
    full_a = [s for s in before
              if s // stride == cell_a and s % stride < last]
    assert len(full_a) == last
    assert all(after[s] == before[s] for s in full_a)
    assert all(after[s] != before[s] for s in before
               if s // stride == cell_b)
    inserted = _sidecar_rows(spark, c)
    assert len(inserted) == 130
    c.meta.pop("hnsw_built", None)
    c._refresh_hnsw(spark, None, "id", "embedding", rewrote=True)
    assert _sidecar_rows(spark, c) == inserted


def test_pq_opq_bq_graph_lifecycle_oracles(spark, sf_smoke):
    """The full quantizer × graph matrix stays hash-checked in CI —
    codebook-reconstruction (pq), rotated-space (opq), and sign-row
    (bq) walks, each against its factory oracle."""
    for name in ("ingest_hnsw_pq_search", "ingest_hnsw_opq_search",
                 "ingest_hnsw_bq_search"):
        compare(spark, REGISTRY[name], sf_smoke, name=name)


def test_multivector_append_insert_parity(spark, root):
    """The insert path on a MULTIVECTOR graph collection (pooled
    routing vectors): ascending-id appends must leave a sidecar
    bit-identical to the from-scratch rebuild."""
    import numpy as np
    rng = np.random.RandomState(41)

    def mv_points(n, prefix):
        return spark.createDataFrame(
            [(f"{prefix}{i:04d}",
              [[float(x) for x in rng.randn(8)] for _ in range(3)])
             for i in range(n)],
            "id string, embedding array<array<double>>")

    c = create_collection(root, "mvi", dim=8, multivector=True,
                          indexing_threshold=1, k_centroids=2,
                          hnsw_config={"m": 4, "ef_construct": 16})
    c.upsert(spark, mv_points(60, "a"), mode="merge")
    c.upsert(spark, mv_points(20, "b"), mode="merge")
    inserted = _sidecar_rows(spark, c)
    c.meta.pop("hnsw_built", None)
    c._refresh_hnsw(spark, None, "id", "embedding", rewrote=True)
    assert _sidecar_rows(spark, c) == inserted


def test_update_hnsw_config_on_quantized_collection(spark, root):
    """update_collection(hnsw_config=...) on an already-quantized
    collection builds the graphs over the EXISTING codes sidecar."""
    c = create_collection(root, "uq", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=2,
                          quantization="sq")
    c.upsert(spark, _points(spark, n=80, seed=51, prefix="u"),
             mode="merge")
    assert not c._has_hnsw()
    c.update_collection(spark, hnsw_config={"m": 4,
                                            "ef_construct": 16})
    assert c._has_hnsw()
    cols = spark.read.parquet(c._hnsw_graphs).columns
    assert "codes" in cols and "embedding" not in cols
    import numpy as np
    qv = [float(x) for x in np.random.RandomState(52).randn(8)]
    graph = [(r.id, r.score) for r in
             c.search(spark, qv, k=5, hnsw_ef=10 ** 6).collect()]
    exact = [(r.id, r.score) for r in
             c.search(spark, qv, k=5, exact=True).collect()]
    assert graph == exact


def test_batch_recall_target_sq_graph(spark, qcoll):
    """search_batch under a recall_target on an sq+hnsw collection
    routes onto the SQ code-graph grid and stays batch ≡ single."""
    qvs = [[float(x) for x in np.random.RandomState(s).randn(8)]
           for s in (61, 62)]
    singles = [[(r.id, r.score) for r in
                qcoll.search(spark, v, k=3,
                             recall_target=0.9).collect()]
               for v in qvs]
    batch = qcoll.search_batch(spark, qvs, k=3,
                               recall_target=0.9).collect()
    for i, want in enumerate(singles):
        assert [(r.id, r.score) for r in batch
                if r.query_idx == i] == want


# --- filter-aware graph routing (round 11) ---------------------------------


@pytest.fixture(scope="module")
def fcoll(spark, root):
    """hnsw collection with a payload column for filter routing:
    grp cycles 0..3, so grp != 0 matches 75% (non-selective) and
    grp == 0 AND a tight id range matches ~6% (selective)."""
    rng = np.random.RandomState(17)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)], int(i % 4))
         for i in range(400)],
        "id bigint, embedding array<double>, grp int")
    c = create_collection(root, "flt", dim=8, normalize=False,
                          indexing_threshold=1, k_centroids=4,
                          hnsw_config={"m": 4, "ef_construct": 32})
    c.upsert(spark, df, mode="merge")
    return c


def _spy_graph_calls(monkeypatch):
    import image_indexing_and_retrival_with_qdrant_spark.operators.hnsw as H

    calls = {"n": 0, "ef": None}
    orig = H.hnsw_layout_search

    def spy(layout, qvec, ef, **kw):
        calls["n"] += 1
        calls["ef"] = ef
        return orig(layout, qvec, ef, **kw)

    monkeypatch.setattr(H, "hnsw_layout_search", spy)
    return calls


def test_filtered_nonselective_routes_graph(spark, fcoll, monkeypatch):
    """A 75%-match filter keeps the graph walk, with the beam widened
    to ceil(ef*n/m), and every result satisfies the filter."""
    calls = _spy_graph_calls(monkeypatch)
    rng = np.random.RandomState(18)
    qv = [float(x) for x in rng.randn(8)]
    rows = fcoll.search(spark, qv, k=5, hnsw_ef=8,
                        query_filter=F.col("grp") != 0).collect()
    assert calls["n"] == 1
    assert calls["ef"] == -(-8 * 400 // 300)  # ceil(8/0.75) = 11
    assert len(rows) == 5
    assert all(r["grp"] != 0 for r in rows)


def test_filtered_selective_routes_index_only(spark, fcoll,
                                              monkeypatch):
    """A ~6%-match filter skips the graph (below the crossover) and
    scores exactly within probed cells — results equal the exact scan
    under the same filter."""
    calls = _spy_graph_calls(monkeypatch)
    rng = np.random.RandomState(19)
    qv = [float(x) for x in rng.randn(8)]
    pred = (F.col("grp") == 0) & (F.col("id") < 100)
    rows = fcoll.search(spark, qv, k=5, hnsw_ef=8,
                        query_filter=pred).collect()
    assert calls["n"] == 0
    exact = fcoll.search(spark, qv, k=5, exact=True,
                         query_filter=pred).collect()
    assert [(r.id, r.score) for r in rows] == \
        [(r.id, r.score) for r in exact]


def test_filtered_graph_vs_exact_recall(spark, fcoll):
    """The widened post-filtered beam recovers the exact filtered
    top-k (recall row for the routed filtered path at this shape)."""
    hits = 0
    for s in (20, 21, 22, 23, 24):
        rng = np.random.RandomState(s)
        qv = [float(x) for x in rng.randn(8)]
        g = fcoll.search(spark, qv, k=5, hnsw_ef=16,
                         query_filter=F.col("grp") != 0).collect()
        e = fcoll.search(spark, qv, k=5, exact=True,
                         query_filter=F.col("grp") != 0).collect()
        hits += len({r.id for r in g} & {r.id for r in e})
    assert hits >= 23  # >= 0.92 recall@5 over 5 queries


def test_filtered_zero_match_routes_index_only(spark, fcoll,
                                               monkeypatch):
    calls = _spy_graph_calls(monkeypatch)
    rows = fcoll.search(spark, [0.0] * 8, k=5, hnsw_ef=8,
                        query_filter=F.col("grp") == 99).collect()
    assert calls["n"] == 0 and rows == []


def test_ingest_hnsw_filtered_search_oracle(spark):
    compare(spark, REGISTRY["ingest_hnsw_filtered_search"],
            "/root/testdata/sf0.001", "ingest_hnsw_filtered_search")


def test_filtered_multivector_routes_graph(spark, root, monkeypatch):
    """The multivector (MaxSim) graph branch takes the same
    selectivity routing: non-selective filter walks the pooled-vector
    graphs with a widened beam, then post-filters before the exact
    MaxSim rescore."""
    rng = np.random.RandomState(23)
    df = spark.createDataFrame(
        [(i, [[float(x) for x in rng.randn(8)] for _ in range(3)],
          int(i % 4))
         for i in range(200)],
        "id bigint, embedding array<array<double>>, grp int")
    c = create_collection(root, "fmv", dim=8, multivector=True,
                          indexing_threshold=1, k_centroids=4,
                          hnsw_config={"m": 4, "ef_construct": 32})
    c.upsert(spark, df, mode="merge")
    assert c._has_hnsw()
    calls = _spy_graph_calls(monkeypatch)
    qv = [[float(x) for x in np.random.RandomState(24).randn(8)]
          for _ in range(2)]
    rows = c.search(spark, qv, k=5, hnsw_ef=8,
                    query_filter=F.col("grp") != 0).collect()
    assert calls["n"] == 1
    assert calls["ef"] == -(-8 * 200 // 150)
    assert len(rows) == 5 and all(r["grp"] != 0 for r in rows)
    # selective: graph skipped, exact-filtered parity
    calls["n"] = 0
    pred = (F.col("grp") == 0) & (F.col("id") < 40)
    got = c.search(spark, qv, k=5, hnsw_ef=8,
                   query_filter=pred).collect()
    assert calls["n"] == 0
    exact = c.search(spark, qv, k=5, exact=True,
                     query_filter=pred).collect()
    assert [(r.id, r.score) for r in got] == \
        [(r.id, r.score) for r in exact]
