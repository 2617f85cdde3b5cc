"""PCA as a per-space collection transform (round 9):
``create_collection(transform="pca", pca_dim=r)`` — deferred train at
``indexing_threshold`` (frozen components, the quantizer discipline),
a cell-partitioned projected sidecar maintained by every point op, and
the routed compressed-space read path with full-width exact rescore.
The engine-native analog of the reference's server-side index build
past ``indexing_threshold``
(``incremental_indexing_colpali_with_qdrant.py:132``)."""

import os

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection
from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY

from .oracle import compare


def _pts(spark, n=60, d=6):
    rows = [(i, [float(((i * 13 + j * 7) % 23) - 11) / 3.0
                 for j in range(d)]) for i in range(n)]
    return spark.createDataFrame(rows, "id int, embedding array<double>")


_QV = [1.0, 0.5, -0.5, 1.0, 0.25, 0.5]


def test_create_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="transform must be 'pca'"):
        create_collection(str(tmp_path), "a", dim=6, transform="opq")
    with pytest.raises(ValueError, match="pca_dim"):
        create_collection(str(tmp_path), "b", dim=6, transform="pca")
    with pytest.raises(ValueError, match="pca_dim"):
        create_collection(str(tmp_path), "c", dim=6, transform="pca",
                          pca_dim=6)
    with pytest.raises(ValueError, match="needs transform='pca'"):
        create_collection(str(tmp_path), "d", dim=6, pca_dim=3)
    with pytest.raises(ValueError, match="exclusive"):
        create_collection(str(tmp_path), "e", dim=6, transform="pca",
                          pca_dim=3, quantization="sq")
    with pytest.raises(ValueError, match="dense"):
        create_collection(str(tmp_path), "f", dim=6, multivector=True,
                          transform="pca", pca_dim=3)
    with pytest.raises(ValueError, match="need transform='pca'"):
        create_collection(str(tmp_path), "g", vectors={
            "v": {"dim": 6, "pca_dim": 3}})


def test_train_at_threshold_and_freeze(spark, tmp_path):
    """Below threshold: untrained, searches are the exact scan. The
    crossing upsert trains ONCE (mu/W/centroids freeze in meta);
    later appends reuse the frozen components and append only the
    incoming batch to the sidecar."""
    c = create_collection(str(tmp_path), "pc", dim=6, normalize=False,
                          transform="pca", pca_dim=3,
                          indexing_threshold=40, k_centroids=4)
    pts = _pts(spark)
    c.upsert(spark, pts.filter(F.col("id") < 20))
    assert "pca_mu" not in c.meta
    assert not os.path.exists(c._pca_path_for(None))
    below = c.search(spark, _QV, k=3).collect()  # exact path, no sidecar
    assert len(below) == 3
    c.upsert(spark, pts.filter((F.col("id") >= 20) & (F.col("id") < 45)))
    assert "pca_mu" in c.meta and len(c.meta["pca_w"]) == 3
    assert len(c.meta["pca_centroids"]) == 4
    mu1 = list(c.meta["pca_mu"])
    side1 = spark.read.parquet(c._pca_path_for(None))
    assert side1.count() == 45
    assert set(side1.columns) >= {"id", "pvec", "pcell"}
    c.upsert(spark, pts.filter(F.col("id") >= 45))
    assert list(c.meta["pca_mu"]) == mu1  # frozen, no retrain
    assert spark.read.parquet(c._pca_path_for(None)).count() == 60


def test_full_probe_full_depth_equals_exact(spark, tmp_path):
    """With every cell probed (default nprobe) and the shortlist as
    deep as the corpus, the routed path returns exactly the exact
    scan — the approximation is only the m-truncation/nprobe."""
    c = create_collection(str(tmp_path), "pc", dim=6, normalize=False,
                          transform="pca", pca_dim=3,
                          indexing_threshold=1, k_centroids=4)
    c.upsert(spark, _pts(spark))
    exact = [(r.id, r.score) for r in
             c.search(spark, _QV, k=5, exact=True).collect()]
    routed = [(r.id, r.score) for r in
              c.search(spark, _QV, k=5, oversampling=12.0).collect()]
    assert routed == exact
    # batch twin, same full-depth equivalence per query
    q2 = [0.5, 1.0, 0.0, -1.0, 0.5, 0.25]
    got = c.search_batch(spark, [_QV, q2], k=3,
                         oversampling=20.0).collect()
    for qi, qv in enumerate([_QV, q2]):
        want = [(r.id, r.score) for r in
                c.search(spark, qv, k=3, exact=True).collect()]
        branch = [(r.id, r.score) for r in
                  sorted((x for x in got if x.query_idx == qi),
                         key=lambda x: x.rank)]
        assert branch == want


def test_nprobe_narrows_and_filter_falls_back(spark, tmp_path):
    c = create_collection(str(tmp_path), "pc", dim=6, normalize=False,
                          transform="pca", pca_dim=3,
                          indexing_threshold=1, k_centroids=4)
    c.upsert(spark, _pts(spark))
    narrowed = c.search(spark, _QV, k=5, nprobe=1).collect()
    assert 0 < len(narrowed) <= 5
    # a payload filter routes filter-correct (exact scan) — results
    # obey the filter and match the exact filtered search
    got = [(r.id, r.score) for r in c.search(
        spark, _QV, k=5, query_filter=F.col("id") % 2 == 0).collect()]
    want = [(r.id, r.score) for r in c.search(
        spark, _QV, k=5, exact=True,
        query_filter=F.col("id") % 2 == 0).collect()]
    assert got == want and all(i % 2 == 0 for i, _ in got)


def test_point_ops_maintain_sidecar(spark, tmp_path):
    """delete / merge-upsert / compact refresh the projected layout —
    the PCA row of the layout table re-derives on every write."""
    c = create_collection(str(tmp_path), "pc", dim=6, normalize=False,
                          transform="pca", pca_dim=3,
                          indexing_threshold=1, k_centroids=4)
    c.upsert(spark, _pts(spark))
    c.delete(spark, F.col("id") < 10)
    side = spark.read.parquet(c._pca_path_for(None))
    assert side.count() == c.count(spark) == 50
    assert side.filter(F.col("id") < 10).count() == 0
    assert all(r.id >= 10 for r in c.search(spark, _QV, k=5).collect())
    # merge replaces the conflicting row AND its projection
    c.upsert(spark, spark.createDataFrame(
        [(15, [9.0, 9.0, 9.0, 9.0, 9.0, 9.0])],
        "id int, embedding array<double>"), mode="merge")
    side = spark.read.parquet(c._pca_path_for(None))
    assert side.count() == c.count(spark) == 50
    assert side.filter(F.col("id") == 15).count() == 1
    # the updated vector is now the best match for itself
    hit = c.search(spark, [9.0] * 6, k=1).collect()[0]
    assert hit.id == 15
    n_files = c.compact(spark)
    assert n_files >= 1
    assert spark.read.parquet(c._pca_path_for(None)).count() == 50
    assert c.search(spark, [9.0] * 6, k=1).collect()[0].id == 15


def test_named_space_transform(spark, tmp_path):
    """Per-space form: vectors={name: {"transform": "pca", ...}} —
    trains at first write, its own `.pca-<name>` sidecar, sibling
    spaces untouched."""
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(6)],
             [float(i % 5), float((i * 3) % 7)]) for i in range(40)]
    pts = spark.createDataFrame(
        rows, "id int, big array<double>, small array<double>")
    c = create_collection(str(tmp_path), "nv", vectors={
        "big": {"dim": 6, "metric": "cosine", "normalize": False,
                "transform": "pca", "pca_dim": 2, "k_centroids": 2},
        "small": {"dim": 2, "metric": "dot", "normalize": False},
    })
    c.upsert(spark, pts)
    assert "pca_mu" in c.meta["vectors"]["big"]
    assert os.path.isdir(c._pca_path_for("big"))
    assert not os.path.exists(c._pca_path_for("small"))
    exact = [(r.id, r.score) for r in
             c.search(spark, _QV, k=5, using="big", exact=True).collect()]
    routed = [(r.id, r.score) for r in
              c.search(spark, _QV, k=5, using="big",
                       oversampling=8.0).collect()]
    assert routed == exact
    # the untransformed sibling space searches normally
    assert len(c.search(spark, [1.0, 0.5], k=3,
                        using="small").collect()) == 3


def test_normalized_space_routes(spark, tmp_path):
    """normalize-at-write cosine space: the sidecar projects the
    STORED (unit) vectors; compressed EUCLID is monotone with cosine
    there, so full-depth routing equals the exact scan."""
    c = create_collection(str(tmp_path), "pn", dim=6, normalize=True,
                          transform="pca", pca_dim=3,
                          indexing_threshold=1, k_centroids=4)
    c.upsert(spark, _pts(spark))
    exact = [(r.id, r.score) for r in
             c.search(spark, _QV, k=5, exact=True).collect()]
    routed = [(r.id, r.score) for r in
              c.search(spark, _QV, k=5, oversampling=12.0).collect()]
    assert routed == exact


def test_registry_oracle(spark, sf_smoke):
    compare(spark, REGISTRY["ingest_pca_space_search"], sf_smoke,
            "ingest_pca_space_search")


# --- round 9: pca_drift / rebuild_transform (index_drift's twin for
# --- the pcell sidecar)


def test_pca_drift_meter_and_rebuild_transform(spark, tmp_path):
    """The crossing build records a pcell balance baseline; a
    distribution-shifted append (projected/assigned with the FROZEN
    components) grows the hot compressed cell past the growth cap —
    pca_drift() flags rebuild, info() surfaces it (status yellow),
    and rebuild_transform() retrains on the current prefix, resets
    the baseline, and keeps search exact-consistent."""
    c = create_collection(str(tmp_path), "pd", dim=6, normalize=False,
                          transform="pca", pca_dim=3,
                          indexing_threshold=1, k_centroids=4)
    c.upsert(spark, _pts(spark))
    d0 = c.pca_drift()
    assert d0 is not None and d0["baseline_balance_ratio"] is not None
    assert abs(d0["balance_growth"] - 1.0) < 0.01
    assert d0["action"] is None

    # 3x the corpus piled on one direction: the frozen projection
    # funnels it into one compressed cell
    const = F.expr("array(3.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D)")
    skew = _pts(spark).withColumn(
        "id", F.col("id") + 1000).withColumn("embedding", const)
    for off in (0, 100, 200):
        c.upsert(spark, skew.withColumn("id", F.col("id") + off))
    d1 = c.pca_drift()
    assert d1["balance_growth"] > d1["growth_cap"], d1
    assert d1["rebuild_recommended"]
    info = c.info(spark)
    assert info["pca_drift"]["rebuild_recommended"]
    assert info["status"] == "yellow"

    d2 = c.rebuild_transform(spark)
    assert abs(d2["balance_growth"] - 1.0) < 0.01
    assert not d2["rebuild_recommended"]
    # the rebuilt read path still agrees with the exact scan at
    # exhaustive probe depth
    qv = [1.0, 0.5, -0.5, 1.0, 0.25, 0.5]
    routed = [(r.id, r.score) for r in
              c.search(spark, qv, k=5, oversampling=16.0).collect()]
    exact = [(r.id, r.score) for r in
             c.search(spark, qv, k=5, exact=True).collect()]
    assert routed == exact


def test_pca_drift_none_without_transform(spark, tmp_path):
    c = create_collection(str(tmp_path), "nd", dim=6, normalize=False)
    c.upsert(spark, _pts(spark))
    assert c.pca_drift() is None
    with pytest.raises(ValueError, match="no PCA transform"):
        c.rebuild_transform(spark)


def test_drift_auto_rebuilds_transform(spark, tmp_path):
    """drift_auto='rebuild' on a transform collection: the shifted
    append's own post-write hook consumes the pca_drift verdict via
    rebuild_transform — no manual call, baseline reset, status
    green."""
    c = create_collection(str(tmp_path), "pa", dim=6, normalize=False,
                          transform="pca", pca_dim=3,
                          indexing_threshold=1, k_centroids=4,
                          drift_auto="rebuild")
    c.upsert(spark, _pts(spark))
    mu0 = list(c.meta["pca_mu"])
    const = F.expr("array(3.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D)")
    skew = _pts(spark).withColumn(
        "id", F.col("id") + 1000).withColumn("embedding", const)
    for off in (0, 100, 200):
        c.upsert(spark, skew.withColumn("id", F.col("id") + off))
    d = c.pca_drift()
    assert d["action"] is None, d            # consumed in-line
    # the rebuild fires at whichever append breaches the cap; later
    # appends may re-drift a little but stay under the caps
    assert d["balance_growth"] < d["growth_cap"]
    assert list(c.meta["pca_mu"]) != mu0     # components re-trained
    assert c.info(spark)["status"] == "green"


def _files(path):
    return sorted(os.path.relpath(os.path.join(d, f), path)
                  for d, _, fs in os.walk(path) for f in fs)


def test_pca_rewrite_keeps_pending_drift_verdict(spark, tmp_path):
    """The balance baseline is recorded only when cells are trained: a
    delete (a rewrite that re-projects with the frozen cells) must not
    re-record it and so clear a pending rebuild verdict — the IVF
    layout keeps its build baseline the same way."""
    c = create_collection(str(tmp_path), "pk", dim=6, normalize=False,
                          transform="pca", pca_dim=3,
                          indexing_threshold=1, k_centroids=4)
    c.upsert(spark, _pts(spark))
    const = F.expr("array(3.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D)")
    skew = _pts(spark).withColumn(
        "id", F.col("id") + 1000).withColumn("embedding", const)
    for off in (0, 100, 200):
        c.upsert(spark, skew.withColumn("id", F.col("id") + off))
    before = c.pca_drift()
    assert before["action"] == "rebuild", before
    c.delete(spark, F.col("id") == 0)
    after = c.pca_drift()
    assert after["baseline_balance_ratio"] == \
        before["baseline_balance_ratio"]
    assert after["action"] == "rebuild", after
    assert c.info(spark)["status"] == "yellow"


def test_rebuild_transform_keeps_other_spaces(spark, tmp_path):
    """rebuild_transform(space=) retrains and rewrites that space's
    cells only: another PCA space's sidecar keeps its files."""
    c = create_collection(str(tmp_path), "two", vectors={
        "a": {"dim": 6, "transform": "pca", "pca_dim": 3,
              "k_centroids": 4},
        "b": {"dim": 6, "transform": "pca", "pca_dim": 2,
              "k_centroids": 3}})
    pts = _pts(spark).withColumnRenamed("embedding", "a")
    c.upsert(spark, pts.withColumn("b", F.col("a")))
    b_files = _files(c._pca_path_for("b"))
    a_files = _files(c._pca_path_for("a"))
    c.rebuild_transform(spark, space="a")
    assert _files(c._pca_path_for("b")) == b_files
    assert _files(c._pca_path_for("a")) != a_files
    assert c.pca_drift("a")["balance_growth"] == 1.0
