"""Auto-index threshold on Collection (indexing_threshold parity,
``incremental_indexing_colpali_with_qdrant.py:132``): deferred IVF
build, incremental assignment on later upserts, partition-pruned
routed search."""

import os

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection
from image_indexing_and_retrival_with_qdrant_spark.plans.explain import formatted_plan
from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY
from image_indexing_and_retrival_with_qdrant_spark.sources.embedder import HashEmbedder
from image_indexing_and_retrival_with_qdrant_spark.sources.ingest import build_points
from image_indexing_and_retrival_with_qdrant_spark.tables import load
from tests.oracle import compare

_E = HashEmbedder(dim=8)


def _points(spark, sf_dir, lo=None, hi=None):
    docs = load(spark, sf_dir, "documents")
    if lo is not None:
        docs = docs.filter(
            (F.crc32(F.col("text")) % 100 >= lo)
            & (F.crc32(F.col("text")) % 100 < hi)
        )
    return build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"])


def test_below_threshold_no_index(spark, sf_smoke, tmp_path):
    coll = create_collection(str(tmp_path), "c", dim=8, normalize=False,
                             indexing_threshold=10**9, k_centroids=4)
    coll.upsert(spark, _points(spark, sf_smoke), mode="merge")
    assert not coll.has_index()
    assert not os.path.exists(coll._ivf_points)


def test_threshold_crossing_builds_then_incremental(spark, sf_smoke, tmp_path):
    """First crossing trains + writes the layout; the next upsert
    appends assigned rows without retraining (centroids unchanged)."""
    coll = create_collection(str(tmp_path), "c", dim=8, normalize=False,
                             indexing_threshold=1, k_centroids=4)
    coll.upsert(spark, _points(spark, sf_smoke, 0, 60), mode="append")
    assert coll.has_index()
    cents_before = coll._centroids(spark)
    n_layout = spark.read.parquet(coll._ivf_points).count()
    assert n_layout == coll.count(spark)

    coll.upsert(spark, _points(spark, sf_smoke, 60, 100), mode="append")
    coll._centroid_cache = None
    assert coll._centroids(spark) == cents_before  # no retrain
    assert spark.read.parquet(coll._ivf_points).count() == coll.count(spark)


def test_routed_search_partition_prunes(spark, sf_smoke, tmp_path):
    """nprobe < k_centroids turns the corpus scan into a partition
    filter over the layout; exhaustive nprobe reproduces the exact
    scan's results."""
    coll = create_collection(str(tmp_path), "c", dim=8, normalize=False,
                             indexing_threshold=1, k_centroids=4)
    coll.upsert(spark, _points(spark, sf_smoke), mode="append")
    qv = _E.embed(
        spark.createDataFrame([("spark query engine",)], "text string"),
        text_col="text", mode="query",
    ).collect()[0].embedding

    exact = [(r.id, r.score) for r in
             coll.search(spark, qv, k=5, exact=True).collect()]
    routed = coll.search(spark, qv, k=5)  # nprobe defaults exhaustive
    assert [(r.id, r.score) for r in routed.collect()] == exact

    pruned = coll.search(spark, qv, k=5, nprobe=1)
    plan = formatted_plan(pruned)
    assert "centroid_id" in plan  # partition filter on the layout
    res = [(r.id, r.score) for r in pruned.collect()]
    assert 0 < len(res) <= 5
    # every routed score must agree with the exact scan's score
    exact_all = {r.id: r.score for r in
                 coll.search(spark, qv, k=None, exact=True).collect()}
    for i, s in res:
        assert exact_all[i] == s


def test_merge_rewrite_refreshes_layout(spark, sf_smoke, tmp_path):
    """A merge that rewrites the table re-assigns the whole layout, so
    superseded rows disappear from the index too."""
    coll = create_collection(str(tmp_path), "c", dim=8, normalize=False,
                             indexing_threshold=1, k_centroids=4)
    pts = _points(spark, sf_smoke)
    coll.upsert(spark, pts, mode="merge")
    n = coll.count(spark)
    coll.upsert(spark, pts, mode="merge")  # all ids conflict → rewrite
    assert coll.count(spark) == n
    assert spark.read.parquet(coll._ivf_points).count() == n


def test_auto_index_oracle(spark, sf_smoke):
    compare(spark, REGISTRY["ingest_auto_index_search"], sf_smoke,
            "ingest_auto_index_search")


def test_multivector_auto_index_routes_maxsim(spark, sf_smoke, tmp_path):
    """Multivector collections index too: the coarse quantizer runs
    over mean-pooled routing vectors, exhaustive probing reproduces
    the exact MaxSim scan, and nprobe=1 prunes to one cell while
    keeping every surfaced score exact."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.maxsim import (
        as_multivector,
    )

    emb = load(spark, sf_smoke, "embeddings")
    pts = emb.select(
        F.col("vec_id").cast("string").alias("id"),
        as_multivector(F.col("embedding"), dim=8, n=8).alias("embedding"),
    )
    coll = create_collection(str(tmp_path), "mv", dim=8, multivector=True,
                             normalize=False, indexing_threshold=1,
                             k_centroids=4)
    coll.upsert(spark, pts, mode="append")
    assert coll.has_index()
    assert spark.read.parquet(coll._ivf_points).count() == coll.count(spark)

    qv = pts.filter(F.col("id") == "3").collect()[0].embedding

    exact = [(r.id, r.score) for r in
             coll.search(spark, qv, k=5, exact=True).collect()]
    routed = [(r.id, r.score) for r in coll.search(spark, qv, k=5).collect()]
    assert routed == exact  # exhaustive probe ≡ exact scan

    pruned = coll.search(spark, qv, k=5, nprobe=1)
    assert "centroid_id" in formatted_plan(pruned)
    res = [(r.id, r.score) for r in pruned.collect()]
    assert 0 < len(res) <= 5
    assert res[0][0] == "3"  # self-match lives in the query's own cell
    exact_all = dict(exact)
    for i, s in res:
        if i in exact_all:
            assert exact_all[i] == s


def test_index_drift_trigger_and_rebuild(spark, sf_smoke, tmp_path):
    """Append-drift policy (SCALE.md §ANN skew): the build records its
    natural balance ratio as the baseline; a distribution-shifted
    append (frozen-centroid assignment) grows the hot cell past the
    growth cap and index_drift()/info() flag rebuild_recommended;
    rebuild_index() re-trains and resets the baseline (growth back
    to ~1.0)."""
    coll = create_collection(str(tmp_path), "c", dim=8, normalize=False,
                             indexing_threshold=1, k_centroids=4)
    base_pts = _points(spark, sf_smoke)
    coll.upsert(spark, base_pts, mode="append")
    d0 = coll.index_drift()
    assert d0 is not None and d0["baseline_balance_ratio"] is not None
    assert abs(d0["balance_growth"] - 1.0) < 0.01
    assert not d0["rebuild_recommended"]

    # shifted append, 2x the corpus piled on one direction: the
    # frozen centroids funnel it into a single cell
    const = F.expr(
        "array(1.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D)")
    skew = (base_pts
            .withColumn("id", F.concat(F.lit("skew-"), F.col("id")))
            .withColumn("embedding", const))
    skew = skew.unionByName(
        skew.withColumn("id", F.concat(F.lit("b-"), F.col("id"))))
    coll.upsert(spark, skew, mode="append")
    d1 = coll.index_drift()
    assert d1["balance_growth"] > d1["growth_cap"], d1
    assert d1["rebuild_recommended"]
    assert coll.info(spark)["index_drift"]["rebuild_recommended"]

    coll.rebuild_index(spark)
    d2 = coll.index_drift()
    assert abs(d2["balance_growth"] - 1.0) < 0.01
    assert not d2["rebuild_recommended"]


def test_split_hot_cells_renumbers_and_rebalances(spark, sf_smoke, tmp_path):
    """Catalog-level cap-and-split: hot cells re-train in place, ids
    renumber dense (the probe addresses centroids by position), the
    corpus stays an exact partition (exhaustive probe == exact scan),
    and the drift baseline resets to the post-split layout."""
    coll = create_collection(str(tmp_path), "c", dim=8, normalize=False,
                             indexing_threshold=1, k_centroids=4)
    base_pts = _points(spark, sf_smoke)
    coll.upsert(spark, base_pts, mode="append")

    # jittered dense blob, 3x the corpus, around one direction —
    # legitimate density, not drift noise (kmeans CAN sub-split it)
    jit = [
        (F.lit(1.0) if i == 0 else F.lit(0.0))
        + 0.05 * ((F.xxhash64(F.col("id"), F.lit(i)) % 2001 - 1000)
                  / F.lit(1000.0))
        for i in range(8)
    ]
    blob = base_pts.withColumn("embedding", F.array(*jit))
    for tag in ("s1-", "s2-", "s3-"):
        coll.upsert(
            spark, blob.withColumn("id", F.concat(F.lit(tag), F.col("id"))),
            mode="append")

    before = coll.index_drift()
    after = coll.split_hot_cells(spark, cap_fraction=0.3)
    assert after["cells"] > before["cells"]
    assert after["max_cell_fraction"] <= before["max_cell_fraction"]
    assert abs(after["balance_growth"] - 1.0) < 0.01  # baseline reset

    # ids must be dense 0..m-1 (probe addresses by position)
    cents = coll._centroids(spark)
    counts = coll._ivf_footer_counts()
    assert sorted(counts) == list(range(len(cents)))
    assert sum(counts.values()) == coll.count(spark)

    # exhaustive probe over the split layout == exact scan
    qv = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    routed = [(r.id, r.score) for r in
              coll.search(spark, qv, k=5).collect()]
    exact = [(r.id, r.score) for r in
             coll.search(spark, qv, k=5, exact=True).collect()]
    assert routed == exact


# --- round 9: drift_auto policy (VERDICT r8 item 4 — index_drift()'s
# --- action-typed verdicts get a consumer on the write path)


def _dense_blob(base_pts):
    """Jittered dense blob around one direction — legitimate density
    (kmeans CAN sub-split it), the split-verdict shape."""
    jit = [
        (F.lit(1.0) if i == 0 else F.lit(0.0))
        + 0.05 * ((F.xxhash64(F.col("id"), F.lit(i)) % 2001 - 1000)
                  / F.lit(1000.0))
        for i in range(8)
    ]
    return base_pts.withColumn("embedding", F.array(*jit))


def test_drift_auto_split_policy(spark, sf_smoke, tmp_path):
    """drift_auto="split": an append that leaves a cell over the
    absolute cap is split by the SAME upsert's post-write hook — no
    manual split_hot_cells() call, verdict cleared, status green,
    routed search still exact over the split layout."""
    coll = create_collection(str(tmp_path), "c", dim=8, normalize=False,
                             indexing_threshold=1, k_centroids=4,
                             drift_auto="split")
    base_pts = _points(spark, sf_smoke)
    coll.upsert(spark, base_pts, mode="append")
    k0 = len(coll._centroids(spark))
    assert coll.index_drift()["action"] is None

    # tighten the caps so the blob lands a *split* verdict (ratio
    # over the cell cap, growth under the growth cap — the knobs
    # index_drift() documents)
    coll.meta["drift_cell_cap"] = 2.0
    coll.meta["drift_growth_cap"] = 100.0
    coll._save_meta()

    blob = _dense_blob(base_pts)
    for tag in ("s1-", "s2-", "s3-"):
        coll.upsert(
            spark, blob.withColumn("id", F.concat(F.lit(tag), F.col("id"))),
            mode="append")

    d = coll.index_drift()
    assert d["action"] is None, d            # verdict consumed in-line
    assert len(coll._centroids(spark)) > k0  # hot cell actually split
    assert coll.info(spark)["status"] == "green"
    # the auto-split layout still partitions the corpus exactly
    qv = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    routed = [(r.id, r.score) for r in coll.search(spark, qv, k=5).collect()]
    exact = [(r.id, r.score) for r in
             coll.search(spark, qv, k=5, exact=True).collect()]
    assert routed == exact


def test_drift_auto_split_never_rebuilds(spark, sf_smoke, tmp_path):
    """Under the "split" policy a *rebuild* verdict only surfaces
    (info status yellow, flag set) — a full retrain is never implicit;
    switching the policy to "rebuild" via update_collection applies it
    on the spot (growth resets, status back to green)."""
    coll = create_collection(str(tmp_path), "c", dim=8, normalize=False,
                             indexing_threshold=1, k_centroids=4,
                             drift_auto="split")
    base_pts = _points(spark, sf_smoke)
    coll.upsert(spark, base_pts, mode="append")

    # distribution shift: 2x the corpus piled on one direction — the
    # frozen centroids funnel it into one cell (rebuild verdict)
    const = F.expr(
        "array(1.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D)")
    skew = (base_pts
            .withColumn("id", F.concat(F.lit("skew-"), F.col("id")))
            .withColumn("embedding", const))
    skew = skew.unionByName(
        skew.withColumn("id", F.concat(F.lit("b-"), F.col("id"))))
    coll.upsert(spark, skew, mode="append")

    d = coll.index_drift()
    assert d["rebuild_recommended"]          # surfaced, not executed
    assert coll.info(spark)["status"] == "yellow"

    coll.update_collection(spark, drift_auto="rebuild")
    d2 = coll.index_drift()
    assert d2["action"] is None, d2
    assert abs(d2["balance_growth"] - 1.0) < 0.01
    assert coll.info(spark)["status"] == "green"


def test_drift_auto_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="drift_auto must be"):
        create_collection(str(tmp_path), "bad1", dim=8,
                          indexing_threshold=1, drift_auto="always")
    with pytest.raises(ValueError, match="needs indexing_threshold"):
        create_collection(str(tmp_path), "bad2", dim=8,
                          drift_auto="split")
    with pytest.raises(ValueError, match="don't\\s+apply"):
        create_collection(str(tmp_path), "bad3",
                          vectors={"v": {"dim": 8}}, drift_auto="split")
    coll = create_collection(str(tmp_path), "ok", dim=8,
                             indexing_threshold=1, drift_auto="split")
    assert coll.meta["drift_auto"] == "split"
    coll.update_collection(spark, drift_auto=None)
    assert "drift_auto" not in coll.meta
    with pytest.raises(ValueError, match="drift_auto must be"):
        coll.update_collection(spark, drift_auto="sometimes")


def test_rebuild_index_keeps_unkeyed_sidecars(spark, tmp_path):
    """rebuild_index() retrains the cells and re-derives only the
    layouts keyed on them: a sparse space's posting layout, which no
    cell keys, keeps its files."""
    coll = create_collection(
        str(tmp_path), "c", dim=4, normalize=False, indexing_threshold=1,
        k_centroids=2, sparse_vectors={"s": {"full_scan_threshold": 1}})
    rows = [(i, [float((i * 7 + j) % 5) for j in range(4)],
             [i % 3, 3 + i % 2], [1.0, 0.5]) for i in range(24)]
    coll.upsert(spark, spark.createDataFrame(
        rows, "id int, embedding array<double>, s__sidx array<bigint>, "
              "s__sval array<double>"))
    postings = coll._postings_path_for("s")

    def files(path):
        return sorted(os.path.join(d, f)
                      for d, _, fs in os.walk(path) for f in fs)

    before, cells = files(postings), files(coll._ivf_points)
    assert before and cells
    coll.rebuild_index(spark)
    assert files(postings) == before
    assert files(coll._ivf_points) != cells
    assert coll.index_drift()["balance_growth"] == 1.0
