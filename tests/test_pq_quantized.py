"""Product quantization as collection config (Qdrant
quantization_config=ProductQuantization; "opq" adds the learned
FAISS-style rotation): frozen codebook train, codes sidecar
maintenance through point ops, ADC prefetch + exact rescore, batch ≡
single, composed IVF+PQ cells layout, config validation, and the
registered lifecycle queries' oracle parity."""

import os

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.catalog import create_collection
from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY

from .oracle import compare


def _pts(spark, ids, dim=8):
    rows = [(i, [float((i * (j + 3)) % 7 - 3) + 0.25 * j
                 for j in range(dim)]) for i in ids]
    return spark.createDataFrame(rows, "id int, embedding array<double>")


@pytest.mark.parametrize("q", ["pq", "opq"])
def test_pq_search_matches_exact_at_high_oversampling(spark, tmp_path, q):
    coll = create_collection(str(tmp_path), f"c_{q}", dim=8,
                             quantization=q)
    coll.upsert(spark, _pts(spark, range(60)))
    assert os.path.exists(coll._codes_path)
    assert "pq_codebooks" in coll.meta
    assert ("opq_rotation" in coll.meta) == (q == "opq")
    # codes sidecar: pq_blocks one-byte codes per row
    codes = spark.read.parquet(coll._codes_path)
    blocks = coll.meta["pq_blocks"]
    assert {f"code{b}" for b in range(blocks)} <= set(codes.columns)
    qv = [2.0, -1.0, 0.5, 1.0, 0.0, -0.5, 1.5, 0.25]
    # shortlist covers the corpus => rescore equals the exact scan
    approx = coll.search(spark, qv, k=5, oversampling=12.0).collect()
    exact = coll.search(spark, qv, k=5, exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]


def test_pq_codebooks_frozen_and_incremental_append(spark, tmp_path):
    coll = create_collection(str(tmp_path), "ci", dim=8,
                             quantization="pq")
    coll.upsert(spark, _pts(spark, range(30)))
    cbs1 = coll.meta["pq_codebooks"]
    assert spark.read.parquet(coll._codes_path).count() == 30
    coll.upsert(spark, _pts(spark, range(100, 130)))
    # train happened once; codes appended for the new batch only
    assert coll.meta["pq_codebooks"] == cbs1
    assert spark.read.parquet(coll._codes_path).count() == 60
    # delete rewrites the surviving codes
    removed = coll.delete(spark, F.col("id") >= 100)
    assert removed == 30
    codes = spark.read.parquet(coll._codes_path)
    assert codes.count() == 30
    assert codes.filter(F.col("id") >= 100).count() == 0


def test_pq_untrained_below_codebook_size_falls_back_exact(spark, tmp_path):
    """Below pq_codes rows kmeans cannot train — the quantizer stays
    untrained (no sidecar) and searches take the exact scan; crossing
    the size on a later upsert trains and encodes everything."""
    coll = create_collection(str(tmp_path), "cu", dim=8,
                             quantization="pq")
    coll.upsert(spark, _pts(spark, range(8)))  # < 16 codes
    assert "pq_codebooks" not in coll.meta
    assert not os.path.exists(coll._codes_path)
    qv = [1.0] * 8
    assert len(coll.search(spark, qv, k=3).collect()) == 3
    coll.upsert(spark, _pts(spark, range(8, 40)))
    assert "pq_codebooks" in coll.meta
    assert spark.read.parquet(coll._codes_path).count() == 40


def test_pq_batch_matches_single(spark, tmp_path):
    coll = create_collection(str(tmp_path), "cb", dim=8,
                             quantization="opq")
    coll.upsert(spark, _pts(spark, range(50)))
    qvs = [[2.0, -1.0, 0.5, 1.0, 0.0, -0.5, 1.5, 0.25],
           [0.0, 1.0, -1.0, 0.5, 2.0, 0.25, -0.5, 1.5]]
    batch = coll.search_batch(spark, qvs, k=4, oversampling=6.0)
    got = {(r.query_idx, r.id, r.score) for r in batch.collect()}
    want = set()
    for i, qv in enumerate(qvs):
        for r in coll.search(spark, qv, k=4, oversampling=6.0).collect():
            want.add((i, r.id, r.score))
    assert got == want


def test_pq_composed_with_index_uses_cells_layout(spark, tmp_path):
    coll = create_collection(str(tmp_path), "cc", dim=8,
                             quantization="pq", indexing_threshold=1,
                             k_centroids=4)
    coll.upsert(spark, _pts(spark, range(60)))
    assert coll.has_index()
    assert coll.meta.get("codes_layout") == "cells"
    # the cells codes layout is partitioned by centroid_id
    dirs = [d for d in os.listdir(coll._codes_path)
            if d.startswith("centroid_id=")]
    assert dirs
    qv = [2.0, -1.0, 0.5, 1.0, 0.0, -0.5, 1.5, 0.25]
    approx = coll.search(spark, qv, k=5, oversampling=12.0).collect()
    exact = coll.search(spark, qv, k=5, exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]


def test_update_collection_switches_to_pq(spark, tmp_path):
    coll = create_collection(str(tmp_path), "cs", dim=8,
                             quantization="sq")
    coll.upsert(spark, _pts(spark, range(40)))
    assert "sq_mins" in coll.meta
    coll.update_collection(spark, quantization="opq")
    assert "sq_mins" not in coll.meta
    assert "pq_codebooks" in coll.meta and "opq_rotation" in coll.meta
    qv = [1.0] * 8
    assert len(coll.search(spark, qv, k=3, oversampling=10.0)
               .collect()) == 3
    coll.update_collection(spark, quantization=None)
    assert "pq_codebooks" not in coll.meta
    assert not os.path.exists(coll._codes_path)


def test_pq_validation(tmp_path):
    with pytest.raises(ValueError, match="must divide dim"):
        create_collection(str(tmp_path), "b1", dim=9, quantization="pq",
                          pq_blocks=4)
    with pytest.raises(ValueError, match="dim <= 256"):
        create_collection(str(tmp_path), "b2", dim=512,
                          quantization="opq")
    with pytest.raises(ValueError, match="needs quantization"):
        create_collection(str(tmp_path), "b3", dim=8, quantization="sq",
                          pq_blocks=2)
    with pytest.raises(ValueError, match="pq_codes must be"):
        create_collection(str(tmp_path), "b4", dim=8, quantization="pq",
                          pq_codes=1)
    # named space form
    coll = create_collection(
        str(tmp_path), "ok",
        vectors={"v": {"dim": 8, "quantization": "opq",
                       "pq_blocks": 4}})
    assert coll.meta["vectors"]["v"]["pq_blocks"] == 4


def test_named_space_pq_search(spark, tmp_path):
    coll = create_collection(
        str(tmp_path), "nv",
        vectors={"v": {"dim": 8, "quantization": "pq",
                       "normalize": False}})
    rows = [(i, [float((i * (j + 3)) % 7 - 3) + 0.25 * j
                 for j in range(8)]) for i in range(40)]
    pts = spark.createDataFrame(rows, "id int, v array<double>")
    coll.upsert(spark, pts)
    assert os.path.exists(coll._codes_path_for("v"))
    qv = [2.0, -1.0, 0.5, 1.0, 0.0, -0.5, 1.5, 0.25]
    approx = coll.search(spark, qv, k=5, using="v",
                         oversampling=12.0).collect()
    exact = coll.search(spark, qv, k=5, using="v", exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]


@pytest.mark.parametrize(
    "name", ["ingest_pq_quantized_search", "ingest_opq_quantized_search"])
def test_pq_lifecycle_oracle_parity(spark, sf_smoke, name):
    compare(spark, REGISTRY[name], sf_smoke, name)


# --- Qdrant SearchParams.quantization (QuantizationSearchParams) ---


def test_quantization_params_ignore_matches_exact(spark, tmp_path):
    coll = create_collection(str(tmp_path), "qp1", dim=8,
                             quantization="pq")
    coll.upsert(spark, _pts(spark, range(40)))
    qv = [2.0, -1.0, 0.5, 1.0, 0.0, -0.5, 1.5, 0.25]
    ig = coll.search(spark, qv, k=5,
                     quantization_params={"ignore": True}).collect()
    ex = coll.search(spark, qv, k=5, exact=True).collect()
    assert [(r.id, r.score) for r in ig] == [(r.id, r.score) for r in ex]


def test_quantization_params_no_rescore_returns_quantized_scores(
        spark, tmp_path):
    coll = create_collection(str(tmp_path), "qp2", dim=8,
                             quantization="sq")
    coll.upsert(spark, _pts(spark, range(40)))
    qv = [2.0, -1.0, 0.5, 1.0, 0.0, -0.5, 1.5, 0.25]
    nr = coll.search(spark, qv, k=5,
                     quantization_params={"rescore": False}).collect()
    assert len(nr) == 5
    exact_scores = {r.id: r.score for r in
                    coll.search(spark, qv, k=40, exact=True).collect()}
    # quantized scores approximate but do not equal the exact ones
    assert any(abs(r.score - exact_scores[r.id]) > 1e-9 for r in nr)
    # payload rides along on the ≤k hit list
    coll2 = create_collection(str(tmp_path), "qp2b", dim=8,
                              quantization="opq")
    pts = _pts(spark, range(40)).withColumn(
        "title", F.concat(F.lit("t"), F.col("id")))
    coll2.upsert(spark, pts)
    row = coll2.search(spark, qv, k=3,
                       quantization_params={"rescore": False}).collect()[0]
    assert row.title == f"t{row.id}"


def test_quantization_params_oversampling_override(spark, tmp_path):
    coll = create_collection(str(tmp_path), "qp3", dim=8,
                             quantization="sq")
    coll.upsert(spark, _pts(spark, range(60)))
    qv = [2.0, -1.0, 0.5, 1.0, 0.0, -0.5, 1.5, 0.25]
    a = coll.search(spark, qv, k=5, oversampling=1.0,
                    quantization_params={"oversampling": 12.0}).collect()
    b = coll.search(spark, qv, k=5, oversampling=12.0).collect()
    assert [(r.id, r.score) for r in a] == [(r.id, r.score) for r in b]


def test_quantization_params_validation(spark, tmp_path):
    coll = create_collection(str(tmp_path), "qp4", dim=8,
                             quantization="bq")
    coll.upsert(spark, _pts(spark, range(40)))
    qv = [1.0] * 8
    with pytest.raises(ValueError, match="unknown quantization_params"):
        coll.search(spark, qv, k=3, quantization_params={"bogus": 1})
    with pytest.raises(ValueError, match="supports sq/pq/opq"):
        coll.search(spark, qv, k=3,
                    quantization_params={"rescore": False})
    plain = create_collection(str(tmp_path), "qp5", dim=8)
    plain.upsert(spark, _pts(spark, range(20)))
    with pytest.raises(ValueError, match="active quantizer"):
        plain.search(spark, qv, k=3,
                     quantization_params={"rescore": False})


def test_noscore_lifecycle_oracle_parity(spark, sf_smoke):
    compare(spark, REGISTRY["ingest_quantized_noscore_search"], sf_smoke,
            "ingest_quantized_noscore_search")


def test_pq_codebook_defaults_wide(tmp_path):
    """Wide-dim defaults: 16 blocks × 16 codes at 768-d (the loop-
    shaped encode keeps plan size independent of the codebook, so no
    size gate beyond pq_codes ≤ 256)."""
    c = create_collection(str(tmp_path), "wide", dim=768,
                          quantization="pq")
    assert c.meta["pq_blocks"] == 16 and c.meta["pq_codes"] == 16


@pytest.mark.parametrize("q,cells,dim", [
    ("pq", False, 8), ("pq", True, 8), ("opq", False, 8), ("opq", True, 8),
    ("sq", False, 8), ("sq", True, 8), ("sq", False, 224)],
    ids=["pq-flat", "pq-cells", "opq-flat", "opq-cells", "sq-flat",
         "sq-cells", "sq-flat-224d"])
def test_quantization_params_batch_forms(spark, tmp_path, q, cells, dim):
    """One query and a batch rank the codes with the same expression
    (operators/quant.py): the rescore=False batch equals each single
    search bit for bit, on flat codes and on the cells layout, and for
    SQ past its unroll gate."""
    kw = dict(indexing_threshold=1, k_centroids=4) if cells else {}
    coll = create_collection(str(tmp_path), "qb", dim=dim,
                             quantization=q, **kw)
    coll.upsert(spark, _pts(spark, range(50), dim))
    assert coll.meta.get("codes_layout") == ("cells" if cells else "flat")
    qvs = [[1.0] * dim,
           [2.0, -1.0, 0.5, 1.0, 0.0, -0.5, 1.5, 0.25] * (dim // 8)]
    ig = coll.search_batch(spark, qvs, k=3,
                           quantization_params={"ignore": True}).collect()
    ex = coll.search_batch(spark, qvs, k=3, exact=True).collect()
    assert sorted((r.query_idx, r.id, r.score) for r in ig) == \
        sorted((r.query_idx, r.id, r.score) for r in ex)
    # batch rescore=False == per-query single no-rescore
    b = coll.search_batch(spark, qvs, k=3,
                          quantization_params={"rescore": False}).collect()
    want = sorted(
        (i, r.id, r.score) for i, qv in enumerate(qvs)
        for r in coll.search(
            spark, qv, k=3,
            quantization_params={"rescore": False}).collect())
    assert sorted((r.query_idx, r.id, r.score) for r in b) == want
    with pytest.raises(ValueError, match="unknown quantization_params"):
        coll.search_batch(spark, qvs, k=3,
                          quantization_params={"x": 1})


def test_opq_composed_lifecycle_oracle_parity(spark, sf_smoke):
    compare(spark, REGISTRY["ingest_opq_composed_search"], sf_smoke,
            "ingest_opq_composed_search")


def test_pq_large_codebook_64d(spark, tmp_path):
    """pq_codes=128 at 64-d (the recall-relevant configuration —
    BASELINE.md §opq measured the rotation win at 8×128): trains past
    128 rows, encodes 8 codes/row, high-oversampling search equals
    exact."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.standard_normal(64)])
            for i in range(200)]
    pts = spark.createDataFrame(rows, "id int, embedding array<double>")
    coll = create_collection(str(tmp_path), "big", dim=64,
                             quantization="opq", pq_codes=128)
    coll.upsert(spark, pts)
    assert len(coll.meta["pq_codebooks"][0]) == 128
    qv = rows[5][1]
    approx = coll.search(spark, qv, k=5, oversampling=20.0).collect()
    exact = coll.search(spark, qv, k=5, exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]


def test_pq_wide_named_space_768d(spark, tmp_path):
    """Production-width named space (768-d, default 16 blocks × 48-d
    subvectors): the SQL-string encode and the width-gated machinery
    hold at real embedding width."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.standard_normal(768)])
            for i in range(40)]
    pts = spark.createDataFrame(rows, "id int, v array<double>")
    coll = create_collection(
        str(tmp_path), "wide",
        vectors={"v": {"dim": 768, "quantization": "pq",
                       "normalize": False}})
    coll.upsert(spark, pts)
    assert coll.meta["vectors"]["v"]["pq_blocks"] == 16
    codes = spark.read.parquet(coll._codes_path_for("v"))
    assert codes.count() == 40
    qv = rows[3][1]
    approx = coll.search(spark, qv, k=5, using="v",
                         oversampling=8.0).collect()
    exact = coll.search(spark, qv, k=5, using="v", exact=True).collect()
    assert [(r.id, r.score) for r in approx] == \
        [(r.id, r.score) for r in exact]
