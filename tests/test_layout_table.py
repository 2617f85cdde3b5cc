"""The declared layout table (``Collection._layouts``): every derived
layout is one row, and one walk (``_derive``) refreshes and drops
the rows in dependency order for every trigger. These tests pin what
follows from reading everything off the rows: ``info()`` sees every
space's pending state and drift, a threshold change re-derives every
layout of its gate, a dropped layout takes the layouts sourced from it
along, and the snapshot/restore/delete set is exactly the rows' paths."""

import glob
import hashlib
import os
import random

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.catalog import (
    create_collection,
    delete_collection,
)

_QV = [0.3, -0.2, 0.1, 0.5, -0.4, 0.2]


@pytest.fixture(scope="module")
def root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("layouts"))


def _points(spark, lo, hi, center=0.0, cols=("embedding",),
            sparse=False):
    rnd = random.Random(lo)
    rows = []
    for i in range(lo, hi):
        vec = [center + rnd.gauss(0, 1) for _ in range(6)]
        row = [i, *([vec] * len(cols)), i % 3]
        if sparse:
            idx = sorted(rnd.sample(range(40), 4))
            row += [idx, [rnd.random() for _ in idx]]
        rows.append(tuple(row))
    schema = ", ".join(["id long", *(f"{c} array<double>" for c in cols),
                        "tenant int"]
                       + (["s__sidx array<int>", "s__sval array<double>"]
                          if sparse else []))
    return spark.createDataFrame(rows, schema)


def _hits(spark, c, **kw):
    return [(r.id, r.score)
            for r in c.search(spark, _QV, k=5, **kw).collect()]


def test_info_reports_named_pca_drift(spark, root):
    """A named PCA space's pending rebuild verdict turns the status
    yellow and shows under its space name."""
    c = create_collection(root, "npca", vectors={"a": {
        "dim": 6, "transform": "pca", "pca_dim": 3, "k_centroids": 4,
        "metric": "euclid"}})
    c.upsert(spark, _points(spark, 0, 60, cols=("a",)))
    assert c.info(spark)["status"] == "green"
    for b in range(3):
        c.upsert(spark, _points(spark, 1000 + 60 * b, 1060 + 60 * b,
                                center=8.0, cols=("a",)))
    verdict = c.pca_drift("a")
    assert verdict["action"] == "rebuild"
    info = c.info(spark)
    assert info["status"] == "yellow"
    assert info["pca_drift"] == {"a": verdict}
    c.rebuild_transform(spark, "a")
    assert c.info(spark)["status"] == "green"


def test_lowered_threshold_trains_pca(spark, root):
    """Lowering indexing_threshold below the point count trains a PCA
    collection's cells on the spot, as it builds an IVF collection's."""
    c = create_collection(root, "lpca", dim=6, transform="pca", pca_dim=3,
                          indexing_threshold=1000, k_centroids=4,
                          normalize=False)
    c.upsert(spark, _points(spark, 0, 60))
    assert "pca_mu" not in c.meta
    c.update_collection(spark, indexing_threshold=10)
    assert c.meta["pca_mu"]
    assert os.path.isdir(c._pca_path_for(None))
    assert c.info(spark)["status"] == "green"
    # every cell probed, the whole table rescored: the exact top-k
    assert _hits(spark, c, nprobe=4, oversampling=12.0) == \
        _hits(spark, c, exact=True)


def test_disabled_threshold_flattens_codes(spark, root):
    """Disabling indexing_threshold drops the cells and re-derives the
    codes sourced from them: a flat sidecar, no longer partitioned by
    a dropped centroid set, and searches still equal the exact scan."""
    c = create_collection(root, "dsq", dim=6, quantization="sq",
                          indexing_threshold=10, k_centroids=4)
    c.upsert(spark, _points(spark, 0, 60))
    assert c.meta["codes_layout"] == "cells"
    c.update_collection(spark, indexing_threshold=None)
    assert not c.has_index()
    assert c.meta["codes_layout"] == "flat"
    assert not glob.glob(os.path.join(c._codes_path, "centroid_id=*"))
    assert spark.read.parquet(c._codes_path).count() == 60
    assert _hits(spark, c) == _hits(spark, c, exact=True)


def _disk(c) -> set:
    """The collection's paths on disk, meta file excluded."""
    base = os.path.join(c.root, c.name)
    return {p for p in glob.glob(base) + glob.glob(glob.escape(base) + ".*")
            if p != c.meta_path}


def _digests(paths) -> dict:
    out = {}
    for p in paths:
        for d, _dirs, files in os.walk(p):
            for f in files:
                full = os.path.join(d, f)
                with open(full, "rb") as fh:
                    out[full] = hashlib.md5(fh.read()).hexdigest()
    return out


_SHAPES = {
    "single": (dict(dim=6, quantization="sq", indexing_threshold=20,
                    k_centroids=4, hnsw_config={"m": 4, "ef_construct": 8},
                    sparse_vectors={"s": {"full_scan_threshold": 10}}),
               dict(sparse=True),
               {".ivf", ".centroids", ".codes", ".hnsw", ".postings-s",
                ".postings-s.df"}),
    "named": (dict(vectors={"a": {"dim": 6, "transform": "pca",
                                  "pca_dim": 3, "k_centroids": 4},
                            "b": {"dim": 6, "quantization": "sq"}}),
              dict(cols=("a", "b")),
              {".pca-a", ".codes-b"}),
}


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_layout_rows_are_the_collection_state(spark, root, shape):
    """For each shape: the paths on disk are exactly ``_state_paths()``;
    a snapshot restores every row's files byte for byte after an upsert
    and a delete; ``delete_collection`` leaves no path behind."""
    config, kw, suffixes = _SHAPES[shape]
    name = f"rows_{shape}"
    c = create_collection(root, name, **config)
    c.upsert(spark, _points(spark, 0, 60, **kw))
    base = os.path.join(root, name)
    assert _disk(c) == set(c._state_paths()) == \
        {base} | {base + s for s in suffixes}
    rows = [p for lay in c._layouts() for p in lay.paths
            if os.path.exists(p)]
    before = _digests(rows)
    c.create_snapshot("s")
    c.upsert(spark, _points(spark, 100, 130, center=1.0, **kw))
    c.delete(spark, F.col("tenant") == 1)
    assert _digests(rows) != before
    c.restore_snapshot("s")
    assert _digests(rows) == before
    assert _disk(c) == set(c._state_paths())
    assert delete_collection(root, name)
    assert not glob.glob(glob.escape(base) + "*")
