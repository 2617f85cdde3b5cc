"""The one drift verdict every cell layout answers (``catalog.py::
_drift_verdict``), as a Spark-free table: the IVF cells
(``index_drift()``, split allowed) and a PCA space's cells
(``pca_drift()``, split mapped to rebuild) over the same counts."""

import pytest

from image_indexing_and_retrival_with_qdrant_spark.catalog import _drift_verdict

# 4 cells' fair share is 25 %: the 50-row cell is a balance ratio of 2.0
_HOT = {0: 50, 1: 25, 2: 25}


@pytest.mark.parametrize(
    "counts, base, cell_cap, growth_cap, ivf, pca, growth", [
        # growth 2.0 above the growth cap: the data moved — retrain
        (_HOT, 1.0, 4.0, 1.5, "rebuild", "rebuild", 2.0),
        # growth equal to the growth cap is within it; ratio under cap
        (_HOT, 1.0, 4.0, 2.0, None, None, 2.0),
        # growth within cap, ratio 2.0 above the cell cap: dense data
        (_HOT, 1.0, 1.5, 2.0, "split", "rebuild", 2.0),
        # ratio equal to the cell cap is within it
        (_HOT, 1.0, 2.0, 2.0, None, None, 2.0),
        # no baseline: no growth, the cell cap alone decides
        (_HOT, None, 1.5, 1.5, "split", "rebuild", None),
        (_HOT, None, 4.0, 1.5, None, None, None),
    ])
def test_drift_verdict_table(counts, base, cell_cap, growth_cap, ivf, pca,
                             growth):
    for split, action in ((True, ivf), (False, pca)):
        v = _drift_verdict(counts, 4, base, cell_cap, growth_cap,
                           split=split)
        assert v["action"] == action, (split, v)
        assert v["balance_growth"] == growth
        assert v["balance_ratio"] == 2.0
        assert v["max_cell_fraction"] == 0.5
        assert v["cells"] == 3
        assert v["baseline_balance_ratio"] == base
        assert (v["cell_cap"], v["growth_cap"]) == (cell_cap, growth_cap)
        assert v["rebuild_recommended"] == (action == "rebuild")
        # only a layout with an in-place split reports that remedy
        assert ("split_recommended" in v) == split
        if split:
            assert v["split_recommended"] == (action == "split")


def test_drift_verdict_empty_counts():
    for split in (True, False):
        assert _drift_verdict({}, 4, 1.0, 4.0, 1.5, split=split) is None
        assert _drift_verdict({0: 0}, 4, 1.0, 4.0, 1.5, split=split) is None
