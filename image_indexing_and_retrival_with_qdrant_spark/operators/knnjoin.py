"""k-NN join: for EVERY left row, its top-k right neighbors — the
batch shape behind embedding near-dup, recommendation backfills, and
semantic blocking (each of N documents wants its neighbors, so the
query side is corpus-sized and ``dense_knn_batch``'s broadcast-the-
queries plan no longer applies).

The all-pairs form is O(N·M) — 2.5×10¹⁹ pairs at 100 TB. This
operator localizes it with the IVF coarse quantizer: right rows live
in their nearest cell, left rows probe their ``nprobe`` nearest cells
(both ``operators/ann.py::nearest_cells`` — one rule, so a row's own
cell is always its first probe; no extra scan), and
scoring happens inside matched cells only: Σ_cells |L_c|·|R_c| pairs,
a ``k_centroids/nprobe``-fold reduction with uniform cells.

Plan: both sides shuffle once on ``cell`` (at scale the right side is
already ``partitionBy(cell)`` — only the probe copies move), the join
is a plain shuffled hash join on a small-int key, and the per-left
top-k is the windowed rank, pruned map-side by Spark's partial
``WindowGroupLimit``. Skewed cells (dense regions) split under AQE
skew-join handling; the per-partition limit caps the rank shuffle
regardless.

``nprobe = k_centroids`` probes every cell ⇒ EXACT k-NN join (every
(left, right) pair scored) — which is what makes the operator
oracle-checkable; approximation is an explicit smaller ``nprobe``
(recall pinned in tests/test_knnjoin.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine_unrolled, dot_unrolled
from .ann import nearest_cells
from .topk import grouped_topk

__all__ = ["knn_join"]


def knn_join(
    left: DataFrame,
    right: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    nprobe: int | None = None,
    dim: int | None = None,
    left_id: str = "qid",
    right_id: str = "vec_id",
    left_vec: str = "query_vec",
    right_vec: str = "embedding",
    prenormalized: bool = False,
    round_digits: int | None = 6,
) -> DataFrame:
    """Top-k right neighbors for every left row, scored by cosine (or
    dot if ``prenormalized``). ``nprobe=None`` probes every cell —
    exact. Output: (left_id, right_id, score, rank)."""
    np_ = len(centroids) if nprobe is None else nprobe
    r = right.select(
        F.col(right_id), F.col(right_vec).alias("__rv")
    ).withColumn("cell", nearest_cells(centroids, "__rv")[0]["i"])
    l = left.select(
        F.col(left_id), F.col(left_vec).alias("__lv")
    ).withColumn(
        "cell", F.explode(F.transform(nearest_cells(centroids, "__lv", np_),
                                      lambda s: s["i"]))
    )
    if dim is not None:
        score = (dot_unrolled("__lv", "__rv", dim)
                 if prenormalized else
                 cosine_unrolled("__lv", "__rv", dim))
    else:
        from ..functions.vector import cosine, dot
        score = (dot(F.col("__lv"), F.col("__rv")) if prenormalized
                 else cosine(F.col("__lv"), F.col("__rv")))
    if round_digits is not None:
        score = F.round(score, round_digits)
    pairs = l.join(r, on="cell").withColumn("score", score).select(
        left_id, right_id, "score")
    return grouped_topk(
        pairs, [left_id], [("score", False), (right_id, True)], k)
