"""PCA transform for vector spaces (the FAISS ``PCA,IVF`` index
factory pattern as collection config).

The reference delegates its index build to the Qdrant server once a
collection crosses ``indexing_threshold``
(``with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:132``);
the engine-native analog here trains a learned dimensionality
reduction at that same threshold, projects every point into an
``r``-dim sidecar maintained by the point ops (a ``pca`` row of the
catalog's layout table, ``Collection._layouts``), and routes searches through IVF cells carved in the
COMPRESSED space — the probe scans ``r/d`` of the bytes, the
oversampled shortlist is exact-rescored at full width.

Everything here is shared between the catalog write/read paths and
the DuckDB oracle factories, so the train → project → rank pipeline
is bit-reproducible on both sides:

- the trainer avoids BLAS GEMM (thread-count-dependent reduction
  order) the same way ``kmeans_np`` does — covariance entries are
  pairwise ``np.sum`` reductions, deterministic for the same rows in
  the same order (callers sort the train set by id);
- the Spark projection is the left-associated unrolled sum (or its
  bit-identical sequential HOF fold past the codegen width gate),
  matching DuckDB's sequential ``list_dot_product``;
- the driver-side query projection is a plain left-to-right Python
  loop over the same doubles.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.vector import _UNROLL_MAX_DIM, _lit_array_sql

__all__ = [
    "PCA_TRAIN_CAP",
    "pca_train_np",
    "pca_project_expr",
    "pca_project_py",
    "pca_ce_sql",
    "pca_pe_sql",
]

#: Bounded driver-side train set (the kmeans_np / FAISS sampled-train
#: convention; ~64k × 128-d ≈ 64 MB). The one cap on every id-ordered
#: train prefix the catalog fetches (PCA components and IVF cells,
#: PQ/OPQ codebooks): the engine trains on the first PCA_TRAIN_CAP rows
#: by id and the oracle factory re-derives from the same prefix, so
#: both see identical inputs at any corpus size.
PCA_TRAIN_CAP = 65_536


def pca_train_np(X, r: int):
    """Deterministic PCA train: mean + top-``r`` eigenvectors of the
    covariance. Sign fixed per component (largest-|x| entry positive)
    so eigh's sign ambiguity can't flip a column; covariance entries
    are pairwise ``np.sum`` reductions (no GEMM), so the same rows in
    the same order produce bit-identical components in any process.
    Returns ``(mu, W)`` as plain float lists (``W`` is r×d)."""
    X = np.asarray(X, dtype=np.float64)
    n, d = X.shape
    if not (0 < r <= d):
        raise ValueError(f"pca_dim must be in 1..{d}, got {r}")
    mu = X.mean(axis=0)
    Xc = X - mu
    C = np.empty((d, d), dtype=np.float64)
    for i in range(d):
        for j in range(i, d):
            v = float(np.sum(Xc[:, i] * Xc[:, j]))
            C[i, j] = C[j, i] = v
    C /= float(n)
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:r]
    W = V[:, order].T.copy()
    for i in range(r):
        j = int(np.argmax(np.abs(W[i])))
        if W[i, j] < 0.0:
            W[i] = -W[i]
    return ([float(m) for m in mu],
            [[float(x) for x in row] for row in W])


def pca_project_expr(mu: Sequence[float], W: Sequence[Sequence[float]],
                     vec_col: str = "embedding") -> Column:
    """Scan-local projection of ``vec_col`` (d floats) to r doubles:
    center on ``mu``, dot with each component row. Unrolled
    left-associated sums inside whole-stage codegen up to the width
    gate; past it, the sequential ``zip_with``+``aggregate`` fold —
    same bits (a left fold from 0.0 equals the unrolled left-assoc
    chain), loop-shaped code."""
    d = len(mu)
    if d <= _UNROLL_MAX_DIM:
        comps = []
        for row in W:
            terms = " + ".join(
                f"((CAST(element_at(`{vec_col}`, {j + 1}) AS DOUBLE)"
                f" - {float(m)!r}D) * {float(x)!r}D)"
                for j, (m, x) in enumerate(zip(mu, row)))
            comps.append(f"({terms})")
        return F.expr("array(" + ", ".join(comps) + ")")
    ce = (f"zip_with(CAST(`{vec_col}` AS ARRAY<DOUBLE>), "
          f"{_lit_array_sql(mu)}, (x, m) -> x - m)")
    comps = [
        f"aggregate(zip_with({ce}, {_lit_array_sql(row)}, "
        f"(x, w) -> x * w), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        for row in W]
    return F.expr("array(" + ", ".join(comps) + ")")


def pca_project_py(mu: Sequence[float], W: Sequence[Sequence[float]],
                   v: Sequence[float]) -> list[float]:
    """Driver-side projection of one query vector — plain left-to-right
    double arithmetic, float-identical to ``pca_project_expr`` and to
    DuckDB's sequential ``list_dot_product`` over the centered list."""
    ce = [float(x) - float(m) for x, m in zip(v, mu)]
    out = []
    for row in W:
        acc = 0.0
        for x, w in zip(ce, row):
            acc += x * float(w)
        out.append(acc)
    return out


def pca_ce_sql(dim_exprs: Sequence[str], mu: Sequence[float]) -> str:
    """DuckDB list literal centering per-dimension SQL expressions on
    the trained mean (oracle side of ``pca_project_expr``)."""
    return "[" + ", ".join(
        f"({e}) - {float(m)!r}" for e, m in zip(dim_exprs, mu)) + "]"


def pca_pe_sql(W: Sequence[Sequence[float]], ce_expr: str = "ce") -> str:
    """DuckDB projection over a prior centered-list alias — sequential
    ``list_dot_product`` matches the Spark side's left-associated
    unrolled sums exactly (the ``emb_pca_top5`` proven pairing)."""
    return "[" + ", ".join(
        f"list_dot_product({ce_expr}, ["
        + ", ".join(repr(float(x)) for x in row) + "])"
        for row in W) + "]"
