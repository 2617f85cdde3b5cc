"""MaxSim multivector KNN (late interaction, ColBERT-style).

The reference declares ``MultiVectorConfig(comparator=MAX_SIM)`` for
every multivector collection
(``with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:128-130``;
semantics documented at
``with_jina_embeddings_v4/jina_v4_image_indexer.py:83-88``): for each
query vector take the max similarity over the document's vectors, then
sum over query vectors. Scoring runs inside Qdrant; here it is native:

- **pandas-UDF path** (the production scorer): per row,
  ``(Q @ D.T).max(axis=1).sum()`` in float64 numpy — one Arrow batch
  crosses the Python boundary per ~4096 rows, matmul is vectorized.
  This is the 100 TB path: scoring is embarrassingly parallel per
  corpus partition, no shuffle; top-k is TakeOrderedAndProject.
- **relational path** (the oracle-checkable twin): posexplode doc
  vectors × posexplode query vectors → dot → max per (doc, qvec) →
  sum per doc. Exact same result, pure Catalyst built-ins; slower
  (explodes |D|×|Q| rows/doc) but useful as a cross-check and where
  Python workers are unavailable.

Vectors are assumed pre-normalized at write time (the engine's write
path normalizes for COSINE collections, mirroring Qdrant), so the
per-pair similarity is a plain dot product.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import dot
from .topk import global_topk, topk

__all__ = ["maxsim_score_udf", "maxsim_score_flat_udf",
           "maxsim_capture_udf", "halfvec_encode_udf",
           "halfvec_decode_udf", "maxsim_knn", "maxsim_knn_exact",
           "as_multivector"]


def halfvec_encode_udf(vec_col: Column) -> Column:
    """Encode a flat ``array<float/double>`` multivector into fp16
    bytes (``binary``) — the storage codec SCALE.md §MaxSim prescribes
    for ColPali-width corpora: parquet has no fp16 primitive Spark can
    read, so the halved representation travels as a binary column and
    the flat scorers decode it with ``np.frombuffer`` (zero-copy) and
    upcast to float64 for scoring. Halves the dominant byte stream
    (scan → Arrow) end-to-end; lossy by fp16 rounding, so it is an
    opt-in storage choice, never a default (same stance as
    quantization tiers — the exact fp32 scan stays the recall
    oracle)."""

    @F.pandas_udf("binary")
    def _enc(v: pd.Series) -> pd.Series:
        return pd.Series([
            None if x is None
            else np.asarray(x, dtype=np.float16).tobytes()
            for x in v
        ])

    return _enc(vec_col)


def halfvec_decode_udf(vec_col: Column) -> Column:
    """Decode an fp16-bytes ``binary`` multivector cell back to
    ``array<double>`` — the write-path inverse of
    ``halfvec_encode_udf``, used where a maintenance pass (e.g. the
    SQ codes-sidecar refresh on an fp16 multivector collection) needs
    the stored float values as a column rather than inside a
    scorer."""

    @F.pandas_udf("array<double>")
    def _dec(v: pd.Series) -> pd.Series:
        return pd.Series([
            None if x is None
            else np.frombuffer(x, dtype=np.float16).astype(
                np.float64).tolist()
            for x in v
        ])

    return _dec(vec_col)


def as_multivector(col: Column, dim: int, n: int) -> Column:
    """Reshape a flat array<float> of length n*dim into n slices of
    length dim (array<array<double>>). Used to derive multivector
    fixtures from the flat ``embeddings`` table (FIXTURES.md §1)."""
    return F.array(*[F.slice(col, i * dim + 1, dim) for i in range(n)]).cast(
        "array<array<double>>"
    )


def maxsim_score_udf():
    """Vectorized MaxSim scorer (built lazily — pandas_udf needs an
    active SparkSession to resolve its return type)."""

    @F.pandas_udf("double")
    def _score(doc_mv: pd.Series, query_mv: pd.Series) -> pd.Series:
        out = np.empty(len(doc_mv), dtype=np.float64)
        for i, (d, q) in enumerate(zip(doc_mv, query_mv)):
            D = np.asarray([np.asarray(v, dtype=np.float64) for v in d])
            Q = np.asarray([np.asarray(v, dtype=np.float64) for v in q])
            out[i] = (Q @ D.T).max(axis=1).sum()
        return pd.Series(out)

    return _score


def maxsim_score_flat_udf(dim: int):
    """MaxSim scorer over *flat* vector columns (length = n_vecs×dim),
    reshaped to (n, dim) in numpy. Mathematically identical to the
    nested scorer, but the Arrow transfer of a flat array<double> is
    several times cheaper than array<array<double>> — this is the
    high-throughput path (multivectors should be *stored* flat with a
    dim column for exactly this reason; SCALE.md MaxSim notes).

    When every doc in an Arrow batch has the same vector count (the
    common case: fixed-layout embedders, and always true of the
    fixtures), the whole batch scores as ONE stacked matmul
    ``Q @ D_stack`` — each (q, n) slice is the same dgemm the per-row
    path runs, so results are bit-identical (pinned in
    tests/test_maxsim_flat.py), but the per-row Python/asarray
    overhead — which dominates for small multivectors — is gone.
    Ragged batches fall back to the per-row loop."""

    @F.pandas_udf("double")
    def _score(doc_flat: pd.Series, query_flat: pd.Series) -> pd.Series:
        if len(doc_flat) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        if doc_flat.map(len).nunique() == 1 and query_flat.map(len).nunique() == 1:
            B = len(doc_flat)
            D = np.asarray(
                np.stack(doc_flat.to_numpy()), dtype=np.float64
            ).reshape(B, -1, dim)                       # (B, n, dim)
            Qs = np.asarray(
                np.stack(query_flat.to_numpy()), dtype=np.float64
            ).reshape(B, -1, dim)                       # (B, q, dim)
            sims = np.matmul(Qs, D.transpose(0, 2, 1))  # (B, q, n)
            return pd.Series(sims.max(axis=2).sum(axis=1))
        out = np.empty(len(doc_flat), dtype=np.float64)
        for i, (d, q) in enumerate(zip(doc_flat, query_flat)):
            D = np.asarray(d, dtype=np.float64).reshape(-1, dim)
            Q = np.asarray(q, dtype=np.float64).reshape(-1, dim)
            out[i] = (Q @ D.T).max(axis=1).sum()
        return pd.Series(out)

    return _score


def maxsim_capture_udf(dim: int, queries_flat: Sequence[Sequence[float]],
                       sq: tuple | None = None):
    """The capture scorer: ALL queries live in the UDF closure instead
    of being joined on as a column, and every doc row scores against
    each of them in one pass, returning ``array<double>`` of
    ``len(queries_flat)`` scores (a single search reads element 0).
    At reference shape (ColPali ~1030×128, README.md:91) a query
    array is tens of KB; the column form duplicates it onto every
    corpus row — at 1M docs tens of GB of pure query bytes through
    codegen + Arrow — and a column-join batch ships every doc Q
    times. The capture form ships the queries once per task via the
    pickled closure, and docs cross Arrow ONCE regardless of Q.

    The only part that varies is the decode of a cell to float64
    rows: float arrays; fp16 ``binary`` (``halfvec_encode_udf`` — the
    halved scan → Arrow byte stream); or, with ``sq=(mins, steps)``,
    SQ codes (packed uint8 ``binary`` or ``array<int>``) dequantized
    to bucket centres ``min_j + (c + 0.5)·step_j`` (dim j = position
    mod dim) — the quantized tier of a MaxSim space, whose full-width
    column only the exact rescore of the survivors reads.

    A uniform-width Arrow batch (fixed-layout embedders, and always
    the fixtures) scores as ONE stacked matmul: every query's
    subvectors concatenated into one (Σq_i, dim) matrix against the
    (B, n, dim) doc stack (a 4-D broadcast matmul over docs × queries
    measured 2.3× SLOWER at shape: numpy loops non-BLAS over the
    doubly-batched slices), then max over doc vectors and a sum over
    each query's row segment. Each (q, n) slice is the same dgemm the
    per-row loop runs, so a query's score is bit-identical whatever
    the batch around it (pinned in tests/test_maxsim_flat.py). Ragged
    batches fall back to the per-row loop."""
    Qs = [np.asarray(list(q), dtype=np.float64).reshape(-1, dim)
          for q in queries_flat]
    Qall = np.concatenate(Qs, axis=0)
    splits = np.cumsum([q.shape[0] for q in Qs])[:-1]
    if sq is None:
        packed, decode = np.float16, (lambda D: D)
    else:
        mn, st = (np.asarray(list(v), dtype=np.float64) for v in sq)
        packed, decode = np.uint8, (lambda C: mn + (C + 0.5) * st)

    @F.pandas_udf("array<double>")
    def _score(cells: pd.Series) -> pd.Series:
        if len(cells) == 0:
            return pd.Series([], dtype=object)
        rows = [np.frombuffer(c, dtype=packed)
                if isinstance(c, (bytes, bytearray)) else c for c in cells]
        if cells.map(len).nunique() == 1:
            D = decode(np.asarray(np.stack(rows), dtype=np.float64)
                       .reshape(len(rows), -1, dim))  # (B, n, dim)
            per_vec = np.matmul(Qall[None], D.transpose(0, 2, 1)).max(
                axis=2)                               # (B, Σq)
            return pd.Series(list(np.stack(
                [seg.sum(axis=1)
                 for seg in np.split(per_vec, splits, axis=1)],
                axis=1)))                             # (B, Qn)
        out = []
        for r in rows:
            D = decode(np.asarray(r, dtype=np.float64).reshape(-1, dim))
            out.append(np.array([(Q @ D.T).max(axis=1).sum() for Q in Qs]))
        return pd.Series(out)

    return _score


def maxsim_knn(
    corpus: DataFrame,
    query: DataFrame | None,
    k: int | None = 5,
    id_col: str = "vec_id",
    mv_col: str = "vectors",
    query_mv_col: str = "query_vectors",
    payload_cols: Sequence[str] = (),
    prefilter: Column | None = None,
    score_threshold: float | None = None,
    round_digits: int | None = 6,
    flat_dim: int | None = None,
    queries_flat: Sequence[Sequence[float]] | None = None,
    batch: bool = False,
) -> DataFrame:
    """MaxSim top-k for Q ≥ 1 queries via the vectorized pandas-UDF
    scorers (``query_batch_points`` for multivector collections when
    ``batch``).

    With ``queries_flat`` (flat query vectors, requires ``flat_dim``)
    the query set is captured in the scorer closure
    (``maxsim_capture_udf``) — the at-shape path: the scan carries
    only ``(id, doc_flat)`` and docs cross Arrow once. A single search
    reads element 0 of the score array; a ``batch`` posexplodes it
    into ``(query_idx, score)``. The leaf is ``topk``: one query's
    TakeOrderedAndProject heap, or per-query top-k for a batch (Spark's
    partial ``WindowGroupLimit`` caps its shuffle at
    ``partitions×Q×k`` rows). ``mv_col`` may be an fp16 ``binary``
    column (``halfvec_encode_udf``).

    Without ``queries_flat``, ``query`` is a ONE-row frame whose
    ``query_mv_col`` is broadcast-joined onto every doc: flat arrays
    (n×dim doubles) with ``flat_dim``, else nested multivectors (the
    compatibility reader). This column form scores one query.

    ``prefilter``/``score_threshold`` mirror the dense path
    (``knn.dense_knn``): the payload predicate runs *before* scoring
    (Catalyst pushes it into the scan), the threshold after — matching
    Qdrant's ``query_points(query_filter=..., score_threshold=...)``
    surface, which the reference declares on multivector calls too
    (``with_colpali_v1.3/qdrant_query_with_colpali.py:109-114``).
    ``k=None`` (threshold-only / feed-a-ranker) returns every scored
    row."""
    if prefilter is not None:
        corpus = corpus.filter(prefilter)
    lead = ["query_idx"] if batch else []
    if queries_flat is not None:
        if flat_dim is None:
            raise ValueError("queries_flat requires flat_dim")
        if not batch and len(queries_flat) != 1:
            raise ValueError("a single MaxSim search takes one query")
        arr = maxsim_capture_udf(flat_dim, queries_flat)(F.col(mv_col))
        scored = corpus.select(id_col, *payload_cols, *(
            [F.posexplode(arr).alias("query_idx", "__s")] if batch
            else [arr[0].alias("__s")]))
        score = F.col("__s")
    else:
        if batch:
            raise ValueError("the query-frame form scores one query")
        scored = corpus.join(F.broadcast(query.select(query_mv_col)))
        score = (maxsim_score_udf() if flat_dim is None
                 else maxsim_score_flat_udf(flat_dim))(
            F.col(mv_col), F.col(query_mv_col))
    if round_digits is not None:
        score = F.round(score, round_digits)
    scored = scored.select(*lead, id_col, *payload_cols,
                           score.alias("score"))
    if score_threshold is not None:
        scored = scored.filter(F.col("score") >= score_threshold)
    if k is None:  # threshold-only / feed-a-ranker: no limit
        return scored
    return topk(scored, lead, [("score", False), (id_col, True)], k)


def maxsim_knn_exact(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    mv_col: str = "vectors",
    query_mv_col: str = "query_vectors",
    round_digits: int | None = 6,
) -> DataFrame:
    """Relational MaxSim: theta join + two-level aggregation
    (SURVEY.md §2.4 Q2 'relational alternative')."""
    qvecs = query.select(
        F.posexplode(F.col(query_mv_col)).alias("qpos", "qvec")
    )
    dvecs = corpus.select(
        F.col(id_col), F.posexplode(F.col(mv_col)).alias("dpos", "dvec")
    )
    pairs = dvecs.join(F.broadcast(qvecs)).withColumn(
        "dp", dot(F.col("qvec").cast("array<double>"), F.col("dvec").cast("array<double>"))
    )
    per_qvec = pairs.groupBy(id_col, "qpos").agg(F.max("dp").alias("mx"))
    score = F.sum("mx")
    if round_digits is not None:
        score = F.round(score, round_digits)
    scored = per_qvec.groupBy(id_col).agg(score.alias("score"))
    return global_topk(scored, [("score", False), (id_col, True)], k)
