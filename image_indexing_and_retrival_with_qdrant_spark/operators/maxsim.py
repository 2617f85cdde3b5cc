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
from .topk import global_topk

__all__ = ["maxsim_score_udf", "maxsim_score_flat_const_udf",
           "maxsim_score_flat_multi_udf", "halfvec_encode_udf",
           "halfvec_decode_udf", "maxsim_score_codes_multi_udf",
           "maxsim_knn", "maxsim_knn_batch",
           "maxsim_knn_exact", "as_multivector"]


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


def _codes_batch(codes: pd.Series, dim: int):
    """(B, n, dim) float64 code tensor from a uniform-width Arrow
    batch — packed uint8 ``binary`` cells (the write format) or int
    arrays (compatibility) alike."""
    first = codes.iloc[0]
    if isinstance(first, (bytes, bytearray)):
        C = np.stack([np.frombuffer(b, dtype=np.uint8) for b in codes])
        return np.asarray(C, dtype=np.float64).reshape(len(codes), -1,
                                                       dim)
    return np.asarray(np.stack(codes.to_numpy()),
                      dtype=np.float64).reshape(len(codes), -1, dim)


def _codes_row(c, dim: int):
    if isinstance(c, (bytes, bytearray)):
        return np.frombuffer(c, dtype=np.uint8).astype(
            np.float64).reshape(-1, dim)
    return np.asarray(c, dtype=np.float64).reshape(-1, dim)


def maxsim_score_codes_multi_udf(dim: int, mins: Sequence[float],
                                 steps: Sequence[float],
                                 queries_flat: Sequence[Sequence[float]]):
    """MaxSim scorer over SQ CODES of a flat multivector (the
    quantized tier of a MaxSim collection): each codes cell — packed
    uint8 ``binary`` or ``array<int>`` — dequantizes to bucket centers
    ``min_j + (c + 0.5)·step_j`` (dim j = position mod dim —
    per-subvector params). Codes cross Arrow once and every query
    scores against the decoded centers in the concatenated-matmul
    shape of ``maxsim_score_flat_multi_udf``; returns ``array<double>``
    of per-query approximate scores. One query is element 1 of a
    one-query call — the same matmul on the same operands as the
    per-query segment of a batch. The full-width column is only read
    by the exact rescore of the survivors (the dense codes-shortlist
    posture applied to MaxSim)."""
    Qs = [np.asarray(list(q), dtype=np.float64).reshape(-1, dim)
          for q in queries_flat]
    Qall = np.concatenate(Qs, axis=0)
    splits = np.cumsum([q.shape[0] for q in Qs])[:-1]
    mn = np.asarray(list(mins), dtype=np.float64)
    st = np.asarray(list(steps), dtype=np.float64)

    @F.pandas_udf("array<double>")
    def _score(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=object)
        if codes.map(len).nunique() == 1:
            C = _codes_batch(codes, dim)
            D = mn + (C + 0.5) * st
            sims = np.matmul(Qall[None], D.transpose(0, 2, 1))
            per_vec = sims.max(axis=2)
            scores = np.stack(
                [seg.sum(axis=1)
                 for seg in np.split(per_vec, splits, axis=1)],
                axis=1)
            return pd.Series(list(scores))
        out = []
        for c in codes:
            C = _codes_row(c, dim)
            D = mn + (C + 0.5) * st
            out.append(np.array(
                [(Q @ D.T).max(axis=1).sum() for Q in Qs]))
        return pd.Series(out)

    return _score


def _flat_batch(doc_flat: pd.Series, dim: int):
    """(B, n, dim) float64 tensor from a uniform-width Arrow batch of
    flat multivectors — float arrays or fp16-bytes cells alike."""
    first = doc_flat.iloc[0]
    if isinstance(first, (bytes, bytearray)):
        D = np.stack([np.frombuffer(b, dtype=np.float16)
                      for b in doc_flat])
        return np.asarray(D, dtype=np.float64).reshape(len(doc_flat), -1,
                                                       dim)
    return np.asarray(
        np.stack(doc_flat.to_numpy()), dtype=np.float64
    ).reshape(len(doc_flat), -1, dim)


def _flat_row(d, dim: int):
    if isinstance(d, (bytes, bytearray)):
        return np.frombuffer(d, dtype=np.float16).astype(
            np.float64).reshape(-1, dim)
    return np.asarray(d, dtype=np.float64).reshape(-1, dim)


def _flat_width(doc_flat: pd.Series) -> pd.Series:
    """Per-cell element count (bytes cells count fp16 elements)."""
    first = doc_flat.iloc[0]
    if isinstance(first, (bytes, bytearray)):
        return doc_flat.map(lambda b: len(b) // 2)
    return doc_flat.map(len)


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


def maxsim_score_flat_const_udf(dim: int, query_flat: Sequence[float]):
    """Flat scorer with the query CAPTURED in the UDF closure instead
    of joined on as a column. At reference shape (ColPali ~1030×128,
    README.md:91) the query array is tens of KB; the column form
    duplicates it onto every corpus row — at 1M docs that is tens of
    GB of pure query bytes through codegen + Arrow. The capture form
    ships it once per task via the pickled closure, and the scan
    pipeline carries only (id, doc_flat). Same stacked-matmul batch
    path as maxsim_score_flat_udf, so scores are bit-identical
    (pinned in tests/test_maxsim_flat.py)."""
    Q = np.asarray(list(query_flat), dtype=np.float64).reshape(-1, dim)

    @F.pandas_udf("double")
    def _score(doc_flat: pd.Series) -> pd.Series:
        if len(doc_flat) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        if _flat_width(doc_flat).nunique() == 1:
            D = _flat_batch(doc_flat, dim)               # (B, n, dim)
            sims = np.matmul(Q[None], D.transpose(0, 2, 1))  # (B, q, n)
            return pd.Series(sims.max(axis=2).sum(axis=1))
        out = np.empty(len(doc_flat), dtype=np.float64)
        for i, d in enumerate(doc_flat):
            out[i] = (Q @ _flat_row(d, dim).T).max(axis=1).sum()
        return pd.Series(out)

    return _score


def maxsim_score_flat_multi_udf(dim: int,
                                queries_flat: Sequence[Sequence[float]]):
    """Multi-query capture scorer: ALL queries live in the closure and
    every doc row scores against each of them in one pass, returning
    ``array<double>`` of ``len(queries)`` scores. The column-join
    batch form ships every doc row Q times through the join + Arrow;
    this ships docs ONCE regardless of Q — at ColPali shape with a
    Q-query batch, that is a Q× cut of the dominant byte stream.
    Per-query math is the same stacked matmul as the single-query
    capture scorer, so scores are bit-identical (pinned)."""
    Qs = [np.asarray(list(q), dtype=np.float64).reshape(-1, dim)
          for q in queries_flat]
    # ALL queries' subvectors concatenated into ONE (Σq_i, dim) matrix
    # — the per-batch compute is then the SAME 3-D stacked matmul as
    # the single-query scorer (a 4-D broadcast matmul over (docs ×
    # queries) measured 2.3× SLOWER at shape: numpy loops non-BLAS
    # over the doubly-batched slices); per-query scores come from
    # max-over-doc-vecs then summing each query's row segment.
    Qall = np.concatenate(Qs, axis=0)
    splits = np.cumsum([q.shape[0] for q in Qs])[:-1]

    @F.pandas_udf("array<double>")
    def _score(doc_flat: pd.Series) -> pd.Series:
        if len(doc_flat) == 0:
            return pd.Series([], dtype=object)
        if _flat_width(doc_flat).nunique() == 1:
            D = _flat_batch(doc_flat, dim)            # (B, n, dim)
            sims = np.matmul(Qall[None], D.transpose(0, 2, 1))
            per_vec = sims.max(axis=2)                # (B, Σq)
            scores = np.stack(
                [seg.sum(axis=1)                      # same np.sum as
                 for seg in np.split(per_vec, splits, axis=1)],
                axis=1)                               # (B, Qn)
            return pd.Series(list(scores))
        out = []
        for d in doc_flat:
            D = _flat_row(d, dim)
            out.append(np.array(
                [(Q @ D.T).max(axis=1).sum() for Q in Qs]))
        return pd.Series(out)

    return _score


def maxsim_knn(
    corpus: DataFrame,
    query: DataFrame,
    k: int | None = 5,
    id_col: str = "vec_id",
    mv_col: str = "vectors",
    query_mv_col: str = "query_vectors",
    payload_cols: Sequence[str] = (),
    prefilter: Column | None = None,
    score_threshold: float | None = None,
    round_digits: int | None = 6,
    flat_dim: int | None = None,
    query_flat: Sequence[float] | None = None,
) -> DataFrame:
    """Single-query MaxSim top-k via the vectorized pandas-UDF scorer.

    With ``query_flat`` (a plain list, requires ``flat_dim``) the
    query is captured in the scorer closure instead of broadcast-
    joined as a column — the at-shape path: the scan carries only
    ``(id, doc_flat)``, no per-row query copy (see
    ``maxsim_score_flat_const_udf``). ``query`` is ignored then.

    With ``flat_dim`` set, ``mv_col``/``query_mv_col`` are flat
    arrays (n×dim doubles) and the cheap flat scorer is used. On the
    capture paths ``mv_col`` may also be an fp16 ``binary`` column
    (``halfvec_encode_udf``) — the scorers detect bytes cells, decode
    with ``np.frombuffer`` and upcast to float64, halving the scan →
    Arrow byte stream at ColPali width.

    ``prefilter``/``score_threshold`` mirror the dense path
    (``knn.dense_knn``): the payload predicate runs *before* scoring
    (Catalyst pushes it into the scan), the threshold after — matching
    Qdrant's ``query_points(query_filter=..., score_threshold=...)``
    surface, which the reference declares on multivector calls too
    (``with_colpali_v1.3/qdrant_query_with_colpali.py:109-114``)."""
    if prefilter is not None:
        corpus = corpus.filter(prefilter)
    if query_flat is not None:
        if flat_dim is None:
            raise ValueError("query_flat requires flat_dim")
        score = maxsim_score_flat_const_udf(flat_dim, query_flat)(
            F.col(mv_col))
        if round_digits is not None:
            score = F.round(score, round_digits)
        scored = corpus.select(id_col, *payload_cols, score.alias("score"))
    else:
        if flat_dim is not None:
            score = maxsim_score_flat_udf(flat_dim)(
                F.col(mv_col), F.col(query_mv_col)
            )
        else:
            score = maxsim_score_udf()(F.col(mv_col), F.col(query_mv_col))
        if round_digits is not None:
            score = F.round(score, round_digits)
        scored = (
            corpus.join(F.broadcast(query.select(query_mv_col)))
            .withColumn("score", score)
            .select(id_col, *payload_cols, "score")
        )
    if score_threshold is not None:
        scored = scored.filter(F.col("score") >= score_threshold)
    if k is None:  # threshold-only / feed-a-ranker: no limit
        return scored
    return global_topk(scored, [("score", False), (id_col, True)], k)


def maxsim_knn_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    mv_col: str = "vectors",
    query_id_col: str = "query_idx",
    query_mv_col: str = "query_vectors",
    payload_cols: Sequence[str] = (),
    prefilter: Column | None = None,
    score_threshold: float | None = None,
    round_digits: int | None = 6,
    flat_dim: int | None = None,
    queries_flat: Sequence[Sequence[float]] | None = None,
) -> DataFrame:
    """Batched MaxSim (``query_batch_points`` for multivector
    collections): broadcast the query set, score every (doc × query)
    pair in one corpus pass with the vectorized scorer, rank per query.
    Same shuffle discipline as ``dense_knn_batch``: Spark's partial
    ``WindowGroupLimit`` caps the window's shuffle at
    ``partitions×Q×k`` rows.

    With ``queries_flat`` (list of flat query vectors, requires
    ``flat_dim``; ``queries`` is ignored) the whole batch is captured
    in the scorer closure: docs cross Arrow once with an
    ``array<double>`` of per-query scores posexploded into
    ``(query_idx, score)`` — no join, no Q× doc duplication
    (see ``maxsim_score_flat_multi_udf``)."""
    if prefilter is not None:
        corpus = corpus.filter(prefilter)
    if queries_flat is not None:
        if flat_dim is None:
            raise ValueError("queries_flat requires flat_dim")
        arr = maxsim_score_flat_multi_udf(flat_dim, queries_flat)(
            F.col(mv_col))
        score = F.col("__s")
        if round_digits is not None:
            score = F.round(score, round_digits)
        scored = corpus.select(
            F.col(id_col), *payload_cols,
            F.posexplode(arr).alias(query_id_col, "__s"),
        ).select(query_id_col, id_col, *payload_cols,
                 score.alias("score"))
    else:
        if flat_dim is not None:
            score = maxsim_score_flat_udf(flat_dim)(
                F.col(mv_col), F.col(query_mv_col))
        else:
            score = maxsim_score_udf()(F.col(mv_col), F.col(query_mv_col))
        if round_digits is not None:
            score = F.round(score, round_digits)
        scored = (
            corpus.join(
                F.broadcast(queries.select(query_id_col, query_mv_col)))
            .withColumn("score", score)
            .select(query_id_col, id_col, *payload_cols, "score")
        )
    if score_threshold is not None:
        scored = scored.filter(F.col("score") >= score_threshold)
    from .topk import grouped_topk

    return grouped_topk(
        scored, [query_id_col], [("score", False), (id_col, True)], k)


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
