"""Dense cosine KNN (the reference's core retrieval operator).

Semantics pinned by the reference:
- distance = COSINE, declared at collection creation
  (``with_vdr-2b-multi-v1/incremental_indexing_vdr_2b_multi_v1.py:80-83``,
  ``with_jina_text_v4/jina_v4_text_indexer.py:67-71``);
- top-k with default k=5, descending score
  (``with_vdr-2b-multi-v1/query_vdr_2b_multi_v1.py:48,78-83``);
- optional payload filter (declared but unused by the reference —
  ``query_points(query_filter=...)``, SURVEY.md §2.3 F4) — here a plain
  ``WHERE`` that Catalyst pushes into the parquet scan *before* scoring;
- result projection id/score/payload with defaults
  (``format_results``, ``query_vdr_2b_multi_v1.py:91-127``).

Plan shape: ``corpus → [pushed filter] → score (JVM codegen) → top-k``.
One catalog query is an array literal inside the score expression: no
join and no broadcast job, and above the unrolling gate the generated
code does not depend on the query. A query FRAME (a batch, or a
registry builder's data-derived query) is crossed with the corpus as
``crossJoin(broadcast(queries))`` — a BroadcastNestedLoopJoin, the
query side tiny, the corpus never shuffled. The single-query top-k is
TakeOrderedAndProject (per-partition heaps); a batch ranks per query
with the partial ``WindowGroupLimit``. Either plan is the one you want
at 100 TB: scan-local scoring, O(k) rows to the driver.

Scores are rounded (default 6 dp) for oracle stability; ordering is
made total with the id tie-break.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import (
    cosine,
    cosine_unrolled,
    dot,
    dot_unrolled,
    euclid,
    euclid_unrolled,
    manhattan,
    manhattan_unrolled,
    operand_col,
)
from .topk import global_topk, grouped_topk

__all__ = ["dense_knn", "dense_knn_batch"]

# Distance metrics rank ascending (closer = better) and score_threshold
# is a MAX bound — Qdrant's documented semantics for Euclid/Manhattan.
_DISTANCE_METRICS = {"euclid", "manhattan"}

# the scorer of each metric (dot = cosine on prenormalized vectors)
_UNROLLED = {"dot": dot_unrolled, "cosine": cosine_unrolled,
             "euclid": euclid_unrolled, "manhattan": manhattan_unrolled}
_LOOPED = {"dot": dot, "cosine": cosine, "euclid": euclid,
           "manhattan": manhattan}


def _score(vec_col: Column | str | Sequence[float],
           query_col: Column | str | Sequence[float], prenormalized: bool,
           dim: int | None, metric: str = "cosine") -> Column:
    """Score by the collection's declared metric (Qdrant
    ``Distance.{COSINE,DOT,EUCLID,MANHATTAN}``). ``prenormalized``
    turns cosine into a plain dot (normalize-at-write collections).
    With ``dim`` known — collections always declare it (SURVEY.md
    §1.1) — the ``*_unrolled`` builders pick the unrolled or loop form
    by their one width gate (``functions/vector.py``); same bits."""
    if metric == "dot" or (metric == "cosine" and prenormalized):
        metric = "dot"
    elif metric not in _LOOPED:
        raise ValueError(f"unknown metric: {metric}")
    if dim is not None:
        # unrolled builders take names/literals directly (single-expr
        # SQL fast path) and fall back to Columns transparently
        return _UNROLLED[metric](vec_col, query_col, dim)
    return _LOOPED[metric](operand_col(vec_col), operand_col(query_col))


def dense_knn(
    corpus: DataFrame,
    query: DataFrame | Sequence[float],
    k: int | None = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_vec",
    payload_cols: Sequence[str] = (),
    prefilter: Column | None = None,
    score_threshold: float | None = None,
    prenormalized: bool = False,
    round_digits: int | None = 6,
    dim: int | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """Single-query top-k by ``metric``. ``query`` is the query vector
    itself — scored as an array literal, no join — or a one-row frame
    with column ``query_vec_col``, broadcast-joined. ``k=None``
    disables the limit (threshold-only search). Pass ``dim`` for the
    unrolled fast path. Distance metrics (euclid/manhattan) rank
    ascending and treat ``score_threshold`` as a max bound.
    """
    if prefilter is not None:
        corpus = corpus.filter(prefilter)
    if isinstance(query, DataFrame):
        corpus = corpus.join(F.broadcast(query.select(query_vec_col)))
        operand = query_vec_col
    else:
        operand = [float(v) for v in query]
    asc = metric in _DISTANCE_METRICS
    score = _score(vec_col, operand, prenormalized, dim, metric)
    if round_digits is not None:
        score = F.round(score, round_digits)
    scored = corpus.withColumn("score", score).select(
        id_col, *payload_cols, "score")
    if score_threshold is not None:
        scored = scored.filter(
            F.col("score") <= score_threshold if asc
            else F.col("score") >= score_threshold
        )
    if k is None:
        return scored
    return global_topk(scored, [("score", asc), (id_col, True)], k)


def dense_knn_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    payload_cols: Sequence[str] = (),
    prefilter: Column | None = None,
    prenormalized: bool = False,
    round_digits: int | None = 6,
    dim: int | None = None,
    score_threshold: float | None = None,
    metric: str = "cosine",
    include_pairs: DataFrame | None = None,
    per_query_filter: Column | None = None,
) -> DataFrame:
    """Multi-query top-k by ``metric``: broadcast the query set, score
    each (corpus row × query), rank per query with a window (pruned
    map-side by Spark's partial ``WindowGroupLimit`` — see
    ``topk.grouped_topk``).
    ``score_threshold`` filters candidates *before* ranking (Qdrant's
    semantics: the threshold bounds the candidate set, then top-k).
    ``include_pairs`` (query_id, id) RESTRICTS each query to its own
    candidate set before ranking — a broadcast semi-join (the batched
    quantized-prefetch rescore: each query rescores only ITS
    shortlist, matching single-query semantics).
    ``per_query_filter`` is a predicate that may reference
    ``query_id_col`` (e.g. a CASE over per-request filters — Qdrant's
    query_batch_points per-request filter, and recommend_batch's
    per-request example exclusion); it applies to the scored rows
    before ranking, which equals filtering each query's candidates
    first because scoring is row-local."""
    if prefilter is not None:
        corpus = corpus.filter(prefilter)
    asc = metric in _DISTANCE_METRICS
    score = _score(vec_col, query_vec_col, prenormalized, dim, metric)
    if round_digits is not None:
        score = F.round(score, round_digits)
    scored = (
        corpus.join(F.broadcast(queries.select(query_id_col, query_vec_col)))
        .withColumn("score", score)
        .select(query_id_col, id_col, *payload_cols, "score")
    )
    if per_query_filter is not None:
        scored = scored.filter(per_query_filter)
    if include_pairs is not None:
        scored = scored.join(F.broadcast(include_pairs),
                             on=[query_id_col, id_col], how="left_semi")
    if score_threshold is not None:
        scored = scored.filter(
            F.col("score") <= score_threshold if asc
            else F.col("score") >= score_threshold
        )
    return grouped_topk(
        scored,
        [query_id_col],
        [("score", asc), (id_col, True)],
        k,
    )
