"""Dense cosine KNN queries (SURVEY.md §2.4 Q1/Q3, §2.3 F4, §2.2 P6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..functions.localframe import local_literal_df

from ..operators.knn import dense_knn, dense_knn_batch
from ..registry import register
from ..tables import load

# ---------------------------------------------------------------------------
# Dense cosine KNN (SURVEY.md §2.4 Q1/Q3, §2.3 F4, §2.2 P6)
# ---------------------------------------------------------------------------

# DuckDB fragment: cosine(a, b) over DOUBLE[] with the same left-to-right
# double summation as functions/vector.py::dot.
_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


def _query_of(emb: DataFrame, vec_id: int, alias: str = "query_vec") -> DataFrame:
    return emb.filter(F.col("vec_id") == vec_id).select(F.col("embedding").alias(alias))


@register(
    "knn_dense_top5",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND({_COS.format(a='e.embedding', b='q.qv')}, 6) AS score
    FROM embeddings e CROSS JOIN q
    ORDER BY score DESC, e.vec_id
    LIMIT 5
    """,
)
def knn_dense_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: dense cosine top-5, query = embedding of vec_id 0.

    Reference: ``query_vdr_2b_multi_v1.py:78-83`` (cosine KNN, k=5).
    """
    emb = load(spark, sf_dir, "embeddings")
    return dense_knn(emb, _query_of(emb, 0), k=5, payload_cols=["label"], dim=64)


@register(
    "knn_batch_top3",
    f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id IN (1, 2, 3)),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND({_COS.format(a='e.embedding', b='q.qv')}, 6) AS score
      FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 3
    """,
)
def knn_batch_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query KNN: broadcast query set + window rank ≤ 3."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return dense_knn_batch(emb, queries, k=3, dim=64)


@register(
    "knn_filtered_top5",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND({_COS.format(a='e.embedding', b='q.qv')}, 6) AS score
    FROM embeddings e CROSS JOIN q
    WHERE e.label = 7
    ORDER BY score DESC, e.vec_id
    LIMIT 5
    """,
)
def knn_filtered_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload-filtered KNN (F4): WHERE label=7 runs *before* scoring
    and is pushed into the parquet scan by Catalyst."""
    emb = load(spark, sf_dir, "embeddings")
    return dense_knn(
        emb, _query_of(emb, 0), k=5, payload_cols=["label"],
        prefilter=F.col("label") == 7, dim=64,
    )


@register(
    "knn_threshold",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_COS.format(a='e.embedding', b='q.qv')}, 6) AS score
    FROM embeddings e CROSS JOIN q
    WHERE ROUND({_COS.format(a='e.embedding', b='q.qv')}, 6) >= 0.25
    """,
)
def knn_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-threshold search (Qdrant ``score_threshold`` analog):
    all matches with cosine ≥ 0.25, unranked."""
    emb = load(spark, sf_dir, "embeddings")
    return dense_knn(emb, _query_of(emb, 0), k=None, score_threshold=0.25, dim=64)


# --- production-width KNN (768-d): the reference's real embedding
# models are 1536/2048-d dense and 128-d×n multivector
# (incremental_indexing_vdr_2b_multi_v1.py:57, jina_v4_text_indexer.py:54)
# while the fixture is 64-d. This entry tiles the fixture to 768-d
# DETERMINISTICALLY (12 tiles, tile t scaled by the exact dyadic
# 1 + t/16 — bit-exact in both engines) so the loop-shaped scorer
# past functions/vector.py::_UNROLL_MAX_DIM is exercised by the
# registry bench (bench.py) and value-checked by the oracle at real
# embedding width, not only by stress runs: a codegen regression
# there shows up here.
_WIDE_TILES = 12  # 12 × 64-d fixture = 768-d


def _tile(col: str, scale: float) -> "F.Column":
    # NB: a separate helper, not a default-arg lambda — F.transform
    # treats a two-parameter lambda as (element, index).
    return F.transform(F.col(col).cast("array<double>"),
                       lambda x: x * F.lit(scale))


def _widen(col: str) -> "F.Column":
    return F.flatten(F.array(*[
        _tile(col, 1.0 + t * 0.0625) for t in range(_WIDE_TILES)]))


def _widen_sql(col: str) -> str:
    tiles = ", ".join(
        f"list_transform(CAST({col} AS DOUBLE[]),"
        f" x -> x * CAST({1.0 + t * 0.0625!r} AS DOUBLE))"
        for t in range(_WIDE_TILES))
    return f"flatten([{tiles}])"


@register(
    "knn_wide_dense_top5",
    f"""
    WITH w AS (
      SELECT vec_id, label, {_widen_sql('embedding')} AS wide
      FROM embeddings
    ),
    q AS (SELECT wide AS qv FROM w WHERE vec_id = 0)
    SELECT w.vec_id, w.label,
           ROUND(list_dot_product(w.wide, q.qv)
                 / (sqrt(list_dot_product(w.wide, w.wide))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
    FROM w CROSS JOIN q
    ORDER BY score DESC, w.vec_id
    LIMIT 5
    """,
)
def knn_wide_dense_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense cosine top-5 at PRODUCTION width (768-d): past the
    ``_UNROLL_MAX_DIM`` gate ``dense_knn`` scores with the loop-shaped
    ``zip_with``/``aggregate`` HOF twin (whole-stage codegen at any
    width — the unrolled form blows janino's 64 KB method limit and
    silently drops to interpreted eval). Same broadcast-NLJ +
    TakeOrderedAndProject plan as ``knn_dense_top5``."""
    emb = load(spark, sf_dir, "embeddings")
    wide = emb.select("vec_id", "label", _widen("embedding").alias("wide"))
    query = (wide.filter(F.col("vec_id") == 0)
             .select(F.col("wide").alias("query_vec")))
    return dense_knn(wide, query, k=5, vec_col="wide",
                     payload_cols=["label"], dim=64 * _WIDE_TILES)


def _euclid_sql(dim: int = 64) -> str:
    """Explicit left-to-right squared-diff sum, mirroring
    ``euclid_unrolled``'s op shape term by term."""
    terms = " + ".join(
        f"(CAST(e.embedding[{j}] AS DOUBLE) - q.qv[{j}])"
        f" * (CAST(e.embedding[{j}] AS DOUBLE) - q.qv[{j}])"
        for j in range(1, dim + 1)
    )
    return f"SQRT({terms})"


def _manhattan_sql(dim: int = 64) -> str:
    terms = " + ".join(
        f"ABS(CAST(e.embedding[{j}] AS DOUBLE) - q.qv[{j}])"
        for j in range(1, dim + 1)
    )
    return terms


@register(
    "knn_euclid_top5",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, ROUND({_euclid_sql()}, 6) AS score
    FROM embeddings e CROSS JOIN q
    ORDER BY score ASC, e.vec_id
    LIMIT 5
    """,
)
def knn_euclid_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean-metric KNN (Qdrant ``Distance.EUCLID``): distance
    ranks ascending — closest 5 to the vec_id=0 vector (itself at
    distance 0). Same scan-local plan as cosine; only the codegen'd
    score expression changes."""
    emb = load(spark, sf_dir, "embeddings")
    return dense_knn(emb, _query_of(emb, 0), k=5, dim=64, metric="euclid")


@register(
    "knn_manhattan_threshold",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, ROUND({_manhattan_sql()}, 6) AS score
    FROM embeddings e CROSS JOIN q
    WHERE ROUND({_manhattan_sql()}, 6) <= 8.0
    """,
)
def knn_manhattan_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manhattan-metric threshold search: for distance metrics
    ``score_threshold`` is a MAX bound (Qdrant semantics) — all points
    within L1 distance 8.0 of the query, unranked."""
    emb = load(spark, sf_dir, "embeddings")
    return dense_knn(emb, _query_of(emb, 0), k=None, dim=64,
                     metric="manhattan", score_threshold=8.0)


# Qdrant Filter-DSL query: the Spark predicate and the oracle's WHERE
# clause compile from the SAME tree (filters.py), so the DSL semantics
# themselves are oracle-checked.
from ..filters import FieldCondition, Filter  # noqa: E402

_DSL = Filter(
    must=[FieldCondition("label", range={"gte": 2, "lte": 8})],
    should=[FieldCondition("vec_id", range={"lt": 200}),
            FieldCondition("label", match=7)],
    must_not=[FieldCondition("label", match_any=[4, 5])],
)


@register(
    "knn_dsl_filtered_top5",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND({_COS.format(a='e.embedding', b='q.qv')}, 6) AS score
    FROM embeddings e CROSS JOIN q
    WHERE {_DSL.to_sql()}
    ORDER BY score DESC, e.vec_id
    LIMIT 5
    """,
)
def knn_dsl_filtered_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN under a Qdrant ``Filter`` clause tree (must + should +
    must_not with range/match/match_any conditions). The compiled
    predicate is an ordinary Catalyst expression — it pushes into the
    scan before scoring, like every F4 filter."""
    emb = load(spark, sf_dir, "embeddings")
    return dense_knn(emb, _query_of(emb, 0), k=5, payload_cols=["label"],
                     prefilter=_DSL.to_column(), dim=64)


def _recommend_oracle(dim: int = 64) -> str:
    """Unrolled cosine against the composed recommendation vector
    ``avg(pos 1,2) − avg(neg 3)`` — per-dim AVG CTEs (2-element sums
    are order-exact), then the same left-to-right dot/norm shapes as
    ``cosine_unrolled``."""
    pa = ", ".join(f"avg(CAST(embedding[{j}] AS DOUBLE)) AS p{j}"
                   for j in range(1, dim + 1))
    na = ", ".join(f"avg(CAST(embedding[{j}] AS DOUBLE)) AS n{j}"
                   for j in range(1, dim + 1))
    qj = [f"(p.p{j} - n.n{j})" for j in range(1, dim + 1)]
    dot = " + ".join(f"CAST(e.embedding[{j}] AS DOUBLE) * {qj[j-1]}"
                     for j in range(1, dim + 1))
    ne = " + ".join(
        f"CAST(e.embedding[{j}] AS DOUBLE) * CAST(e.embedding[{j}] AS DOUBLE)"
        for j in range(1, dim + 1))
    nq = " + ".join(f"{q} * {q}" for q in qj)
    return f"""
    WITH p AS (SELECT {pa} FROM embeddings WHERE vec_id IN (1, 2)),
    n AS (SELECT {na} FROM embeddings WHERE vec_id = 3)
    SELECT e.vec_id,
           ROUND(({dot}) / (SQRT({ne}) * SQRT({nq})), 6) AS score
    FROM embeddings e CROSS JOIN p CROSS JOIN n
    WHERE e.vec_id NOT IN (1, 2, 3)
    ORDER BY score DESC, e.vec_id
    LIMIT 5
    """


@register("knn_recommend_top5", _recommend_oracle())
def knn_recommend_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation search (Qdrant ``recommend``,
    ``strategy=average_vector``): query = avg(vectors 1,2) − avg(vector
    3), examples excluded from results. The example fetch is an O(3)
    driver lookup; the search is the ordinary one-pass dense plan."""
    emb = load(spark, sf_dir, "embeddings")
    rows = emb.filter(F.col("vec_id").isin(1, 2, 3)).select(
        "vec_id", "embedding").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    qv = [(a + b) / 2 - c
          for a, b, c in zip(vecs[1], vecs[2], vecs[3])]
    qdf = local_literal_df(
        spark, [(qv,)], "query_vec array<double>")
    return dense_knn(emb, qdf, k=5, dim=64,
                     prefilter=~F.col("vec_id").isin(1, 2, 3))


@register(
    "knn_grouped_top3",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.label, e.vec_id,
             ROUND({_COS.format(a='e.embedding', b='q.qv')}, 6) AS score
      FROM embeddings e CROSS JOIN q
    ),
    hits AS (
      SELECT label, vec_id, score,
             CAST(row_number() OVER (PARTITION BY label
                                     ORDER BY score DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    ),
    kept AS (SELECT * FROM hits WHERE rank <= 2),
    granked AS (
      SELECT label,
             CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INTEGER)
               AS group_rank
      FROM kept WHERE rank = 1
    )
    SELECT k.label, k.vec_id, k.score, k.rank, g.group_rank
    FROM kept k JOIN granked g USING (label)
    WHERE g.group_rank <= 3
    """,
)
def knn_grouped_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped search (Qdrant ``query_points_groups``): the 2 best
    hits from each of the 3 best label groups, groups ranked by their
    best hit — e.g. 'top matching documents, at most 2 per source'.
    One corpus pass; the group verdict is a ≤3-row broadcast."""
    from ..operators.topk import top_groups

    emb = load(spark, sf_dir, "embeddings")
    scored = dense_knn(emb, _query_of(emb, 0), k=None,
                       payload_cols=["label"], dim=64)
    return top_groups(
        scored, "label", [("score", False), ("vec_id", True)],
        limit=3, group_size=2,
    ).select("label", "vec_id", "score", "rank", "group_rank")


@register(
    "knn_projection_top5",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    top5 AS (
      SELECT e.vec_id,
             ROUND({_COS.format(a='e.embedding', b='q.qv')}, 6) AS score
      FROM embeddings e CROSS JOIN q
      ORDER BY score DESC, e.vec_id
      LIMIT 5
    )
    SELECT t.vec_id, t.score,
           COALESCE(d.source, 'Unknown') AS source,
           COALESCE(d.lang, 'Unknown') AS lang
    FROM top5 t LEFT JOIN documents d ON d.doc_id = t.vec_id
    """,
)
def knn_projection_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result projection with 'Unknown' defaults — the reference's
    ``format_results`` (``query_vdr_2b_multi_v1.py:91-127``,
    ``payload.get(..., 'Unknown')``), with payload columns joined from
    the documents table (broadcast: top-k side is k rows)."""
    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    top5 = dense_knn(emb, _query_of(emb, 0), k=5, dim=64)
    return (
        F.broadcast(top5.drop("label"))
        .join(docs, top5.vec_id == docs.doc_id, "left")
        .select(
            "vec_id", "score",
            F.coalesce("source", F.lit("Unknown")).alias("source"),
            F.coalesce("lang", F.lit("Unknown")).alias("lang"),
        )
    )


_BEST_SCORE_ORACLE = f"""
WITH p1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 1),
p2 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 2),
n1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 3),
scored AS (
  SELECT e.vec_id,
         GREATEST(ROUND({_COS.format(a='e.embedding', b='p1.v')}, 6),
                  ROUND({_COS.format(a='e.embedding', b='p2.v')}, 6)) AS mp,
         ROUND({_COS.format(a='e.embedding', b='n1.v')}, 6) AS mn
  FROM embeddings e CROSS JOIN p1 CROSS JOIN p2 CROSS JOIN n1
  WHERE e.vec_id NOT IN (1, 2, 3)
)
SELECT vec_id,
       CASE WHEN mp > mn THEN mp ELSE ROUND(-(mn * mn), 6) END AS score
FROM scored
ORDER BY score DESC, vec_id
LIMIT 5
"""


@register("knn_recommend_best_score_top5", _BEST_SCORE_ORACLE)
def knn_recommend_best_score_top5(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Recommendation with ``strategy=best_score`` (Qdrant
    ``RecommendStrategy.BEST_SCORE``): positives 1,2 / negative 3,
    score = max-positive similarity unless the best negative wins,
    then ``-(max_neg²)``. Examples are literal-folded into one
    scan-local projection (same joinless plan family as discovery);
    examples excluded from results."""
    from ..operators.discover import recommend_best_score

    emb = load(spark, sf_dir, "embeddings")
    rows = emb.filter(F.col("vec_id").isin(1, 2, 3)).select(
        "vec_id", "embedding").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    return recommend_best_score(
        emb, [vecs[1], vecs[2]], [vecs[3]], k=5, dim=64,
        prefilter=~F.col("vec_id").isin(1, 2, 3))
