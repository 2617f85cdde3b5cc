"""Hybrid retrieval: BM25 lexical ranking ⊕ dense vector ranking,
fused with Reciprocal Rank Fusion — the modern retrieval-stack shape
(Qdrant exposes the same hybrid/fusion API server-side; here it is
two deterministic rankers + one join, so the WHOLE hybrid pipeline is
oracle-checked).

RRF: ``score(d) = Σ_r 1 / (K + rank_r(d))`` over the rankers where d
appears (K = 60), each ranker truncated to its top-50.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..bench_phases import phase
from ..operators.bm25 import bm25_rank
from ..operators.knn import dense_knn
from ..registry import register
from ..sources.embedder import HashEmbedder
from ..functions.localframe import local_literal_df
from ..tables import load
from .bm25 import _B, _BM25_ORACLE, _K1, _TERMS

_E = HashEmbedder(dim=8)
_QUERY_TEXT = " ".join(_TERMS)
_RRF_K = 60
_DEPTH = 50


def _vector_oracle_scored() -> str:
    dims_d = [_E.oracle_dim_sql(i, "d.text", "passage") for i in range(8)]
    dims_q = [_E.oracle_dim_sql(i, f"'{_QUERY_TEXT}'", "query") for i in range(8)]
    dot = " + ".join(f"({q}) * ({d})" for q, d in zip(dims_q, dims_d))
    dn = " + ".join(f"({d}) * ({d})" for d in dims_d)
    qn = " + ".join(f"({q}) * ({q})" for q in dims_q)
    return (
        f"SELECT d.doc_id, ROUND(({dot}) / (sqrt({dn}) * sqrt({qn})), 6) AS score"
        " FROM documents d"
    )


# the BM25 oracle, untruncated, as a CTE body (drop its LIMIT)
_BM25_BODY = _BM25_ORACLE.replace("LIMIT 10", "")

_HYBRID_ORACLE = f"""
WITH lex_scores AS ({_BM25_BODY}),
lex AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS lrank
  FROM lex_scores QUALIFY lrank <= {_DEPTH}
),
vec_scores AS ({_vector_oracle_scored()}),
vec AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS vrank
  FROM vec_scores QUALIFY vrank <= {_DEPTH}
),
fused AS (
  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / ({_RRF_K} + l.lrank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + v.vrank), 0.0), 6) AS rrf
  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
)
SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
"""


@register("hybrid_search_rrf_top10", _HYBRID_ORACLE)
def hybrid_search_rrf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-50 ⊕ dense top-50 → RRF → top-10."""
    docs = load(spark, sf_dir, "documents")

    lex = bm25_rank(docs, _TERMS, k=_DEPTH, k1=_K1, b=_B).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .cast("long")
        .alias("lrank"),
    )

    corpus = _E.embed(docs, text_col="text").select("doc_id", "embedding")
    query = _E.embed(
        local_literal_df(spark, [(_QUERY_TEXT,)], "text string"),
        text_col="text", mode="query",
    ).select(F.col("embedding").alias("query_vec"))
    vec = dense_knn(corpus, query, k=_DEPTH, id_col="doc_id", dim=8).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .cast("long")
        .alias("vrank"),
    )

    fused = (
        lex.join(vec, on="doc_id", how="full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("lrank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("vrank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


_SPARSE_BODY = """
  SELECT tf.doc_id, ROUND(SUM(tf.tf * q.qval), 6) AS score
  FROM (
    SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
    FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\w+')) AS term
          FROM documents)
    GROUP BY doc_id, term
  ) tf
  JOIN (
    SELECT term, CAST(COUNT(*) AS DOUBLE) AS qval
    FROM (SELECT unnest(regexp_extract_all(text, '\\w+')) AS term
          FROM documents WHERE doc_id = 0)
    GROUP BY term
  ) q ON tf.term = q.term
  GROUP BY tf.doc_id
"""

_COS64 = (
    "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(qe.qv AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
    " CAST(e.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(qe.qv AS DOUBLE[]),"
    " CAST(qe.qv AS DOUBLE[]))))"
)

_SPARSE_DENSE_ORACLE = f"""
WITH sp_scores AS ({_SPARSE_BODY}),
sp AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS r0
  FROM sp_scores QUALIFY r0 <= {_DEPTH}
),
dn_scores AS (
  SELECT e.vec_id AS doc_id, ROUND({_COS64}, 6) AS score
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) qe
),
dn AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS r1
  FROM dn_scores QUALIFY r1 <= {_DEPTH}
),
fused AS (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / ({_RRF_K} + s.r0), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + d.r1), 0.0), 6) AS rrf
  FROM sp s FULL OUTER JOIN dn d ON s.doc_id = d.doc_id
)
SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
"""


@register("hybrid_sparse_dense_rrf_top10", _SPARSE_DENSE_ORACLE)
def hybrid_sparse_dense_rrf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-example entity 0 through TWO modalities — its sparse
    tf vector over the text AND its dense embedding — fused with RRF
    via the generic fusion operator (Qdrant Query-API prefetch shape:
    sparse branch + dense branch + FusionQuery(RRF))."""
    from ..operators.fusion import rrf_fuse
    from ..operators.sparse import sparse_from_text, sparse_knn, term_vocabulary

    docs = load(spark, sf_dir, "documents")
    vocab = term_vocabulary(docs)
    corpus = sparse_from_text(docs, vocab)
    qrow = corpus.filter(F.col("doc_id") == 0).collect()[0]
    sp = sparse_knn(corpus, [(qrow.indices, qrow.values)], k=_DEPTH)

    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec"))
    dn = dense_knn(emb, query, k=_DEPTH, dim=64).select(
        F.col("vec_id").alias("doc_id"), "score")

    return rrf_fuse([sp, dn], k=10, id_col="doc_id")


# the collection holds only docs whose id is ALSO an embeddings
# vec_id (the mixed-space point build joins the two fixtures), so the
# oracle's sparse branch must score that same id set — at sf0.1 the
# documents fixture is larger than embeddings and an unrestricted
# branch ranks docs the collection never indexed
_COLL_SPARSE_BODY = """
  SELECT tf.doc_id, ROUND(SUM(tf.tf * q.qval), 6) AS score
  FROM (
    SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
    FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\w+')) AS term
          FROM documents
          WHERE doc_id IN (SELECT vec_id FROM embeddings))
    GROUP BY doc_id, term
  ) tf
  JOIN (
    SELECT term, CAST(COUNT(*) AS DOUBLE) AS qval
    FROM (SELECT unnest(regexp_extract_all(text, '\\w+')) AS term
          FROM documents WHERE doc_id = 0)
    GROUP BY term
  ) q ON tf.term = q.term
  GROUP BY tf.doc_id
"""

_COLL_HYBRID_ORACLE = f"""
WITH sp_scores AS ({_COLL_SPARSE_BODY}),
sp AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS r0
  FROM sp_scores QUALIFY r0 <= {_DEPTH}
),
dn_scores AS (
  SELECT e.vec_id AS doc_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                CAST(qe.qv AS DOUBLE[])), 6) AS score
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) qe
),
dn AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS r1
  FROM dn_scores QUALIFY r1 <= {_DEPTH}
),
fused AS (
  SELECT COALESCE(s.doc_id, d.doc_id) AS id,
         ROUND(COALESCE(1.0 / ({_RRF_K} + s.r0), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + d.r1), 0.0), 6) AS rrf
  FROM sp s FULL OUTER JOIN dn d ON s.doc_id = d.doc_id
)
SELECT id, rrf FROM fused ORDER BY rrf DESC, id LIMIT 10
"""


@register("ingest_hybrid_query", _COLL_HYBRID_ORACLE)
def ingest_hybrid_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant's canonical hybrid search THROUGH the collection
    surface: one collection holding a dense space (the embeddings
    fixture, metric=dot) AND a named sparse space (tf vectors over
    the documents fixture), queried with the universal API —
    ``query_points(prefetch=[dense Prefetch, sparse Prefetch],
    query=FusionQuery(RRF))``. Each branch runs its own space's
    retrieval at depth 50; the fused top-10 is checked against a
    DuckDB twin that recomputes both rankings and the RRF sum."""
    import shutil
    import tempfile

    from ..catalog import Prefetch, create_collection
    from ..operators.sparse import sparse_from_text, term_vocabulary

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    vocab = term_vocabulary(docs)
    enc = sparse_from_text(docs, vocab)
    points = (
        emb.select(F.col("vec_id").alias("id"),
                   F.col("embedding").cast("array<double>").alias("dense"))
        .join(enc.select(F.col("doc_id").alias("id"),
                         F.col("indices").alias("text__sidx"),
                         F.col("values").alias("text__sval")), on="id"))
    qdense = [float(x) for x in
              emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    qrow = enc.filter(F.col("doc_id") == 0).collect()[0]
    root = tempfile.mkdtemp(prefix="qd_hybrid_")
    try:
        coll = create_collection(
            root, "h",
            vectors={"dense": {"dim": 64, "metric": "dot",
                               "normalize": False}},
            sparse_vectors={"text": {}})
        coll.upsert(spark, points)
        with phase("search"):
            res = coll.query(
                spark,
                prefetch=[
                    Prefetch(qdense, using="dense", limit=_DEPTH),
                    Prefetch((list(qrow.indices), list(qrow.values)),
                             using="text", limit=_DEPTH),
                ],
                fusion="rrf", k=10)
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
