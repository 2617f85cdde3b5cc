"""Sparse-vector retrieval queries (Qdrant SparseVector surface).

Oracle note: the oracle scores by joining on *terms* while the Spark
path round-trips through the real sparse encoding (term → vocabulary
id → indices/values arrays → posting explode). The vocabulary map is
a bijection, so the two formulations are equivalent — the oracle
checks the retrieval math, the Spark path additionally exercises the
array plumbing. tf weights are integer-valued doubles, so sums are
order-exact on both sides.
"""

from __future__ import annotations

from ..functions.localframe import local_literal_df
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..bench_phases import phase
from ..operators.sparse import sparse_from_text, sparse_knn, term_vocabulary
from ..registry import register
from ..tables import load

_SPARSE_ORACLE = """
WITH toked AS (
  SELECT doc_id, regexp_extract_all(text, '\\w+') AS toks FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM toked)
  GROUP BY doc_id, term
),
q AS (SELECT term, tf AS qval FROM tf WHERE doc_id = 0)
SELECT tf.doc_id, ROUND(SUM(tf.tf * q.qval), 6) AS score
FROM tf JOIN q ON tf.term = q.term
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id
LIMIT 10
"""


@register("sparse_knn_top10", _SPARSE_ORACLE)
def sparse_knn_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse dot-product top-10: documents encoded as tf sparse
    vectors over a lexicographic vocabulary, query = doc 0's own
    sparse vector (it must rank first). The probe prunes postings to
    query terms via the broadcast join before any shuffle."""
    docs = load(spark, sf_dir, "documents")
    vocab = term_vocabulary(docs)
    corpus = sparse_from_text(docs, vocab)
    qrow = corpus.filter(F.col("doc_id") == 0).collect()[0]
    return sparse_knn(corpus, [(qrow.indices, qrow.values)], k=10)


_SPARSE_IDF_ORACLE = r"""
WITH toked AS (
  SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM toked)
  GROUP BY doc_id, term
),
q AS (SELECT term, tf AS qval FROM tf WHERE doc_id = 0),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
idf AS (
  SELECT tf.term, CAST(COUNT(*) AS DOUBLE) AS df
  FROM tf JOIN q ON tf.term = q.term GROUP BY tf.term
),
contrib AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (q.qval * ln((n.n - idf.df + 0.5) / (idf.df + 0.5) + 1.0))
           AS c
  FROM tf JOIN q ON tf.term = q.term
  JOIN idf ON tf.term = idf.term CROSS JOIN n
),
agg AS (
  SELECT doc_id, list(c ORDER BY term) AS cs FROM contrib GROUP BY doc_id
)
SELECT doc_id, ROUND(list_reduce(cs, (a, b) -> a + b), 6) AS score
FROM agg
ORDER BY score DESC, doc_id
LIMIT 10
"""


@register("sparse_idf_knn_top10", _SPARSE_IDF_ORACLE)
def sparse_idf_knn_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse retrieval with Qdrant's ``Modifier.IDF``
    (``SparseVectorParams(modifier=Modifier.IDF)`` — the BM42/SPLADE
    server-side IDF weighting): each query value is multiplied by
    ``ln((N − df + 0.5)/(df + 0.5) + 1)`` with df computed from the
    corpus. IDF makes the contributions irrational doubles, so both
    engines fold each doc's contributions in ascending term order
    (Spark ``aggregate(array_sort(collect_list))`` ≡ DuckDB
    ``list_reduce(list(... ORDER BY term))`` — the vocabulary id IS
    the lexicographic term rank, so the two orders coincide)."""
    docs = load(spark, sf_dir, "documents")
    # vocabulary + corpus encoding are upsert-time work (Qdrant builds
    # the sparse index at write); materialize them under the "build"
    # phase mark so bench.py's split bills only the posting-pruned
    # retrieval to the search component.
    with phase("build"):
        vocab = term_vocabulary(docs)
        corpus = sparse_from_text(docs, vocab).persist()
        corpus.count()
        qrow = corpus.filter(F.col("doc_id") == 0).collect()[0]
    return sparse_knn(corpus, [(qrow.indices, qrow.values)], k=10,
                      modifier="idf")


_SPARSE_SPACE_ORACLE = r"""
WITH toked AS (
  SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM toked)
  GROUP BY doc_id, term
),
q AS (SELECT term, tf AS qval FROM tf WHERE doc_id = 0),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
idf AS (
  SELECT tf.term, CAST(COUNT(*) AS DOUBLE) AS df
  FROM tf JOIN q ON tf.term = q.term GROUP BY tf.term
),
contrib AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (q.qval * ln((n.n - idf.df + 0.5) / (idf.df + 0.5) + 1.0))
           AS c
  FROM tf JOIN q ON tf.term = q.term
  JOIN idf ON tf.term = idf.term CROSS JOIN n
),
agg AS (
  SELECT doc_id, list(c ORDER BY term) AS cs FROM contrib GROUP BY doc_id
)
SELECT doc_id AS id, ROUND(list_reduce(cs, (a, b) -> a + b), 6) AS score
FROM agg
ORDER BY score DESC, id
LIMIT 10
"""


_SPARSE_POSTINGS_ORACLE = r"""
WITH toked AS (
  SELECT doc_id, lang, regexp_extract_all(text, '\w+') AS toks
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM toked)
  GROUP BY doc_id, term
),
q AS (SELECT term, tf AS qval FROM tf WHERE doc_id = 0),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
idf AS (
  SELECT tf.term, CAST(COUNT(*) AS DOUBLE) AS df
  FROM tf JOIN q ON tf.term = q.term GROUP BY tf.term
),
contrib AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (q.qval * ln((n.n - idf.df + 0.5) / (idf.df + 0.5) + 1.0))
           AS c
  FROM tf JOIN q ON tf.term = q.term
  JOIN idf ON tf.term = idf.term CROSS JOIN n
),
agg AS (
  SELECT doc_id, list(c ORDER BY term) AS cs FROM contrib GROUP BY doc_id
)
SELECT agg.doc_id AS id,
       ROUND(list_reduce(cs, (a, b) -> a + b), 6) AS score
FROM agg JOIN documents d ON agg.doc_id = d.doc_id
WHERE d.lang = 'en'
ORDER BY score DESC, id
LIMIT 10
"""


@register("ingest_sparse_postings_search", _SPARSE_POSTINGS_ORACLE)
def ingest_sparse_postings_search(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The sparse search through the PERSISTED posting layout (Qdrant
    ``SparseIndexParams(full_scan_threshold=...)`` — the sparse
    inverted index the server builds at upsert): the collection
    declares ``full_scan_threshold`` low enough that the upsert
    crosses it and writes the bucket-partitioned posting layout; the
    search then probes that layout (``bucket IN`` partition prune +
    ``idx IN`` row-group prune — plan pinned in tests/test_plans.py)
    instead of exploding the point arrays, and a payload filter
    narrows the CANDIDATES via an id join while IDF df/N stay
    collection-wide (Qdrant computes them at index time). Scores are
    bit-equal to the array-explode path; the oracle is the IDF twin
    plus the language filter on candidates."""
    import shutil
    import tempfile

    from ..catalog import create_collection

    docs = load(spark, sf_dir, "documents")
    with phase("build"):
        vocab = term_vocabulary(docs)
        enc = sparse_from_text(docs, vocab)
        points = (
            enc.select(F.col("doc_id").alias("id"),
                       F.col("indices").alias("text__sidx"),
                       F.col("values").alias("text__sval"))
            .join(docs.select(F.col("doc_id").alias("id"), "source",
                              "lang"), on="id"))
        qrow = enc.filter(F.col("doc_id") == 0).collect()[0]
    root = tempfile.mkdtemp(prefix="qd_sparse_postings_")
    try:
        with phase("build"):
            coll = create_collection(
                root, "sp",
                sparse_vectors={"text": {"modifier": "idf",
                                         "full_scan_threshold": 10}})
            coll.upsert(spark, points)
            assert coll.meta["sparse_vectors"]["text"].get(
                "postings_built"), "posting layout must exist"
        with phase("search"):
            res = coll.search(
                spark, (list(qrow.indices), list(qrow.values)),
                using="text", k=10, query_filter=F.col("lang") == "en",
                with_payload=False)
            rows = res.select("id", "score").collect()
        return local_literal_df(spark, rows, res.select("id", "score").schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("ingest_sparse_space_search", _SPARSE_SPACE_ORACLE)
def ingest_sparse_space_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sparse surface through the COLLECTION lifecycle (Qdrant
    ``sparse_vectors_config`` + ``query=SparseVector``): create a
    collection with a named sparse space carrying the IDF modifier,
    upsert points with ``text__sidx``/``text__sval`` arrays, search
    with a sparse query via ``using="text"``. Same retrieval math as
    `sparse_idf_knn_top10` (the oracle is its twin with the
    collection's id column), but round-tripped through the on-disk
    point table, the space dispatch in ``Collection.search``, and the
    ``with_payload=False`` projection."""
    import shutil
    import tempfile

    from ..catalog import create_collection

    docs = load(spark, sf_dir, "documents")
    vocab = term_vocabulary(docs)
    enc = sparse_from_text(docs, vocab)
    points = (
        enc.select(F.col("doc_id").alias("id"),
                   F.col("indices").alias("text__sidx"),
                   F.col("values").alias("text__sval"))
        .join(docs.select(F.col("doc_id").alias("id"), "source", "lang"),
              on="id"))
    qrow = enc.filter(F.col("doc_id") == 0).collect()[0]
    root = tempfile.mkdtemp(prefix="qd_sparse_space_")
    try:
        coll = create_collection(
            root, "sp", sparse_vectors={"text": {"modifier": "idf"}})
        coll.upsert(spark, points)
        with phase("search"):
            res = coll.search(
                spark, (list(qrow.indices), list(qrow.values)),
                using="text", k=10, with_payload=False)
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
