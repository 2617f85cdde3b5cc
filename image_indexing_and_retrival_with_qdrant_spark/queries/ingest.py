"""Ingestion-pipeline queries (SURVEY.md §2.1/§2.2/§2.6, §3.1-§3.2).

These run the reference's indexing + retrieval lifecycle end-to-end on
the ``documents`` fixture with the deterministic ``HashEmbedder``
(SURVEY.md §5.3): scan → embed → point build → [write] → query-embed →
cosine KNN. Because the stub embedder is SQL-expressible, the WHOLE
pipeline — including the semantic search result — is oracle-checked.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..bench_phases import phase
from ..catalog import (ContextQuery, DiscoverQuery, OrderByQuery,
                       Prefetch, RecommendQuery, SampleQuery,
                       _read_parquet, create_collection)
from ..operators.knn import dense_knn
from ..registry import register
from ..sources.embedder import HashEmbedder
from ..functions.localframe import local_literal_df
from ..sources.ingest import build_points
from ..tables import load

_E = HashEmbedder(dim=8)

_QUERY_TEXT = "spark query engine"

# Deterministic text-dedup for content-hash-id builders: duplicate
# texts exist at sf0.1 (not at the smaller fixtures), and with
# id=sha(text) they collide into one point. The ENGINE keeps an
# unspecified row per id (Qdrant batch semantics, catalog.upsert);
# oracle parity needs a SPECIFIED winner, so these builders dedupe at
# the source — the lowest doc_id's row survives. DuckDB twin:
#   (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY text
#    ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1)
_DOCS_DEDUP = ("(SELECT * FROM (SELECT *, ROW_NUMBER() OVER ("
               "PARTITION BY text ORDER BY doc_id) AS rn FROM documents)"
               " WHERE rn = 1)")


def _dedupe_docs(docs: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("text").orderBy("doc_id")
    return (docs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


@register(
    "ingest_build_points",
    """
    SELECT sha256(text) AS id,
           text AS content,
           doc_id,
           'document' AS source_tag
    FROM documents
    """,
)
def ingest_build_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1–P5 point construction with deterministic content-hash ids
    (the honest-id upgrade of ``uuid.uuid4()``,
    ``incremental_indexing_colpali_with_qdrant.py:256-269``).
    Timestamp column omitted here for oracle determinism (P3 is
    pinned by tests/test_ingest.py instead)."""
    docs = load(spark, sf_dir, "documents")
    return build_points(
        docs.withColumn("embedding", F.lit(None).cast("array<double>")),
        id_key=F.col("text"),
        payload={"content": F.col("text"), "doc_id": F.col("doc_id")},
        source_tag="document",
        with_timestamp=False,
    ).drop("embedding")


def _embed_dims_sql(text_expr: str, mode: str = "passage") -> list[str]:
    return [_E.oracle_dim_sql(i, text_expr, mode) for i in range(_E.dim)]


@register(
    "ingest_embed_stub",
    f"""
    SELECT doc_id,
           ROUND({_embed_dims_sql('text')[0]}, 6) AS e0,
           ROUND({_embed_dims_sql('text')[1]}, 6) AS e1,
           ROUND({_embed_dims_sql('text')[2]}, 6) AS e2,
           ROUND({_embed_dims_sql('text')[3]}, 6) AS e3,
           ROUND(sqrt({" + ".join(f"({d}) * ({d})" for d in _embed_dims_sql('text'))}), 6)
             AS norm
    FROM documents
    """,
)
def ingest_embed_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stub embedding of every document (E5 analog,
    ``jina_v4_text_indexer.py:104-114``) — dims + norm, value-checked."""
    docs = load(spark, sf_dir, "documents")
    emb = _E.embed(docs, text_col="text")
    e = F.col("embedding")
    from ..functions.vector import l2_norm

    return emb.select(
        "doc_id",
        F.round(F.element_at(e, 1), 6).alias("e0"),
        F.round(F.element_at(e, 2), 6).alias("e1"),
        F.round(F.element_at(e, 3), 6).alias("e2"),
        F.round(F.element_at(e, 4), 6).alias("e3"),
        F.round(l2_norm(e), 6).alias("norm"),
    )


def _e2e_oracle() -> str:
    d = _embed_dims_sql("d.text", "passage")
    q = _embed_dims_sql(f"'{_QUERY_TEXT}'", "query")
    dot = " + ".join(f"({qi}) * ({di})" for qi, di in zip(q, d))
    dnorm = " + ".join(f"({di}) * ({di})" for di in d)
    qnorm = " + ".join(f"({qi}) * ({qi})" for qi in q)
    return f"""
    SELECT d.doc_id,
           ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
    FROM documents d
    ORDER BY score DESC, d.doc_id
    LIMIT 5
    """


@register("ingest_search_e2e", _e2e_oracle())
def ingest_search_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full retrieval lifecycle (§3.2) without models:
    embed corpus (passage mode) → embed the text query (query mode) →
    cosine top-5. Every stage oracle-checked."""
    docs = load(spark, sf_dir, "documents")
    corpus = _E.embed(docs, text_col="text").select("doc_id", "embedding")
    query = _E.embed(
        local_literal_df(spark, [(_QUERY_TEXT,)], "text string"),
        text_col="text", mode="query",
    ).select(F.col("embedding").alias("query_vec"))
    return dense_knn(corpus, query, k=5, id_col="doc_id", dim=8)


def _auto_index_oracle() -> str:
    d = _embed_dims_sql("t.text", "passage")
    q = _embed_dims_sql(f"'{_QUERY_TEXT}'", "query")
    dot = " + ".join(f"({qi}) * ({di})" for qi, di in zip(q, d))
    dnorm = " + ".join(f"({di}) * ({di})" for di in d)
    qnorm = " + ".join(f"({qi}) * ({qi})" for qi in q)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents)
    SELECT sha256(t.text) AS id,
           ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
    FROM t
    ORDER BY score DESC, id
    LIMIT 5
    """


@register("ingest_auto_index_search", _auto_index_oracle())
def ingest_auto_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """indexing_threshold parity
    (``incremental_indexing_colpali_with_qdrant.py:132``): the upsert
    crosses the threshold, which builds the IVF layout
    (``partitionBy(centroid_id)``), and ``search`` routes through it —
    with the default exhaustive probe (nprobe = k_centroids) the
    routed result is exactly the full scan's, so the whole
    auto-index → probe → score path is oracle-checked."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"),
        id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"])
    root = tempfile.mkdtemp(prefix="qd_auto_index_")
    try:
        coll = create_collection(
            root, "docs_auto", dim=8, metric="cosine", normalize=False,
            indexing_threshold=1, k_centroids=4,
        )
        coll.upsert(spark, points, mode="merge")
        assert coll.has_index(), "threshold crossed but index not built"
        qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
        res = coll.search(spark, qv, k=5).select("id", "score")
        # materialize before the temp layout is removed
        return local_literal_df(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_BATCH_TEXTS = ["spark query engine", "vector similarity search",
                "window aggregation"]


def _search_batch_oracle() -> str:
    d = _embed_dims_sql("t.text", "passage")
    dnorm = " + ".join(f"({di}) * ({di})" for di in d)
    branches = []
    for idx, text in enumerate(_BATCH_TEXTS):
        q = _embed_dims_sql(f"'{text}'", "query")
        dot = " + ".join(f"({qi}) * ({di})" for qi, di in zip(q, d))
        qnorm = " + ".join(f"({qi}) * ({qi})" for qi in q)
        branches.append(f"""
        SELECT {idx} AS query_idx, sha256(t.text) AS id,
               ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
        FROM t""")
    scored = " UNION ALL ".join(branches)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    scored AS ({scored}),
    ranked AS (
      SELECT query_idx, id, score,
             CAST(row_number() OVER (PARTITION BY query_idx
                                     ORDER BY score DESC, id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_idx, id, score, rank FROM ranked WHERE rank <= 3
    """


@register("ingest_search_batch", _search_batch_oracle())
def ingest_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant ``query_batch_points`` analog end-to-end: three text
    queries embedded in query mode hit one collection in a single
    corpus pass (broadcast query set, per-group top-k with map-side
    pruning — N queries ≠ N scans). Fully oracle-checked including
    the per-query ranking."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qvs = _E.embed_local(list(_BATCH_TEXTS), mode="query")
    root = tempfile.mkdtemp(prefix="qd_batch_search_")
    try:
        coll = create_collection(root, "b", dim=8, normalize=False)
        coll.upsert(spark, points, mode="merge")
        res = coll.search_batch(spark, qvs, k=3)
        return local_literal_df(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "ingest_point_management",
    f"""
    WITH u AS (SELECT text, lang FROM {_DOCS_DEDUP})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_deleted,
           CAST(COUNT(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS n_remaining,
           CAST(LEAST(200, COUNT(*) FILTER (WHERE lang <> 'en')) AS BIGINT)
             AS n_scrolled
    FROM u
    """,
)
def ingest_point_management(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-management lifecycle (Qdrant client surface beyond the
    reference's usage — delete by filter, keyset scroll): ingest the
    corpus, delete every lang='en' point, scroll two 100-row pages.
    The counts are all oracle-derivable from ``documents``."""
    docs = _dedupe_docs(load(spark, sf_dir, "documents"))
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        payload={"lang": F.col("lang")}, with_timestamp=False,
    )
    root = tempfile.mkdtemp(prefix="qd_point_mgmt_")
    try:
        coll = create_collection(root, "pm", dim=8, normalize=False)
        coll.upsert(spark, points, mode="merge")
        n_total = coll.count(spark)
        n_deleted = coll.delete(spark, F.col("lang") == "en")
        n_remaining = coll.count(spark)
        page1 = coll.scroll(spark, limit=100).collect()
        page2 = coll.scroll(spark, limit=100,
                            after_id=page1[-1].id).collect() if page1 else []
        assert not ({r.id for r in page1} & {r.id for r in page2})
        return local_literal_df(
            spark,
            [(n_total, n_deleted, n_remaining, len(page1) + len(page2))],
            "n_total long, n_deleted long, n_remaining long, n_scrolled long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "ingest_collection_lifecycle",
    """
    SELECT 'append' AS mode, CAST(COUNT(DISTINCT text) * 2 AS BIGINT)
      AS n_points FROM documents
    UNION ALL
    SELECT 'merge' AS mode, CAST(COUNT(DISTINCT text) AS BIGINT) AS n_points FROM documents
    """,
)
def ingest_collection_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7–S9 lifecycle: create two collections, upsert the same corpus
    twice into each — append mode duplicates (reference semantics,
    SURVEY.md §1.4), merge mode is idempotent. Returns final counts."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"),
        id_key=F.col("text"),
        payload={"doc_id": F.col("doc_id")},
        with_timestamp=False,
    )
    root = tempfile.mkdtemp(prefix="qd_collections_")
    try:
        rows = []
        for mode in ("append", "merge"):
            coll = create_collection(root, f"docs_{mode}", dim=8,
                                     metric="cosine")
            coll.upsert(spark, points, mode=mode)
            coll.upsert(spark, points, mode=mode)  # re-index run
            rows.append((mode, coll.count(spark)))
        return local_literal_df(spark, rows, "mode string, n_points long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "ingest_payload_facet",
    f"""
    WITH u AS (SELECT text, lang FROM {_DOCS_DEDUP})
    SELECT CASE WHEN lang IN ('en', 'de') THEN 'high' END AS value,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM u GROUP BY 1
    ORDER BY count DESC, value ASC
    LIMIT 10
    """,
)
def ingest_payload_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload mutation + facet (Qdrant ``set_payload`` → ``facet``):
    tag every en/de point ``tier='high'`` through the Filter DSL
    selector, then facet on the new column — the NULL row counts the
    untagged points. Both the merge-write and the facet groupBy are
    oracle-recomputed from ``documents``."""
    from ..filters import FieldCondition

    docs = _dedupe_docs(load(spark, sf_dir, "documents"))
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        payload={"lang": F.col("lang")}, with_timestamp=False,
    )
    root = tempfile.mkdtemp(prefix="qd_facet_")
    try:
        coll = create_collection(root, "fc", dim=8, normalize=False)
        coll.upsert(spark, points, mode="merge")
        n = coll.set_payload(
            spark, {"tier": "high"},
            FieldCondition("lang", match_any=["en", "de"]))
        assert n == coll.count(spark, FieldCondition("tier", match="high"))
        rows = [(r.value, r["count"]) for r in
                coll.facet(spark, "tier", limit=10).collect()]
        return local_literal_df(spark, rows, "value string, count long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "ingest_sharded_search",
    f"""
    WITH u AS (SELECT text, lang FROM {_DOCS_DEDUP})
    SELECT 'en' AS selector, CAST(COUNT(*) AS BIGINT) AS n_points
    FROM u WHERE lang = 'en'
    UNION ALL
    SELECT 'en+de', CAST(COUNT(*) AS BIGINT) FROM u WHERE lang IN ('en','de')
    UNION ALL
    SELECT 'all', CAST(COUNT(*) AS BIGINT) FROM u
    """,
)
def ingest_sharded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sharding (Qdrant ``sharding_method=CUSTOM`` +
    ``shard_key_selector``): the shard key (lang) leads the partition
    layout, so shard-routed counts/searches prune statically to the
    named shards. Asserts a shard-routed search never leaks
    cross-tenant rows, then returns selector-scoped counts — all
    oracle-recomputed from ``documents``."""
    docs = _dedupe_docs(load(spark, sf_dir, "documents"))
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        payload={"lang": F.col("lang")}, with_timestamp=False,
    )
    root = tempfile.mkdtemp(prefix="qd_shard_")
    try:
        coll = create_collection(root, "sh", dim=8, normalize=False,
                                 shard_key="lang")
        coll.upsert(spark, points, mode="merge")
        qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
        langs = {r.lang for r in
                 coll.search(spark, qv, k=50,
                             shard_key_selector="en").collect()}
        assert langs <= {"en"}, f"shard leak: {langs}"
        rows = [
            ("en", coll.count(spark, shard_key_selector="en")),
            ("en+de", coll.count(spark, shard_key_selector=["en", "de"])),
            ("all", coll.count(spark)),
        ]
        return local_literal_df(spark, rows, "selector string, n_points long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "ingest_snapshot_restore",
    f"""
    WITH u AS (SELECT text, lang FROM {_DOCS_DEDUP})
    SELECT 'loaded' AS step, CAST(COUNT(*) AS BIGINT) AS n_points FROM u
    UNION ALL
    SELECT 'deleted', CAST(COUNT(*) AS BIGINT) FROM u WHERE lang <> 'en'
    UNION ALL
    SELECT 'restored', CAST(COUNT(*) AS BIGINT) FROM u
    UNION ALL
    SELECT 'aliased', CAST(COUNT(*) AS BIGINT) FROM u WHERE lang = 'en'
    """,
)
def ingest_snapshot_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot + alias lifecycle (Qdrant ``create_snapshot`` /
    ``recover_snapshot`` / ``update_collection_aliases``): ingest the
    corpus, snapshot, delete the en slice, restore (count returns),
    then blue/green-switch an alias to an en-only twin collection and
    count through the alias. Every count is oracle-recomputed from
    ``documents``."""
    from ..catalog import resolve_collection, update_aliases

    docs = _dedupe_docs(load(spark, sf_dir, "documents"))
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        payload={"lang": F.col("lang")}, with_timestamp=False,
    )
    root = tempfile.mkdtemp(prefix="qd_snap_")
    try:
        coll = create_collection(root, "full", dim=8, normalize=False)
        coll.upsert(spark, points, mode="merge")
        rows = [("loaded", coll.count(spark))]
        snap = coll.create_snapshot()
        coll.delete(spark, F.col("lang") == "en")
        rows.append(("deleted", coll.count(spark)))
        coll.restore_snapshot(snap)
        rows.append(("restored", coll.count(spark)))
        en = create_collection(root, "en_only", dim=8, normalize=False)
        en.upsert(spark, points.filter(F.col("lang") == "en"), mode="merge")
        update_aliases(root, create={"prod": "full"})
        update_aliases(root, delete=["prod"], create={"prod": "en_only"})
        rows.append(
            ("aliased", resolve_collection(root, "prod").count(spark)))
        return local_literal_df(spark, rows, "step string, n_points long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _merge_overwrite_oracle() -> str:
    d = _embed_dims_sql("t.text", "passage")
    q = _embed_dims_sql(f"'{_QUERY_TEXT}'", "query")
    dot = " + ".join(f"({qi}) * ({di})" for qi, di in zip(q, d))
    dnorm = " + ".join(f"({di}) * ({di})" for di in d)
    qnorm = " + ".join(f"({qi}) * ({qi})" for qi in q)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents WHERE lang = 'en')
    SELECT sha256(t.text) AS id,
           ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score,
           'en-v2' AS lang
    FROM t
    ORDER BY score DESC, id
    LIMIT 5
    """


@register("ingest_merge_overwrite", _merge_overwrite_oracle())
def ingest_merge_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replace-on-conflict merge pinned end-to-end (Qdrant upsert
    overwrites by id — ``catalog.py`` staged-rewrite path): ingest the
    corpus, re-upsert every ``lang='en'`` point under the SAME
    content-hash id with a refreshed payload (``lang='en-v2'``), then
    search filtered to the refreshed payload. The asserts pin that the
    rewrite neither duplicated (count unchanged) nor left stale rows
    (no ``lang='en'`` survivors); the oracle recomputes the filtered
    top-5 from ``documents`` with the refreshed payload literal —
    search results must reflect the overwrite exactly."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        payload={"lang": F.col("lang")}, with_timestamp=False,
    ).dropDuplicates(["id"])
    updates = build_points(
        _E.embed(docs.filter(F.col("lang") == "en"), text_col="text"),
        id_key=F.col("text"),
        payload={"lang": F.concat(F.col("lang"), F.lit("-v2"))},
        with_timestamp=False,
    ).dropDuplicates(["id"])
    root = tempfile.mkdtemp(prefix="qd_merge_overwrite_")
    try:
        coll = create_collection(root, "mo", dim=8, normalize=False)
        coll.upsert(spark, points, mode="merge")
        n0 = coll.count(spark)
        coll.upsert(spark, updates, mode="merge")  # conflict -> rewrite
        assert coll.count(spark) == n0, "overwrite duplicated points"
        assert coll.read(spark).filter(F.col("lang") == "en").count() == 0, \
            "stale payload survived the overwrite"
        qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
        res = coll.search(
            spark, qv, k=5, query_filter=(F.col("lang") == "en-v2")
        ).select("id", "score", "lang")
        return local_literal_df(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "ingest_payload_index",
    f"""
    WITH u AS (SELECT text, lang FROM {_DOCS_DEDUP})
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_points
    FROM u GROUP BY lang ORDER BY lang
    """,
)
def ingest_payload_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload index lifecycle (Qdrant ``create_payload_index``): in a
    columnar engine the index IS the layout, so indexing ``lang``
    rewrites the collection ``partitionBy(lang)`` and a filtered search
    then prunes partitions statically instead of scanning every file.
    The query asserts the filtered top-k is byte-identical before and
    after the rewrite, then returns per-lang counts read back through
    the partitioned layout — both halves oracle-recomputed from
    ``documents``."""
    from ..filters import FieldCondition

    docs = _dedupe_docs(load(spark, sf_dir, "documents"))
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        payload={"lang": F.col("lang")}, with_timestamp=False,
    )
    root = tempfile.mkdtemp(prefix="qd_pidx_")
    try:
        coll = create_collection(root, "px", dim=8, normalize=False)
        coll.upsert(spark, points, mode="merge")
        qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
        flt = FieldCondition("lang", match="en")
        before = [(r.id, round(r.score, 9)) for r in
                  coll.search(spark, qv, k=5, query_filter=flt).collect()]
        coll.create_payload_index(spark, "lang")
        after = [(r.id, round(r.score, 9)) for r in
                 coll.search(spark, qv, k=5, query_filter=flt).collect()]
        assert before == after, "index rewrite changed search results"
        rows = [(r.lang, r.n_points) for r in
                coll.read(spark)
                .groupBy("lang")
                .agg(F.count("*").cast("long").alias("n_points"))
                .orderBy("lang").collect()]
        return local_literal_df(spark, rows, "lang string, n_points long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _recall_routed_oracle() -> str:
    """Both routed cases below resolve to the EXACT scan by the
    routing rules, so the oracle is the exact cosine top-5 twice,
    tagged per case."""
    d = _embed_dims_sql("t.text", "passage")
    q = _embed_dims_sql(f"'{_QUERY_TEXT}'", "query")
    dot = " + ".join(f"({qi}) * ({di})" for qi, di in zip(q, d))
    dnorm = " + ".join(f"({di}) * ({di})" for di in d)
    qnorm = " + ".join(f"({qi}) * ({qi})" for qi in q)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    exact AS (
      SELECT sha256(t.text) AS id,
             ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
      FROM t
      ORDER BY score DESC, id
      LIMIT 5
    )
    SELECT 'unindexed_t95' AS routing_case, id, score FROM exact
    UNION ALL
    SELECT 'indexed_t100' AS routing_case, id, score FROM exact
    """


@register("ingest_recall_routed_search", _recall_routed_oracle())
def ingest_recall_routed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-target routing (routing.py, round 5) through the driver
    gate: the two routing rules that resolve to the exact scan are
    value-checked end-to-end — (a) any target on an UNINDEXED
    collection (below ``indexing_threshold`` search is already exact,
    Qdrant's deferred-index behavior) and (b) ``recall_target=1.0`` on
    an INDEXED collection (measured-1.0 curve points are measurements,
    not proofs, so exactness routes to the exact scan). The
    curve-interior points (nprobe from the measured fractions) are
    pinned against explicit-knob equality in
    tests/test_recall_routing.py."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_recall_route_")
    try:
        flat = create_collection(root, "flat", dim=8, normalize=False)
        flat.upsert(spark, points, mode="merge")
        r1 = flat.search(spark, qv, k=5, recall_target=0.95) \
            .select(F.lit("unindexed_t95").alias("routing_case"),
                    "id", "score")
        idx = create_collection(root, "indexed", dim=8, normalize=False,
                                indexing_threshold=1, k_centroids=4)
        idx.upsert(spark, points, mode="merge")
        assert idx.has_index()
        r2 = idx.search(spark, qv, k=5, recall_target=1.0) \
            .select(F.lit("indexed_t100").alias("routing_case"),
                    "id", "score")
        out = r1.unionByName(r2)
        return local_literal_df(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _composed_oracle(k: int = 5, m: int = 20) -> str:
    """DuckDB twin of the composed IVF + SQ read path (round 6). The
    probe is exhaustive (all cells), so the IVF stage drops nothing
    and the oracle needs no centroid model — what it DOES recompute,
    stage by stage, is everything the quantizer contributes: per-dim
    (min, step) trained on the deduped corpus (sq_train), the int8
    encode (sq_encode's clamp(floor((x-mn)/st))), the bucket-center
    dequantize-dot ranking, the TRUNCATION to the m = k·oversampling
    shortlist (genuinely approximate: m << corpus), and the exact
    cosine rescore of those m. Same op shapes as operators/sq.py:
    left-to-right dim sums, double math, ROUND(...,6) on the ranking
    score, ties by id."""
    d = _embed_dims_sql("t.text", "passage")
    q = _embed_dims_sql(f"'{_QUERY_TEXT}'", "query")
    n = len(d)
    dims = ", ".join(f"({di}) AS e{j}" for j, di in enumerate(d, start=1))
    mm = ", ".join(f"min(e{j}) AS mn{j}, max(e{j}) AS mx{j}"
                   for j in range(1, n + 1))
    deq_terms = []
    for j, qj in enumerate(q, start=1):
        st = f"((s.mx{j} - s.mn{j}) / 256.0)"
        code = (f"LEAST(255, GREATEST(0, FLOOR((e.e{j} - s.mn{j})"
                f" / {st})))")
        deq_terms.append(f"(s.mn{j} + ({code} + 0.5) * {st}) * ({qj})")
    qscore = " + ".join(deq_terms)
    dot = " + ".join(f"({qj}) * (e.e{j})" for j, qj in enumerate(q, start=1))
    dnorm = " + ".join(f"(e.e{j}) * (e.e{j})" for j in range(1, n + 1))
    qnorm = " + ".join(f"({qj}) * ({qj})" for qj in q)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    e AS (SELECT sha256(t.text) AS id, {dims} FROM t),
    s AS (SELECT {mm} FROM e),
    short AS (
      SELECT e.id, ROUND({qscore}, 6) AS qscore
      FROM e CROSS JOIN s
      ORDER BY qscore DESC, e.id
      LIMIT {m}
    )
    SELECT e.id,
           ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
    FROM e JOIN short ON e.id = short.id
    ORDER BY score DESC, e.id
    LIMIT {k}
    """


@register("ingest_quantized_index_search", _composed_oracle())
def ingest_quantized_index_search(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Composed IVF + quantization (round 6) through the REAL
    collection — Qdrant's index-over-quantized-vectors semantics
    (quantization_config + indexing_threshold together, the server
    default config the reference runs on): create with
    ``quantization="sq"`` and ``indexing_threshold=1`` so ONE upsert
    builds both the IVF layout and the cells-partitioned codes
    sidecar (``codes_layout == "cells"``), then ``search`` probes
    cells, ranks the int8 codes inside them (statically
    partition-pruned scan of the 4×-smaller sidecar), and
    exact-rescores the oversampled shortlist fetched via literal
    ``id IN``. The probe is exhaustive (default nprobe = k_centroids)
    but the quantized truncation is real — m = 20 of a 10×+ larger
    corpus — so the SQ ranking itself is value-checked, not just the
    rescore. Non-exhaustive probing + layout transitions are pinned
    in tests/test_composed_search.py."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_composed_")
    try:
        coll = create_collection(root, "cq", dim=8, normalize=False,
                                 quantization="sq",
                                 indexing_threshold=1, k_centroids=4)
        coll.upsert(spark, points, mode="merge")
        assert coll.has_index(), "threshold crossed but index not built"
        assert coll.meta.get("codes_layout") == "cells", \
            "codes sidecar must share the IVF layout"
        with phase("search"):
            res = coll.search(spark, qv, k=5, oversampling=4.0) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _composed_batch_oracle(k: int = 3, m: int = 12) -> str:
    """Batch twin of ``_composed_oracle``: per query, the SQ
    dequantize-dot top-m shortlist (same trained (min, step), same
    left-to-right sums) then the exact cosine rescore, ranked per
    ``query_idx`` — one branch per batch text, UNION ALL, window
    rank ≤ k (the ``_search_batch_oracle`` shape)."""
    d = _embed_dims_sql("t.text", "passage")
    n = len(d)
    dims = ", ".join(f"({di}) AS e{j}" for j, di in enumerate(d, start=1))
    mm = ", ".join(f"min(e{j}) AS mn{j}, max(e{j}) AS mx{j}"
                   for j in range(1, n + 1))
    dnorm = " + ".join(f"(e.e{j}) * (e.e{j})" for j in range(1, n + 1))
    branches = []
    for idx, text in enumerate(_BATCH_TEXTS):
        q = _embed_dims_sql(f"'{text}'", "query")
        deq_terms = []
        for j, qj in enumerate(q, start=1):
            st = f"((s.mx{j} - s.mn{j}) / 256.0)"
            code = (f"LEAST(255, GREATEST(0, FLOOR((e.e{j} - s.mn{j})"
                    f" / {st})))")
            deq_terms.append(f"(s.mn{j} + ({code} + 0.5) * {st}) * ({qj})")
        qscore = " + ".join(deq_terms)
        dot = " + ".join(f"({qj}) * (e.e{j})"
                         for j, qj in enumerate(q, start=1))
        qnorm = " + ".join(f"({qj}) * ({qj})" for qj in q)
        branches.append(f"""
        SELECT {idx} AS query_idx, e.id,
               ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
        FROM e
        JOIN (SELECT e.id, ROUND({qscore}, 6) AS qscore
              FROM e CROSS JOIN s
              ORDER BY qscore DESC, e.id LIMIT {m}) sh
          ON e.id = sh.id""")
    scored = " UNION ALL ".join(branches)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    e AS (SELECT sha256(t.text) AS id, {dims} FROM t),
    s AS (SELECT {mm} FROM e),
    scored AS ({scored}),
    ranked AS (
      SELECT query_idx, id, score,
             CAST(row_number() OVER (PARTITION BY query_idx
                                     ORDER BY score DESC, id) AS INTEGER)
               AS rank
      FROM scored
    )
    SELECT query_idx, id, score, rank FROM ranked WHERE rank <= {k}
    """


@register("ingest_quantized_batch_search", _composed_batch_oracle())
def ingest_quantized_batch_search(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Batched composed read path (round 6): ``search_batch`` on an
    indexed+quantized collection ranks every query's shortlist in ONE
    pass over the cells codes sidecar (broadcast query set, per-query
    window top-m with map-side pruning, partition-pruned to the probe
    union), then each query exact-rescores only ITS pairs
    (``include_pairs`` semi-join) over the literal-``id IN``-pruned
    full-precision fetch. Exhaustive probe (default), truncating
    m = 12 shortlists — the SQ ranking and the per-query rescore are
    both value-checked."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qvs = _E.embed_local(list(_BATCH_TEXTS), mode="query")
    root = tempfile.mkdtemp(prefix="qd_composed_batch_")
    try:
        coll = create_collection(root, "cb", dim=8, normalize=False,
                                 quantization="sq",
                                 indexing_threshold=1, k_centroids=4)
        coll.upsert(spark, points, mode="merge")
        assert coll.meta.get("codes_layout") == "cells"
        with phase("search"):
            res = coll.search_batch(spark, qvs, k=3, oversampling=4.0)
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("ingest_named_quantized_search", _composed_oracle())
def ingest_named_quantized_search(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Per-space quantization (round 6 — Qdrant
    ``VectorParams.quantization_config``): a NAMED vector space
    carries its own SQ quantizer, so the sidecar, the frozen train
    params, and the prefetch all resolve per space
    (``catalog._codes_path_for``). Named collections never
    auto-index, so this is the flat quantized read path: truncating
    top-m int8 prefetch on the space's own sidecar + exact cosine
    rescore — the SAME math as the composed query's exhaustive probe,
    so it shares that oracle (train/encode/truncate/rescore all
    recomputed in DuckDB)."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]) \
     .select("id", F.col("embedding").alias("sem"))
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_named_quant_")
    try:
        coll = create_collection(
            root, "nq",
            vectors={"sem": {"dim": 8, "metric": "cosine",
                             "normalize": False, "quantization": "sq"}})
        coll.upsert(spark, points, mode="merge")
        assert coll.meta["vectors"]["sem"].get("sq_mins"), \
            "per-space train params missing"
        with phase("search"):
            res = coll.search(spark, qv, k=5, using="sem",
                              oversampling=4.0).select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _multistage_oracle(k: int = 5, m: int = 20, head: int = 4) -> str:
    """DuckDB twin of the nested-prefetch rescore: coarse top-m by
    cosine over the HEAD dims (matryoshka stage 1), exact cosine over
    the full dims on those m (stage 2) — same rounding/tie rules as
    every KNN twin."""
    d = _embed_dims_sql("t.text", "passage")
    q = _embed_dims_sql(f"'{_QUERY_TEXT}'", "query")
    n = len(d)
    dims = ", ".join(f"({di}) AS e{j}" for j, di in enumerate(d, start=1))
    hdot = " + ".join(f"({q[j - 1]}) * (e.e{j})" for j in range(1, head + 1))
    hdn = " + ".join(f"(e.e{j}) * (e.e{j})" for j in range(1, head + 1))
    hqn = " + ".join(f"({q[j - 1]}) * ({q[j - 1]})"
                     for j in range(1, head + 1))
    dot = " + ".join(f"({qj}) * (e.e{j})" for j, qj in enumerate(q, start=1))
    dnorm = " + ".join(f"(e.e{j}) * (e.e{j})" for j in range(1, n + 1))
    qnorm = " + ".join(f"({qj}) * ({qj})" for qj in q)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    e AS (SELECT sha256(t.text) AS id, {dims} FROM t),
    coarse AS (
      SELECT e.id,
             ROUND(({hdot}) / (sqrt({hdn}) * sqrt({hqn})), 6) AS hscore
      FROM e ORDER BY hscore DESC, e.id LIMIT {m}
    )
    SELECT e.id,
           ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
    FROM e JOIN coarse ON e.id = coarse.id
    ORDER BY score DESC, e.id
    LIMIT {k}
    """


@register("knn_multistage_prefetch_top5", _multistage_oracle())
def knn_multistage_prefetch_top5(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Multi-stage retrieval through the universal query API (round
    6 — Qdrant ``query_points(prefetch=Prefetch(...), query=vec)``):
    a matryoshka coarse stage over the 4 HEAD dims of the 8-dim stub
    embedding (named space ``head``, limit 20) feeds a full-dims
    rescore (named space ``full``) that re-ranks ONLY the candidate
    union — the inner stage's ids restrict the outer search with a
    literal pushed ``id IN``. Both stages value-checked: the coarse
    truncation is real (m = 20 << corpus)."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select(
        "id", F.col("embedding").alias("full"),
        F.slice("embedding", 1, 4).alias("head"))
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_multistage_")
    try:
        coll = create_collection(
            root, "ms",
            vectors={
                "full": {"dim": 8, "metric": "cosine", "normalize": False},
                "head": {"dim": 4, "metric": "cosine", "normalize": False},
            })
        coll.upsert(spark, points, mode="merge")
        with phase("search"):
            res = coll.query(
                spark, [Prefetch(qv[:4], using="head", limit=20)],
                query=qv, using="full", k=5).select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _batch_filtered_oracle(k: int = 3) -> str:
    """Per-request filters in a batch (Qdrant ``query_batch_points``
    with a filter per request): each branch scores only its own
    filtered candidate set. The filter key is a DERIVED payload
    (``length(text) % 3``) so deduplication stays deterministic."""
    d = _embed_dims_sql("t.text", "passage")
    dnorm = " + ".join(f"({di}) * ({di})" for di in d)
    branches = []
    for idx, text in enumerate(_BATCH_TEXTS):
        q = _embed_dims_sql(f"'{text}'", "query")
        dot = " + ".join(f"({qi}) * ({di})" for qi, di in zip(q, d))
        qnorm = " + ".join(f"({qi}) * ({qi})" for qi in q)
        branches.append(f"""
        SELECT {idx} AS query_idx, sha256(t.text) AS id,
               ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
        FROM t WHERE (length(t.text) % 3) = {idx}""")
    scored = " UNION ALL ".join(branches)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    scored AS ({scored}),
    ranked AS (
      SELECT query_idx, id, score,
             CAST(row_number() OVER (PARTITION BY query_idx
                                     ORDER BY score DESC, id) AS INTEGER)
               AS rank
      FROM scored
    )
    SELECT query_idx, id, score, rank FROM ranked WHERE rank <= {k}
    """


@register("ingest_batch_filtered_search", _batch_filtered_oracle())
def ingest_batch_filtered_search(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Per-request filters in ``search_batch`` (round 6 — Qdrant
    ``query_batch_points`` where each request carries its own
    filter): three queries hit one collection in ONE corpus pass,
    each restricted to a different payload bucket via the Filter DSL,
    compiled to a single CASE-over-query_idx predicate on the scored
    rows. Every branch's filtered candidate set and ranking is
    value-checked."""
    from ..filters import FieldCondition, Filter

    docs = load(spark, sf_dir, "documents")
    points = _E.embed(docs, text_col="text").select(
        F.sha2(F.col("text"), 256).alias("id"), "embedding",
        (F.length("text") % 3).cast("int").alias("bucket"),
    ).dropDuplicates(["id"])
    qvs = _E.embed_local(list(_BATCH_TEXTS), mode="query")
    flts = [Filter(must=[FieldCondition("bucket", match=i)])
            for i in range(len(qvs))]
    root = tempfile.mkdtemp(prefix="qd_batch_filtered_")
    try:
        coll = create_collection(root, "bf", dim=8, normalize=False)
        coll.upsert(spark, points, mode="merge")
        res = coll.search_batch(spark, qvs, k=3, query_filter=flts) \
            .select("query_idx", "id", "score", "rank")
        return local_literal_df(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "ingest_tenant_defrag",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           TRUE AS defragmented
    FROM (SELECT DISTINCT doc_id, lang FROM documents)
    GROUP BY lang
    ORDER BY lang
    """,
)
def ingest_tenant_defrag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tenant defragmentation (Qdrant multitenancy:
    ``defragmentation_key`` co-locates one tenant's points inside
    segments): ``compact(cluster_by=['lang'])`` range-partitions +
    sorts the rewrite on the tenant key, giving every output file a
    tight parquet min/max footer on it. ``defragmented`` is computed
    from the REAL file footers (per-file lang ranges must not
    interleave) and asserted TRUE by the oracle; per-tenant counts
    prove the rewrite lossless. At 100 TB a pushed tenant filter then
    reads O(tenant) files, not the table."""
    import os as _os

    import pyarrow.parquet as _pq

    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"),
        id_key=F.col("doc_id").cast("string"),
        payload={"lang": F.col("lang")}, with_timestamp=False,
    ).dropDuplicates(["id"])
    root = tempfile.mkdtemp(prefix="qd_defrag_")
    try:
        coll = create_collection(root, "df", dim=8, normalize=False)
        coll.upsert(spark, points, mode="append")
        n = coll.count(spark)
        coll.compact(spark, target_rows_per_file=max(1, n // 6),
                     cluster_by=["lang"])
        with phase("search"):
            ranges = []
            for f in sorted(_os.listdir(coll.path)):
                if not f.endswith(".parquet"):
                    continue
                md = _pq.ParquetFile(_os.path.join(coll.path, f)).metadata
                col_idx = {md.schema.column(i).name: i
                           for i in range(md.num_columns)}["lang"]
                lo = hi = None
                for g in range(md.num_row_groups):
                    s = md.row_group(g).column(col_idx).statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
                ranges.append((lo, hi))
            ranges.sort()
            ok = all(nxt_lo >= prev_hi for (_, prev_hi), (nxt_lo, _)
                     in zip(ranges, ranges[1:]))
            counts = (coll.read(spark).groupBy("lang")
                      .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
                      .orderBy("lang").collect())
        rows = [(r.lang, r.n_points, bool(ok)) for r in counts]
        return local_literal_df(
            spark, rows, "lang string, n_points long, defragmented boolean")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _by_id_oracle() -> str:
    d = _embed_dims_sql("t.text", "passage")
    q = _embed_dims_sql("q.qtext", "passage")
    dot = " + ".join(f"({qi}) * ({di})" for qi, di in zip(q, d))
    dnorm = " + ".join(f"({di}) * ({di})" for di in d)
    qnorm = " + ".join(f"({qi}) * ({qi})" for qi in q)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    q AS (SELECT text AS qtext, sha256(text) AS qid
          FROM t ORDER BY sha256(text) LIMIT 1)
    SELECT sha256(t.text) AS id,
           ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
    FROM t CROSS JOIN q
    WHERE sha256(t.text) <> q.qid
    ORDER BY score DESC, id
    LIMIT 5
    """


@register("ingest_query_by_id", _by_id_oracle())
def ingest_query_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-id (Qdrant ``query_points(query=point_id)``): the
    query is a stored point's OWN vector — the engine fetches it
    (O(1) driver-side lookup), searches with it, and excludes the
    point itself from the results, exactly Qdrant's contract. The
    query point is the lexicographically-first content-hash id, so
    both engines pick the same one at any sf."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"])
    root = tempfile.mkdtemp(prefix="qd_byid_")
    try:
        coll = create_collection(root, "byid", dim=8, metric="cosine",
                                 normalize=False)
        coll.upsert(spark, points, mode="merge")
        with phase("search"):
            qid = coll.read(spark).agg(F.min("id")).collect()[0][0]
            res = coll.search(spark, qid, k=5).select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Universal query API: query-object forms (Qdrant RecommendQuery /
# OrderByQuery / SampleQuery as query_points(query=...), optionally
# re-ranking a prefetch candidate set). Reference: the qdrant-client
# models the reference passes to query_points — the engine runs the
# dedicated path restricted by a literal ``id IN`` candidate pushdown.
# ---------------------------------------------------------------------------

# cosine over DOUBLE[] with the engine's left-to-right summation
_QCOS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)

# top-20 prefetch candidates for the vec-0 query, shared by the three
# query-object oracles (same truncation the Prefetch branch applies)
_QOBJ_CAND = f"""
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id,
         ROUND({_QCOS.format(a='e.embedding', b='q.qv')}, 6) AS pscore
  FROM embeddings e CROSS JOIN q
  ORDER BY pscore DESC, e.vec_id
  LIMIT 20
)"""


def _qobj_collection(spark: SparkSession, sf_dir: str):
    """Collection over the embeddings fixture (64-d, raw cosine) plus
    the vec-0 query vector and the shared top-20 prefetch branch."""
    emb = load(spark, sf_dir, "embeddings")
    pts = emb.select(F.col("vec_id").alias("id"),
                     F.col("embedding").cast("array<double>").alias(
                         "embedding"),
                     "label")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .collect()[0].embedding]
    root = tempfile.mkdtemp(prefix="qd_qobj_")
    coll = create_collection(root, "qo", dim=64, metric="cosine",
                             normalize=False)
    coll.upsert(spark, pts, mode="merge")
    return root, coll, [Prefetch(qv, limit=20)]


@register(
    "knn_query_recommend_prefetch_top5",
    f"""
    WITH {_QOBJ_CAND},
    p1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id = 1),
    p2 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id = 2),
    n1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id = 3),
    scored AS (
      SELECT e.vec_id,
             GREATEST(ROUND({_QCOS.format(a='e.embedding', b='p1.v')}, 6),
                      ROUND({_QCOS.format(a='e.embedding', b='p2.v')}, 6))
               AS mp,
             ROUND({_QCOS.format(a='e.embedding', b='n1.v')}, 6) AS mn
      FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id
      CROSS JOIN p1 CROSS JOIN p2 CROSS JOIN n1
      WHERE e.vec_id NOT IN (1, 2, 3)
    )
    SELECT vec_id AS id,
           CASE WHEN mp > mn THEN mp ELSE ROUND(-(mn * mn), 6) END AS score
    FROM scored
    ORDER BY score DESC, id
    LIMIT 5
    """,
)
def knn_query_recommend_prefetch_top5(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """``query_points(prefetch=..., query=RecommendQuery(...))``: the
    dense top-20 prefetch shortlist is re-ranked by best_score
    recommendation (positives 1,2 / negative 3, examples excluded) —
    the candidate union restricts the recommend scan with a pushed
    literal ``id IN`` (≤20 ids), so the re-rank reads a shortlist,
    never the corpus."""
    root, coll, pf = _qobj_collection(spark, sf_dir)
    try:
        res = coll.query(
            spark, pf,
            query=RecommendQuery([1, 2], [3], strategy="best_score"),
            k=5).select("id", "score")
        return local_literal_df(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "knn_query_order_by_top5",
    f"""
    WITH {_QOBJ_CAND}
    SELECT e.vec_id AS id, CAST(e.label AS DOUBLE) AS order_value
    FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id
    ORDER BY e.label ASC, e.vec_id ASC
    LIMIT 5
    """,
)
def knn_query_order_by_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``query_points(prefetch=..., query=OrderByQuery(key))``: the
    prefetch candidates come back ordered by a payload field
    (``order_value`` attached, id tie-break) — the query-API form of
    ``scroll(order_by=...)`` over a retrieved shortlist instead of
    the whole collection."""
    root, coll, pf = _qobj_collection(spark, sf_dir)
    try:
        res = coll.query(spark, pf, query=OrderByQuery("label"),
                         k=5).select("id", "order_value")
        return local_literal_df(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "knn_query_sample_top5",
    f"""
    WITH {_QOBJ_CAND}
    SELECT e.vec_id AS id, e.label
    FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id
    ORDER BY md5(CAST(e.vec_id AS VARCHAR) || '42'), e.vec_id
    LIMIT 5
    """,
)
def knn_query_sample_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``query_points(prefetch=..., query=SampleQuery())``: a
    reproducible sample of the prefetch candidates. Qdrant samples
    uniformly at random; the engine's deterministic analog ranks by
    the seeded content hash ``md5(id || seed)``, which the oracle
    re-derives bit-identically."""
    root, coll, pf = _qobj_collection(spark, sf_dir)
    try:
        res = coll.query(spark, pf, query=SampleQuery(seed=42),
                         k=5).select("id", "label")
        return local_literal_df(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# example-vector CTEs over the embeddings fixture (the discover/context
# convention: stored vectors fetched by id on both engines)
_QOBJ_RCOS = ("ROUND(" + _QCOS + ", 6)")
_QOBJ_EX = """
    t  AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
    p1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 1),
    n1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 2),
    p2 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 3),
    n2 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 4)
"""


@register(
    "knn_query_discover_prefetch_top5",
    f"""
    WITH {_QOBJ_CAND},
    {_QOBJ_EX.lstrip()}
    SELECT e.vec_id AS id,
           CAST((CASE WHEN {_QOBJ_RCOS.format(a='e.embedding', b='p1.v')}
                         > {_QOBJ_RCOS.format(a='e.embedding', b='n1.v')}
                      THEN 1 ELSE -1 END)
              + (CASE WHEN {_QOBJ_RCOS.format(a='e.embedding', b='p2.v')}
                         > {_QOBJ_RCOS.format(a='e.embedding', b='n2.v')}
                      THEN 1 ELSE -1 END) AS INTEGER) AS rank,
           {_QOBJ_RCOS.format(a='e.embedding', b='t.v')} AS score
    FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id
    CROSS JOIN t CROSS JOIN p1 CROSS JOIN n1 CROSS JOIN p2 CROSS JOIN n2
    ORDER BY rank DESC, score DESC, e.vec_id
    LIMIT 5
    """,
)
def knn_query_discover_prefetch_top5(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """``query_points(prefetch=..., query=DiscoverQuery(target,
    context))``: discovery search re-ranks ONLY the prefetch
    candidates — zones satisfied (+1/−1 per context pair), ties by
    target cosine — via the pushed ``id IN`` candidate filter. Target
    and examples resolve to stored vectors by id, as in the dedicated
    endpoint."""
    root, coll, pf = _qobj_collection(spark, sf_dir)
    try:
        res = coll.query(
            spark, pf, query=DiscoverQuery(0, [(1, 2), (3, 4)]),
            k=5).select("id", "rank", "score")
        return local_literal_df(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "knn_query_context_prefetch_top5",
    f"""
    WITH {_QOBJ_CAND},
    {_QOBJ_EX.lstrip()}
    SELECT e.vec_id AS id,
           LEAST(0.0, {_QOBJ_RCOS.format(a='e.embedding', b='p1.v')}
                    - {_QOBJ_RCOS.format(a='e.embedding', b='n1.v')})
         + LEAST(0.0, {_QOBJ_RCOS.format(a='e.embedding', b='p2.v')}
                    - {_QOBJ_RCOS.format(a='e.embedding', b='n2.v')})
           AS score
    FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id
    CROSS JOIN p1 CROSS JOIN n1 CROSS JOIN p2 CROSS JOIN n2
    ORDER BY score DESC, e.vec_id
    LIMIT 5
    """,
)
def knn_query_context_prefetch_top5(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """``query_points(prefetch=..., query=ContextQuery(context))``:
    context-only scoring ``Σ min(0, s⊕ − s⊖)`` over the prefetch
    candidates (0 = inside every positive zone), ties by id."""
    root, coll, pf = _qobj_collection(spark, sf_dir)
    try:
        res = coll.query(
            spark, pf, query=ContextQuery([(1, 2), (3, 4)]),
            k=5).select("id", "score")
        return local_literal_df(spark, res.collect(), res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# PCA as a per-space collection transform (round 9 — the FAISS
# "PCA,IVF" index factory as collection config; the engine-native
# analog of the reference's server-side index build past
# indexing_threshold, incremental_indexing_colpali_with_qdrant.py:132)
# ---------------------------------------------------------------------------

_PCA_SPACE_R = 4
_PCA_SPACE_CACHE: dict = {}


def _pca_space_params(sf_dir: str):
    """Re-derive the collection's frozen PCA train for the oracle:
    the same stub embeddings (pure-Python md5 formula — the
    ``PandasHashEmbedder`` twin), the same id-ordered train prefix,
    and the SAME shared trainer (``operators/pca.py:pca_train_np``),
    so (mu, W) and the projected query are bit-identical to what
    ``upsert`` froze in the collection meta."""
    if sf_dir not in _PCA_SPACE_CACHE:
        import hashlib
        import os

        import pyarrow.parquet as papq

        from ..operators.pca import (
            PCA_TRAIN_CAP,
            pca_project_py,
            pca_train_np,
        )
        from ..sources.embedder import _HALF, _MOD

        texts = (papq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["text"]).column("text").to_pylist())

        def vec(text: str, prefix: str = "") -> list[float]:
            out = []
            for i in range(_E.dim):
                h = hashlib.md5(
                    f"{prefix}{text}:{i}".encode()).hexdigest()
                out.append((int(h[:15], 16) % _MOD - _HALF)
                           / float(_HALF))
            return out

        rows = sorted(
            (hashlib.sha256(t.encode()).hexdigest(), t)
            for t in set(texts))[:PCA_TRAIN_CAP]
        X = [vec(t) for _id, t in rows]
        mu, W = pca_train_np(X, _PCA_SPACE_R)
        pquery = pca_project_py(mu, W, vec(_QUERY_TEXT, "query:"))
        _PCA_SPACE_CACHE[sf_dir] = (mu, W, pquery)
    return _PCA_SPACE_CACHE[sf_dir]


def _pca_space_oracle(sf_dir: str, k: int = 5, m: int = 20) -> str:
    """Oracle FACTORY for the PCA-transformed collection read path.
    Recomputes every stage: center → project through the re-derived
    components (sequential ``list_dot_product`` ≡ the engine's
    left-associated unrolled sums), the compressed-space EUCLID top-m
    shortlist (the probe is exhaustive — default nprobe = every cell
    — so the IVF stage drops nothing and the oracle needs no centroid
    model; the m << corpus truncation is the real approximation), and
    the exact full-width cosine rescore."""
    from ..operators.pca import pca_ce_sql, pca_pe_sql

    mu, W, pquery = _pca_space_params(sf_dir)
    d = _embed_dims_sql("t.text", "passage")
    n = len(d)
    dims = ", ".join(f"({di}) AS e{j}" for j, di in enumerate(d, start=1))
    ce = pca_ce_sql([f"e{j}" for j in range(1, n + 1)], mu)
    pe = pca_pe_sql(W)
    qd = " + ".join(
        f"((pe[{i + 1}] - {float(x)!r}) * (pe[{i + 1}] - {float(x)!r}))"
        for i, x in enumerate(pquery))
    q = _embed_dims_sql(f"'{_QUERY_TEXT}'", "query")
    dot = " + ".join(f"({qj}) * (e.e{j})" for j, qj in enumerate(q, start=1))
    dnorm = " + ".join(f"(e.e{j}) * (e.e{j})" for j in range(1, n + 1))
    qnorm = " + ".join(f"({qj}) * ({qj})" for qj in q)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    e AS (SELECT sha256(t.text) AS id, {dims} FROM t),
    c AS (SELECT id, {ce} AS ce FROM e),
    p AS (SELECT id, {pe} AS pe FROM c),
    short AS (
      SELECT p.id, ROUND(sqrt({qd}), 6) AS qdist
      FROM p
      ORDER BY qdist ASC, p.id
      LIMIT {m}
    )
    SELECT e.id,
           ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
    FROM e JOIN short ON e.id = short.id
    ORDER BY score DESC, e.id
    LIMIT {k}
    """


@register("ingest_pca_space_search", _pca_space_oracle)
def ingest_pca_space_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA as collection config (round 9): ``create_collection(
    transform="pca", pca_dim=4, indexing_threshold=1)`` makes ONE
    upsert train the components on the id-ordered prefix, freeze
    (mu, W) in the meta, and project every point into the
    cell-partitioned compressed sidecar; ``search`` then ranks the
    r/d-sized projected layout (compressed-space EUCLID — monotone
    with cosine on L2-preserving projections), fetches the oversampled
    shortlist by literal ``id IN`` (row-group-pruned), and
    exact-rescores at full width. The compressed truncation is real
    (m = 20 << corpus), so the PCA ranking itself is value-checked.
    Point-op sidecar maintenance is pinned in
    tests/test_pca_collection.py."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_pca_space_")
    try:
        coll = create_collection(root, "pt", dim=8, normalize=False,
                                 transform="pca", pca_dim=_PCA_SPACE_R,
                                 indexing_threshold=1, k_centroids=4)
        coll.upsert(spark, points, mode="merge")
        assert "pca_mu" in coll.meta, \
            "threshold crossed but PCA not trained"
        with phase("search"):
            res = coll.search(spark, qv, k=5, oversampling=4.0) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- round 9: product quantization as collection config (Qdrant
# --- quantization_config=ProductQuantization parity; "opq" adds the
# --- FAISS-style learned rotation). The whole quantizer — codebook
# --- train on the id-ordered prefix, (rotation,) per-row codes, ADC
# --- LUT ranking, truncation, exact rescore — is re-derived by the
# --- oracle factory, so the tier is value-checked end-to-end.

_PQ_LC_CACHE: dict = {}


def _pq_lifecycle_train(sf_dir: str, opq: bool):
    """(codebooks, rotation, query_vec) derived EXACTLY as the
    collection derives them: the deduped corpus's (id, dims) are
    materialized via DuckDB (bit-equal to the HashEmbedder values the
    collection stores — every ingest oracle rests on that proven
    pairing), ordered by id (ASCII sha256 hex: identical binary order
    in Spark and DuckDB), truncated to the PCA_TRAIN_CAP prefix in
    that order, and trained with the same deterministic
    kmeans_np / opq_train_np the catalog calls
    (`_refresh_quant_one`)."""
    import duckdb
    import numpy as np

    from ..operators.ann import kmeans_np
    from ..operators.opq import opq_train_np
    from ..operators.pca import PCA_TRAIN_CAP

    key = (sf_dir, opq)
    if key not in _PQ_LC_CACHE:
        dims = _embed_dims_sql("t.text", "passage")
        sel = ", ".join(f"({d}) AS e{j}"
                        for j, d in enumerate(dims, start=1))
        cols = ", ".join(f"e{j}" for j in range(1, len(dims) + 1))
        con = duckdb.connect()
        X = np.asarray(con.execute(f"""
            WITH t AS (SELECT DISTINCT text FROM
                       read_parquet('{sf_dir}/documents.parquet')),
            e AS (SELECT sha256(t.text) AS id, {sel} FROM t)
            SELECT {cols} FROM e ORDER BY id LIMIT {PCA_TRAIN_CAP}
        """).fetchall(), dtype=np.float64)
        qv = [float(x) for x in con.execute(
            "SELECT " + ", ".join(
                f"({d})" for d in
                _embed_dims_sql(f"'{_QUERY_TEXT}'", "query"))
        ).fetchone()]
        con.close()
        blocks, k_codes = 2, 16  # _pq_validate's defaults at dim=8
        if opq:
            R, cbs = opq_train_np(X, n_blocks=blocks, k_codes=k_codes)
        else:
            R, subdim = None, X.shape[1] // blocks
            cbs = [kmeans_np(X[:, b * subdim:(b + 1) * subdim],
                             k_codes, seed=42 + b)
                   for b in range(blocks)]
        _PQ_LC_CACHE[key] = (cbs, R, qv)
    return _PQ_LC_CACHE[key]


def _pq_lifecycle_oracle(sf_dir: str, opq: bool = False, k: int = 5,
                         m: int = 20) -> str:
    """Oracle FACTORY for the PQ/OPQ collection read path: re-derive
    the frozen quantizer (`_pq_lifecycle_train`), then recompute —
    stage by stage, in the same float shapes as the engine —
    (1) the OPQ rotation of every row (the proven zero-mean
    center→list_dot_product pairing), (2) each block's first-min
    argmin code, (3) the ADC LUT ranking over the driver-rotated
    query (LUT literals from the same left-to-right python dot
    `pq_search` embeds), (4) the truncation to the m = k·oversampling
    shortlist, (5) the exact cosine rescore of those m."""
    from ..operators.pca import pca_ce_sql, pca_pe_sql, pca_project_py

    cbs, R, qv = _pq_lifecycle_train(sf_dir, opq)
    dims = _embed_dims_sql("t.text", "passage")
    n = len(dims)
    sel = ", ".join(f"({d}) AS e{j}" for j, d in enumerate(dims, start=1))
    subdim = len(cbs[0][0])
    if opq:
        d_ = len(R)
        w = [[R[i][j] for i in range(d_)] for j in range(d_)]
        ce = pca_ce_sql([f"e.e{j}" for j in range(1, n + 1)],
                        [0.0] * d_)
        rot_cte = (f"r AS (SELECT e.id, {pca_pe_sql(w, 'ce')} AS rot "
                   f"FROM (SELECT id, {ce} AS ce, * FROM e) e),")
        elem = "r.rot[{i}]"
        adc_src = "r"
        qv2 = pca_project_py([0.0] * d_, w, qv)
    else:
        rot_cte = ""
        elem = "e.e{i}"
        adc_src = "e"
        qv2 = [float(x) for x in qv]
    terms = []
    for b, cb in enumerate(cbs):
        off = b * subdim
        bdl = "list_value(" + ", ".join(
            "(" + " + ".join(
                f"(({elem.format(i=off + j + 1)} - {float(cj)!r})"
                f" * ({elem.format(i=off + j + 1)} - {float(cj)!r}))"
                for j, cj in enumerate(cw)
            ) + ")"
            for cw in cb) + ")"
        pos = f"list_position({bdl}, list_min({bdl}))"  # 1-based code
        q_sub = qv2[off:off + subdim]
        lut = ", ".join(
            f"{sum(float(q) * float(c) for q, c in zip(q_sub, cw))!r}"
            for cw in cb)
        terms.append(f"(CAST(list_value({lut}) AS DOUBLE[]))[{pos}]")
    adc = " + ".join(terms)
    q = _embed_dims_sql(f"'{_QUERY_TEXT}'", "query")
    dot = " + ".join(f"({qj}) * (e.e{j})"
                     for j, qj in enumerate(q, start=1))
    dnorm = " + ".join(f"(e.e{j}) * (e.e{j})" for j in range(1, n + 1))
    qnorm = " + ".join(f"({qj}) * ({qj})" for qj in q)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    e AS (SELECT sha256(t.text) AS id, {sel} FROM t),
    {rot_cte}
    short AS (
      SELECT {adc_src}.id, ROUND({adc}, 6) AS qscore
      FROM {adc_src}
      ORDER BY qscore DESC, {adc_src}.id
      LIMIT {m}
    )
    SELECT e.id,
           ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
    FROM e JOIN short ON e.id = short.id
    ORDER BY score DESC, e.id
    LIMIT {k}
    """


def _pq_lifecycle_query(spark: SparkSession, sf_dir: str,
                        quantization: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_pq_")
    try:
        coll = create_collection(root, "cpq", dim=8, normalize=False,
                                 quantization=quantization)
        coll.upsert(spark, points, mode="merge")
        assert "pq_codebooks" in coll.meta, "quantizer must be trained"
        with phase("search"):
            res = coll.search(spark, qv, k=5, oversampling=4.0) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("ingest_pq_quantized_search", _pq_lifecycle_oracle)
def ingest_pq_quantized_search(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Product quantization as collection config (Qdrant
    ``quantization_config=ProductQuantization`` — the third quantizer
    kind next to scalar/binary): ``create_collection(
    quantization="pq")`` trains per-block kmeans_np codebooks ONCE on
    the id-ordered bounded prefix at first build (frozen in the
    meta), every point encodes to ``pq_blocks`` one-byte codes in the
    sidecar (maintained by point ops like the SQ/BQ codes), and
    ``search`` ranks the codes by ADC lookup (whole-stage-codegen
    ``element_at`` sums — no vector bytes touched), then
    exact-rescores the m = k·oversampling shortlist via literal
    ``id IN``. The truncation is real (m=20 of the corpus) so the
    quantized ranking itself is value-checked, not just the rescore."""
    return _pq_lifecycle_query(spark, sf_dir, "pq")


def _opq_lifecycle_oracle(sf_dir: str) -> str:
    return _pq_lifecycle_oracle(sf_dir, opq=True)


@register("ingest_opq_quantized_search", _opq_lifecycle_oracle)
def ingest_opq_quantized_search(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """``quantization="opq"`` — product quantization behind the
    learned orthonormal rotation (FAISS ``OPQ`` index factory;
    `operators/opq.py`): training additionally derives the
    Procrustes-optimal rotation, rows rotate through the fold-shape
    expression before encoding, and queries rotate driver-side. Same
    read path as ``ingest_pq_quantized_search`` with strictly better
    coordinates at the same code budget (BASELINE.md §opq) — and the
    rotation rides the one-time encode, so the per-query cost is
    identical. Rotation, codes, LUT ranking, truncation, and rescore
    all hash-check against the factory oracle."""
    return _pq_lifecycle_query(spark, sf_dir, "opq")


def _quant_noscore_oracle(k: int = 5) -> str:
    """Oracle for QuantizationSearchParams(rescore=False): the result
    scores ARE the quantized ranking — per-dim (min, step) trained on
    the deduped corpus, int8 encode, bucket-center dequantize-dot
    (the `_composed_oracle` fragment), ROUND 6, top-k, and NO exact
    stage anywhere."""
    d = _embed_dims_sql("t.text", "passage")
    q = _embed_dims_sql(f"'{_QUERY_TEXT}'", "query")
    n = len(d)
    dims = ", ".join(f"({di}) AS e{j}" for j, di in enumerate(d, start=1))
    mm = ", ".join(f"min(e{j}) AS mn{j}, max(e{j}) AS mx{j}"
                   for j in range(1, n + 1))
    deq_terms = []
    for j, qj in enumerate(q, start=1):
        st = f"((s.mx{j} - s.mn{j}) / 256.0)"
        code = (f"LEAST(255, GREATEST(0, FLOOR((e.e{j} - s.mn{j})"
                f" / {st})))")
        deq_terms.append(f"(s.mn{j} + ({code} + 0.5) * {st}) * ({qj})")
    qscore = " + ".join(deq_terms)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    e AS (SELECT sha256(t.text) AS id, {dims} FROM t),
    s AS (SELECT {mm} FROM e)
    SELECT e.id, ROUND({qscore}, 6) AS score
    FROM e CROSS JOIN s
    ORDER BY score DESC, e.id
    LIMIT {k}
    """


@register("ingest_quantized_noscore_search", _quant_noscore_oracle())
def ingest_quantized_noscore_search(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Qdrant ``SearchParams.quantization =
    QuantizationSearchParams(rescore=False)``: the search returns the
    QUANTIZED ranking scores directly — no full-vector stage at all,
    so the scan cost is exactly the 4×-smaller codes sidecar and the
    result's ``score`` column is the dequantize-dot value itself
    (sq/pq/opq only; `ignore=True` and per-request `oversampling`
    live on the same dict — tests/test_pq_quantized.py). The oracle
    recomputes the trained (min, step), every row's int8 codes, and
    the bucket-center dot with NO rescore stage, so a silently
    rescoring engine would hash-mismatch."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_noscore_")
    try:
        coll = create_collection(root, "cn", dim=8, normalize=False,
                                 quantization="sq")
        coll.upsert(spark, points, mode="merge")
        with phase("search"):
            res = coll.search(
                spark, qv, k=5,
                quantization_params={"rescore": False}) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _quant_noscore_batch_oracle(k: int = 5) -> str:
    """Batch twin of ``_quant_noscore_oracle``: each request's result
    scores ARE its quantized ranking (one UNION ALL branch per query
    text, same trained (min, step) CTE), no exact stage anywhere."""
    d = _embed_dims_sql("t.text", "passage")
    n = len(d)
    dims = ", ".join(f"({di}) AS e{j}" for j, di in enumerate(d, start=1))
    mm = ", ".join(f"min(e{j}) AS mn{j}, max(e{j}) AS mx{j}"
                   for j in range(1, n + 1))
    branches = []
    for idx, text in enumerate(_BATCH_TEXTS):
        q = _embed_dims_sql(f"'{text}'", "query")
        deq_terms = []
        for j, qj in enumerate(q, start=1):
            st = f"((s.mx{j} - s.mn{j}) / 256.0)"
            code = (f"LEAST(255, GREATEST(0, FLOOR((e.e{j} - s.mn{j})"
                    f" / {st})))")
            deq_terms.append(f"(s.mn{j} + ({code} + 0.5) * {st}) * ({qj})")
        qscore = " + ".join(deq_terms)
        branches.append(f"""
        SELECT {idx} AS query_idx, e.id, ROUND({qscore}, 6) AS score
        FROM e CROSS JOIN s
        ORDER BY score DESC, e.id LIMIT {k}""")
    u = " UNION ALL ".join(f"({b})" for b in branches)
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    e AS (SELECT sha256(t.text) AS id, {dims} FROM t),
    s AS (SELECT {mm} FROM e)
    {u}
    """


@register("ingest_quantized_noscore_batch_search",
          _quant_noscore_batch_oracle())
def ingest_quantized_noscore_batch_search(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    """``search_batch(quantization_params={"rescore": False})`` —
    QuantizationSearchParams' batch form: every request's quantized
    ranking scores come from ONE pass over the codes sidecar (the
    broadcast-LUT/dequantize batch scorer), no full-vector stage for
    any of them. batch ≡ single is pinned in tests/test_pq_quantized
    .py; this oracle value-checks the batch path end to end (train,
    codes, per-query dequantize-dot, per-query top-k) so a batch
    formulation that silently rescored or shared the wrong ranking
    across requests would hash-mismatch."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qvs = _E.embed_local(list(_BATCH_TEXTS), mode="query")
    root = tempfile.mkdtemp(prefix="qd_noscore_b_")
    try:
        coll = create_collection(root, "cnb", dim=8, normalize=False,
                                 quantization="sq")
        coll.upsert(spark, points, mode="merge")
        with phase("search"):
            res = coll.search_batch(
                spark, qvs, k=5,
                quantization_params={"rescore": False}) \
                .select("query_idx", "id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("ingest_opq_composed_search", _opq_lifecycle_oracle)
def ingest_opq_composed_search(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The full FAISS ``OPQ..,IVF..,PQ..`` recipe as collection
    config: ``quantization="opq"`` + ``indexing_threshold=1`` builds
    BOTH the IVF layout and the cells-partitioned rotated-code
    sidecar in one upsert (``codes_layout == "cells"``); search
    probes cells, ADC-ranks the 8-bit codes inside them
    (partition-pruned scan), and exact-rescores the oversampled
    shortlist via literal ``id IN``. The default probe is exhaustive,
    so the cells partition drops nothing and the oracle is exactly
    the flat OPQ twin's (`_pq_lifecycle_oracle(opq=True)`) — the
    ADC truncation is the checked approximation; non-exhaustive
    probing is pinned in tests/test_pq_quantized.py."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_opqc_")
    try:
        coll = create_collection(root, "coc", dim=8, normalize=False,
                                 quantization="opq",
                                 indexing_threshold=1, k_centroids=4)
        coll.upsert(spark, points, mode="merge")
        assert coll.has_index(), "threshold crossed but index not built"
        assert coll.meta.get("codes_layout") == "cells", \
            "rotated codes must share the IVF layout"
        with phase("search"):
            res = coll.search(spark, qv, k=5, oversampling=4.0) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- round 9 continuation: hnsw_config as collection config (Qdrant
# --- HnswConfigDiff — the reference backend's ACTUAL index, one HNSW
# --- per segment past indexing_threshold; segments = the IVF cells).
# --- The oracle factory re-derives the whole read path: python-twin
# --- embeddings, the id-ordered train prefix → kmeans_np cells
# --- (sequential-fold assignment ≡ the unrolled left-assoc
# --- expression), per-cell deterministic graphs, the beam-ef
# --- shortlist, and the exact-cosine rescore in DuckDB.

_HNSW_LC = {"m": 4, "ef_construct": 32, "ef": 8, "k_centroids": 4}
_HNSW_LC_CACHE: dict = {}


def _hnsw_lifecycle_candidates(sf_dir: str,
                               mss: int | None = None,
                               quant: str | None = None,
                               ef: int | None = None) -> list[str]:
    """Driver-side twin of the collection's graph read path. Every
    stage mirrors the catalog bit-for-bit: embeddings via the
    pure-Python md5 formula (the ``_pca_space_params`` twin), ids =
    sha256(text), train = the first-cap-by-id prefix
    (``Collection._train_prefix``'s order), cells = ``kmeans_np`` +
    sequential-fold first-min assignment (≡ the unrolled left-assoc
    expression ``_write_cells`` writes the layout with), graphs =
    ``hnsw_build_np`` per cell over vec_id-ascending members, probe =
    every cell (default nprobe), beam = ``hnsw_search_np(ef)``.
    ``mss`` mirrors ``max_segment_size``: each cell's id-ascending
    members chunk into ≤mss-point sub-segments, one graph each (the
    catalog's row_number window over the same order). ``quant="sq"``
    mirrors hnsw_config × quantization: per-dim (min, step) trained
    over the whole deduped corpus (``sq_train``'s order-independent
    agg), int8 encode with the frozen params, and graphs built/walked
    over the ``sq_decode_np`` bucket centers — the code-graph read
    path re-derived end to end. ``ef`` overrides the beam width (the
    filtered twin passes the widened ``ceil(ef·n/m)``)."""
    if ef is None:
        ef = _HNSW_LC["ef"]
    if (sf_dir, mss, quant, ef) not in _HNSW_LC_CACHE:
        import hashlib
        import os

        import numpy as np
        import pyarrow.parquet as papq

        from ..operators.ann import kmeans_np
        from ..operators.hnsw import (
            _normalize_rows,
            hnsw_build_np,
            hnsw_search_np,
        )
        from ..sources.embedder import _HALF, _MOD

        def vec(text: str, prefix: str = "") -> list[float]:
            out = []
            for i in range(_E.dim):
                h = hashlib.md5(
                    f"{prefix}{text}:{i}".encode()).hexdigest()
                out.append((int(h[:15], 16) % _MOD - _HALF)
                           / float(_HALF))
            return out

        texts = (papq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["text"]).column("text").to_pylist())
        rows = sorted((hashlib.sha256(t.encode()).hexdigest(), vec(t))
                      for t in set(texts))
        cents = kmeans_np([v for _, v in rows],
                          _HNSW_LC["k_centroids"], seed=42)
        cells: dict[int, list[tuple[str, list[float]]]] = {}
        for pid, v in rows:
            best_d, best_i = None, 0
            for cid, c in enumerate(cents):
                acc = 0.0
                for x, y in zip(v, c):
                    acc += (x - y) * (x - y)
                if best_d is None or acc < best_d:
                    best_d, best_i = acc, cid
            cells.setdefault(best_i, []).append((pid, v))
        qv = np.asarray(vec(_QUERY_TEXT, "query:"), dtype=np.float64)
        decode = None
        if quant == "sq":
            # the engine's sq_train is a min/max agg over the whole
            # table (order-independent → exactly reproducible here);
            # encode is clamp(floor((x − mn)/st)) in double math, the
            # same IEEE ops Catalyst's sq_encode runs; the walk space
            # is sq_decode_np's bucket centers — shared with the
            # engine's build AND search, the whole point of the twin
            import math as _math

            from ..operators.sq import sq_decode_np

            allv = np.asarray([v for _, v in rows], dtype=np.float64)
            mins = allv.min(axis=0)
            steps = (allv.max(axis=0) - mins) / 256.0

            def encode(v):
                out = []
                for j, (mn, st) in enumerate(zip(mins, steps)):
                    if st == 0.0:
                        out.append(0)
                        continue
                    c = _math.floor((v[j] - mn) / st)
                    out.append(min(255, max(0, c)))
                return out

            def decode(chunk):
                C = np.asarray([encode(v) for _, v in chunk],
                               dtype=np.int64)
                return sq_decode_np(C, list(mins), list(steps))
        elif quant in ("pq", "opq"):
            # frozen codebooks re-derived exactly as the collection
            # trains them (_pq_lifecycle_train: id-ordered prefix,
            # kmeans_np seeds 42+b; OPQ additionally the Procrustes
            # rotation); rows rotate through the proven
            # pca_project_py pairing of the fold-shape expression;
            # encode = left-to-right (x−c)² fold + FIRST-min argmin —
            # a reference twin of the nearest-centroid rule
            # pq_encode_frame encodes by (operators/ann.py); the walk
            # space is pq_decode_np's reconstruction (the ROTATED
            # space for OPQ — the walk query rotates too, in the
            # caller), shared with the engine's build and search
            from ..operators.pca import pca_project_py
            from ..operators.pq import pq_decode_np

            cbs, R, _ = _pq_lifecycle_train(sf_dir, opq=quant == "opq")
            subdim = len(cbs[0][0])
            if R is not None:
                d_ = len(R)
                w = [[R[i][j] for i in range(d_)] for j in range(d_)]

            def encode(v):
                if R is not None:
                    v = pca_project_py([0.0] * d_, w, list(v))
                out = []
                for cb_i, cb in enumerate(cbs):
                    sub = v[cb_i * subdim:(cb_i + 1) * subdim]
                    best, besti = None, 0
                    for ci, cw in enumerate(cb):
                        acc = 0.0
                        for x, c in zip(sub, cw):
                            acc += (x - c) * (x - c)
                        if best is None or acc < best:
                            best, besti = acc, ci
                    out.append(besti)
                return out

            def decode(chunk):
                C = np.asarray([encode(v) for _, v in chunk],
                               dtype=np.int64)
                return pq_decode_np(C, cbs)

            if quant == "opq":
                qv = np.asarray(
                    pca_project_py([0.0] * d_, w,
                                   [float(x) for x in qv]),
                    dtype=np.float64)
        elif quant == "bq":
            # trainless sign bits: bit j = x_j > 0; the walk space is
            # bq_decode_np's ±1 rows (the engine decodes its packed
            # words to the same matrix — the twin skips the packing
            # round-trip, which is exact by construction)
            def decode(chunk):
                return np.where(
                    np.asarray([v for _, v in chunk],
                               dtype=np.float64) > 0.0, 1.0, -1.0)
        elif quant is not None:
            raise ValueError(f"unknown twin quantizer {quant!r}")
        cand: list[str] = []
        for cid in sorted(cells):
            members = cells[cid]  # already id-ascending (rows sorted)
            chunks = ([members] if not mss else
                      [members[i:i + mss]
                       for i in range(0, len(members), mss)])
            for chunk in chunks:
                ids = [pid for pid, _ in chunk]
                X = (np.asarray([v for _, v in chunk], dtype=np.float64)
                     if decode is None else decode(chunk))
                levels, adj = hnsw_build_np(
                    ids, X, m=_HNSW_LC["m"],
                    ef_construct=_HNSW_LC["ef_construct"])
                res = hnsw_search_np(levels, adj, _normalize_rows(X),
                                     qv, ef=ef)
                cand += [ids[p] for _, p in res]
        _HNSW_LC_CACHE[(sf_dir, mss, quant, ef)] = sorted(cand)
    return _HNSW_LC_CACHE[(sf_dir, mss, quant, ef)]


def _hnsw_lifecycle_oracle(sf_dir: str, k: int = 5,
                           mss: int | None = None,
                           quant: str | None = None,
                           ef: int | None = None,
                           extra_pred: str | None = None) -> str:
    """Oracle FACTORY: the beam shortlist re-derived driver-side via
    the shared deterministic build/search (the ``_np_probe``
    literal-shortlist discipline), the exact-cosine rescore recomputed
    independently in DuckDB over re-derived embeddings. ``mss``
    selects the chunked-layout twin, ``quant`` the code-graph twin
    (one SQL body for all registered queries — a fix applied here
    can't drift between them); the rescore is always FULL-WIDTH exact
    cosine, which is precisely the quantized composition's contract
    (walk compressed, rescore exact). ``ef``/``extra_pred`` select the
    FILTERED twin: widened beam, then the payload predicate applied
    ON TOP of the candidate list (the engine's post-filter-at-rescore
    order) — ``extra_pred`` may reference ``e.tl`` (text length)."""
    cand = ", ".join(f"'{i}'" for i in
                     _hnsw_lifecycle_candidates(sf_dir, mss=mss,
                                                quant=quant, ef=ef))
    d = _embed_dims_sql("t.text", "passage")
    q = _embed_dims_sql(f"'{_QUERY_TEXT}'", "query")
    dims = ", ".join(f"({di}) AS e{j}" for j, di in enumerate(d, start=1))
    dot = " + ".join(f"({qj}) * (e.e{j})" for j, qj in enumerate(q, start=1))
    dnorm = " + ".join(f"(e.e{j}) * (e.e{j})" for j in range(1, len(d) + 1))
    qnorm = " + ".join(f"({qj}) * ({qj})" for qj in q)
    tl = ", length(t.text) AS tl" if extra_pred else ""
    pred = f" AND ({extra_pred})" if extra_pred else ""
    return f"""
    WITH t AS (SELECT DISTINCT text FROM documents),
    e AS (SELECT sha256(t.text) AS id{tl}, {dims} FROM t)
    SELECT e.id,
           ROUND(({dot}) / (sqrt({dnorm}) * sqrt({qnorm})), 6) AS score
    FROM e
    WHERE e.id IN ({cand}){pred}
    ORDER BY score DESC, e.id
    LIMIT {k}
    """


@register("ingest_hnsw_index_search", _hnsw_lifecycle_oracle)
def ingest_hnsw_index_search(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """HNSW as collection config (Qdrant ``HnswConfigDiff`` — the
    reference backend's actual index, built per segment past
    ``indexing_threshold``,
    ``incremental_indexing_colpali_with_qdrant.py:132``): ONE upsert
    builds the IVF cells AND a deterministic HNSW graph per cell
    (``partitionBy(segment)`` sidecar); ``search(hnsw_ef=8)`` probes
    the cells, WALKS their graphs (beam ef per segment — genuinely
    approximate: 8 × 4 cells ≈ 32 candidates of a 10×+ larger
    corpus), and exact-rescores the bounded union via literal
    ``id IN``. The oracle re-derives cells, graphs, and beam
    driver-side and recomputes the rescore in DuckDB — the graph tier
    is value-checked end-to-end. Point-op graph maintenance
    (touched-cell rebuilds) is pinned in
    tests/test_hnsw_collection.py."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_hnsw_")
    try:
        coll = create_collection(
            root, "hn", dim=8, normalize=False, indexing_threshold=1,
            k_centroids=_HNSW_LC["k_centroids"],
            hnsw_config={"m": _HNSW_LC["m"],
                         "ef_construct": _HNSW_LC["ef_construct"]})
        coll.upsert(spark, points, mode="merge")
        assert coll.has_index() and coll._has_hnsw(), \
            "threshold crossed but graphs not built"
        with phase("search"):
            res = coll.search(spark, qv, k=5,
                              hnsw_ef=_HNSW_LC["ef"]) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _hnsw_filtered_ef(sf_dir: str) -> int:
    """The engine's widened beam re-derived: ``ceil(ef·n/m)`` over
    the distinct-text corpus, with m = texts matching the grp≠0
    filter (``length(text) % 4 != 0``) — the same integer ceiling
    ``Collection._hnsw_filter_stats``-routed searches apply."""
    import os

    import pyarrow.parquet as papq

    texts = set(papq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["text"]).column("text").to_pylist())
    n = len(texts)
    m = sum(1 for t in texts if len(t) % 4 != 0)
    return -(-_HNSW_LC["ef"] * n // m)


def _hnsw_filtered_oracle(sf_dir: str, k: int = 5) -> str:
    return _hnsw_lifecycle_oracle(
        sf_dir, k, ef=_hnsw_filtered_ef(sf_dir),
        extra_pred="(e.tl % 4) <> 0")


@register("ingest_hnsw_filtered_search", _hnsw_filtered_oracle)
def ingest_hnsw_filtered_search(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Filter-aware graph search (the selectivity-routed tier): a
    ``query_filter`` matching ~75% of the corpus (``grp != 0`` over
    ``grp = length(text) % 4``) stays on the HNSW walk — the engine
    measures the match fraction (one column-pruned count), widens the
    beam to ``ceil(ef·n/m)``, walks the probed cells' graphs, and
    applies the filter at the exact rescore (Qdrant's
    filtered-HNSW posture; a filter below the measured crossover
    routes index-only instead — pinned in
    tests/test_hnsw_collection.py). The oracle re-derives cells,
    graphs, the WIDENED beam, and the post-filter + rescore in
    DuckDB — the routed filtered path is value-checked end to
    end."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        payload={"grp": (F.length("text") % 4).cast("int")},
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding", "grp")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_hnswf_")
    try:
        coll = create_collection(
            root, "hf", dim=8, normalize=False, indexing_threshold=1,
            k_centroids=_HNSW_LC["k_centroids"],
            hnsw_config={"m": _HNSW_LC["m"],
                         "ef_construct": _HNSW_LC["ef_construct"]})
        coll.upsert(spark, points, mode="merge")
        assert coll.has_index() and coll._has_hnsw(), \
            "threshold crossed but graphs not built"
        with phase("search"):
            res = coll.search(spark, qv, k=5,
                              hnsw_ef=_HNSW_LC["ef"],
                              query_filter=F.col("grp") != 0) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_HNSW_MSS = 48


def _hnsw_seg_oracle(sf_dir: str, k: int = 5) -> str:
    return _hnsw_lifecycle_oracle(sf_dir, k, mss=_HNSW_MSS)


@register("ingest_hnsw_segmented_search", _hnsw_seg_oracle)
def ingest_hnsw_segmented_search(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """``max_segment_size`` as collection config — the bounded-segment
    rule operationalized (BASELINE.md §hnsw-stress proved recall at
    fixed ef is a function of SEGMENT size; Qdrant's own
    max_segment_size regime): each cell's graph splits into
    id-ordered ≤48-point sub-segments, probes expand to the probed
    cells' chunk segments via partition footers (no scan), and every
    chunk is beam-searched independently. The oracle re-derives the
    chunking, per-chunk graphs, and beam; the rescore is recomputed
    in DuckDB."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_hnsw_seg_")
    try:
        coll = create_collection(
            root, "hs", dim=8, normalize=False, indexing_threshold=1,
            k_centroids=_HNSW_LC["k_centroids"],
            hnsw_config={"m": _HNSW_LC["m"],
                         "ef_construct": _HNSW_LC["ef_construct"],
                         "max_segment_size": _HNSW_MSS})
        coll.upsert(spark, points, mode="merge")
        assert coll.has_index() and coll._has_hnsw()
        with phase("search"):
            res = coll.search(spark, qv, k=5,
                              hnsw_ef=_HNSW_LC["ef"]) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _hnsw_quant_oracle(sf_dir: str, k: int = 5) -> str:
    return _hnsw_lifecycle_oracle(sf_dir, k, quant="sq")


def _hnsw_pq_oracle(sf_dir: str, k: int = 5) -> str:
    return _hnsw_lifecycle_oracle(sf_dir, k, quant="pq")


def _hnsw_opq_oracle(sf_dir: str, k: int = 5) -> str:
    return _hnsw_lifecycle_oracle(sf_dir, k, quant="opq")


def _hnsw_bq_oracle(sf_dir: str, k: int = 5) -> str:
    return _hnsw_lifecycle_oracle(sf_dir, k, quant="bq")


@register("ingest_hnsw_opq_search", _hnsw_opq_oracle)
def ingest_hnsw_opq_search(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """hnsw_config × quantization="opq" — the graph walks PRODUCT-
    quantized reconstructions in the LEARNED ROTATED space (rows
    rotate through the fold-shape expression at encode; the walk
    query rotates driver-side — rotation preserves norms, so the
    cosine normalization is unchanged). The oracle re-derives the
    Procrustes rotation + codebooks, the rotated first-min codes, the
    rotated-space graphs and beam, and the full-width exact rescore —
    completing the quantizer × graph matrix's rotated corner."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_hnsw_opq_")
    try:
        coll = create_collection(
            root, "ho", dim=8, normalize=False, indexing_threshold=1,
            k_centroids=_HNSW_LC["k_centroids"], quantization="opq",
            hnsw_config={"m": _HNSW_LC["m"],
                         "ef_construct": _HNSW_LC["ef_construct"]})
        coll.upsert(spark, points, mode="merge")
        assert coll.has_index() and coll._has_hnsw()
        assert "opq_rotation" in coll.meta, "rotation must be frozen"
        with phase("search"):
            res = coll.search(spark, qv, k=5,
                              hnsw_ef=_HNSW_LC["ef"]) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("ingest_hnsw_bq_search", _hnsw_bq_oracle)
def ingest_hnsw_bq_search(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """hnsw_config × quantization="bq" — the graph walks ±1 sign rows
    (32× compression: the sidecar stores packed BIGINT words + links)
    with the FULL-PRECISION query, the asymmetric form (at least as
    informative as symmetric Hamming), then exact-rescores at full
    width. The oracle re-derives the sign decode, graphs, and beam
    driver-side; BQ is trainless, so this corner has no frozen-train
    stage — the decode/normalize/walk machinery is what's checked."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_hnsw_bq_")
    try:
        coll = create_collection(
            root, "hb", dim=8, normalize=False, indexing_threshold=1,
            k_centroids=_HNSW_LC["k_centroids"], quantization="bq",
            hnsw_config={"m": _HNSW_LC["m"],
                         "ef_construct": _HNSW_LC["ef_construct"]})
        coll.upsert(spark, points, mode="merge")
        assert coll.has_index() and coll._has_hnsw()
        lay_cols = _read_parquet(spark, coll._hnsw_graphs).columns
        assert "bits" in lay_cols and "embedding" not in lay_cols, \
            f"graph sidecar must store sign words: {lay_cols}"
        with phase("search"):
            res = coll.search(spark, qv, k=5,
                              hnsw_ef=_HNSW_LC["ef"]) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("ingest_hnsw_pq_search", _hnsw_pq_oracle)
def ingest_hnsw_pq_search(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """hnsw_config × quantization="pq" — the graph walks PRODUCT-
    quantized reconstructions (codebook lookup per block,
    `pq_decode_np`, shared by build and walk), the strongest
    compression the code graphs support (the sidecar stores
    ``pq_blocks`` one-byte codes + links per node). The oracle
    re-derives the frozen codebooks (id-ordered prefix, kmeans_np),
    every row's first-min block codes, the reconstructed-space graphs
    and beam driver-side, and recomputes the full-width exact rescore
    in DuckDB — wrong codebooks, a wrong argmin tie-break, or a walk
    in un-reconstructed space all hash-mismatch."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_hnsw_pq_")
    try:
        coll = create_collection(
            root, "hp", dim=8, normalize=False, indexing_threshold=1,
            k_centroids=_HNSW_LC["k_centroids"], quantization="pq",
            hnsw_config={"m": _HNSW_LC["m"],
                         "ef_construct": _HNSW_LC["ef_construct"]})
        coll.upsert(spark, points, mode="merge")
        assert coll.has_index() and coll._has_hnsw(), \
            "threshold crossed but code graphs not built"
        lay_cols = _read_parquet(spark, coll._hnsw_graphs).columns
        assert "code0" in lay_cols and "embedding" not in lay_cols, \
            f"graph sidecar must store PQ codes: {lay_cols}"
        with phase("search"):
            res = coll.search(spark, qv, k=5,
                              hnsw_ef=_HNSW_LC["ef"]) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("ingest_hnsw_quantized_search", _hnsw_quant_oracle)
def ingest_hnsw_quantized_search(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """hnsw_config × quantization — Qdrant's documented large-corpus
    posture (HNSW over quantized vectors + exact rescore,
    ``quantization_config`` alongside ``HnswConfigDiff``): ONE upsert
    trains the scalar quantizer, writes the cells-partitioned int8
    codes sidecar, AND builds the per-cell graphs OVER THE CODES —
    the graph sidecar stores codes + links only (4× smaller here,
    32× for BQ), so at 100 TB the walkable index is a fraction of the
    corpus. ``search(hnsw_ef=8)`` walks the graphs in the decoded
    bucket-center space (`sq_decode_np`, shared by build and walk)
    and exact-rescores the bounded union at full width via literal
    ``id IN``. The oracle re-derives the trained (min, step), every
    row's codes, the decoded-space graphs and beam driver-side, and
    recomputes the full-width rescore in DuckDB — a graph built or
    walked in the wrong space hash-mismatches. Tier interplay
    (ignore=True → index-only, rescore=False → codes ranking,
    quantizer retrain → graph rebuild) is pinned in
    tests/test_hnsw_collection.py."""
    docs = load(spark, sf_dir, "documents")
    points = build_points(
        _E.embed(docs, text_col="text"), id_key=F.col("text"),
        with_timestamp=False,
    ).dropDuplicates(["id"]).select("id", "embedding")
    qv = _E.embed_local([_QUERY_TEXT], mode="query")[0]
    root = tempfile.mkdtemp(prefix="qd_hnsw_q_")
    try:
        coll = create_collection(
            root, "hq", dim=8, normalize=False, indexing_threshold=1,
            k_centroids=_HNSW_LC["k_centroids"], quantization="sq",
            hnsw_config={"m": _HNSW_LC["m"],
                         "ef_construct": _HNSW_LC["ef_construct"]})
        coll.upsert(spark, points, mode="merge")
        assert coll.has_index() and coll._has_hnsw(), \
            "threshold crossed but code graphs not built"
        assert coll.meta.get("codes_layout") == "cells", \
            "codes sidecar must share the IVF cells"
        lay_cols = _read_parquet(spark, coll._hnsw_graphs).columns
        assert "codes" in lay_cols and "embedding" not in lay_cols, \
            f"graph sidecar must store codes, not vectors: {lay_cols}"
        with phase("search"):
            res = coll.search(spark, qv, k=5,
                              hnsw_ef=_HNSW_LC["ef"]) \
                .select("id", "score")
            rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- round 11: the reference's entry-point-1 dataflow as ONE query ---
# (SURVEY §3.1 — PDF scan → rasterize pages → ColPali multivector
# embed → point build → collection upsert → MaxSim query; previously
# covered piecewise by the ingest_* family.)

_IPE_DOCS = 24     # bounded source set (content still varies per sf)
_IPE_PAGE = 48     # chars per stub "page"
_IPE_MAXP = 3      # page cap (reference rasterizes every page; capped
#                    here so the fixture stays bounded)
_IPE_NSUB = 4      # subvectors per page (ColPali patch-token stub)


def _ipe_oracle() -> str:
    """STATIC full value oracle for the end-to-end image pipeline —
    no factory needed: every stage (file naming, page split, per-page
    multivector stub embedding, MaxSim, ids) is closed-form SQL. The
    page text's hash-embedding subvector s and the query's subvector s
    reuse `HashEmbedder.oracle_dim_sql` with the `#p<s>` suffix
    inlined as a correlated expression, so one pairs CTE covers every
    (page × query-subvector × doc-subvector) dot."""
    d_txt = "(p.ptext || '#p' || CAST(dj.j AS VARCHAR))"
    q_txt = f"('{_QUERY_TEXT}#p' || CAST(qi.i AS VARCHAR))"
    dot = " + ".join(
        f"({_E.oracle_dim_sql(i, d_txt)}) * "
        f"({_E.oracle_dim_sql(i, q_txt, 'query')})"
        for i in range(_E.dim))
    return f"""
    WITH d AS (SELECT doc_id, text FROM {_DOCS_DEDUP}
               WHERE doc_id < {_IPE_DOCS}),
    files AS (SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 5, '0')
                     || '.pdf' AS filename, text FROM d),
    p AS (
      SELECT f.filename, pg.page,
             substr(f.text, (pg.page - 1) * {_IPE_PAGE} + 1,
                    {_IPE_PAGE}) AS ptext
      FROM files f CROSS JOIN generate_series(1, {_IPE_MAXP}) AS pg(page)
      WHERE pg.page <= GREATEST(1, LEAST({_IPE_MAXP},
            CAST(ceil(length(f.text) / {_IPE_PAGE}.0) AS INTEGER)))
    ),
    pairs AS (
      SELECT p.filename, p.page, qi.i, dj.j, ({dot}) AS dp
      FROM p
      CROSS JOIN generate_series(0, {_IPE_NSUB - 1}) AS qi(i)
      CROSS JOIN generate_series(0, {_IPE_NSUB - 1}) AS dj(j)
    ),
    mx AS (SELECT filename, page, i, MAX(dp) AS m
           FROM pairs GROUP BY filename, page, i),
    sc AS (SELECT filename, page, ROUND(SUM(m), 6) AS score
           FROM mx GROUP BY filename, page)
    SELECT sha256(filename || ':' || CAST(page AS VARCHAR)) AS id,
           filename, CAST(page AS INTEGER) AS page, score
    FROM sc ORDER BY score DESC, id LIMIT 5
    """


@register("ingest_image_pipeline_e2e", _ipe_oracle())
def ingest_image_pipeline_e2e(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Entry point 1 END-TO-END (SURVEY §3.1,
    ``incremental_indexing_colpali_with_qdrant.py`` whole-file): write
    a bounded set of stub "PDF" files (bytes = document text, names
    ``doc_<id>.pdf``), `scan_pdfs` them back through the REAL
    binaryFile source (S1), decompose paths (P2), stub-rasterize into
    ≤3 deterministic pages per file (S2's page semantics — substring
    windows standing in for pdf2image, which is dep-gated), embed each
    page as a 4×8 multivector with the deterministic ColPali stand-in
    (E1: subvector s hashes ``page#p<s>``), build payload-carrying
    points with content-hash ids (P1/P4/P5), upsert into a MULTIVECTOR
    collection (S7/S8), and MaxSim-query it in query mode (Q2/Q4/E6)
    — one registry entry covering the reference's whole first
    dataflow, value-checked stage-for-stage by a STATIC SQL oracle."""
    import os
    import shutil
    import tempfile

    from ..catalog import create_collection
    from ..sources.files import scan_pdfs, with_path_parts

    docs = _dedupe_docs(load(spark, sf_dir, "documents")) \
        .filter(F.col("doc_id") < _IPE_DOCS)
    src = tempfile.mkdtemp(prefix="qd_ipe_src_")
    root = tempfile.mkdtemp(prefix="qd_ipe_coll_")
    try:
        for r in docs.select("doc_id", "text").collect():  # ≤24 rows
            with open(os.path.join(src, f"doc_{int(r.doc_id):05d}.pdf"),
                      "wb") as fh:
                fh.write(r.text.encode("utf-8"))
        pdfs = with_path_parts(scan_pdfs(spark, src), src)
        pages = (pdfs
                 .withColumn("text", F.decode(F.col("content"), "UTF-8"))
                 .withColumn("__np", F.greatest(
                     F.lit(1), F.least(
                         F.lit(_IPE_MAXP),
                         F.ceil(F.length("text") / float(_IPE_PAGE))
                         .cast("int"))))
                 .select("filename", "text",
                         F.explode(F.sequence(F.lit(1), F.col("__np")))
                         .alias("page"))
                 .withColumn("ptext", F.expr(
                     f"substr(text, (page - 1) * {_IPE_PAGE} + 1, "
                     f"{_IPE_PAGE})")))
        mv = F.array(*[
            _E.expr(F.concat(F.col("ptext"), F.lit(f"#p{s}")), "passage")
            for s in range(_IPE_NSUB)])
        points = build_points(
            pages.withColumn("embedding", mv),
            id_key=F.concat(F.col("filename"), F.lit(":"),
                            F.col("page").cast("string")),
            payload={"filename": F.col("filename"),
                     "page": F.col("page")},
            source_tag="document", with_timestamp=False)
        qv = [list(local_literal_df(
            spark, [(f"{_QUERY_TEXT}#p{s}",)], "text string")
            .select(_E.expr(F.col("text"), "query").alias("e"))
            .collect()[0].e) for s in range(_IPE_NSUB)]
        coll = create_collection(root, "ipe", dim=8, multivector=True,
                                 normalize=False)
        coll.upsert(spark, points.select("id", "embedding", "filename",
                                         "page"), mode="append")
        res = coll.search(spark, qv, k=5) \
            .select("id", "filename", "page", "score")
        rows = res.collect()
        return local_literal_df(spark, rows, res.schema)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
