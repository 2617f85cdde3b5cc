"""Plan-shape pins (SURVEY.md §4): the cheapest 100 TB scale test.

These assert the physical plans Catalyst produces for the core
operators — pushdown reaching the parquet scan, broadcast joins for
small sides, TakeOrderedAndProject (per-partition heaps) instead of a
global sort, and per-row pipelines staying exchange-free.
"""

from image_indexing_and_retrival_with_qdrant_spark.plans.explain import (
    formatted_plan,
    pushed_filters,
)
from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY


def _plan(spark, sf_dir, name):
    return formatted_plan(REGISTRY[name].builder(spark, sf_dir))


def test_knn_plan_shape(spark, sf_smoke):
    plan = _plan(spark, sf_smoke, "knn_dense_top5")
    assert "TakeOrderedAndProject" in plan  # top-k, not Sort+Limit
    assert "BroadcastNestedLoopJoin" in plan  # query side broadcast
    assert "SortMergeJoin" not in plan  # corpus is never shuffled


def test_filtered_knn_pushes_predicate(spark, sf_smoke):
    plan = _plan(spark, sf_smoke, "knn_filtered_top5")
    assert any("label" in f for f in pushed_filters(plan))


def test_tpch_q3_broadcasts_dimension(spark, sf_smoke):
    plan = _plan(spark, sf_smoke, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan  # customer side
    assert any("BUILDING" in f or "c_mktsegment" in f
               for f in pushed_filters(plan))


def test_scan_local_text_pipeline_has_no_exchange(spark, sf_smoke):
    plan = _plan(spark, sf_smoke, "text_fingerprint")
    assert "Exchange" not in plan  # pure per-row: map-only pipeline


def test_projection_pruning_reaches_scan(spark, sf_smoke):
    plan = _plan(spark, sf_smoke, "text_fingerprint")
    # only doc_id + text are read, not the full documents schema
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines and all(
        "lang" not in l and "n_chars" not in l for l in schema_lines
    )


def test_lsh_probe_is_joinless_literal_filter(spark, sf_smoke):
    """LSH candidate generation must be a literal bucket predicate on
    the band frame (driver-computed query signature) — no join of any
    kind, and certainly never a BroadcastNestedLoopJoin evaluating
    signatures against every corpus row. The expression-probe twin
    (lsh_probe) stays a BroadcastHashJoin and is parity-pinned in
    tests/test_ann.py."""
    plan = _plan(spark, sf_smoke, "ann_lsh_top5")
    assert "Join" not in plan
    assert "band_sig" in plan and "Filter" in plan


def test_maxsim_exact_aggregates_partially(spark, sf_smoke):
    plan = _plan(spark, sf_smoke, "maxsim_exact_top5")
    # two-level agg (max then sum) must include partial aggregation
    assert plan.count("HashAggregate") >= 2


def test_pipeline_docs_queries_are_map_only(spark, sf_smoke):
    """The training-data pipeline claims scan-locality (SCALE.md):
    quality filters, repetition stats, scrubbing, and chunking must
    compile to exchange-free map pipelines (chunking adds a Generate
    for the explode, still inside the scan stage)."""
    for name in ("docs_repetition_stats", "docs_gopher_filter",
                 "docs_scrub_pii", "docs_chunk_sliding"):
        plan = _plan(spark, sf_smoke, name)
        assert "Exchange" not in plan, f"{name} shuffles"


def test_reduced_dim_retrieval_has_knn_plan_shape(spark, sf_smoke):
    """Matryoshka / random-projection retrieval must keep the dense-KNN
    physical shape: broadcast the one-row query, per-partition top-k
    heaps, never a corpus shuffle or global sort."""
    for name in ("emb_matryoshka_top5", "emb_random_projection_top5"):
        plan = _plan(spark, sf_smoke, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "BroadcastNestedLoopJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_sq_probe_is_exchange_free(spark, sf_smoke):
    """SQ dequantize-dot is a projection over the codes scan feeding
    per-partition heaps — no shuffle anywhere in the probe."""
    plan = _plan(spark, sf_smoke, "ann_sq_top5")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_bq_probe_is_exchange_free(spark, sf_smoke):
    plan = _plan(spark, sf_smoke, "ann_bq_top5")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_metric_knn_keeps_knn_shape(spark, sf_smoke):
    """Changing the metric must not change the plan: scan-local score,
    broadcast query, heap top-k."""
    plan = _plan(spark, sf_smoke, "knn_euclid_top5")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dsl_filter_pushes_to_scan(spark, sf_smoke):
    """The compiled Filter tree reaches the parquet scan as pushed
    predicates, like any hand-written F4 filter."""
    plan = _plan(spark, sf_smoke, "knn_dsl_filtered_top5")
    pf = pushed_filters(plan)
    assert any("label" in f for f in pf)
    assert any("vec_id" in f for f in pf)


def test_sparse_probe_prunes_before_shuffle(spark, sf_smoke):
    """Posting rows hit the broadcast query join (pruning to query
    terms) BEFORE the doc-id aggregation shuffle — the plan must show
    the BroadcastHashJoin below the first Exchange."""
    plan = _plan(spark, sf_smoke, "sparse_knn_top10")
    assert "BroadcastHashJoin" in plan  # postings ⋈ broadcast query terms
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan  # the probe never shuffles postings


def test_dataset_assembly_is_map_then_tiny_agg(spark, sf_smoke):
    """Split and mixture membership are pure hash predicates on the
    scan: exactly ONE exchange each (the bounded count agg), no join,
    no window — the shape that stays as parallel as the scan at
    100 TB."""
    for name in ["docs_stratified_split", "docs_source_mixture"]:
        plan = _plan(spark, sf_smoke, name)
        # tree lines read "Exchange (n)"; details read "(n) Exchange"
        assert plan.count("Exchange (") == 1, name
        assert "Join" not in plan, name
        assert "Window" not in plan, name


def test_group_ranking_window_input_is_bounded(spark, sf_smoke):
    """top_groups: the group-ranking window must consume a
    TakeOrderedAndProject-pruned rep frame (≤ limit rows), never the
    full one-row-per-group frame — at millions of groups the
    unpruned unpartitioned window would be one task."""
    plan = _plan(spark, sf_smoke, "knn_grouped_top3")
    assert "TakeOrderedAndProject" in plan


def test_discovery_is_joinless_scan(spark, sf_smoke):
    # context pairs + target fold into the projection as literals:
    # one scan, no join of any kind, per-partition top-k heaps.
    plan = _plan(spark, sf_smoke, "knn_discover_top5")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_matrix_join_is_sample_broadcast(spark, sf_smoke):
    # all-pairs join is sample x broadcast(sample), never corpus-sized
    plan = _plan(spark, sf_smoke, "matrix_pairs_top3")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_formula_rescore_adds_no_exchange(spark, sf_smoke):
    """Formula boosting keeps the prefetch's plan: the corpus path is
    still broadcast-join + TakeOrderedAndProject; the rescore is a
    projection over the shortlist plus a final bounded top-k — no
    SortMergeJoin, no corpus-wide Sort appears."""
    plan = _plan(spark, sf_smoke, "knn_formula_boost_top5")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the prefetch's
    assert "SortMergeJoin" not in plan
    # exactly one global Sort is acceptable only if over the
    # shortlist; TakeOrdered covers the top-k, so none should remain
    assert "\n   Sort " not in plan


def test_substring_dedup_shuffles_keys_not_text(spark, sf_smoke):
    """The window explode stays scan-local; what shuffles is the
    (doc_id, 8-byte wkey) frame — window STRINGS never cross an
    exchange (they are hashed before the first aggregate)."""
    plan = _plan(spark, sf_smoke, "dedup_exact_substrings")
    parts = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert parts, "expected shuffles on the window key"
    # every shuffle keys on wkey and/or doc_id — never the window text
    assert all(("wkey" in l) or ("doc_id" in l) for l in parts)
    assert all("win#" not in l for l in parts)
    # the dup-key set joins back as a broadcast (SCALE.md posture)
    assert "BroadcastExchange" in plan


def test_semdedup_pair_join_is_blocked_equi_join(spark, sf_smoke):
    """SemDeDup's within-cell self-join must be an EQUI-join on the
    cell key — never a cartesian/NLJ — so it stays O(Σ cell²), and
    partition-local over a centroid layout."""
    plan = _plan(spark, sf_smoke, "dedup_semantic_cells")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_soft_pair_join_is_blocked_equi_join(spark, sf_smoke):
    """Soft top-2 blocking keeps the equi-join shape: the explode
    multiplies rows (2n memberships), but candidates still join on
    the cell key — no cartesian/NLJ, and no global DISTINCT for the
    shared-pair dedupe (it's the smallest-shared-cell filter)."""
    plan = _plan(spark, sf_smoke, "dedup_semantic_soft_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the algebraic dedupe must not reintroduce an aggregate
    assert "HashAggregate" not in plan or "distinct" not in plan.lower()


def test_soft_membership_layout_join_is_exchange_free(spark, sf_smoke,
                                                      tmp_path):
    """The persisted bucketed membership layout exists to delete the
    soft pair join's shuffle term: bucket key == join key, so the
    self-join must plan as a bucketed SortMergeJoin with ZERO
    ShuffleExchanges (the 1M-row stress measured the in-plan shuffle
    at 419 s solo — BASELINE.md §round-8)."""
    from pyspark.sql import functions as F

    from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
        kmeans_np,
        nearest_cells,
    )
    from image_indexing_and_retrival_with_qdrant_spark.operators.dedup import (
        soft_layout_near_pairs,
        write_soft_membership_layout,
    )
    from image_indexing_and_retrival_with_qdrant_spark.tables import load

    emb = load(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    X = [r.embedding for r in
         sorted(emb.limit(256).collect(), key=lambda r: r.vec_id)]
    cents = kmeans_np(X, 4, seed=42, max_iter=3)
    assigned = emb.withColumn(
        "cells", F.transform(nearest_cells(cents, F.col("embedding"), 2),
                             lambda s: s["i"]))
    write_soft_membership_layout(
        assigned, F.col("cells"), str(tmp_path / "members"),
        "soft_members_plan_test", buckets=4, id_col="vec_id")
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # a tiny fixture would otherwise broadcast; the pin is about
        # the large-table shape, where SMJ is the only option
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pairs = soft_layout_near_pairs(
            spark, "soft_members_plan_test", id_col="vec_id",
            min_cosine=0.3)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql("DROP TABLE IF EXISTS soft_members_plan_test")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_dsir_lms_broadcast_back(spark, sf_smoke):
    """DSIR's two hashed-bucket LMs are ≤B rows at any corpus size —
    they must join back BROADCAST (the corpus is never re-shuffled
    wide for scoring)."""
    plan = _plan(spark, sf_smoke, "docs_dsir_select")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sparse_postings_probe_is_pruned(spark, sf_smoke, tmp_path):
    """A posting-layout probe must read ~the query terms' posting
    lists, never the corpus: static partition pruning on the bucket
    dirs (PartitionFilters: bucket IN ...) and idx pushdown to the
    row-group footers (PushedFilters: In(idx, ...)) — the on-disk
    inverted-index access pattern."""
    from pyspark.sql import functions as F

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )
    from image_indexing_and_retrival_with_qdrant_spark.operators.sparse import (
        sparse_from_text,
        term_vocabulary,
    )
    from image_indexing_and_retrival_with_qdrant_spark.tables import load

    docs = load(spark, sf_smoke, "documents")
    enc = sparse_from_text(docs, term_vocabulary(docs))
    points = enc.select(F.col("doc_id").alias("id"),
                        F.col("indices").alias("text__sidx"),
                        F.col("values").alias("text__sval"))
    q = enc.filter(F.col("doc_id") == 0).collect()[0]
    c = create_collection(str(tmp_path), "pp", sparse_vectors={
        "text": {"full_scan_threshold": 10}})
    c.upsert(spark, points)
    hits = c.search(spark, (list(q.indices)[:5], list(q.values)[:5]),
                    using="text", k=5, with_payload=False)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    # (match on the pruning metadata, not the layout path — FileScan's
    # Location string truncates at 100 chars under long tmp dirs)
    scan = [l for l in plan.splitlines()
            if "FileScan" in l and "PartitionFilters: [bucket" in l]
    assert scan, "search must probe the posting layout with a static " \
                 "bucket partition prune"
    assert all("In(idx" in l.split("PushedFilters")[-1] for l in scan), \
        "query terms must push to the posting row groups"
    # the point arrays never scan on the probe path
    assert "text__sidx" not in plan


def test_sparse_space_search_broadcasts_query_terms(spark, sf_smoke, tmp_path):
    """Collection sparse search: the query-term side broadcasts into
    the posting join (pruning before any shuffle), and the payload
    join-back broadcasts the ≤k-row hit list."""
    from pyspark.sql import functions as F

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )
    from image_indexing_and_retrival_with_qdrant_spark.operators.sparse import (
        sparse_from_text,
        term_vocabulary,
    )
    from image_indexing_and_retrival_with_qdrant_spark.plans.explain import (
        formatted_plan,
    )
    from image_indexing_and_retrival_with_qdrant_spark.tables import load

    docs = load(spark, sf_smoke, "documents")
    enc = sparse_from_text(docs, term_vocabulary(docs))
    points = enc.select(F.col("doc_id").alias("id"),
                        F.col("indices").alias("text__sidx"),
                        F.col("values").alias("text__sval"))
    coll = create_collection(str(tmp_path), "sp",
                             sparse_vectors={"text": {}})
    coll.upsert(spark, points)
    q = enc.filter(F.col("doc_id") == 0).collect()[0]
    plan = formatted_plan(
        coll.search(spark, (list(q.indices), list(q.values)), k=5))
    assert plan.count("BroadcastHashJoin") >= 2  # qdf prune + hit-list
    assert "CartesianProduct" not in plan


def test_opq_adc_probe_is_exchange_free(spark, sf_smoke):
    """OPQ ADC (round 9) is the PQ shape: literal-LUT element_at sums
    projected over the cached rotated-code table feeding per-partition
    heaps — no shuffle, no join, no vector bytes in the probe."""
    plan = _plan(spark, sf_smoke, "ann_opq_top5")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_collection_search_keeps_single_query_leaf(spark, tmp_path):
    """Collection.search runs the single-query leaf — dense exact is
    a TakeOrderedAndProject heap, no Window — while a 2-query
    search_batch keeps its grouped top-k (a per-query Window)."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "leaf", dim=4, normalize=False)
    coll.upsert(spark, spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, float(i % 3)]) for i in range(20)],
        "id long, embedding array<double>"))
    q0, q1 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    single = formatted_plan(coll.search(spark, q0, k=3, exact=True))
    assert "TakeOrderedAndProject" in single and "Window" not in single
    batch = formatted_plan(coll.search_batch(spark, [q0, q1], k=3,
                                             exact=True))
    assert "Window" in batch, batch


def test_batch_topk_prunes_with_native_partial_limit(spark, tmp_path):
    """An exact 2-query search_batch prunes map-side with Spark's own
    ``WindowGroupLimit`` (Partial, below the exchange; Final above
    it) — no Python stage anywhere in the batch plan."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "wgl", dim=4, normalize=False)
    coll.upsert(spark, spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, float(i % 3)]) for i in range(20)],
        "id long, embedding array<double>"))
    batch = coll.search_batch(spark, [[1.0, 0.0, 0.0, 0.0],
                                      [0.0, 1.0, 0.0, 0.0]], k=3, exact=True)
    lines = batch._jdf.queryExecution().executedPlan().toString() \
        .splitlines()
    ex = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    assert len(ex) == 1, lines
    wgl = [(i, l) for i, l in enumerate(lines) if "WindowGroupLimit" in l]
    assert [l.rstrip().rsplit(", ", 1)[-1] for _, l in wgl] == \
        ["Final", "Partial"], lines
    assert wgl[0][0] < ex[0] < wgl[1][0]  # Partial sits map-side
    assert not any("MapInPandas" in l or "Python" in l for l in lines)
    assert len(batch.collect()) == 6


def test_hnsw_walk_exchange_is_byte_sized_builds_stay_pinned(spark):
    """Graph builds pin an explicit-count repartition (heavy Python
    work per segment over few bytes); the search walks do not — their
    work follows the bytes they deserialize, so AQE sizes the
    exchange."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.hnsw import (
        LAYOUT_SCHEMA,
        hnsw_layout,
        hnsw_layout_search,
        hnsw_layout_search_batch,
    )

    def pinned(df) -> bool:
        qe = df._jdf.queryExecution()
        logical = "RepartitionByExpression" in qe.analyzed().toString()
        physical = "REPARTITION_BY_NUM" in qe.executedPlan().toString()
        assert logical == physical
        return logical

    points = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id bigint, embedding array<double>")
    layout = spark.createDataFrame([], LAYOUT_SCHEMA)
    assert pinned(hnsw_layout(points, n_segments=2, m=2, ef_construct=4))
    # the resume form: layout rows carry pos/level/links
    assert pinned(hnsw_layout(layout, seg_col="segment", m=2,
                              ef_construct=4))
    assert not pinned(hnsw_layout_search(layout, [1.0, 0.0], ef=4))
    assert not pinned(hnsw_layout_search_batch(
        layout, [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ef=4))


def test_hnsw_rescore_filters_ids_by_in(spark, tmp_path):
    """The single-search HNSW rescore narrows the corpus with the walk's
    candidate ids as one literal ``IN`` (an ``In``/``InSet``
    predicate on ``id``), whichever way the literal was built."""
    import re

    import numpy as np

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    rng = np.random.RandomState(5)
    coll = create_collection(str(tmp_path), "hin", dim=4, normalize=False,
                             indexing_threshold=1, k_centroids=2,
                             hnsw_config={"m": 4, "ef_construct": 16})
    coll.upsert(spark, spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(4)]) for i in range(60)],
        "id long, embedding array<double>"))
    assert coll._has_hnsw()
    hits = coll.search(spark, [1.0, 0.5, -0.5, 0.0], k=3, hnsw_ef=8)
    opt = hits._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"\bid#\d+L? (IN \(|INSET )", opt), opt
    assert len(hits.collect()) == 3


def test_recommend_batch_is_a_search_batch_plan(spark, tmp_path):
    """recommend_batch runs the search_batch plan: per-request example
    exclusions are a per-query filter on the scored rows (no LeftAnti
    join), ranked by the partial-then-final ``WindowGroupLimit``
    around one exchange. A single recommend keeps the single-query
    TakeOrderedAndProject leaf, no Window."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    coll = create_collection(str(tmp_path), "rbp", dim=4, normalize=False)
    coll.upsert(spark, spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, float(i % 3)]) for i in range(20)],
        "id long, embedding array<double>"))
    batch = coll.recommend_batch(spark, [([1, 2], [3]), ([4], [5, 6])], k=3)
    lines = batch._jdf.queryExecution().executedPlan().toString() \
        .splitlines()
    assert not any("LeftAnti" in l for l in lines), lines
    ex = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    assert len(ex) == 1, lines
    wgl = [(i, l) for i, l in enumerate(lines) if "WindowGroupLimit" in l]
    assert [l.rstrip().rsplit(", ", 1)[-1] for _, l in wgl] == \
        ["Final", "Partial"], lines
    assert wgl[0][0] < ex[0] < wgl[1][0]
    assert len(batch.collect()) == 6
    single = formatted_plan(coll.recommend(spark, [1, 2], [3], k=3))
    assert "TakeOrderedAndProject" in single and "Window" not in single
