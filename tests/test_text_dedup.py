"""Text-analysis + dedup queries vs DuckDB oracle (SURVEY.md §7 M6)."""

import pytest

from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY

from .oracle import compare

TEXT = ["text_token_stats", "text_quality", "text_langid", "text_fingerprint",
        "text_bpe_token_estimate"]
DEDUP = [
    "dedup_exact_groups",
    "dedup_rerun_semantics",
    "dedup_minhash_signatures",
    "dedup_minhash_candidates",
    "dedup_simhash",
    "dedup_simhash_near_pairs",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_semantic_cells",
    "dedup_semantic_soft_pairs",
    "dedup_semantic_soft_layout_pairs",
    "dedup_semantic_soft_keep",
    "dedup_semantic_keep",
    "dedup_duplicate_clusters",
    "dedup_exact_substrings",
    "dedup_bloom_incremental",
]


@pytest.mark.parametrize("name", TEXT + DEDUP)
def test_text_dedup_oracle(spark, sf_smoke, name):
    compare(spark, REGISTRY[name], sf_smoke, name)


def test_ml_minhash_similarity_join_finds_planted_dups(spark, sf_smoke):
    """spark.ml approxSimilarityJoin tier: planted near-duplicates
    (doc + itself with one word changed) must surface as pairs."""
    from pyspark.sql import functions as F

    from image_indexing_and_retrival_with_qdrant_spark.operators.dedup import (
        ml_minhash_similarity_join,
    )
    from image_indexing_and_retrival_with_qdrant_spark.tables import load

    docs = load(spark, sf_smoke, "documents").limit(40)
    near = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(near)
    pairs = ml_minhash_similarity_join(corpus, corpus,
                                       max_jaccard_dist=0.3).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    planted = {(d, d + 10000) for d in range(40)}
    hit = len(planted & found) / len(planted)
    assert hit >= 0.9, f"planted near-dup recall too low: {hit}"


def test_decontaminate_flags_planted_overlap(spark):
    """Planted contamination: doc 1 embeds a benchmark 4-gram run,
    doc 2 shares nothing, short docs are skipped, multiplicity counts
    distinct shingles once."""
    from pyspark.sql import functions as F  # noqa: F811

    from image_indexing_and_retrival_with_qdrant_spark.operators.dedup import (
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            # two distinct bench 4-grams: a-b-g-d and b-g-d-e
            (1, "zz alpha beta gamma delta epsilon yy"),
            (2, "one two three four five six"),
            (3, "alpha beta gamma"),              # < n tokens: skipped
            # same bench 4-gram twice: still one distinct hit
            (4, "alpha beta gamma delta x alpha beta gamma delta"),
        ],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_hits
            for r in decontaminate(corpus, bench, n=4).collect()}
    assert hits == {1: 2, 4: 1}
    # min_hits raises the bar
    strict = decontaminate(corpus, bench, n=4, min_hits=2).collect()
    assert [(r.doc_id, r.n_hits) for r in strict] == [(1, 2)]


def test_connected_components_chains_and_singletons(spark):
    """Transitive chains collapse to one cluster labeled by the min
    member; isolated nodes keep their own label; empty edge sets
    converge immediately."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10)],
        "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]],
                                  "doc_id long")
    got = {r.doc_id: r.cluster_id for r in
           connected_components(edges, nodes=nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}
    empty = spark.createDataFrame([], "id_a long, id_b long")
    got2 = {r.doc_id: r.cluster_id for r in
            connected_components(empty, nodes=nodes).collect()}
    assert got2 == {i: i for i in [1, 2, 3, 4, 10, 11, 99]}


def test_duplicated_window_stats_semantics(spark):
    """Cross-doc duplicated spans flagged; within-doc repetition and
    short docs are not (a window must appear in >1 DOCUMENT)."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.dedup import (
        duplicated_window_stats,
    )

    span = "a b c d e"  # 5 tokens, window=5
    docs = spark.createDataFrame(
        [
            (1, f"x y {span} z w"),        # shares span with doc 2
            (2, f"p q {span} r s"),
            (3, "m n o " + span.replace("e", "E2") + " t"),  # unique
            (4, "f1 f2 f3 f4 f5 f1 f2 f3 f4 f5"),  # repeats only within itself
            (5, "too short"),               # < window tokens: excluded
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in
           duplicated_window_stats(docs, window=5).collect()}
    assert 5 not in got
    assert got[1].dup_windows == 1 and got[2].dup_windows == 1
    assert got[3].dup_windows == 0
    # doc 4's repeated span exists only in doc 4 → not cross-doc dup
    assert got[4].dup_windows == 0
    assert got[1].total_windows == 9 - 5 + 1
    assert got[1].dup_frac == round(1 / 5, 6)


def test_cell_local_components_matches_global(spark, sf_smoke):
    """The one-pass cell-local union-find must produce the exact
    cluster assignment of the global min-label loop when edges are
    cell-bounded (the SemDeDup precondition)."""
    from pyspark.sql import functions as F

    from image_indexing_and_retrival_with_qdrant_spark.operators.dedup import (
        cell_local_components,
        connected_components,
        embedding_near_pairs,
    )
    from image_indexing_and_retrival_with_qdrant_spark.tables import load

    emb = load(spark, sf_smoke, "embeddings").withColumn(
        "cell", (F.col("vec_id") % 4).cast("long"))
    pairs = embedding_near_pairs(emb, F.col("cell"), min_cosine=0.3,
                                 block_out="cell")
    assert pairs.count() > 0
    local = {(r.vec_id, r.cluster_id)
             for r in cell_local_components(emb, pairs).collect()}
    global_ = {(r.vec_id, r.cluster_id)
               for r in connected_components(
                   pairs, nodes=emb, id_col="vec_id").collect()}
    assert local == global_


def test_soft_layout_pairs_match_inplan(spark, sf_smoke, tmp_path):
    """The bucketed membership layout must reproduce the in-plan soft
    pair set exactly (same candidates, same smallest-shared-cell
    dedupe, same rounded cosines) — and its self-join must be
    exchange-free (the plan pin lives in test_plans.py)."""
    from pyspark.sql import functions as F

    from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
        kmeans_np,
        nearest_cells,
    )
    from image_indexing_and_retrival_with_qdrant_spark.operators.dedup import (
        soft_blocked_near_pairs,
        soft_layout_near_pairs,
        write_soft_membership_layout,
    )
    from image_indexing_and_retrival_with_qdrant_spark.tables import load

    emb = load(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    X = [r.embedding for r in
         sorted(emb.collect(), key=lambda r: r.vec_id)][:512]
    cents = kmeans_np(X, 6, seed=42, max_iter=5)
    assigned = emb.withColumn(
        "cells", F.transform(nearest_cells(cents, F.col("embedding"), 2),
                             lambda s: s["i"]))

    ref = sorted((r.id_a, r.id_b, r.cosine) for r in soft_blocked_near_pairs(
        assigned, F.col("cells"), id_col="vec_id",
        min_cosine=0.3).collect())
    write_soft_membership_layout(
        assigned, F.col("cells"), str(tmp_path / "members"),
        "soft_members_eq_test", buckets=4, id_col="vec_id")
    try:
        got = sorted((r.id_a, r.id_b, r.cosine)
                     for r in soft_layout_near_pairs(
                         spark, "soft_members_eq_test", id_col="vec_id",
                         min_cosine=0.3).collect())
    finally:
        spark.sql("DROP TABLE IF EXISTS soft_members_eq_test")
    assert len(ref) > 0 and got == ref


def test_bloom_no_false_negatives_and_bounded_fpr(spark, sf_smoke):
    """Bloom semantics: every re-ingested text MUST flag (no false
    negatives at any m); at an aggressively small m false positives
    appear but stay near the analytic rate (1 - e^(-kn/m))^k."""
    import math

    from pyspark.sql import functions as F

    from image_indexing_and_retrival_with_qdrant_spark.operators.dedup import (
        bloom_filter_build,
        bloom_filter_probe,
    )
    from image_indexing_and_retrival_with_qdrant_spark.tables import load

    docs = load(spark, sf_smoke, "documents")
    hist = docs.filter(F.col("doc_id") < 350)
    batch = docs.filter(F.col("doc_id") >= 250)
    m, k = 1 << 11, 5  # 2048 bits for ~350 keys: FPR by design
    bloom = bloom_filter_build(hist, m=m, k=k)
    assert bloom.count() <= m // 64
    flags = {r.doc_id: r.maybe_dup for r in
             bloom_filter_probe(batch, bloom, m=m, k=k).collect()}
    # the 250-349 overlap was ingested into the filter: all must flag
    assert all(flags[i] for i in range(250, 350))
    fresh = [i for i in flags if i >= 350]
    fpr = sum(flags[i] for i in fresh) / len(fresh)
    expect = (1 - math.exp(-k * 350 / m)) ** k
    assert 0 < fpr < 4 * expect, (fpr, expect)


def test_bloom_oracle_parity(spark, sf_smoke, sf_oracle):
    from image_indexing_and_retrival_with_qdrant_spark.registry import (
        REGISTRY,
    )
    from tests.oracle import compare

    for sf in (sf_smoke, sf_oracle):
        compare(spark, REGISTRY["dedup_bloom_incremental"], sf,
                "dedup_bloom_incremental")
