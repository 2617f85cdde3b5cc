"""ANN recall invariants vs the exact scan (FIXTURES.md §4)."""

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY
from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
    ivf_build,
    ivf_search,
    lsh_search,
)
from image_indexing_and_retrival_with_qdrant_spark.operators.knn import dense_knn
from image_indexing_and_retrival_with_qdrant_spark.tables import load


def _query_of(emb, vec_id):
    return emb.filter(F.col("vec_id") == vec_id).select(
        F.col("embedding").alias("query_vec")
    )


# One Spark-ML KMeans fit per (sf, k, seed) for the whole module: the
# fit is deterministic (fixed seed, fixed data), so sharing it across
# tests changes nothing they assert — it only stops the gate paying
# ~10 distributed Lloyd's iterations per test (VERDICT r11 #3: the
# pytest gate must fit the driver's window).
_IVF_MEMO: dict = {}


def _ivf_built(spark, sf_dir, k, seed=42):
    key = (spark.sparkContext.applicationId, sf_dir, k, seed)
    if key not in _IVF_MEMO:
        _IVF_MEMO[key] = ivf_build(load(spark, sf_dir, "embeddings"),
                                   k_centroids=k, seed=seed)
    return _IVF_MEMO[key]


def _exact_ids(emb, query, k):
    return {r.vec_id for r in dense_knn(emb, query, k=k).collect()}


def test_ivf_exhaustive_probe_is_exact(spark, sf_smoke):
    """nprobe = k_centroids ⇒ every partition probed ⇒ identical to
    the exact scan."""
    emb = load(spark, sf_smoke, "embeddings")
    q = _query_of(emb, 0)
    assigned, centroids = _ivf_built(spark, sf_smoke, 8)
    approx = ivf_search(assigned, centroids, q, k=10, nprobe=8)
    assert {r.vec_id for r in approx.collect()} == _exact_ids(emb, q, 10)


def test_ivf_recall_reasonable(spark, sf_smoke):
    """Half the partitions probed ⇒ decent recall. (The fixture
    vectors are near-uniform random — no cluster structure — so IVF
    recall here is the floor, not the ceiling: measured 0.37/0.53/0.70
    at nprobe=4/6/8 of 16.)"""
    emb = load(spark, sf_smoke, "embeddings")
    assigned, centroids = _ivf_built(spark, sf_smoke, 16)
    hits = total = 0
    for qid in (0, 1, 2):
        q = _query_of(emb, qid)
        exact = _exact_ids(emb, q, 10)
        approx = {r.vec_id for r in
                  ivf_search(assigned, centroids, q, k=10, nprobe=8).collect()}
        hits += len(exact & approx)
        total += len(exact)
    assert hits / total >= 0.5, f"IVF recall@10 too low: {hits}/{total}"


def test_ivf_self_hit(spark, sf_smoke):
    """The query vector itself lives in the probed partition (its own
    centroid is always the nearest) — rank 1 must be the query id."""
    emb = load(spark, sf_smoke, "embeddings")
    assigned, centroids = _ivf_built(spark, sf_smoke, 16)
    top = ivf_search(assigned, centroids, _query_of(emb, 3), k=1, nprobe=1).collect()
    assert top[0].vec_id == 3


def test_lsh_self_hit_and_recall(spark, sf_smoke):
    emb = load(spark, sf_smoke, "embeddings")
    q = _query_of(emb, 0)
    got = lsh_search(emb, q, dim=64, k=10).collect()
    assert got[0].vec_id == 0  # identical signature ⇒ always a candidate
    exact = _exact_ids(emb, q, 10)
    recall = len(exact & {r.vec_id for r in got}) / 10
    assert recall >= 0.3, f"LSH recall@10 too low: {recall}"


def test_expr_assignment_matches_ml_transformer(spark, sf_smoke):
    """Sample-trained + expression-assigned IVF must agree with the
    ml-transformer assignment for the same centroids."""
    emb = load(spark, sf_smoke, "embeddings")
    a1, c1 = _ivf_built(spark, sf_smoke, 8)
    from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
        nearest_cells,
    )

    cents = [r.centroid for r in c1.orderBy("centroid_id").collect()]
    a2 = emb.withColumn(
        "centroid_id", nearest_cells(cents, "embedding")[0]["i"]
    )
    m1 = {r.vec_id: r.centroid_id for r in a1.select("vec_id", "centroid_id").collect()}
    m2 = {r.vec_id: r.centroid_id for r in a2.select("vec_id", "centroid_id").collect()}
    assert m1 == m2


def test_lsh_multiprobe_supersets_plain_probe(spark, sf_smoke):
    """Hamming-1 probing can only add candidates: the multiprobe hit
    set must contain every plain-probe candidate, and the self-hit
    still leads."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
        lsh_band_frame,
        lsh_candidates,
        lsh_probe,
    )

    emb = load(spark, sf_smoke, "embeddings")
    q = _query_of(emb, 0)
    stack = lsh_band_frame(emb, 64, carry_cols=("vec_id", "embedding"))
    plain = {r.vec_id for r in lsh_candidates(stack, q, dim=64).collect()}
    multi = {r.vec_id
             for r in lsh_candidates(stack, q, dim=64, multiprobe=1).collect()}
    assert plain <= multi and len(multi) > len(plain)
    got = lsh_probe(stack, q, dim=64, k=10, multiprobe=1).collect()
    assert got[0].vec_id == 0
    # scores of shared hits are identical (same rescoring expression)
    plain_scores = {r.vec_id: r.score
                    for r in lsh_probe(stack, q, dim=64, k=10).collect()}
    for r in got:
        if r.vec_id in plain_scores:
            assert r.score == plain_scores[r.vec_id]


def test_lsh_literal_probe_matches_expression_probe(spark, sf_smoke):
    """Driver-computed signatures + literal bucket predicate must give
    the SAME ids and scores as the expression probe, for both plain
    and multi-probe (left-to-right float64 dots are bit-identical on
    both sides)."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
        lsh_band_frame,
        lsh_probe,
        lsh_probe_literal,
        lsh_query_signature,
        lsh_signatures,
    )

    emb = load(spark, sf_smoke, "embeddings")
    stack = lsh_band_frame(emb, 64, carry_cols=("vec_id", "embedding"))
    # signature parity on a handful of corpus vectors
    rows = emb.limit(5).collect()
    sig_rows = {r.vec_id: (r.band0, r.band1) for r in
                lsh_signatures(emb, 64).filter(
                    F.col("vec_id").isin([r.vec_id for r in rows]))
                .select("vec_id", "band0", "band1").collect()}
    for r in rows:
        assert tuple(lsh_query_signature(list(r.embedding), 64)) == \
            sig_rows[r.vec_id]
    qvec = list(rows[0].embedding)
    q = spark.createDataFrame([(qvec,)], "query_vec array<double>")
    for m in (0, 1):
        expr_hits = [(r.vec_id, r.score) for r in
                     lsh_probe(stack, q, dim=64, k=10, multiprobe=m).collect()]
        lit_hits = [(r.vec_id, r.score) for r in
                    lsh_probe_literal(stack, qvec, dim=64, k=10,
                                      multiprobe=m).collect()]
        assert expr_hits == lit_hits


@pytest.mark.parametrize("name", ["ann_lsh_top5", "ann_lsh_multiprobe_top5"])
@pytest.mark.parametrize("sf", ["sf_smoke", "sf_oracle"])
def test_lsh_oracle_parity(spark, name, sf, request):
    """LSH is seeded + data-independent, so the whole probe — band
    signatures, (multi-probe) bucket match, exact-cosine rescore,
    top-k — hash-matches the DuckDB recomputation (queries/ann.py::
    _lsh_oracle) at both fixture scales: a FULL value oracle for an
    "approximate" tier, because the approximation itself is
    deterministic."""
    from tests.oracle import compare

    sf_dir = request.getfixturevalue(sf)
    compare(spark, REGISTRY[name], sf_dir, name)


def test_ivfpq_exhaustive_oracle_parity(spark, sf_smoke):
    """nprobe=all + rescore=|corpus| makes the composed IVFPQ read
    path provably the exact scan — full value oracle on the
    probe → ADC → rescore plumbing."""
    from tests.oracle import compare

    compare(spark, REGISTRY["ann_ivfpq_exhaustive_top5"], sf_smoke,
            "ann_ivfpq_exhaustive_top5")


@pytest.mark.parametrize("sf", ["sf_smoke", "sf_oracle"])
def test_ivf_det_oracle_parity(spark, sf, request):
    """The sample-trained IVF tier is approximate (nprobe=4/16) yet
    fully value-oracled: kmeans_np training is bit-reproducible
    outside Spark, so the oracle factory re-derives identical
    centroids and the whole read path hash-matches."""
    from tests.oracle import compare

    sf_dir = request.getfixturevalue(sf)
    compare(spark, REGISTRY["ann_ivf_det_top5"], sf_dir,
            "ann_ivf_det_top5")


def test_kmeans_np_deterministic_and_partitions(spark, sf_smoke):
    """Same data, same seed → bit-identical centroids across calls
    (the property the oracle factory depends on); every vector
    assigns to a valid centroid."""
    import os

    from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
        kmeans_np,
        read_vectors_np,
    )

    X = read_vectors_np(os.path.join(sf_smoke, "embeddings.parquet"))
    c1 = kmeans_np(X, 8, seed=7)
    c2 = kmeans_np(X, 8, seed=7)
    assert c1 == c2
    assert len(c1) == 8 and len(c1[0]) == 64
    c3 = kmeans_np(X, 8, seed=8)
    assert c3 != c1  # seed actually matters


@pytest.mark.parametrize("sf", ["sf_smoke", "sf_oracle"])
def test_cluster_profile_oracle_parity(spark, sf, request):
    compare_mod = __import__("tests.oracle", fromlist=["compare"])
    compare_mod.compare(spark, REGISTRY["emb_cluster_profile"],
                        request.getfixturevalue(sf),
                        "emb_cluster_profile")


def test_ml_trained_variants_run(spark, sf_smoke):
    """The Spark-ML-KMeans-trained tiers moved to pytest-only in
    round 5 (the registered names probe the deterministic layouts) —
    this keeps their JVM training + read paths exercised, as their
    docstrings promise. The IVF probe must surface the query's own
    vector (its cell is always among the probed nprobe): self-match
    at cosine 1.0; the PQ/IVFPQ variants are approximate, so only
    shape/cardinality is pinned here (recall pins live in
    tests/test_ann_clustered.py via the shared operators)."""
    from image_indexing_and_retrival_with_qdrant_spark.queries.ann import (
        ann_ivf_ml_top5,
        ann_ivfpq_ml_top5,
        ann_pq_ml_top5,
    )

    ivf = ann_ivf_ml_top5(spark, sf_smoke).collect()
    assert len(ivf) == 5 and ivf[0].vec_id == 0 and ivf[0].score == 1.0
    pq = ann_pq_ml_top5(spark, sf_smoke).collect()
    assert len(pq) == 5 and set(pq[0].asDict()) == {"vec_id", "score"}
    ivfpq = ann_ivfpq_ml_top5(spark, sf_smoke).collect()
    assert len(ivfpq) == 5 and ivfpq[0].vec_id == 0  # exact rescore


def test_ivf_split_hot_cells(spark, sf_smoke):
    """Cap-and-split rebalance (round 6): hot cells are re-trained on
    their own members; cells stay a partition of the corpus
    (exhaustive probe over the new cells ≡ exact scan), the hot-cell
    fraction drops toward the cap, and a balanced layout is a no-op."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
        ivf_cell_counts,
        ivf_split_hot_cells,
    )

    emb = load(spark, sf_smoke, "embeddings")
    n = emb.count()
    assigned, centroids = _ivf_built(spark, sf_smoke, 4)
    counts = ivf_cell_counts(assigned)
    hot_frac = max(counts.values()) / n
    cap = 0.10
    re_assigned, cent_rows = ivf_split_hot_cells(
        assigned, centroids, cap_fraction=cap, train_sample=2000,
        counts=counts)
    new_counts = ivf_cell_counts(re_assigned)
    # still a partition of the corpus
    assert sum(new_counts.values()) == n
    # every populated cell has a centroid row, ids are unique
    cids = [c for c, _ in cent_rows]
    assert len(cids) == len(set(cids))
    assert set(new_counts) <= set(cids)
    # balance improved to the cap (2x slack: kmeans granularity)
    assert max(new_counts.values()) / n <= max(2 * cap, hot_frac / 2)
    # exhaustive probe over the NEW cells still equals the exact scan
    cdf = spark.createDataFrame(
        cent_rows, "centroid_id int, centroid array<double>")
    q = _query_of(emb, 0)
    got = {r.vec_id for r in
           ivf_search(re_assigned, cdf, q, k=10, probe_ids=cids).collect()}
    assert got == _exact_ids(emb, q, 10)
    # a layout already under the cap is returned untouched
    same, same_rows = ivf_split_hot_cells(re_assigned, cdf,
                                          cap_fraction=0.9)
    assert same is re_assigned and sorted(c for c, _ in same_rows) == \
        sorted(cids)
