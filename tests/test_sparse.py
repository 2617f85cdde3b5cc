"""Sparse-vector retrieval: encoding round-trip, oracle parity,
posting-prune semantics."""

import os

import pytest
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.operators.sparse import (
    sparse_from_text,
    sparse_knn,
    sparse_postings,
    term_vocabulary,
)
from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY
from image_indexing_and_retrival_with_qdrant_spark.tables import load
from tests.oracle import compare


@pytest.mark.parametrize("sf", ["sf_smoke", "sf_oracle"])
def test_sparse_oracle_parity(spark, sf, request):
    sf_dir = request.getfixturevalue(sf)
    compare(spark, REGISTRY["sparse_knn_top10"], sf_dir, "sparse_knn_top10")


def test_sparse_encoding_shape(spark):
    docs = spark.createDataFrame(
        [(1, "b a b"), (2, "a c")], "doc_id int, text string")
    vocab = term_vocabulary(docs)
    # lexicographic ids: a=1, b=2, c=3
    assert {(r.term, r.term_id) for r in vocab.collect()} == {
        ("a", 1), ("b", 2), ("c", 3)}
    sp = {r.doc_id: r for r in sparse_from_text(docs, vocab).collect()}
    assert list(sp[1].indices) == [1, 2]       # ascending indices
    assert list(sp[1].values) == [1.0, 2.0]    # tf of a, b
    assert list(sp[2].indices) == [1, 3]


def test_sparse_knn_exact_dot(spark):
    docs = spark.createDataFrame(
        [(1, "x x y"), (2, "y z"), (3, "w")], "doc_id int, text string")
    vocab = term_vocabulary(docs)
    corpus = sparse_from_text(docs, vocab)
    # query {x:1, y:2} -> doc1 = 2*1 + 1*2 = 4, doc2 = 1*2 = 2, doc3 = miss
    x_id, y_id = [r.term_id for r in
                  vocab.filter(F.col("term").isin("x", "y"))
                  .orderBy("term").collect()]
    out = sparse_knn(corpus, [([x_id, y_id], [1.0, 2.0])], k=10).collect()
    assert [(r.doc_id, r.score) for r in out] == [(1, 4.0), (2, 2.0)]


def test_self_query_score_is_norm_squared(spark, sf_smoke):
    """Raw sparse dot (Qdrant's sparse metric — no normalization):
    the query doc's own score is exactly Σ tf². Longer docs may
    legitimately out-rank it, so pin the value, not the rank."""
    docs = load(spark, sf_smoke, "documents")
    vocab = term_vocabulary(docs)
    corpus = sparse_from_text(docs, vocab)
    q = corpus.filter(F.col("doc_id") == 0).collect()[0]
    out = sparse_knn(corpus, [(q.indices, q.values)], k=1000).collect()
    self_score = {r.doc_id: r.score for r in out}[0]
    assert self_score == sum(v * v for v in q.values)


def test_vocabulary_ids_are_global_lexicographic_rank(spark, sf_smoke):
    """The prefix-blocked id assignment must equal the naive global
    row_number-over-sort on real data (incl. single-char terms whose
    block is a prefix of longer blocks)."""
    from pyspark.sql import Window

    docs = load(spark, sf_smoke, "documents")
    got = term_vocabulary(docs, prefix_len=2)
    from image_indexing_and_retrival_with_qdrant_spark.functions.text import tokens

    terms = docs.select(
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    ).distinct()
    want = terms.withColumn(
        "term_id", F.row_number().over(Window.orderBy("term")).cast("bigint"))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    # ...and at a different block depth the ids are unchanged
    got3 = term_vocabulary(docs, prefix_len=3)
    assert {tuple(r) for r in got3.collect()} == {tuple(r) for r in want.collect()}


def test_vocabulary_window_is_partitioned(spark, sf_smoke):
    """Scale guard: the vocabulary-sized rank window runs hash-
    partitioned on the prefix block — never through one task. (The
    only SinglePartition exchange feeds the per-block count cumsum,
    whose input is bounded by the prefix alphabet.)"""
    docs = load(spark, sf_smoke, "documents")
    plan = term_vocabulary(docs)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(blk" in plan


def test_postings_explode(spark):
    docs = spark.createDataFrame([(7, "a b a")], "doc_id int, text string")
    corpus = sparse_from_text(docs, term_vocabulary(docs))
    rows = sparse_postings(corpus).collect()
    assert {(r.doc_id, r.idx, r.val) for r in rows} == {
        (7, 1, 2.0), (7, 2, 1.0)}


def test_sparse_idf_oracle(spark, sf_smoke):
    from image_indexing_and_retrival_with_qdrant_spark.registry import REGISTRY
    from tests.oracle import compare

    compare(spark, REGISTRY["sparse_idf_knn_top10"], sf_smoke,
            "sparse_idf_knn_top10")


def test_sparse_idf_downweights_common_terms(spark):
    """A term present in EVERY doc gets IDF ln(0.5/(N-0.5)+1) ≈ 0 —
    ranking is driven by the rare term, unlike the plain tf dot."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.sparse import sparse_knn

    corpus = spark.createDataFrame(
        [(0, [0, 1], [1.0, 1.0]),   # query doc: common + rare term
         (1, [0], [3.0]),           # spams the common term
         (2, [0, 1], [1.0, 1.0])],  # true match on the rare term
        "doc_id int, indices array<bigint>, values array<double>")
    plain = sparse_knn(corpus, [([0, 1], [1.0, 1.0])], k=3).collect()
    assert plain[0].doc_id == 1  # tf dot rewards the spam
    idf = sparse_knn(corpus, [([0, 1], [1.0, 1.0])], k=3,
                     modifier="idf").collect()
    assert {idf[0].doc_id, idf[1].doc_id} == {0, 2}  # rare term wins
    with pytest.raises(ValueError, match="unknown sparse modifier"):
        sparse_knn(corpus, [([0], [1.0])], modifier="bm25")


def test_sparse_space_collection_surface(spark, sf_smoke, tmp_path):
    """Sparse vector spaces on collections: oracle-twin search via
    the registry query (at smoke sf), request filters that narrow
    candidates WITHOUT changing IDF stats, with_vectors, and the
    sparse-only + mixed-space creation rules."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    compare(spark, REGISTRY["ingest_sparse_space_search"], sf_smoke,
            "ingest_sparse_space_search")

    docs = load(spark, sf_smoke, "documents")
    vocab = term_vocabulary(docs)
    enc = sparse_from_text(docs, vocab)
    points = (
        enc.select(F.col("doc_id").alias("id"),
                   F.col("indices").alias("text__sidx"),
                   F.col("values").alias("text__sval"))
        .join(docs.select(F.col("doc_id").alias("id"), "lang"), on="id"))
    coll = create_collection(
        str(tmp_path), "sp", sparse_vectors={"text": {"modifier": "idf"}})
    coll.upsert(spark, points)
    q = enc.filter(F.col("doc_id") == 0).collect()[0]
    qv = (list(q.indices), list(q.values))

    # using= optional on a sparse-only single-space collection;
    # ranking must equal the operator-level scorer (self-match is NOT
    # guaranteed first under IDF — rare-term-heavy docs may outscore)
    full = coll.search(spark, qv, k=5).collect()
    ref = sparse_knn(enc, [qv], k=5, modifier="idf").collect()
    assert [(r.id, r.score) for r in full] == \
        [(r.doc_id, r.score) for r in ref]
    assert "lang" in full[0].asDict()
    # filter narrows candidates; surviving scores are UNCHANGED
    # (IDF df/N stay collection-wide, Qdrant's index-time stats)
    langs = {r.id: r.lang for r in points.select("id", "lang").collect()}
    filt = coll.search(spark, qv, k=5,
                       query_filter=F.col("lang") == "en").collect()
    assert all(langs[r.id] == "en" for r in filt)
    full_scores = {r.id: r.score for r in
                   coll.search(spark, qv, k=coll.count(spark)).collect()}
    assert all(full_scores[r.id] == r.score for r in filt)
    # with_vectors returns the hit's stored sparse arrays
    wv = coll.search(spark, qv, k=1, with_vectors=True).collect()[0]
    stored = points.filter(F.col("id") == wv.id).collect()[0]
    assert list(wv.text__sidx) == list(stored.text__sidx)
    assert list(wv.text__sval) == list(stored.text__sval)
    # name selector (Qdrant with_vectors=["text"]) attaches the pair too
    wl = coll.search(spark, qv, k=1, with_vectors=["text"]).collect()[0]
    assert (list(wl.text__sidx), list(wl.text__sval)) == \
        (list(stored.text__sidx), list(stored.text__sval))
    # dense knobs rejected on sparse spaces
    with pytest.raises(ValueError, match="dense-tier knobs"):
        coll.search(spark, qv, k=5, nprobe=2)
    # upsert validates sparse columns
    with pytest.raises(ValueError, match="missing sparse"):
        coll.upsert(spark, points.drop("text__sval"))

    # mixed dense + sparse spaces; name collisions rejected
    with pytest.raises(ValueError, match="collides"):
        create_collection(str(tmp_path), "bad",
                          vectors={"text": {"dim": 4}},
                          sparse_vectors={"text": {}})
    mixed = create_collection(
        str(tmp_path), "mx", vectors={"dense": {"dim": 8,
                                                "normalize": False}},
        sparse_vectors={"sparse": {}})
    from image_indexing_and_retrival_with_qdrant_spark.sources.embedder import (
        HashEmbedder,
    )
    emb = HashEmbedder(dim=8)
    mpts = (emb.embed(docs.limit(50), text_col="text")
            .withColumnRenamed("embedding", "dense")
            .select(F.col("doc_id").alias("id"), "dense")
            .join(points.select("id", "text__sidx", "text__sval")
                  .withColumnRenamed("text__sidx", "sparse__sidx")
                  .withColumnRenamed("text__sval", "sparse__sval"), on="id"))
    mixed.upsert(spark, mpts)
    dense_hits = mixed.search(spark, [0.1] * 8, using="dense", k=3)
    sparse_hits = mixed.search(spark, qv, using="sparse", k=3).collect()
    mref = sparse_knn(
        mpts.select(F.col("id").alias("doc_id"),
                    F.col("sparse__sidx").alias("indices"),
                    F.col("sparse__sval").alias("values")),
        [qv], k=3).collect()
    assert dense_hits.count() == 3
    assert [(r.id, r.score) for r in sparse_hits] == \
        [(r.doc_id, r.score) for r in mref]
    # sparse arrays are vector data, not payload: scroll drops them
    page = mixed.scroll(spark, limit=1).collect()[0].asDict()
    assert "sparse__sidx" not in page and "dense" not in page


def test_sparse_batch_matches_single(spark, sf_smoke, tmp_path):
    """sparse search_batch ≡ per-query sparse search — plain and
    IDF-modified, over the array form and the postings layout
    (``full_scan_threshold`` crossed), filtered and not — with the
    single shared posting pass. Every query of a batch is validated
    like a single one."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    docs = load(spark, sf_smoke, "documents")
    vocab = term_vocabulary(docs)
    enc = sparse_from_text(docs, vocab)
    points = (
        enc.select(F.col("doc_id").alias("id"),
                   F.col("indices").alias("text__sidx"),
                   F.col("values").alias("text__sval"))
        .join(docs.select(F.col("doc_id").alias("id"), "lang"), on="id"))
    qrows = enc.filter(F.col("doc_id").isin(0, 1)).orderBy(
        "doc_id").collect()
    qs = [(list(r.indices), list(r.values)) for r in qrows]
    en = F.col("lang") == "en"
    for mod, fst in ((None, None), ("idf", None), ("idf", 10)):
        coll = create_collection(
            str(tmp_path), f"sp_{mod}_{fst}", sparse_vectors={
                "text": {"modifier": mod, "full_scan_threshold": fst}})
        coll.upsert(spark, points)
        assert bool(coll.meta["sparse_vectors"]["text"].get(
            "postings_built")) == (fst is not None)
        for flt in (None, en):
            batch = coll.search_batch(spark, qs, k=3,
                                      query_filter=flt).collect()
            for qi, q in enumerate(qs):
                single = coll.search(spark, q, k=3,
                                     query_filter=flt).collect()
                got = [(r.id, r.score) for r in batch if r.query_idx == qi]
                assert got == [(r.id, r.score) for r in single], \
                    (mod, fst, flt, qi)
        with pytest.raises(ValueError, match="length mismatch"):
            coll.search_batch(spark, [qs[0], ([1, 2, 3], [1.0])], k=3)
    # filtered batch keeps collection-wide IDF stats (scores unchanged)
    allsc = {(r.query_idx, r.id): r.score for r in
             coll.search_batch(spark, qs, k=coll.count(spark)).collect()}
    filt = coll.search_batch(spark, qs, k=3, query_filter=en).collect()
    langs = {r.id: r.lang for r in points.select("id", "lang").collect()}
    assert filt and all(langs[r.id] == "en" for r in filt)
    assert all(allsc[(r.query_idx, r.id)] == r.score for r in filt)


def test_update_collection_sparse_modifier(spark, sf_smoke, tmp_path):
    """Switching a sparse space's modifier is a metadata-only update
    that immediately changes search weighting."""
    import pytest as _pytest

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        Collection, create_collection,
    )

    docs = load(spark, sf_smoke, "documents")
    enc = sparse_from_text(docs, term_vocabulary(docs))
    points = enc.select(F.col("doc_id").alias("id"),
                        F.col("indices").alias("text__sidx"),
                        F.col("values").alias("text__sval"))
    coll = create_collection(str(tmp_path), "sp",
                             sparse_vectors={"text": {}})
    coll.upsert(spark, points)
    q = enc.filter(F.col("doc_id") == 0).collect()[0]
    qv = (list(q.indices), list(q.values))
    plain = [(r.id, r.score) for r in coll.search(spark, qv, k=5).collect()]
    coll.update_collection(spark, sparse_vectors={"text": {"modifier": "idf"}})
    # re-open: the meta change must be durable
    coll2 = Collection(str(tmp_path), "sp")
    idf = [(r.id, r.score) for r in coll2.search(spark, qv, k=5).collect()]
    ref = sparse_knn(enc, [qv], k=5, modifier="idf").collect()
    assert idf == [(r.doc_id, r.score) for r in ref]
    assert idf != plain
    with _pytest.raises(ValueError, match="unknown sparse space"):
        coll2.update_collection(spark, sparse_vectors={"nope": {}})


def test_sparse_recommend(spark, sf_smoke, tmp_path):
    """recommend over a sparse space: query = index-union average of
    positive stored vectors minus negatives' average, examples
    excluded, scores equal to a hand-built sparse_knn probe."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    docs = load(spark, sf_smoke, "documents")
    enc = sparse_from_text(docs, term_vocabulary(docs))
    points = enc.select(F.col("doc_id").alias("id"),
                        F.col("indices").alias("text__sidx"),
                        F.col("values").alias("text__sval"))
    coll = create_collection(str(tmp_path), "sp",
                             sparse_vectors={"text": {}})
    coll.upsert(spark, points)
    rows = {r.doc_id: dict(zip(r.indices, r.values))
            for r in enc.filter(F.col("doc_id").isin(0, 1, 2)).collect()}
    got = coll.recommend(spark, positive=[0, 1], negative=[2], k=5,
                         with_payload=False).collect()
    assert {r.id for r in got}.isdisjoint({0, 1, 2})  # examples excluded
    # hand-built expected query vector
    q: dict = {}
    for e in (0, 1):
        for i, v in rows[e].items():
            q[i] = q.get(i, 0.0) + v
    q = {i: v / 2 for i, v in q.items()}
    for i, v in rows[2].items():
        q[i] = q.get(i, 0.0) - v
    items = sorted(q.items())
    ref = sparse_knn(enc.filter(~F.col("doc_id").isin(0, 1, 2)),
                     [([i for i, _ in items], [v for _, v in items])],
                     k=5).collect()
    assert [(r.id, r.score) for r in got] == \
        [(r.doc_id, r.score) for r in ref]
    with pytest.raises(ValueError, match="average_vector"):
        coll.recommend(spark, positive=[0], strategy="best_score")


def _encode_points(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    vocab = term_vocabulary(docs)
    enc = sparse_from_text(docs, vocab)
    points = (enc.select(F.col("doc_id").alias("id"),
                         F.col("indices").alias("text__sidx"),
                         F.col("values").alias("text__sval"))
              .join(docs.select(F.col("doc_id").alias("id"),
                                "source", "lang"), on="id"))
    q = enc.filter(F.col("doc_id") == 0).collect()[0]
    return points, (list(q.indices), list(q.values))


def test_postings_layout_lifecycle(spark, sf_smoke, tmp_path):
    """The persisted posting layout must be a pure ACCESS-PATH change:
    bit-equal results vs the array-explode collection across plain /
    filtered / batch search, incremental appends (posting append),
    deletes (layout rebuild via the rewrite hook), and snapshot
    restore (the layout is collection state)."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    points, q = _encode_points(spark, sf_smoke)
    root = str(tmp_path)
    c1 = create_collection(root, "lay", sparse_vectors={
        "text": {"modifier": "idf", "full_scan_threshold": 10}})
    c2 = create_collection(root, "arr", sparse_vectors={
        "text": {"modifier": "idf"}})
    c1.upsert(spark, points)
    c2.upsert(spark, points)
    assert c1.meta["sparse_vectors"]["text"].get("postings_built")
    assert not c2.meta["sparse_vectors"]["text"].get("postings_built")

    def hits(c, **kw):
        return [(r.id, r.score) for r in c.search(
            spark, q, using="text", k=10, with_payload=False,
            **kw).collect()]

    base = hits(c1)
    assert base == hits(c2)
    flt = F.col("lang") == "en"
    assert hits(c1, query_filter=flt) == hits(c2, query_filter=flt)
    b1 = [(r.query_idx, r.id, r.score) for r in
          c1.search_batch(spark, [q, q], using="text", k=5).collect()]
    b2 = [(r.query_idx, r.id, r.score) for r in
          c2.search_batch(spark, [q, q], using="text", k=5).collect()]
    assert b1 == b2
    # append: layout extends with only the incoming batch's postings
    extra = points.withColumn("id", F.col("id") + 100000)
    c1.upsert(spark, extra)
    c2.upsert(spark, extra)
    assert hits(c1) == hits(c2)
    # delete: the scoped rewrite must rebuild the layout (stale
    # postings would keep serving the removed points)
    c1.delete(spark, F.col("id") >= 100000)
    c2.delete(spark, F.col("id") >= 100000)
    assert hits(c1) == hits(c2) == base
    # snapshot carries the layout; restore keeps probing it
    snap = c1.create_snapshot()
    c1.delete(spark, F.col("id") >= 0)
    c1.restore_snapshot(snap)
    assert hits(c1) == base


def test_update_collection_full_scan_threshold(spark, sf_smoke, tmp_path):
    """Lowering full_scan_threshold below the point count builds the
    layout on the spot; setting it None drops layout + flags (the
    stale-layout rule indexing_threshold follows)."""
    import os

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    points, q = _encode_points(spark, sf_smoke)
    c = create_collection(str(tmp_path), "upd",
                          sparse_vectors={"text": {"modifier": "idf"}})
    c.upsert(spark, points)
    assert not c.meta["sparse_vectors"]["text"].get("postings_built")
    c.update_collection(spark, sparse_vectors={
        "text": {"full_scan_threshold": 10}})
    assert c.meta["sparse_vectors"]["text"]["postings_built"]
    assert os.path.isdir(c._postings_path_for("text"))
    ref = [(r.id, r.score) for r in c.search(
        spark, q, using="text", k=10, with_payload=False).collect()]
    c.update_collection(spark, sparse_vectors={
        "text": {"full_scan_threshold": None}})
    assert not c.meta["sparse_vectors"]["text"].get("postings_built")
    assert not os.path.isdir(c._postings_path_for("text"))
    assert ref == [(r.id, r.score) for r in c.search(
        spark, q, using="text", k=10, with_payload=False).collect()]


def test_postings_df_sidecar(spark, sf_smoke, tmp_path):
    """The (idx, df) sidecar the posting write maintains is the
    index-time IDF source: it must exist after the build, hold exactly
    the per-term distinct-id counts, merge correctly on append, and be
    OPTIONAL at read (removing it falls back to the query-time agg
    with identical scores)."""
    import shutil

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    points, q = _encode_points(spark, sf_smoke)
    c = create_collection(str(tmp_path), "dfs", sparse_vectors={
        "text": {"modifier": "idf", "full_scan_threshold": 10}})
    c.upsert(spark, points)
    dpath = c._postings_path_for("text") + ".df"
    assert os.path.isdir(dpath)

    def recount():
        return {r.idx: r.df for r in
                spark.read.parquet(c._postings_path_for("text"))
                .groupBy("idx")
                .agg(F.count_distinct("id").cast("double").alias("df"))
                .collect()}

    stored = {r.idx: r.df for r in spark.read.parquet(dpath).collect()}
    assert stored == recount()
    # append merges counts
    c.upsert(spark, points.withColumn("id", F.col("id") + 100000))
    stored = {r.idx: r.df for r in spark.read.parquet(dpath).collect()}
    assert stored == recount()
    # the sidecar is an access path, not a semantic: removing it must
    # not change scores (fallback = the query-time aggregation)
    with_sidecar = [(r.id, r.score) for r in c.search(
        spark, q, using="text", k=10, with_payload=False).collect()]
    shutil.rmtree(dpath)
    without = [(r.id, r.score) for r in c.search(
        spark, q, using="text", k=10, with_payload=False).collect()]
    assert with_sidecar == without


@pytest.mark.parametrize("space", [{}, {"full_scan_threshold": 4}])
def test_sparse_search_honors_shard_key_selector(spark, tmp_path, space):
    """A sparse search with ``shard_key_selector`` reads only the named
    shards — on the array-explode path and on the posting-layout probe
    alike — while no selector still fans out to every shard."""
    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    tenants = ["acme", "globex", "initech"]
    coll = create_collection(str(tmp_path), "sks", dim=2,
                             normalize=False, shard_key="tenant",
                             sparse_vectors={"text": dict(space)})
    coll.upsert(spark, spark.createDataFrame(
        [(i, [1.0, float(i)], tenants[i % 3], [0, 1 + i % 2],
          [float(i + 1), 0.5]) for i in range(12)],
        "id long, embedding array<double>, tenant string, "
        "text__sidx array<int>, text__sval array<double>"))
    q = ([0], [1.0])
    every = coll.search(spark, q, using="text", k=10).collect()
    assert {r.tenant for r in every} == set(tenants)
    hits = coll.search(spark, q, using="text", k=10,
                       shard_key_selector="acme").collect()
    assert [r.id for r in hits] == [9, 6, 3, 0]
    assert {r.tenant for r in hits} == {"acme"}
    both = coll.search(spark, q, using="text", k=3,
                       shard_key_selector=["acme", "globex"],
                       query_filter=F.col("id") != 10).collect()
    assert [r.id for r in both] == [9, 7, 6]
