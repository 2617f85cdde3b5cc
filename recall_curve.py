"""ANN recall curve on *clustered* vectors (the corpus shape ANN is
for). The driver fixture's vectors are uniform-random — no cluster
structure (within-label mean cosine ≈ 0.02) — so recall measured there
is the floor any method hits, not a quality signal. This harness
generates a seeded mixture-of-Gaussians corpus (the standard synthetic
for ANN evaluation) and reports recall@10 vs the exact scan for every
tier: IVF across nprobe, sign-LSH, PQ (ADC over 32×-compressed codes),
and composed IVF→PQ→exact-rerank.

Run: ``python recall_curve.py [n_rows] [n_queries]`` → one JSON line.
``python recall_curve.py [n_rows] [n_queries] --quant`` runs ONLY the
SQ/BQ oversampling→recall sweep (prefetch top-(k·oversampling) on the
quantized codes, exact rescore — the `Collection.search` quantized
path), feeding `routing._QUANT_OVERSAMPLING`.
``--cells`` sweeps IVF recall across k_centroids ∈ {16..256} at
constant probed fractions AND the router's margined nprobe, measuring
the fragmentation behavior `route_for_recall` extrapolates over.
``--quantindex`` measures the COMPOSED IVF+SQ tier through the real
`Collection.search` path across (nprobe, oversampling) grid points
and the router's union-bound picks for targets 0.8/0.9/0.95.
Numbers are recorded in BASELINE.md §recall; tests/test_ann_clustered.py
pins the same setup at smaller n with thresholds just under these.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
    ivf_build,
    ivf_search,
    lsh_band_frame,
    lsh_candidates,
    lsh_probe,
)
from image_indexing_and_retrival_with_qdrant_spark.operators.knn import dense_knn
from image_indexing_and_retrival_with_qdrant_spark.operators.pq import (
    ivfpq_search,
    pq_build,
    pq_search,
)
from image_indexing_and_retrival_with_qdrant_spark.session import get_spark

DIM = 64
N_CLUSTERS = 10
SIGMA = 0.18  # cluster tightness: within-cluster cosine ≈ 0.9


def clustered_corpus(spark, n: int, seed: int = 13):
    """Seeded mixture of Gaussians: centers uniform on the unit
    sphere, points = center + N(0, SIGMA²) — resembling an embedding
    corpus where semantically-close items cluster."""
    rng = np.random.RandomState(seed)
    centers = rng.standard_normal((N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.randint(0, N_CLUSTERS, size=n)
    pts = centers[labels] + SIGMA * rng.standard_normal((n, DIM))
    rows = [(int(i), [float(x) for x in pts[i]], int(labels[i]))
            for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).repartition(8).cache()


def recall(approx_ids: set, exact_ids: set) -> float:
    return len(approx_ids & exact_ids) / len(exact_ids)


def quant_sweep(spark, corpus, qids, qvecs, exact, k: int, out: dict) -> None:
    """SQ/BQ oversampling→recall: recall of prefetch-top-(k·os) +
    exact rescore equals |shortlist ∩ exact_topk| / k because the
    rescore stage scores the shortlist with full vectors. Vectors are
    unit-normalized first — the cosine-collection write path
    (`catalog.py::_prep_vec`) quantizes normalized vectors, and cosine
    ranking is scale-invariant so the exact sets carry over."""
    from image_indexing_and_retrival_with_qdrant_spark.functions.vector import (
        l2_normalize,
    )
    from image_indexing_and_retrival_with_qdrant_spark.operators.bq import (
        bq_encode,
        bq_search,
    )
    from image_indexing_and_retrival_with_qdrant_spark.operators.sq import (
        sq_encode,
        sq_search,
        sq_train,
    )

    unit = corpus.select(
        "vec_id", l2_normalize(F.col("embedding")).alias("embedding")
    ).cache()
    unit.count()
    uq = {r.vec_id: r.embedding for r in
          unit.filter(F.col("vec_id").isin(list(qids))).collect()}

    mins, steps = sq_train(unit, DIM)
    sq_codes = sq_encode(unit, mins, steps).cache()
    sq_codes.count()
    bq_codes = bq_encode(unit, DIM).cache()
    bq_codes.count()

    for os_ in (1, 2, 4, 6, 10, 16):
        m = k * os_
        r_sq, r_bq = [], []
        for q in qids:
            short = {x.vec_id for x in
                     sq_search(sq_codes, mins, steps, uq[q], k=m).collect()}
            r_sq.append(len(short & exact[q]) / k)
            short = {x.vec_id for x in
                     bq_search(bq_codes, uq[q], k=m).collect()}
            r_bq.append(len(short & exact[q]) / k)
        out[f"sq_rescore_recall@10_os{os_}"] = round(float(np.mean(r_sq)), 3)
        out[f"bq_rescore_recall@10_os{os_}"] = round(float(np.mean(r_bq)), 3)

    # PQ/OPQ prefetch → rescore on the same oversampling grid (the
    # quantization="pq"/"opq" collection defaults at this width:
    # 8 blocks × 16 codes = 32×). Train/encode/rank in numpy — this
    # is a recall measurement, not a throughput one (the engine's
    # distributed encode is pq_encode_frame); recall of
    # prefetch-top-(k·os) + exact rescore = |shortlist ∩ exact|/k as
    # above. Feeds routing._QUANT_OVERSAMPLING["pq"/"opq"].
    from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
        kmeans_np,
    )
    from image_indexing_and_retrival_with_qdrant_spark.operators.opq import (
        opq_encode_np,
        opq_train_np,
        rotate_np,
    )

    crows = sorted(unit.collect(), key=lambda r: r.vec_id)
    ids = np.asarray([r.vec_id for r in crows])
    X = np.asarray([r.embedding for r in crows])
    blocks, kc_ = 8, 16
    subdim = X.shape[1] // blocks
    tiers = {}
    pq_cbs = [kmeans_np(X[:65536, b * subdim:(b + 1) * subdim], kc_,
                        seed=42 + b) for b in range(blocks)]
    tiers["pq"] = (None, pq_cbs,
                   opq_encode_np(X, pq_cbs))
    R_, ocbs_ = opq_train_np(X[:65536], n_blocks=blocks, k_codes=kc_)
    Rm_ = np.asarray(R_)
    tiers["opq"] = (Rm_, ocbs_, opq_encode_np(rotate_np(X, Rm_), ocbs_))
    for os_ in (1, 2, 4, 6, 10, 16):
        m = k * os_
        for name, (Rm, cbs, codes) in tiers.items():
            rs = []
            for q in qids:
                qv = np.asarray(uq[q], dtype=np.float64)
                if Rm is not None:
                    qv = rotate_np(qv[None, :], Rm)[0]
                scores = np.zeros(len(ids))
                for b, cb in enumerate(cbs):
                    lut = np.asarray(cb) @ qv[b * subdim:(b + 1) * subdim]
                    scores += lut[codes[:, b]]
                short = set(ids[np.lexsort((ids, -scores))[:m]].tolist())
                rs.append(len(short & exact[q]) / k)
            out[f"{name}_rescore_recall@10_os{os_}"] = round(
                float(np.mean(rs)), 3)
    unit.unpersist()
    sq_codes.unpersist()
    bq_codes.unpersist()


def cells_sweep(spark, corpus, qids, qvecs, exact, k: int, out: dict) -> None:
    """Per-cell-count IVF recall: the routing extrapolation check.

    `route_for_recall` encodes the measured 16-centroid curve as
    probed FRACTIONS and adds ceil(log2(kc/16)) probes beyond the
    measured cell count (routing.py's fragmentation margin). This
    sweep measures recall@10 at each cell count for (a) the bare
    constant-fraction probe and (b) the router's margined probe, so
    the margin is a measured property instead of a guess. More cells
    over the same corpus = smaller cells = neighbor sets split across
    more boundaries — the fragmentation failure mode ADVICE r5 called
    out on `search(recall_target=)`."""
    import math

    from image_indexing_and_retrival_with_qdrant_spark.routing import (
        route_for_recall,
    )

    def qdf(qid):
        return spark.createDataFrame([(qvecs[qid],)],
                                     "query_vec array<double>")

    for kc in (16, 32, 64, 128, 256):
        assigned, centroids = ivf_build(corpus, k_centroids=kc, seed=42)
        assigned = assigned.cache()
        assigned.count()
        probes = {}
        for frac_name, frac in (("f1_16", 1 / 16), ("f2_16", 2 / 16),
                                ("f4_16", 4 / 16)):
            probes[frac_name] = max(1, math.ceil(frac * kc))
        # the router's pick for the highest non-exact target tier
        probes["routed_t0.95"] = route_for_recall(
            0.95, indexed=True, k_centroids=kc)["nprobe"]
        for name, nprobe in sorted(probes.items(), key=lambda kv: kv[1]):
            r = [recall({x.vec_id for x in
                         ivf_search(assigned, centroids, qdf(q), k=k,
                                    nprobe=nprobe).collect()}, exact[q])
                 for q in qids]
            out[f"ivf_kc{kc}_{name}_nprobe{nprobe}"] = round(
                float(np.mean(r)), 3)
        assigned.unpersist()


def quantindex_sweep(spark, corpus, qids, qvecs, exact, k: int,
                     out: dict) -> None:
    """Composed IVF + quantization recall through the REAL
    `Collection.search` path (round 6): a cosine collection with
    `quantization="sq"` and an auto-built 16-cell IVF layout, swept
    across (nprobe, oversampling) grid points AND the router's picks
    for `recall_target` ∈ {0.8, 0.9, 0.95} — measuring whether the
    union-bound miss-budget split (`routing.route_for_recall`'s
    composed tier) DELIVERS its targets when both lossy stages are
    live at once."""
    import shutil
    import tempfile

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )
    from image_indexing_and_retrival_with_qdrant_spark.routing import (
        route_for_recall,
    )

    root = tempfile.mkdtemp(prefix="recall_quantindex_")
    try:
        coll = create_collection(root, "qi", dim=DIM, metric="cosine",
                                 normalize=True, quantization="sq",
                                 indexing_threshold=1, k_centroids=16)
        coll.upsert(spark, corpus.select(
            F.col("vec_id").alias("id"), "embedding"))
        assert coll.has_index() and coll.meta["codes_layout"] == "cells"

        def run(tag, **kw):
            r = [recall({x.id for x in
                         coll.search(spark, qvecs[q], k=k, **kw).collect()},
                        exact[q]) for q in qids]
            out[tag] = round(float(np.mean(r)), 3)

        for nprobe, os_ in ((1, 2.0), (2, 2.0), (2, 4.0), (4, 4.0),
                            (16, 2.0)):
            run(f"composed_recall@10_nprobe{nprobe}_os{os_:g}",
                nprobe=nprobe, oversampling=os_)
        for t in (0.8, 0.9, 0.95):
            knobs = route_for_recall(t, indexed=True, quantization="sq",
                                     k_centroids=16, k=k)
            run(f"composed_recall@10_routed_t{t:g}_nprobe"
                f"{knobs['nprobe']}_os{knobs['oversampling']:g}",
                recall_target=t)
    finally:
        shutil.rmtree(root, ignore_errors=True)




def hnswindex_sweep(spark, corpus, qids, qvecs, exact, k: int,
                    out: dict) -> None:
    """hnsw_config recall through the REAL `Collection.search` path: a
    cosine collection with per-cell graphs (16 cells), swept across
    (nprobe, hnsw_ef) grid points AND the router's picks for
    `recall_target` ∈ {0.8, 0.9, 0.95} — measuring whether the
    router's joint-curve picks (`routing._HNSW_COMPOSED`) DELIVER
    their targets when both lossy stages are live at once. A chunked
    twin (`max_segment_size`) pins that bounding segments does not
    change the answer quality at equal ef."""
    import shutil
    import tempfile

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )
    from image_indexing_and_retrival_with_qdrant_spark.routing import (
        route_for_recall,
    )

    root = tempfile.mkdtemp(prefix="recall_hnswindex_")
    try:
        def run(coll_, tag, **kw):
            r = [recall({x.id for x in
                         coll_.search(spark, qvecs[q], k=k,
                                      **kw).collect()},
                        exact[q]) for q in qids]
            out[tag] = round(float(np.mean(r)), 3)

        # joint (nprobe-fraction, ef) grid ACROSS CELL COUNTS — the
        # r9 router encoded the 16-cell joint curve and under-
        # delivered at 64 cells (1M stress: 0.88 at a 0.9 target);
        # routing._HNSW_COMPOSED is re-pinned from THESE rows with
        # per-cell-count fractions (BASELINE.md §hnsw-cells)
        for kc in (16, 64, 256):
            coll = create_collection(
                root, f"hi{kc}", dim=DIM, metric="cosine",
                normalize=True, indexing_threshold=1, k_centroids=kc,
                hnsw_config={"m": 8, "ef_construct": 64})
            coll.upsert(spark, corpus.select(
                F.col("vec_id").alias("id"), "embedding"))
            assert coll.has_index() and coll._has_hnsw()
            for frac16, ef in ((2, 16), (2, 32), (4, 32), (4, 64),
                               (6, 64), (8, 64), (16, 64)):
                nprobe = max(1, (frac16 * kc) // 16)
                run(coll, f"hnsw_recall@10_kc{kc}_nprobe{nprobe}"
                    f"_ef{ef}", nprobe=nprobe, hnsw_ef=ef)
            for t in (0.8, 0.9, 0.95):
                knobs = route_for_recall(t, indexed=True, hnsw=True,
                                         k_centroids=kc, k=k)
                run(coll, f"hnsw_recall@10_kc{kc}_routed_t{t:g}_nprobe"
                    f"{knobs['nprobe']}_ef{knobs['hnsw_ef']}",
                    recall_target=t)
        chunked = create_collection(
            root, "hic", dim=DIM, metric="cosine", normalize=True,
            indexing_threshold=1, k_centroids=16,
            hnsw_config={"m": 8, "ef_construct": 64,
                         "max_segment_size": 256})
        chunked.upsert(spark, corpus.select(
            F.col("vec_id").alias("id"), "embedding"))
        run(chunked, "hnsw_recall@10_chunked256_nprobe4_ef32",
            nprobe=4, hnsw_ef=32)
        # the quantized graph walk vs the unquantized one at equal ef
        # (hnsw_config × quantization — VERDICT r9 "done" criterion)
        qcoll = create_collection(
            root, "hiq", dim=DIM, metric="cosine", normalize=True,
            indexing_threshold=1, k_centroids=16, quantization="sq",
            hnsw_config={"m": 8, "ef_construct": 64})
        qcoll.upsert(spark, corpus.select(
            F.col("vec_id").alias("id"), "embedding"))
        run(qcoll, "hnsw_recall@10_sqgraph_nprobe4_ef32",
            nprobe=4, hnsw_ef=32)
        run(qcoll, "hnsw_recall@10_sqgraph_nprobe4_ef64",
            nprobe=4, hnsw_ef=64)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def pca_sweep(spark, corpus, qids, qvecs, exact, k: int, out: dict) -> None:
    """PCA→IVF routing recall vs raw-space IVF at equal k_centroids
    (16): coarse cells trained and probed in the 8-d COMPRESSED space
    (the queries/pipeline.py::emb_pca_ivf machinery over a temp
    layout) against cells trained on the raw 64-d vectors — same
    kmeans_np seed, same probe rule. On clustered data PCA
    concentrates the cluster structure (explained variance reported),
    so this measures what the 8× transform actually costs the router.
    Feeds BASELINE.md §pca-ivf-recall."""
    import shutil
    import tempfile

    from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
        kmeans_np,
        nearest_cells,
        nearest_np,
        read_vectors_np,
    )
    from image_indexing_and_retrival_with_qdrant_spark.queries.pipeline import (
        _np_pca,
        _np_pca_centroids,
        _pca_ivf_frame,
    )

    tmp = tempfile.mkdtemp(prefix="recall_pca_")
    try:
        corpus.select("vec_id", "embedding").write.mode(
            "overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
        mu, W = _np_pca(tmp)
        X = read_vectors_np(os.path.join(tmp, "embeddings.parquet"))
        Xc = X - np.asarray(mu)
        ev = np.sort(np.linalg.eigvalsh((Xc.T @ Xc) / len(X)))[::-1]
        out["explained_var_pct"] = round(
            100.0 * float(ev[:len(W)].sum() / ev.sum()), 1)

        frame_pca = _pca_ivf_frame(spark, tmp)
        cents_pca = _np_pca_centroids(tmp)
        cents_raw = kmeans_np(X, len(cents_pca), seed=42)
        frame_raw = corpus.withColumn(
            "cid", nearest_cells(
                [[float(x) for x in c] for c in cents_raw], "embedding"
            )[0]["i"]).localCheckpoint()

        def project(q):
            qp = []
            for row in W:
                acc = 0.0
                for j, (m, x) in enumerate(zip(mu, row)):
                    acc += (float(q[j]) - m) * x
                qp.append(acc)
            return qp

        def nearest(q, cents, nprobe):
            return [int(i) for i in nearest_np([q], cents, nprobe)[1][0]]

        def qdf(qid):
            return spark.createDataFrame([(qvecs[qid],)],
                                         "query_vec array<double>")

        curves: dict = {}
        for nprobe in (1, 2, 4, 8):
            r_pca, r_raw = [], []
            for qid in qids:
                probe = nearest(project(qvecs[qid]), cents_pca, nprobe)
                got = {r.vec_id for r in dense_knn(
                    frame_pca.filter(F.col("cid").isin(probe)),
                    qdf(qid), k=k, dim=DIM).collect()}
                r_pca.append(recall(got, exact[qid]))
                probe = nearest(qvecs[qid], cents_raw, nprobe)
                got = {r.vec_id for r in dense_knn(
                    frame_raw.filter(F.col("cid").isin(probe)),
                    qdf(qid), k=k, dim=DIM).collect()}
                r_raw.append(recall(got, exact[qid]))
            curves[nprobe] = {
                "pca": round(sum(r_pca) / len(r_pca), 4),
                "raw": round(sum(r_raw) / len(r_raw), 4),
            }
        out["pca_ivf_recall"] = curves
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def hnsw_sweep(spark, corpus, qids, qvecs, exact, k: int, out: dict) -> None:
    """Sharded-HNSW ef→recall + the IVF-routed composition
    (operators/hnsw.py). Runs the SAME hnsw_build_np/hnsw_search_np
    bodies the applyInPandas stages run (bit-identical — pinned in
    tests/test_hnsw.py::test_spark_layout_matches_driver_twin),
    driver-side for sweep speed: this is a recall measurement, not a
    throughput one (stress.py carries the distributed timings).

    Two axes: (a) plain 4-way id-mod sharding across ef — the beam-miss
    curve; (b) segments = 16 kmeans cells probed at nprobe — the
    composed cell-miss × beam-miss curve the 100 TB path pays.
    Feeds BASELINE.md §hnsw-recall and routing's HNSW ceilings."""
    from image_indexing_and_retrival_with_qdrant_spark.operators.ann import (
        kmeans_np,
        nearest_np,
    )
    from image_indexing_and_retrival_with_qdrant_spark.operators.hnsw import (
        _normalize_rows,
        hnsw_build_np,
        hnsw_search_np,
    )

    crows = sorted(corpus.select("vec_id", "embedding").collect(),
                   key=lambda r: r.vec_id)
    ids = [r.vec_id for r in crows]
    X = np.asarray([r.embedding for r in crows], dtype=np.float64)

    def build_segments(members: dict):
        """members: seg → ascending positions. Returns seg → (ids,
        levels, adj, Xn)."""
        built = {}
        for s, rows in members.items():
            if not rows:
                continue
            seg_ids = [ids[p] for p in rows]
            Xs = X[rows]
            levels, adj = hnsw_build_np(seg_ids, Xs)
            built[s] = (seg_ids, levels, adj, _normalize_rows(Xs))
        return built

    def topk_ids(built, segs, qv, ef):
        merged = []
        for s in segs:
            if s not in built:
                continue
            seg_ids, levels, adj, Xn = built[s]
            res = hnsw_search_np(levels, adj, Xn, qv, ef=ef)
            merged += [(d, seg_ids[p]) for d, p in res]
        return {i for _, i in sorted(merged)[:k]}

    t0 = time.time()
    plain = build_segments(
        {s: [p for p, i in enumerate(ids) if i % 4 == s]
         for s in range(4)})
    out["hnsw_build_sec_4seg"] = round(time.time() - t0, 1)
    for ef in (8, 16, 32, 64):
        rs = [recall(topk_ids(plain, range(4),
                              np.asarray(qvecs[q], dtype=np.float64), ef),
                     exact[q]) for q in qids]
        out[f"hnsw_recall@10_ef{ef}"] = round(float(np.mean(rs)), 3)

    cents = kmeans_np(X, 16, seed=42)
    cells = nearest_np(X, cents)[1][:, 0]
    routed = build_segments(
        {s: np.nonzero(cells == s)[0].tolist() for s in range(16)})
    for nprobe in (1, 2, 4, 8):
        rs = []
        for q in qids:
            qv = np.asarray(qvecs[q], dtype=np.float64)
            probe = nearest_np([qv], cents, nprobe)[1][0].tolist()
            rs.append(recall(topk_ids(routed, probe, qv, 32), exact[q]))
        out[f"hnsw_routed_recall@10_np{nprobe}"] = round(
            float(np.mean(rs)), 3)


def maxsim_sweep(spark, n: int, n_q: int, k: int, out: dict) -> None:
    """Two-stage MaxSim rescore-depth→recall on a clustered
    MULTIVECTOR corpus, through the real `Collection.search(rescore=)`
    path (pooled sidecar stage 1 → exact MaxSim on the shortlist).
    Late-interaction-shaped fixture: every subvector of a doc scatters
    around the doc's cluster center, so mean-pooling preserves doc
    ranking — the PLAID premise the two-stage design rests on (the
    isotropic-random fixture is the measured anti-case: depth ≈ 0.8·N,
    tests/test_maxsim.py). Feeds `routing._MAXSIM_RESCORE`.

    Two corpus regimes, both recorded:
    - ``faithful``: one center PER DOC (the stress.py shape — distinct
      documents, token scatter around each). Pooled rank ≈ MaxSim rank;
      this is the realistic late-interaction regime.
    - ``topic10``: 10 shared cluster centers — near-duplicate topic
      packs where pooled vectors tie within a cluster; the adversarial
      bound (depth must cover the confusable set)."""
    import shutil
    import tempfile

    from image_indexing_and_retrival_with_qdrant_spark.catalog import (
        create_collection,
    )

    n_vecs, dim = 8, 32
    for tag, per_doc in (("faithful", True), ("topic10", False)):
        rng = np.random.RandomState(7)
        if per_doc:
            centers = rng.standard_normal((n, dim))
            centers /= np.linalg.norm(centers, axis=1, keepdims=True)
            sigma = 0.75 / np.sqrt(dim)  # subvector↔center cosine ≈ 0.8
            labels = np.arange(n)
        else:
            centers = rng.standard_normal((N_CLUSTERS, dim))
            centers /= np.linalg.norm(centers, axis=1, keepdims=True)
            sigma = SIGMA
            labels = rng.randint(0, N_CLUSTERS, size=n)
        rows = []
        for i in range(n):
            sub = centers[labels[i]] + sigma * rng.standard_normal(
                (n_vecs, dim))
            rows.append((int(i), [[float(x) for x in v] for v in sub]))
        qids = sorted(int(i) for i in rng.choice(n, size=n_q, replace=False))
        qvecs = {i: rows[i][1] for i in qids}

        root = tempfile.mkdtemp(prefix="qd_maxsim_curve_")
        try:
            coll = create_collection(root, "mv", dim=dim,
                                     multivector=True, normalize=True)
            coll.upsert(spark, spark.createDataFrame(
                rows, "id long, embedding array<array<double>>"))
            exact = {q: {r.id for r in
                         coll.search(spark, qvecs[q], k=k,
                                     exact=True).collect()}
                     for q in qids}
            for depth in (25, 50, 100, 200, 400, 800):
                r = [recall({x.id for x in
                             coll.search(spark, qvecs[q], k=k,
                                         rescore=depth).collect()}, exact[q])
                     for q in qids]
                out[f"maxsim_{tag}_recall@{k}_rescore{depth}"] = round(
                    float(np.mean(r)), 3)
        finally:
            shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    quant_only = "--quant" in sys.argv
    maxsim_only = "--maxsim" in sys.argv
    cells_only = "--cells" in sys.argv
    quantindex_only = "--quantindex" in sys.argv
    pca_only = "--pca" in sys.argv
    hnsw_only = "--hnsw" in sys.argv
    hnswindex_only = "--hnswindex" in sys.argv
    argv = [a for a in sys.argv if not a.startswith("--")]
    n = int(argv[1]) if len(argv) > 1 else 5000
    n_q = int(argv[2]) if len(argv) > 2 else 20
    k = 10
    spark = get_spark("recall", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")
    if maxsim_only:
        out = {"n": n, "clusters": N_CLUSTERS, "sigma": SIGMA,
               "k": k, "n_queries": n_q}
        t0 = time.time()
        maxsim_sweep(spark, n, n_q, k, out)
        out["wall_sec"] = round(time.time() - t0, 1)
        print(json.dumps(out))
        spark.stop()
        return
    corpus = clustered_corpus(spark, n)
    corpus.count()

    rng = np.random.RandomState(99)
    qids = sorted(int(i) for i in rng.choice(n, size=n_q, replace=False))
    qvecs = {r.vec_id: r.embedding for r in
             corpus.filter(F.col("vec_id").isin(qids)).collect()}

    def qdf(qid):
        return spark.createDataFrame([(qvecs[qid],)],
                                     "query_vec array<double>")

    exact = {}
    for qid in qids:
        exact[qid] = {r.vec_id for r in
                      dense_knn(corpus, qdf(qid), k=k, dim=DIM).collect()}

    out = {"n": n, "dim": DIM, "clusters": N_CLUSTERS, "sigma": SIGMA,
           "k": k, "n_queries": n_q}
    t0 = time.time()

    if quant_only:
        quant_sweep(spark, corpus, qids, qvecs, exact, k, out)
        out["wall_sec"] = round(time.time() - t0, 1)
        print(json.dumps(out))
        spark.stop()
        return
    if pca_only:
        pca_sweep(spark, corpus, qids, qvecs, exact, k, out)
        out["wall_sec"] = round(time.time() - t0, 1)
        print(json.dumps(out))
        spark.stop()
        return
    if hnsw_only:
        hnsw_sweep(spark, corpus, qids, qvecs, exact, k, out)
        out["wall_sec"] = round(time.time() - t0, 1)
        print(json.dumps(out))
        spark.stop()
        return
    if hnswindex_only:
        hnswindex_sweep(spark, corpus, qids, qvecs, exact, k, out)
        out["wall_sec"] = round(time.time() - t0, 1)
        print(json.dumps(out))
        spark.stop()
        return

    if cells_only:
        cells_sweep(spark, corpus, qids, qvecs, exact, k, out)
        out["wall_sec"] = round(time.time() - t0, 1)
        print(json.dumps(out))
        spark.stop()
        return

    if quantindex_only:
        quantindex_sweep(spark, corpus, qids, qvecs, exact, k, out)
        out["wall_sec"] = round(time.time() - t0, 1)
        print(json.dumps(out))
        spark.stop()
        return

    assigned, centroids = ivf_build(corpus, k_centroids=16, seed=42)
    assigned = assigned.cache()
    assigned.count()
    for nprobe in (1, 2, 4, 8):
        r = [recall({x.vec_id for x in
                     ivf_search(assigned, centroids, qdf(q), k=k,
                                nprobe=nprobe).collect()}, exact[q])
             for q in qids]
        out[f"ivf_recall@10_nprobe{nprobe}"] = round(float(np.mean(r)), 3)

    # one-time band layout (the cached/persisted index form); every
    # probe variant below reuses it — build outside the timer, like
    # Qdrant's HNSW build
    c_stack = lsh_band_frame(corpus, DIM, carry_cols=("vec_id", "embedding"),
                             n_planes=16, n_bands=4).cache()
    c_stack.count()
    for m in (0, 1, 2):
        r, cands = [], []
        for q in qids:
            r.append(recall(
                {x.vec_id for x in
                 lsh_probe(c_stack, qdf(q), dim=DIM, k=k, n_planes=16,
                           n_bands=4, multiprobe=m).collect()}, exact[q]))
            cands.append(lsh_candidates(
                c_stack, qdf(q), dim=DIM, n_planes=16, n_bands=4,
                multiprobe=m).count())
        tag = "" if m == 0 else f"_multiprobe{m}"
        out[f"lsh_recall@10_16planes_4bands{tag}"] = round(float(np.mean(r)), 3)
        out[f"lsh_candidates{tag}"] = int(np.mean(cands))
    c_stack.unpersist()

    # the recall≥0.9-at-≤2×-cost configuration (BASELINE.md §recall):
    # 6-bit bands are selective enough that Hamming-1 expansion lands
    # under 2× the plain 16/4 candidate count
    c_stack = lsh_band_frame(corpus, DIM, carry_cols=("vec_id", "embedding"),
                             n_planes=24, n_bands=4).cache()
    c_stack.count()
    r, cands = [], []
    for q in qids:
        r.append(recall(
            {x.vec_id for x in
             lsh_probe(c_stack, qdf(q), dim=DIM, k=k, n_planes=24,
                       n_bands=4, multiprobe=1).collect()}, exact[q]))
        cands.append(lsh_candidates(
            c_stack, qdf(q), dim=DIM, n_planes=24, n_bands=4,
            multiprobe=1).count())
    out["lsh_recall@10_24planes_4bands_multiprobe1"] = round(
        float(np.mean(r)), 3)
    out["lsh_candidates_24planes_multiprobe1"] = int(np.mean(cands))
    c_stack.unpersist()

    # 8 blocks × 128 codewords: the large-codebook regime (Arrow-batched
    # numpy assignment — the unrolled expression dies past ~64 codes)
    codes, codebooks = pq_build(corpus, dim=DIM, n_blocks=8, k_codes=128)
    codes = codes.cache()
    codes.count()
    r = [recall({x.vec_id for x in
                 pq_search(codes, codebooks, qvecs[q], k=k).collect()},
                exact[q])
         for q in qids]
    out["pq_recall@10_8x128"] = round(float(np.mean(r)), 3)

    # OPQ at the SAME code budget (8 blocks × 128 codes): learned
    # orthonormal rotation before PQ (operators/opq.py — Ge et al.
    # CVPR'13). The recall delta vs pq_recall@10_8x128 is the value of
    # the rotation at equal bytes. Training/encode run driver-side in
    # numpy here (this harness measures recall, not throughput; the
    # engine's distributed encode path is `_opq_det_index`).
    from image_indexing_and_retrival_with_qdrant_spark.operators.opq import (
        opq_encode_np,
        opq_train_np,
        rotate_np,
    )

    crows = sorted(corpus.select("vec_id", "embedding").collect(),
                   key=lambda r: r.vec_id)
    X = np.asarray([r.embedding for r in crows])
    R, ocbs = opq_train_np(X[:65536], n_blocks=8, k_codes=128)
    Rm = np.asarray(R)
    ocodes_np = opq_encode_np(rotate_np(X, Rm), ocbs)
    ocodes = spark.createDataFrame(
        [(int(r.vec_id), *[int(c) for c in row])
         for r, row in zip(crows, ocodes_np)],
        "vec_id long, " + ", ".join(f"code{b} int" for b in range(8)),
    ).cache()
    ocodes.count()
    r = [recall({x.vec_id for x in
                 pq_search(ocodes, ocbs,
                           [float(v) for v in
                            rotate_np(np.asarray([qvecs[q]]), Rm)[0]],
                           k=k).collect()},
                exact[q])
         for q in qids]
    out["opq_recall@10_8x128"] = round(float(np.mean(r)), 3)

    acodes = codes.join(assigned.select("vec_id", "centroid_id"),
                        on="vec_id").cache()
    acodes.count()
    for nprobe, rescore in ((2, 100), (4, 100), (4, 200)):
        r = [recall({x.vec_id for x in
                     ivfpq_search(acodes, centroids, codebooks, corpus,
                                  qvecs[q], k=k, nprobe=nprobe,
                                  rescore=rescore).collect()}, exact[q])
             for q in qids]
        out[f"ivfpq_recall@10_nprobe{nprobe}_rescore{rescore}"] = round(
            float(np.mean(r)), 3)

    out["wall_sec"] = round(time.time() - t0, 1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
