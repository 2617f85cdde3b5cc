"""ANN-tier queries (SURVEY.md §7 M5).

EVERY registered tier carries a FULL value oracle since round 5: the
headline IVF/PQ/IVFPQ names probe deterministic kmeans_np layouts
whose oracle factories re-train identically, and the Spark-ML-KMeans
variants (JVM training the oracle cannot rerun) live on as
pytest-only functions (``ann_*_ml_top5``) with recall invariants in
tests/test_ann.py; the routed read paths are additionally
value-checked via the exhaustive twins (``ann_ivf_exhaustive_top5``).
LSH is seeded + data-independent (hyperplanes from
``np.random.RandomState(seed)``), so DuckDB recomputes the identical
sign signatures — the oracle unrolls each hyperplane dot as the same
left-associated float64 sum the Spark expression renders
(``_lsh_sig_sql``), making bucket membership, multi-probe expansion,
and the rescored top-k all hash-checked end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..functions.localframe import local_literal_df

from ..operators.ann import (
    ivf_build,
    ivf_search,
    lsh_band_frame,
    lsh_probe_literal,
)
from ..registry import register
from ..tables import load
from .knn import _COS  # shared exact-cosine oracle fragment


def _query_of(emb: DataFrame, vec_id: int) -> DataFrame:
    return emb.filter(F.col("vec_id") == vec_id).select(
        F.col("embedding").alias("query_vec")
    )


# Index builds are one-time costs amortized over many queries (Qdrant
# builds HNSW once past indexing_threshold); cache the IVF layout per
# (application, sf_dir) so repeated queries pay only the probe.
# applicationId is stable for a session's lifetime and never reused
# after restart — unlike id(), which can recycle addresses and hand
# back frames persisted on a stopped SparkContext.
_IVF_CACHE: dict = {}


def _cache_key(spark: SparkSession, sf_dir: str):
    return (spark.sparkContext.applicationId, sf_dir)


def _session_alive(spark: SparkSession) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def _ivf_index(spark: SparkSession, sf_dir: str):
    key = _cache_key(spark, sf_dir)
    if key not in _IVF_CACHE or not _session_alive(spark):
        emb = load(spark, sf_dir, "embeddings")
        assigned, centroids = ivf_build(emb, k_centroids=16, seed=42)
        assigned = assigned.persist()
        assigned.count()  # materialize the build
        _IVF_CACHE[key] = (assigned, centroids)
    return _IVF_CACHE[key]


def ann_ivf_ml_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search (16 Spark-ML KMeans centroids, nprobe=4) for
    the vec_id=0 query; the KMeans build is cached/persisted across
    calls. Pytest-only since round 5 — the registered ``ann_ivf_top5``
    now probes the deterministic kmeans_np layout so the driver can
    value-check it; this ml-trained sibling keeps the JVM training
    path exercised (tests/test_ann.py recall pins use ivf_build
    directly as well)."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, centroids = _ivf_index(spark, sf_dir)
    return ivf_search(assigned, centroids, _query_of(emb, 0), k=5, nprobe=4)


_LSH_CACHE: dict = {}


def _lsh_index(spark: SparkSession, sf_dir: str):
    """One-time corpus band layout (8 planes, 2 bands), cached and
    persisted per (session, sf) like the IVF/PQ/SQ/BQ builds — the
    in-memory analog of the ``bucketBy(band_sig)`` on-disk layout the
    operator docstring prescribes; queries pay only the probe."""
    key = _cache_key(spark, sf_dir)
    if key not in _LSH_CACHE or not _session_alive(spark):
        emb = load(spark, sf_dir, "embeddings")
        stack = lsh_band_frame(
            emb, dim=64, carry_cols=("vec_id", "embedding")).persist()
        stack.count()  # materialize the build
        _LSH_CACHE[key] = stack
    return _LSH_CACHE[key]


def _lsh_sig_sql(vec: str, dim: int = 64, n_planes: int = 8,
                 n_bands: int = 2, seed: int = 7) -> list[str]:
    """Band-signature SQL fragments for DuckDB — the hyperplanes are
    seeded and data-independent (``operators/ann.py::_hyperplanes``),
    and each dot is rendered as the SAME left-associated
    cast-then-multiply float64 sum as ``dot_unrolled``, so the sign
    bits (hence bucket keys) are bit-identical to the Spark side."""
    from ..operators.ann import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    bits = []
    for p in planes:
        dot = " + ".join(
            f"(CAST({vec}[{j + 1}] AS DOUBLE) * {float(pj)!r})"
            for j, pj in enumerate(p)
        )
        bits.append(f"CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END")
    per_band = n_planes // n_bands
    return ["(" + " || ".join(bits[b * per_band:(b + 1) * per_band]) + ")"
            for b in range(n_bands)]


def _lsh_oracle(multiprobe: int = 0, dim: int = 64, n_planes: int = 8,
                n_bands: int = 2, seed: int = 7, k: int = 5) -> str:
    """FULL value oracle for the LSH probe: recompute signatures,
    bucket-match (exact at ``multiprobe=0``, Hamming ≤ m per band
    otherwise), exact-cosine-rescore candidates, top-k."""
    per_band = n_planes // n_bands
    sigs = _lsh_sig_sql("embedding", dim, n_planes, n_bands, seed)
    band_cols = ", ".join(f"{s} AS band{b}" for b, s in enumerate(sigs))
    if multiprobe == 0:
        match = " OR ".join(f"s.band{b} = q.band{b}"
                            for b in range(n_bands))
    else:
        per_band_match = []
        for b in range(n_bands):
            ham = " + ".join(
                f"(CASE WHEN substring(s.band{b}, {i}, 1) <> "
                f"substring(q.band{b}, {i}, 1) THEN 1 ELSE 0 END)"
                for i in range(1, per_band + 1)
            )
            per_band_match.append(f"({ham}) <= {multiprobe}")
        match = " OR ".join(per_band_match)
    return f"""
    WITH sig AS (SELECT vec_id, embedding, {band_cols} FROM embeddings),
    q AS (SELECT band0, band1 FROM sig WHERE vec_id = 0),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT DISTINCT s.vec_id, s.embedding
      FROM sig s CROSS JOIN q
      WHERE {match}
    )
    SELECT c.vec_id,
           ROUND({_COS.format(a='c.embedding', b='qv.qv')}, 6) AS score
    FROM cand c CROSS JOIN qv
    ORDER BY score DESC, c.vec_id
    LIMIT {k}
    """


@register("ann_lsh_top5", _lsh_oracle())
def ann_lsh_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-projection LSH search (8 planes, 2 bands) for the vec_id=0
    query; probes the cached band layout with a driver-computed
    signature → literal bucket predicate (bit-identical to the
    expression probe, pinned) — the signature build is a one-time
    index cost, and the query-side hash costs microseconds, as in any
    client-side LSH system. FULL value oracle: the hyperplanes are
    seeded + data-independent, so DuckDB re-derives the identical
    signatures (``_lsh_oracle``) and hash-checks bucket membership and
    the rescored top-k end-to-end."""
    emb = load(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0].embedding)
    return lsh_probe_literal(_lsh_index(spark, sf_dir), qvec, dim=64, k=5)


@register("ann_lsh_multiprobe_top5", _lsh_oracle(multiprobe=1))
def ann_lsh_multiprobe_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv et al., VLDB'07): the vec_id=0 query also
    probes every band bucket within Hamming distance 1 of its
    signature, against the SAME cached layout as ann_lsh_top5 (no
    corpus-side cost). Measured on the clustered 50k corpus
    (BASELINE.md §recall): 16p/4b recall@10 0.77→0.99 (m=1, 3.1×
    candidates); the ≥0.9-at-≤2×-cost point is 24p/4b m=1 —
    recall 0.925 at 1.67× the plain-16p candidate count. FULL value
    oracle (``_lsh_oracle(multiprobe=1)``): the Hamming-≤1 bucket
    expansion is re-derived in DuckDB as per-bit signature compares,
    so even the probe-set widening is hash-checked."""
    emb = load(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0].embedding)
    return lsh_probe_literal(_lsh_index(spark, sf_dir), qvec, dim=64, k=5,
                             multiprobe=1)


@register(
    "ann_ivf_exhaustive_top5",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_COS.format(a='e.embedding', b='q.qv')}, 6) AS score
    FROM embeddings e CROSS JOIN q
    ORDER BY score DESC, e.vec_id
    LIMIT 5
    """,
)
def ann_ivf_exhaustive_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe with ``nprobe = k_centroids`` — provably ≡ the exact
    scan (every cell probed; pinned in tests/test_ann.py), so the
    routed read path (centroid shortlist → literal IN filter →
    partition-pruned scan → cosine → top-k) gets a FULL value oracle
    the driver hash-checks end-to-end, unlike the approximate
    ``ann_ivf_top5`` (rows-only by design)."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, centroids = _ivf_index(spark, sf_dir)
    # exhaustive: the probe set is every cell by definition — no job
    return ivf_search(assigned, centroids, _query_of(emb, 0), k=5,
                      nprobe=16, probe_ids=list(range(16)))


_PQ_CACHE: dict = {}


def _pq_index(spark: SparkSession, sf_dir: str):
    key = _cache_key(spark, sf_dir)
    if key not in _PQ_CACHE or not _session_alive(spark):
        from ..operators.pq import pq_build

        emb = load(spark, sf_dir, "embeddings")
        codes, codebooks = pq_build(emb, dim=64, n_blocks=8, k_codes=16,
                                    seed=42, max_iter=5)
        codes = codes.persist()
        codes.count()
        _PQ_CACHE[key] = (codes, codebooks)
    return _PQ_CACHE[key]


def ann_pq_ml_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ADC search (8 blocks × 16 Spark-ML-trained
    codes → 32× compression) for the vec_id=0 query; codebooks cached
    per (session, sf). Pytest-only since round 5 — the registered
    ``ann_pq_top5`` now scores deterministic kmeans_np codebooks so
    the driver can value-check it; recall pins for the ml training
    live in tests/test_pq.py."""
    from ..operators.pq import pq_search

    emb = load(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0].embedding)
    codes, codebooks = _pq_index(spark, sf_dir)
    return pq_search(codes, codebooks, qvec, k=5)


def _sq_oracle(dim: int = 64) -> str:
    """SQ is closed-form (no KMeans), so unlike IVF/LSH/PQ this tier
    gets a FULL value oracle: DuckDB recomputes per-dim (min, step),
    the int8 encode, the bucket-center dequantize, and the dot."""
    mm = ", ".join(
        f"min(CAST(embedding[{j}] AS DOUBLE)) AS mn{j}, "
        f"max(CAST(embedding[{j}] AS DOUBLE)) AS mx{j}"
        for j in range(1, dim + 1)
    )
    terms = []
    for j in range(1, dim + 1):
        st = f"((s.mx{j} - s.mn{j}) / 256.0)"
        code = (f"LEAST(255, GREATEST(0, FLOOR((CAST(e.embedding[{j}] AS "
                f"DOUBLE) - s.mn{j}) / {st})))")
        terms.append(f"(s.mn{j} + ({code} + 0.5) * {st}) * q.qe[{j}]")
    score = " + ".join(terms)
    return f"""
    WITH s AS (SELECT {mm} FROM embeddings),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
          WHERE vec_id = 0)
    SELECT e.vec_id, ROUND({score}, 6) AS score
    FROM embeddings e CROSS JOIN s CROSS JOIN q
    ORDER BY score DESC, e.vec_id
    LIMIT 5
    """


_SQ_CACHE: dict = {}


def _sq_index(spark: SparkSession, sf_dir: str):
    key = _cache_key(spark, sf_dir)
    if key not in _SQ_CACHE or not _session_alive(spark):
        from ..operators.sq import sq_encode, sq_train

        emb = load(spark, sf_dir, "embeddings")
        mins, steps = sq_train(emb, dim=64)
        codes = sq_encode(emb, mins, steps).persist()
        codes.count()
        _SQ_CACHE[key] = (codes, mins, steps)
    return _SQ_CACHE[key]


@register("ann_sq_top5", _sq_oracle())
def ann_sq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized search (Qdrant's ScalarQuantization
    analog, 4× compression): train per-dim (min, step) in one agg
    pass, encode to byte codes, dequantize-dot against the
    full-precision vec_id=0 query. Deterministic end-to-end —
    the one compressed tier with a full value oracle. Train/encode
    cached per (session, sf) like the IVF/PQ builds."""
    from ..operators.sq import sq_search

    emb = load(spark, sf_dir, "embeddings")
    codes, mins, steps = _sq_index(spark, sf_dir)
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0].embedding)
    return sq_search(codes, mins, steps, qvec, k=5)


def _bq_word_sql(word: int, col: str = "embedding") -> str:
    terms = " + ".join(
        f"CASE WHEN CAST({col}[{word * 32 + bit + 1}] AS DOUBLE) > 0.0 "
        f"THEN {1 << bit} ELSE 0 END"
        for bit in range(32)
    )
    return f"CAST({terms} AS BIGINT)"


def _bq_oracle(dim: int = 64) -> str:
    """BQ is pure integer math — full value oracle (like SQ)."""
    words = dim // 32
    enc = ", ".join(f"{_bq_word_sql(w)} AS w{w}" for w in range(words))
    ham = " + ".join(
        f"CAST(bit_count(xor(e.w{w}, q.w{w})) AS BIGINT)"
        for w in range(words)
    )
    return f"""
    WITH enc AS (SELECT vec_id, {enc} FROM embeddings),
    q AS (SELECT * FROM enc WHERE vec_id = 0)
    SELECT e.vec_id, {ham} AS hamming
    FROM enc e CROSS JOIN q
    ORDER BY hamming ASC, e.vec_id
    LIMIT 5
    """


_BQ_CACHE: dict = {}


def _bq_index(spark: SparkSession, sf_dir: str):
    key = _cache_key(spark, sf_dir)
    if key not in _BQ_CACHE or not _session_alive(spark):
        from ..operators.bq import bq_encode

        emb = load(spark, sf_dir, "embeddings")
        codes = bq_encode(emb, dim=64).persist()
        codes.count()
        _BQ_CACHE[key] = codes
    return _BQ_CACHE[key]


@register("ann_bq_top5", _bq_oracle())
def ann_bq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized search (Qdrant BinaryQuantization analog, 32×
    compression): sign bits packed into BIGINT words, ranked by
    Hamming distance (≡ binarized dot). Integer math end-to-end —
    full value oracle despite being a compressed tier."""
    from ..operators.bq import bq_search

    emb = load(spark, sf_dir, "embeddings")
    codes = _bq_index(spark, sf_dir)
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0].embedding)
    return bq_search(codes, qvec, k=5)


@register(
    "ann_bq_rescore_top5",
    f"""
    WITH enc AS (SELECT vec_id,
                        {_bq_word_sql(0)} AS w0, {_bq_word_sql(1)} AS w1
                 FROM embeddings),
    q AS (SELECT * FROM enc WHERE vec_id = 0),
    short AS (
      SELECT e.vec_id,
             CAST(bit_count(xor(e.w0, q.w0)) AS BIGINT)
             + CAST(bit_count(xor(e.w1, q.w1)) AS BIGINT) AS hamming
      FROM enc e CROSS JOIN q
      ORDER BY hamming ASC, e.vec_id
      LIMIT 50
    ),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_COS.format(a='e.embedding', b='qv.qv')}, 6) AS score
    FROM embeddings e JOIN short s ON e.vec_id = s.vec_id CROSS JOIN qv
    ORDER BY score DESC, e.vec_id
    LIMIT 5
    """,
)
def ann_bq_rescore_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed BQ-shortlist → exact-rescore (Qdrant's documented BQ
    usage: oversampled binary probe, full-precision rescoring): top-50
    by Hamming over 16-byte codes, exact cosine over just those 50.
    BOTH stages are deterministic, so the entire approximate tier is
    value-oracle-checked — shortlist membership included."""
    from ..operators.bq import bq_search
    from ..operators.knn import dense_knn

    emb = load(spark, sf_dir, "embeddings")
    codes = _bq_index(spark, sf_dir)
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0].embedding)
    short = bq_search(codes, qvec, k=50).select("vec_id")
    corpus = emb.join(F.broadcast(short), on="vec_id")
    return dense_knn(corpus, _query_of(emb, 0), k=5, dim=64)


_MIX_TILES = 12  # 12 × 64-d fixture = 768-d


def _mix_tile(col: str, t: int) -> "F.Column":
    """Tile t of the sign-diverse widening: x[(i+t) mod 64] − x[i].
    Unlike the scale-tiled `_widen` (queries/knn.py), each tile MIXES
    dimensions, so its sign bits are genuinely new — a pure positive
    scaling would give every tile identical BQ words and the wide
    hamming would degenerate to 12× the 64-d ranking."""
    base = F.col(col).cast("array<double>")
    return F.transform(
        base, lambda x, i: F.element_at(base, (i + t) % 64 + 1) - x)


def _widen_mix(col: str) -> "F.Column":
    return F.flatten(F.array(*[
        _mix_tile(col, t) for t in range(1, _MIX_TILES + 1)]))


_BQ_WIDE_CACHE: dict = {}


def _bq_wide_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-time wide BQ layout: the 768-element mixing transform and
    the 768-bit word pack are HOF/CASE expressions Catalyst evaluates
    interpreted per element — build them ONCE into a checkpointed
    ``(vec_id, wide, bits)`` frame (localCheckpoint truncates the
    literal-heavy lineage, the `_ivf_det_index` rationale) so the
    timed entry measures hamming shortlist + 768-d rescore, not the
    index build. Same one-time-cost policy as every other tier; on
    disk this is the usual codes-sidecar layout."""
    key = _cache_key(spark, sf_dir)
    if key not in _BQ_WIDE_CACHE or not _session_alive(spark):
        from ..operators.bq import bq_encode

        dim = 64 * _MIX_TILES
        emb = load(spark, sf_dir, "embeddings")
        wide = emb.select("vec_id", _widen_mix("embedding").alias("wide"))
        _BQ_WIDE_CACHE[key] = bq_encode(
            wide, dim=dim, vec_col="wide", carry_cols=("wide",)
        ).localCheckpoint()
    return _BQ_WIDE_CACHE[key]


def _widen_mix_sql(col: str) -> str:
    tiles = []
    for t in range(1, _MIX_TILES + 1):
        elems = ", ".join(
            f"CAST({col}[{(j + t) % 64 + 1}] AS DOUBLE)"
            f" - CAST({col}[{j + 1}] AS DOUBLE)"
            for j in range(64))
        tiles.append(f"[{elems}]")
    return "flatten([" + ", ".join(tiles) + "])"


def _bq_wide_word_sql(word: int, col: str = "wide") -> str:
    terms = " + ".join(
        f"CASE WHEN {col}[{word * 32 + bit + 1}] > 0.0 "
        f"THEN {1 << bit} ELSE 0 END"
        for bit in range(32)
    )
    return f"CAST({terms} AS BIGINT)"


def _bq_wide_oracle(dim: int = 64 * _MIX_TILES) -> str:
    words = dim // 32
    enc = ", ".join(f"{_bq_wide_word_sql(w)} AS w{w}" for w in range(words))
    ham = " + ".join(
        f"CAST(bit_count(xor(e.w{w}, q.w{w})) AS BIGINT)"
        for w in range(words)
    )
    return f"""
    WITH wdf AS (SELECT vec_id, {_widen_mix_sql('embedding')} AS wide
                 FROM embeddings),
    enc AS (SELECT vec_id, wide, {enc} FROM wdf),
    q AS (SELECT * FROM enc WHERE vec_id = 0),
    short AS (
      SELECT e.vec_id, {ham} AS hamming
      FROM enc e CROSS JOIN q
      ORDER BY hamming ASC, e.vec_id
      LIMIT 50
    )
    SELECT e.vec_id,
           ROUND(list_dot_product(e.wide, q.wide)
                 / (sqrt(list_dot_product(e.wide, e.wide))
                    * sqrt(list_dot_product(q.wide, q.wide))), 6) AS score
    FROM enc e JOIN short s ON e.vec_id = s.vec_id CROSS JOIN q
    ORDER BY score DESC, e.vec_id
    LIMIT 5
    """


@register("ann_bq_wide_rescore_top5", _bq_wide_oracle())
def ann_bq_wide_rescore_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BQ shortlist → exact rescore at PRODUCTION width (768-d → 24
    packed words, 96-byte codes = 32× compression where it actually
    matters): the fixture widens through a dimension-MIXING transform
    (x[(i+t) mod 64] − x[i] per tile) so every tile contributes new
    sign bits. Exercises the word-packing/hamming expressions at 24
    words and the 768-d HOF rescore — the regime Qdrant runs BQ in
    (1536-d OpenAI embeddings; reference dims 1536/2048). Integer
    shortlist + deterministic cosine: full value oracle end-to-end."""
    from ..operators.bq import bq_search
    from ..operators.knn import dense_knn

    dim = 64 * _MIX_TILES
    layout = _bq_wide_index(spark, sf_dir)
    qvec = list(layout.filter(F.col("vec_id") == 0).collect()[0].wide)
    short = bq_search(layout.select("vec_id", "bits"), qvec,
                      k=50).select("vec_id")
    corpus = layout.select("vec_id", "wide").join(
        F.broadcast(short), on="vec_id")
    query = local_literal_df(
        spark, [(qvec,)], "query_vec array<double>")
    return dense_knn(corpus, query, k=5, vec_col="wide", dim=dim)


@register(
    "knn_join_top3",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv
               FROM embeddings WHERE vec_id < 100),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND({_COS.format(a='e.embedding', b='q.qv')}, 6) AS score
      FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
      SELECT qid, vec_id, score,
             CAST(row_number() OVER (PARTITION BY qid
                                     ORDER BY score DESC, vec_id) AS INTEGER)
               AS rank
      FROM scored
    )
    SELECT qid, vec_id, score, rank FROM ranked WHERE rank <= 3
    """,
)
def knn_join_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-localized k-NN JOIN (corpus-sized query side — the
    embedding-near-dup / semantic-blocking shape): 100 query rows each
    get their top-3 neighbors. Probing is exhaustive here, which makes
    the join provably exact (hence the full oracle); production uses a
    smaller nprobe for the Σ|L_c|·|R_c| reduction (recall pinned in
    tests/test_knnjoin.py)."""
    from ..operators.knnjoin import knn_join

    emb = load(spark, sf_dir, "embeddings")
    _, centroids = _ivf_index(spark, sf_dir)
    cents = [list(r.centroid) for r in
             sorted(centroids.collect(), key=lambda r: r.centroid_id)]
    left = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("query_vec"))
    return knn_join(left, emb, cents, k=3, nprobe=None, dim=64)


def ann_ivfpq_ml_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF→PQ→exact-rerank over the Spark-ML-trained indexes
    (BASELINE.md §ANN recall: 0.99 recall@10 on clustered vectors at
    nprobe=4/rescore=200). Pytest-only since round 5 — the registered
    ``ann_ivfpq_top5`` composes the deterministic kmeans_np layouts so
    the driver can value-check the whole probe→ADC→rescore path;
    recall pins for the ml-trained composition live in
    tests/test_ann_clustered.py."""
    from ..operators.pq import ivfpq_search

    emb = load(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0].embedding)
    assigned, centroids = _ivf_index(spark, sf_dir)
    codes, codebooks = _pq_index(spark, sf_dir)
    acodes = codes.join(assigned.select("vec_id", "centroid_id"), on="vec_id")
    return ivfpq_search(acodes, centroids, codebooks, emb, qvec,
                        k=5, nprobe=4, rescore=100)


@register(
    "ann_ivfpq_exhaustive_top5",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_COS.format(a='e.embedding', b='q.qv')}, 6) AS score
    FROM embeddings e CROSS JOIN q
    ORDER BY score DESC, e.vec_id
    LIMIT 5
    """,
)
def ann_ivfpq_exhaustive_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ with ``nprobe = k_centroids`` and ``rescore = |corpus|``
    — every cell probed, every candidate exact-rescored, so the final
    ranking is provably the exact scan (the ADC stage only orders a
    shortlist that now covers everything). Like
    ``ann_ivf_exhaustive_top5``, this puts a FULL value oracle on the
    composed read path the approximate ``ann_ivfpq_top5`` uses:
    centroid shortlist → code-table probe → ADC LUT scoring →
    semi-join rescore fetch → top-k, all driver-hash-checked."""
    from ..operators.pq import ivfpq_search

    emb = load(spark, sf_dir, "embeddings")
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0].embedding)
    assigned, centroids = _ivf_index(spark, sf_dir)
    codes, codebooks = _pq_index(spark, sf_dir)
    acodes = codes.join(assigned.select("vec_id", "centroid_id"), on="vec_id")
    return ivfpq_search(acodes, centroids, codebooks, emb, qvec,
                        k=5, nprobe=16, rescore=emb.count(),
                        probe_ids=list(range(16)))


# --- deterministic sample-trained IVF: a genuinely APPROXIMATE probe
# --- (nprobe=4 of 16) that still carries a FULL value oracle, because
# --- training is bit-reproducible outside Spark (kmeans_np) and the
# --- centroids are shared literals between builder and oracle.

_NP_CENTROIDS: dict = {}


def _np_centroids(sf_dir: str, k: int = 16, seed: int = 42):
    """Deterministic centroids per sf_dir — pure numpy over a
    driver-side parquet read (no SparkSession involved), so the query
    builder and the oracle factory derive the SAME codebook."""
    import os

    key = (sf_dir, k, seed)
    if key not in _NP_CENTROIDS:
        from ..operators.ann import kmeans_np, read_vectors_np

        X = read_vectors_np(os.path.join(sf_dir, "embeddings.parquet"))
        _NP_CENTROIDS[key] = kmeans_np(X, k, seed=seed)
    return _NP_CENTROIDS[key]


def _np_probe(sf_dir: str, nprobe: int, k: int = 16,
              seed: int = 42) -> list[int]:
    """Driver-side coarse probe over the kmeans_np centroids:
    ``nearest_np``, the left-to-right float64 fold the layout's
    assignment uses and the oracle factories replicate, ties by
    centroid_id — so the literal probe set is bit-identical to a
    probe job's."""
    from ..operators.ann import nearest_np

    _, ids = nearest_np([_np_query_vec(sf_dir)],
                        _np_centroids(sf_dir, k=k, seed=seed), nprobe)
    return sorted(int(i) for i in ids[0])


def _duck_sq_dist(vec: str, c: list[float]) -> str:
    """DuckDB twin of the nearest-centroid distance
    (operators/ann.py::nearest_sql / nearest_np) — the same
    left-associated (elem − c)² sum in float64."""
    return "(" + " + ".join(
        f"((CAST({vec}[{j + 1}] AS DOUBLE) - {float(cj)!r})"
        f" * (CAST({vec}[{j + 1}] AS DOUBLE) - {float(cj)!r}))"
        for j, cj in enumerate(c)
    ) + ")"


def _ivf_det_oracle(sf_dir: str, k: int = 5, nprobe: int = 4) -> str:
    """Oracle FACTORY (registry resolves with the sf being checked):
    re-derives the identical centroids via kmeans_np, then recomputes
    assignment (first-min argmin ≡ Spark's lexicographic struct min),
    the nprobe centroid shortlist, and the exact-cosine rescore —
    the entire approximate read path hash-checked."""
    cents = _np_centroids(sf_dir)
    dl = "list_value(" + ", ".join(
        _duck_sq_dist("e.embedding", c) for c in cents) + ")"
    probe_rows = " UNION ALL ".join(
        f"SELECT {i} AS cid, {_duck_sq_dist('q.embedding', c)} AS d FROM q"
        for i, c in enumerate(cents))
    return f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT cid FROM ({probe_rows})
      ORDER BY d ASC, cid ASC LIMIT {nprobe}
    ),
    cand AS (
      SELECT e.vec_id, e.embedding,
             list_position({dl}, list_min({dl})) - 1 AS cid
      FROM embeddings e
    )
    SELECT c.vec_id,
           ROUND({_COS.format(a='c.embedding', b='qq.qv')}, 6) AS score
    FROM cand c
    CROSS JOIN (SELECT embedding AS qv FROM q) qq
    WHERE c.cid IN (SELECT cid FROM probe)
    ORDER BY score DESC, c.vec_id
    LIMIT {k}
    """


_IVF_DET_CACHE: dict = {}


def _ivf_det_index(spark: SparkSession, sf_dir: str):
    """Cached deterministic-IVF layout: one assignment pass computes
    each row's (centroid_id, own-centroid distance) — BOTH extracted
    from a single persisted projection, because re-deriving either
    per query would re-evaluate the 16×64-literal argmin expression
    on every row (and a filter pushed through it evaluates it twice:
    measured 5.7 s/query vs ~0.5 s probing the cached frame). Same
    build-outside-the-timer policy as every other tier; on disk this
    is the usual ``partitionBy(centroid_id)`` layout."""
    key = _cache_key(spark, sf_dir)
    if key not in _IVF_DET_CACHE or not _session_alive(spark):
        from ..operators.ann import nearest_cells

        cents = _np_centroids(sf_dir)
        emb = load(spark, sf_dir, "embeddings")
        best = nearest_cells(cents, "embedding")[0]
        # localCheckpoint, not persist: the 16×64-literal argmin
        # lineage costs ~1 s of driver-side plan re-analysis on EVERY
        # query planned over a persisted frame (measured 1.1-1.6 s vs
        # 0.26-0.29 s warm at sf0.01); truncating lineage makes probe
        # plans scan a cached relation. On a cluster the real index is
        # the on-disk partitionBy(centroid_id) layout — this is its
        # in-memory single-session analog.
        assigned = emb.select(
            "vec_id", "embedding",
            best["d"].alias("centroid_dist"),
            best["i"].alias("centroid_id"),
        ).localCheckpoint(eager=True)
        cdf = local_literal_df(
            spark, [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "centroid_id int, centroid array<double>")
        _IVF_DET_CACHE[key] = (assigned, cdf)
    return _IVF_DET_CACHE[key]


@register("ann_ivf_det_top5", _ivf_det_oracle)
def ann_ivf_det_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-trained IVF probe (nprobe=4 of 16) with a FULL value
    oracle — the one tier that is genuinely approximate AND exactly
    hash-checked. Training is `kmeans_np` (deterministic pure-numpy
    Lloyd's over a driver-side parquet read — the FAISS convention:
    codebooks train on an in-memory sample, only assignment is
    distributed); the oracle factory re-trains identically and embeds
    the same centroid literals, so assignment (argmin of unrolled
    left-assoc squared distances), centroid shortlist, and rescored
    top-k all reproduce bit-for-bit in DuckDB. Since round 5
    `ann_ivf_top5` probes the SAME deterministic layout at nprobe=2;
    the Spark-ML-trained variant is pytest-only (`ann_ivf_ml_top5`).
    Assignment is the cached index build (`_ivf_det_index`), queries
    pay the probe."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, cdf = _ivf_det_index(spark, sf_dir)
    return ivf_search(assigned, cdf, _query_of(emb, 0), k=5, nprobe=4,
                      probe_ids=_np_probe(sf_dir, 4))


_NP_PQ_CODEBOOKS: dict = {}


def _np_pq_codebooks(sf_dir: str, n_blocks: int = 8, k_codes: int = 16,
                     seed: int = 42):
    """Deterministic per-block PQ codebooks (kmeans_np over each
    subvector slice of the driver-side parquet read)."""
    import os

    key = (sf_dir, n_blocks, k_codes, seed)
    if key not in _NP_PQ_CODEBOOKS:
        from ..operators.ann import kmeans_np, read_vectors_np

        X = read_vectors_np(os.path.join(sf_dir, "embeddings.parquet"))
        subdim = X.shape[1] // n_blocks
        _NP_PQ_CODEBOOKS[key] = [
            kmeans_np(X[:, b * subdim:(b + 1) * subdim], k_codes,
                      seed=seed + b)
            for b in range(n_blocks)
        ]
    return _NP_PQ_CODEBOOKS[key]


def _np_query_vec(sf_dir: str, vec_id: int = 0) -> list[float]:
    """The query vector read driver-side (pyarrow) — float32 parquet
    values widened exactly, identical to a Spark collect."""
    import os

    import pyarrow.parquet as pq_

    t = pq_.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                       columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_pylist()
    return [float(x) for x in
            t.column("embedding").to_pylist()[ids.index(vec_id)]]


def _pq_det_oracle(sf_dir: str, k: int = 5, n_blocks: int = 8) -> str:
    """Oracle factory for the deterministic PQ tier: re-derive the
    codebooks (kmeans_np), recompute each row's per-block code
    (first-min argmin over the same unrolled sub-distances), build the
    SAME ADC lookup tables the Spark path builds (identical python
    left-to-right dot), and rank by the LUT sum — quantization error
    and all, hash-checked."""
    cbs = _np_pq_codebooks(sf_dir, n_blocks=n_blocks)
    qvec = _np_query_vec(sf_dir)
    subdim = len(cbs[0][0])
    terms = []
    for b, cb in enumerate(cbs):
        off = b * subdim
        dl = "list_value(" + ", ".join(
            "(" + " + ".join(
                f"((CAST(e.embedding[{off + j + 1}] AS DOUBLE) - {float(cj)!r})"
                f" * (CAST(e.embedding[{off + j + 1}] AS DOUBLE) - {float(cj)!r}))"
                for j, cj in enumerate(cw)
            ) + ")"
            for cw in cb) + ")"
        pos = f"list_position({dl}, list_min({dl}))"  # 1-based code
        q_sub = qvec[off:off + subdim]
        lut = ", ".join(
            f"{sum(float(q) * float(c) for q, c in zip(q_sub, cw))!r}"
            for cw in cb)
        # CAST the literal list to DOUBLE[]: DuckDB types bare decimal
        # literals as DECIMAL, which would propagate to the output
        # column (every other oracle emits DOUBLE; repr-level
        # canonicalizations distinguish Decimal('x') from x). The
        # decimal→double conversion is exact: repr(float) round-trips.
        terms.append(f"(CAST(list_value({lut}) AS DOUBLE[]))[{pos}]")
    score = " + ".join(terms)
    return f"""
    SELECT e.vec_id, ROUND({score}, 6) AS score
    FROM embeddings e
    ORDER BY score DESC, e.vec_id
    LIMIT {k}
    """


_PQ_DET_CACHE: dict = {}


def _pq_det_index(spark: SparkSession, sf_dir: str, n_blocks: int = 8):
    """Cached deterministic-PQ code table: the per-block
    nearest-codeword encode (``pq_encode_frame``) runs ONCE per
    (session, sf, n_blocks) and persists 8-byte code rows; queries pay
    only the ADC LUT scan. Same build-outside-the-timer policy as
    every tier."""
    key = (*_cache_key(spark, sf_dir), n_blocks)
    if key not in _PQ_DET_CACHE or not _session_alive(spark):
        from ..operators.pq import pq_encode_frame

        cbs = _np_pq_codebooks(sf_dir, n_blocks=n_blocks)
        emb = load(spark, sf_dir, "embeddings")
        # localCheckpoint for the same lineage-cost reason as
        # _ivf_det_index
        codes = pq_encode_frame(emb, cbs).localCheckpoint(eager=True)
        _PQ_DET_CACHE[key] = (codes, cbs)
    return _PQ_DET_CACHE[key]


@register("ann_pq_det_top5", _pq_det_oracle)
def ann_pq_det_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PQ ADC search (8 blocks × 16 codes, 32×
    compression) with a FULL value oracle — like `ann_ivf_det_top5`,
    the approximation itself (kmeans_np codebooks, argmin encoding,
    LUT scoring) is bit-reproducible outside Spark, so DuckDB ranks
    the same quantized scores. Since round 5 `ann_pq_top5` scores the
    same deterministic machinery at 4 blocks; the Spark-ML-trained
    variant is pytest-only (`ann_pq_ml_top5`). Encoding is the cached
    index build (`_pq_det_index`), queries pay only the ADC scan (the
    scale encode is the Arrow-batched numpy UDF)."""
    from ..operators.pq import pq_search

    codes, cbs = _pq_det_index(spark, sf_dir)
    return pq_search(codes, cbs, _np_query_vec(sf_dir), k=5)


def _cluster_profile_oracle(sf_dir: str) -> str:
    """Oracle factory: identical kmeans_np centroids, identical
    unrolled assignment; per-cluster count + min/max own-centroid
    distance (order-independent aggregates — no float-sum hazard)."""
    cents = _np_centroids(sf_dir)
    dl = "list_value(" + ", ".join(
        _duck_sq_dist("e.embedding", c) for c in cents) + ")"
    return f"""
    WITH a AS (
      SELECT list_position({dl}, list_min({dl})) - 1 AS cluster_id,
             list_min({dl}) AS d
      FROM embeddings e
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(MIN(d), 6) AS min_sqdist,
           ROUND(MAX(d), 6) AS max_sqdist
    FROM a GROUP BY cluster_id
    """


@register("emb_cluster_profile", _cluster_profile_oracle)
def emb_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic/domain clustering data card (the curation step that
    discovers a corpus's mixture): every embedding assigned to its
    deterministic kmeans_np centroid, profiled per cluster as
    (n_points, min/max squared distance to own centroid). min/max are
    order-independent, so no float-summation gymnastics are needed —
    the whole profile is value-oracled through the same shared-
    centroid machinery as `ann_ivf_det_top5`. One scan + one 16-key
    groupBy; at 100 TB this is a map-only assignment pass feeding a
    tiny aggregation — here served from the cached assignment frame
    (`_ivf_det_index`), which already carries both fields."""
    assigned, _ = _ivf_det_index(spark, sf_dir)
    a = assigned.select(F.col("centroid_id").alias("cluster_id"),
                        F.col("centroid_dist").alias("d"))
    return a.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.min("d"), 6).alias("min_sqdist"),
        F.round(F.max("d"), 6).alias("max_sqdist"),
    )


# --- round 5: the three headline approximate tiers re-pointed at the
# --- deterministic kmeans_np builders (VERDICT r4 item 1), so every
# --- registered ANN query except the sketch aggregate carries a FULL
# --- value oracle. The Spark-ML-trained variants stay as pytest-only
# --- functions above (ann_ivf_ml_top5 / ann_pq_ml_top5 /
# --- ann_ivfpq_ml_top5) and via the exhaustive twins' builds.


def _ivf_det_oracle_np2(sf_dir: str) -> str:
    """ann_ivf_top5's oracle factory: same machinery as
    ``ann_ivf_det_top5``, narrower probe (nprobe=2 — the recall-1.0
    setting on the clustered 50k corpus, BASELINE.md §ANN)."""
    return _ivf_det_oracle(sf_dir, nprobe=2)


@register("ann_ivf_top5", _ivf_det_oracle_np2)
def ann_ivf_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search (16 deterministic kmeans_np centroids,
    nprobe=2) for the vec_id=0 query, served from the cached
    assignment layout (`_ivf_det_index`). Genuinely approximate (2 of
    16 cells probed) yet FULLY value-oracled: training is
    bit-reproducible outside Spark, so the oracle factory re-trains
    identically and hash-checks assignment, probe shortlist, and the
    rescored top-k (reference parity: the qdrant server's default
    indexed search path, `/root/reference/README.md:91`ff; nprobe sits
    where HNSW's ef would). `ann_ivf_det_top5` keeps the nprobe=4
    point on the same layout; the Spark-ML-trained sibling is
    pytest-only (`ann_ivf_ml_top5`)."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, cdf = _ivf_det_index(spark, sf_dir)
    return ivf_search(assigned, cdf, _query_of(emb, 0), k=5, nprobe=2,
                      probe_ids=_np_probe(sf_dir, 2))


def _pq_det_oracle_b4(sf_dir: str) -> str:
    """ann_pq_top5's oracle factory: 4 blocks × 16 codes (16-d
    subvectors, 16× compression) — a coarser point on the same
    deterministic-PQ curve as ``ann_pq_det_top5``'s 8×16."""
    return _pq_det_oracle(sf_dir, n_blocks=4)


@register("ann_pq_top5", _pq_det_oracle_b4)
def ann_pq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ADC search over deterministic kmeans_np
    codebooks (4 blocks × 16 codes → 16× compression) for the
    vec_id=0 query. Quantization error and all is hash-checked: the
    oracle factory re-derives the codebooks, per-row codes, and the
    same driver-computed LUTs, so DuckDB ranks identical quantized
    scores. Code table cached per (session, sf, n_blocks)
    (`_pq_det_index`); the Spark-ML-trained sibling is pytest-only
    (`ann_pq_ml_top5`)."""
    from ..operators.pq import pq_search

    codes, cbs = _pq_det_index(spark, sf_dir, n_blocks=4)
    return pq_search(codes, cbs, _np_query_vec(sf_dir), k=5)


def _ivfpq_det_oracle(sf_dir: str, k: int = 5, nprobe: int = 4,
                      rescore: int = 100, n_blocks: int = 8) -> str:
    """Oracle factory for the composed deterministic IVF→PQ→rescore
    read path. Every stage reproduces bit-for-bit in DuckDB:

    - coarse probe: computed HERE in python with the same
      left-to-right float64 fold over (c_j − q_j)² that the Spark
      probe's ``zip_with``/``aggregate`` evaluates (ties broken by
      centroid_id, as ``global_topk`` does), and embedded as literal
      cell ids — mirroring the builder, which collects the ≤16-row
      probe to literals before the scan;
    - cell membership: the same first-min argmin over unrolled
      left-associated squared distances as ``_ivf_det_oracle``;
    - ADC shortlist: per-block ``list_position`` argmin codes indexing
      the SAME python-computed LUT literals the Spark expression
      embeds, summed left-to-right, top-``rescore`` by
      (adc DESC, vec_id ASC) — exactly ``pq_search``'s unrounded
      shortlist order;
    - exact rescore: the shared ``_COS`` cosine over just the
      shortlist, ROUND 6, top-k."""
    cents = _np_centroids(sf_dir)
    cbs = _np_pq_codebooks(sf_dir, n_blocks=n_blocks)
    qvec = _np_query_vec(sf_dir)

    # probe: replicate the zip_with/aggregate fold (left-to-right
    # IEEE-double accumulation) then (cdist ASC, cid ASC) top-nprobe
    dists = []
    for cid, c in enumerate(cents):
        acc = 0.0
        for x, y in zip(c, qvec):
            acc += (x - y) * (x - y)
        dists.append((acc, cid))
    probe_ids = sorted(cid for _, cid in sorted(dists)[:nprobe])

    dl = "list_value(" + ", ".join(
        _duck_sq_dist("e.embedding", c) for c in cents) + ")"
    cid_expr = f"(list_position({dl}, list_min({dl})) - 1)"

    subdim = len(cbs[0][0])
    terms = []
    for b, cb in enumerate(cbs):
        off = b * subdim
        bdl = "list_value(" + ", ".join(
            "(" + " + ".join(
                f"((CAST(e.embedding[{off + j + 1}] AS DOUBLE) - {float(cj)!r})"
                f" * (CAST(e.embedding[{off + j + 1}] AS DOUBLE) - {float(cj)!r}))"
                for j, cj in enumerate(cw)
            ) + ")"
            for cw in cb) + ")"
        pos = f"list_position({bdl}, list_min({bdl}))"  # 1-based code
        q_sub = qvec[off:off + subdim]
        lut = ", ".join(
            f"{sum(float(q) * float(c) for q, c in zip(q_sub, cw))!r}"
            for cw in cb)
        terms.append(f"(CAST(list_value({lut}) AS DOUBLE[]))[{pos}]")
    adc = " + ".join(terms)
    in_list = ", ".join(str(i) for i in probe_ids)
    return f"""
    WITH short AS (
      SELECT e.vec_id, {adc} AS adc
      FROM embeddings e
      WHERE {cid_expr} IN ({in_list})
      ORDER BY adc DESC, e.vec_id
      LIMIT {rescore}
    ),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_COS.format(a='e.embedding', b='qv.qv')}, 6) AS score
    FROM embeddings e JOIN short s ON e.vec_id = s.vec_id CROSS JOIN qv
    ORDER BY score DESC, e.vec_id
    LIMIT {k}
    """


_IVFPQ_DET_CACHE: dict = {}


def _ivfpq_det_index(spark: SparkSession, sf_dir: str):
    """Cached (codes ⋈ assignment) frame for the composed tier: the
    8-byte code rows carry their centroid_id so the probe filter hits
    one persisted frame instead of re-running the join per query —
    the in-memory analog of storing codes partitioned by cell (what
    the on-disk layout does; `stress.py` measures that shape)."""
    key = _cache_key(spark, sf_dir)
    if key not in _IVFPQ_DET_CACHE or not _session_alive(spark):
        assigned, cdf = _ivf_det_index(spark, sf_dir)
        codes, cbs = _pq_det_index(spark, sf_dir)
        acodes = codes.join(
            assigned.select("vec_id", "centroid_id"),
            on="vec_id").localCheckpoint(eager=True)
        _IVFPQ_DET_CACHE[key] = (acodes, cdf, cbs)
    return _IVFPQ_DET_CACHE[key]


@register("ann_ivfpq_top5", _ivfpq_det_oracle)
def ann_ivfpq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF→PQ→exact-rerank over the DETERMINISTIC layouts
    (the graph-index-class quality tier; BASELINE.md §ANN: 0.99
    recall@10 at nprobe=4/rescore=200 for the ml twin of this shape):
    probe 8-byte codes in the nprobe=4 nearest cells, ADC-shortlist
    100 rows, exact-rescore only those. Reuses both cached
    deterministic indexes; the corpus scan never happens. The entire
    approximate path — probe literals, cell membership, quantized
    shortlist order, rescored top-k — hash-checks against
    ``_ivfpq_det_oracle``. Spark-ML-trained sibling: pytest-only
    (`ann_ivfpq_ml_top5`)."""
    from ..operators.pq import ivfpq_search

    emb = load(spark, sf_dir, "embeddings")
    acodes, cdf, cbs = _ivfpq_det_index(spark, sf_dir)
    return ivfpq_search(acodes, cdf, cbs, emb, _np_query_vec(sf_dir),
                        k=5, nprobe=4, rescore=100,
                        probe_ids=_np_probe(sf_dir, 4))


# --- round 9: OPQ — learned rotation before PQ (VERDICT r8 item 3;
# --- Ge et al. CVPR'13, the FAISS "OPQ8,PQ8" recipe). Same code
# --- budget as ann_pq_det_top5 (8 blocks × 16 codes, 32×), learned
# --- coordinates; training is bit-reproducible (operators/opq.py),
# --- so the tier carries a FULL value oracle like its PQ sibling.

_NP_OPQ: dict = {}


def _np_opq(sf_dir: str, n_blocks: int = 8, k_codes: int = 16,
            seed: int = 42):
    """Deterministic OPQ train per sf_dir (rotation + per-block
    codebooks), derived driver-side from the sorted parquet read on
    the bounded id-ordered prefix (the PCA_TRAIN_CAP convention) — the
    query builder and the oracle factory call THIS, so their R and
    codebook literals are bit-identical in any process."""
    import os

    key = (sf_dir, n_blocks, k_codes, seed)
    if key not in _NP_OPQ:
        from ..operators.ann import read_vectors_np
        from ..operators.opq import opq_train_np
        from ..operators.pca import PCA_TRAIN_CAP

        X = read_vectors_np(os.path.join(sf_dir, "embeddings.parquet"))
        _NP_OPQ[key] = opq_train_np(X[:PCA_TRAIN_CAP],
                                    n_blocks=n_blocks, k_codes=k_codes,
                                    seed=seed)
    return _NP_OPQ[key]


def _opq_w(R: list) -> list:
    """Projection rows for the shared PCA machinery: component j of
    ``x @ R`` is the dot of x with R's COLUMN j, so the row-per-output
    matrix is Rᵀ."""
    d = len(R)
    return [[R[i][j] for i in range(d)] for j in range(d)]


_OPQ_DET_CACHE: dict = {}


def _opq_det_index(spark: SparkSession, sf_dir: str, n_blocks: int = 8):
    """Cached OPQ code table: ``pq_encode_frame`` with the rotation —
    one scan-local rotation pass in the fold shape (the proven
    pca_project_expr ↔ list_dot_product pairing with a zero mean; the
    d×d unrolled form overflowed janino's method budget into
    interpreted eval at 18.1 s/50k rows, the fold took 2.1 s), then the
    per-block codes over slices of the rotated array — both
    materialized once per (session, sf) with the same localCheckpoint
    lineage-truncation policy as `_pq_det_index`. The one-time encode
    is spread across the cores (the single-file fixture is one
    partition otherwise; per-row expressions, order-independent). On
    disk at 100 TB this is the usual 8-byte-code sidecar; rotation
    rides the ingest scan."""
    key = (*_cache_key(spark, sf_dir), "opq", n_blocks)
    if key not in _OPQ_DET_CACHE or not _session_alive(spark):
        from ..operators.pq import pq_encode_frame

        R, cbs = _np_opq(sf_dir, n_blocks=n_blocks)
        emb = load(spark, sf_dir, "embeddings").repartition(
            spark.sparkContext.defaultParallelism)
        codes = pq_encode_frame(emb, cbs, rotation=R).localCheckpoint(
            eager=True)
        _OPQ_DET_CACHE[key] = (codes, cbs)
    return _OPQ_DET_CACHE[key]


def _opq_det_oracle(sf_dir: str, k: int = 5, n_blocks: int = 8) -> str:
    """Oracle factory for the OPQ tier: re-derive (R, codebooks) via
    the same deterministic trainer, rotate every row in a CTE with the
    proven zero-mean center→list_dot_product pairing, recompute each
    block's first-min argmin code over the ROTATED slice (the same
    left-associated (x−c)² sums as the Spark expression), and rank by
    the driver-computed LUT sum over the identically-rotated query —
    rotation, assignment, and quantization error all hash-checked."""
    from ..operators.pca import pca_ce_sql, pca_pe_sql, pca_project_py

    R, cbs = _np_opq(sf_dir, n_blocks=n_blocks)
    d = len(R)
    W = _opq_w(R)
    dim_exprs = [f"CAST(e.embedding[{j + 1}] AS DOUBLE)"
                 for j in range(d)]
    ce = pca_ce_sql(dim_exprs, [0.0] * d)
    pe = pca_pe_sql(W, "ce")
    rot_q = pca_project_py([0.0] * d, W, _np_query_vec(sf_dir))
    subdim = len(cbs[0][0])
    terms = []
    for b, cb in enumerate(cbs):
        off = b * subdim
        bdl = "list_value(" + ", ".join(
            "(" + " + ".join(
                f"((r.rot[{off + j + 1}] - {float(cj)!r})"
                f" * (r.rot[{off + j + 1}] - {float(cj)!r}))"
                for j, cj in enumerate(cw)
            ) + ")"
            for cw in cb) + ")"
        pos = f"list_position({bdl}, list_min({bdl}))"  # 1-based code
        q_sub = rot_q[off:off + subdim]
        lut = ", ".join(
            f"{sum(float(q) * float(c) for q, c in zip(q_sub, cw))!r}"
            for cw in cb)
        terms.append(f"(CAST(list_value({lut}) AS DOUBLE[]))[{pos}]")
    score = " + ".join(terms)
    return f"""
    WITH c AS (SELECT e.vec_id, {ce} AS ce FROM embeddings e),
    r AS (SELECT vec_id, {pe} AS rot FROM c)
    SELECT r.vec_id, ROUND({score}, 6) AS score
    FROM r
    ORDER BY score DESC, r.vec_id
    LIMIT {k}
    """


@register("ann_opq_top5", _opq_det_oracle)
def ann_opq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ ADC search (learned orthonormal rotation before an 8×16
    product quantizer — Ge et al. CVPR'13; FAISS ``OPQ8,PQ8``) for
    the vec_id=0 query: rotate the query driver-side, ADC over the
    cached rotated-code table. Exactly `ann_pq_det_top5`'s code
    budget (32× compression) with trained coordinates — the recall
    delta at equal bytes is measured in recall_curve.py / BASELINE.md
    §opq. FULLY value-oracled: training (`operators/opq.py`) is
    GEMM-free and eigh-sign-safe, so `_opq_det_oracle` re-derives
    bit-identical rotation + codebooks and DuckDB ranks the same
    quantized scores."""
    from ..operators.pca import pca_project_py
    from ..operators.pq import pq_search

    codes, cbs = _opq_det_index(spark, sf_dir)
    R, _ = _np_opq(sf_dir)
    rot_q = pca_project_py([0.0] * len(R), _opq_w(R),
                           _np_query_vec(sf_dir))
    return pq_search(codes, cbs, rot_q, k=5)
