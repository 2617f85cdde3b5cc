"""Product quantization (PQ) — the memory-compression tier of
similarity search (SURVEY.md §7 M5 scale path, alongside IVF/LSH).

A d-dim float vector (4d bytes) becomes ``n_blocks`` one-byte codes:
each block's subvector is replaced by the id of its nearest codeword
from a per-block KMeans codebook. At 64-d/8 blocks that is 256 B →
8 B per vector (32×), which is what lets a 100 TB corpus's index live
in cluster memory.

Search is asymmetric-distance (ADC): the query stays full-precision;
for each block a lookup table ``lut[b][c] = <query_b, codebook[b][c]>``
is computed driver-side (n_blocks × k_codes doubles — tiny,
``pq_lut``) and the approximate inner product is ``Σ_b lut[b][code_b]``
— ``element_at`` lookups, so scoring a row touches only its 8 codes
and never the original vector. ``pq_score`` is the one ADC expression:
its table operand is literal arrays (one query, inlined) or a column
name (a batch's broadcast ``lut``), so both rank codes with the same
lookups (operators/quant.py). Pure whole-stage-codegen expressions;
no Python, no UDF.

Exactness: PQ is approximate by construction — judged by recall
against the exact scan (tests/test_pq.py), like the other ANN tiers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.localframe import local_literal_df
from ..functions.vector import _lit_array_sql
from .ann import assign_centroids
from .topk import global_topk

__all__ = ["pq_build", "pq_encode_udf", "pq_lut", "pq_score", "pq_search",
           "ivfpq_search", "pq_decode_np"]


def pq_decode_np(codes, codebooks: list):
    """Reconstruct float64 rows from an (n × n_blocks) code matrix by
    codebook lookup: row = concat(codebooks[b][code_b]). For OPQ codes
    the reconstruction lives in the ROTATED space (the codebooks were
    trained there) — callers rotate the query to match. Used by the
    quantized HNSW layouts (build and search share this function, so
    the walk happens in the space the graph was built in)."""
    import numpy as np

    C = np.asarray(codes, dtype=np.int64)
    return np.concatenate(
        [np.asarray(codebooks[b], dtype=np.float64)[C[:, b]]
         for b in range(len(codebooks))], axis=1)


def pq_encode_udf(codebooks: list, vec_col: Column) -> Column:
    """All-block PQ encoding in one Arrow-batched pandas UDF → an
    ``array<int>`` of ``n_blocks`` codes.

    Per-block codegen'd assignment expressions are fine alone, but
    projecting 8+ of them together overflows whole-stage codegen's
    64 KB method budget and Spark silently falls back to interpreted
    evaluation (measured 97 s vs ~15 s per 1M×16-d rows). This path
    moves the whole encode into numpy: one matmul per block over the
    Arrow batch, argmin over codewords — encode cost is BLAS-bound."""
    from pyspark.sql.functions import pandas_udf

    mats = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sq = [(m * m).sum(axis=1) for m in mats]
    subdim = mats[0].shape[1]

    @pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        V = np.array([np.asarray(x, dtype=np.float64) for x in v])
        if V.size == 0:
            return pd.Series([], dtype=object)
        codes = np.empty((V.shape[0], len(mats)), dtype=np.int32)
        for b, (C, c_sq) in enumerate(zip(mats, sq)):
            sub = V[:, b * subdim:(b + 1) * subdim]
            codes[:, b] = np.argmin(c_sq - 2.0 * (sub @ C.T), axis=1)
        return pd.Series(list(codes))

    return encode(vec_col)


def pq_build(corpus: DataFrame, dim: int, n_blocks: int = 8,
             k_codes: int = 16, vec_col: str = "embedding",
             id_col: str = "vec_id", seed: int = 42,
             sample_fraction: float | None = None, max_iter: int = 10):
    """Train per-block codebooks and encode the corpus.

    Returns (codes_df, codebooks): ``codes_df`` is (id, code0..code{B-1})
    — the compressed index; ``codebooks[b]`` is a k_codes×subdim list.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    subdim = dim // n_blocks
    train = corpus
    if sample_fraction is not None:
        train = corpus.sample(fraction=sample_fraction, seed=seed)

    codebooks = []
    for b in range(n_blocks):
        sub = train.select(
            array_to_vector(
                F.slice(F.col(vec_col), b * subdim + 1, subdim)
                .cast("array<double>")
            ).alias("__features")
        )
        model = KMeans(k=k_codes, seed=seed + b, maxIter=max_iter,
                       featuresCol="__features").fit(sub)
        codebooks.append([c.tolist() for c in model.clusterCenters()])

    # one codegen'd expression per block stays in whole-stage codegen
    # only while the *combined* projection is small; past that Spark
    # silently drops to interpreted eval (~6× slower) — so any
    # non-trivial codebook set encodes via the batched numpy UDF
    if n_blocks * k_codes * subdim <= 512:
        code_cols = [
            assign_centroids(
                codebooks[b],
                F.slice(F.col(vec_col), b * subdim + 1, subdim)
                .cast("array<double>"),
            ).alias(f"code{b}")
            for b in range(n_blocks)
        ]
        codes = corpus.select(F.col(id_col), *code_cols)
    else:
        codes = corpus.select(
            F.col(id_col),
            pq_encode_udf(
                codebooks, F.col(vec_col).cast("array<double>")
            ).alias("__codes"),
        ).select(
            F.col(id_col),
            *[F.element_at("__codes", b + 1).alias(f"code{b}")
              for b in range(n_blocks)],
        )
    return codes, codebooks


def pq_lut(codebooks: list, query_vec: list) -> list[float]:
    """The query's flat ADC lookup table: entry ``b·k_codes + c`` is
    ``<query_b, codebooks[b][c]>`` as a left-to-right python sum."""
    subdim = len(codebooks[0][0])
    return [sum(float(q) * float(c) for q, c in
                zip(query_vec[b * subdim:(b + 1) * subdim], codeword))
            for b, cb in enumerate(codebooks) for codeword in cb]


def pq_score(lut: list[float] | str, n_blocks: int, k_codes: int,
             round_digits: int | None = 6) -> Column:
    """ADC: ``Σ_b lut[b·k_codes + code_b]`` left-to-right over the
    ``code0..`` columns. ``lut`` is the literal table — each block's
    slice inlined as its own array literal — or the name of an
    ``array<double>`` column; the lookups return the same doubles.
    One JVM-parsed SQL string: the Column build costs
    n_blocks·k_codes py4j literal round trips per query."""
    def term(b: int) -> str:
        if isinstance(lut, str):
            return f"element_at(`{lut}`, {b * k_codes} + `code{b}` + 1)"
        block = lut[b * k_codes:(b + 1) * k_codes]
        return f"element_at({_lit_array_sql(block)}, `code{b}` + 1)"
    score = F.expr(" + ".join(term(b) for b in range(n_blocks)))
    return score if round_digits is None else F.round(score, round_digits)


def pq_search(codes: DataFrame, codebooks: list, query_vec: list,
              k: int = 5, id_col: str = "vec_id",
              round_digits: int | None = 6) -> DataFrame:
    """ADC top-k over the compressed index for one full-precision
    query vector (python list): ``pq_score`` with its table inlined."""
    scored = codes.select(F.col(id_col), pq_score(
        pq_lut(codebooks, query_vec), len(codebooks), len(codebooks[0]),
        round_digits).alias("score"))
    return global_topk(scored, [("score", False), (id_col, True)], k)


def ivfpq_search(assigned_codes: DataFrame, centroids: DataFrame,
                 codebooks: list, corpus: DataFrame, query_vec: list,
                 k: int = 5, nprobe: int = 4, rescore: int = 50,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 round_digits: int | None = 6,
                 probe_ids: list[int] | None = None) -> DataFrame:
    """Composed IVF+PQ retrieval (the FAISS IVFPQ shape):

    1. probe the ``nprobe`` nearest coarse centroids (partition-pruned
       scan of the *code* table — 8 bytes/row);
    2. ADC-score the probed codes, shortlist ``rescore`` candidates;
    3. exact cosine rescoring of the shortlist against the original
       vectors (a semi-join fetch of ``rescore`` rows), final top-k.

    At 100 TB: step 2 touches compressed codes only (fits in memory),
    step 3 reads ``rescore`` full vectors — the expensive scan never
    happens.

    ``probe_ids``: pre-computed probe cells (callers holding the
    centroids driver-side — the deterministic tiers — skip the ≤k-row
    probe job entirely; same literal-probe policy as the LSH bucket
    predicates).
    """
    from pyspark.sql import functions as F

    from ..functions.vector import cosine_unrolled

    spark = assigned_codes.sparkSession
    dim = len(query_vec)
    qdf = local_literal_df(
        spark, [(query_vec,)], "query_vec array<double>")

    if probe_ids is None:
        # probe by squared euclidean — the assignment metric (a
        # dot-product ranking can miss the query's own Voronoi cell on
        # non-normalized corpora, dropping the true neighbors before
        # rescore ever runs)
        probed = global_topk(
            centroids.join(F.broadcast(qdf))
            .withColumn(
                "cdist",
                F.aggregate(
                    F.zip_with(F.col("centroid"), F.col("query_vec"),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda a, x: a + x,
                ),
            )
            .select("centroid_id", "cdist"),
            [("cdist", True), ("centroid_id", True)],
            nprobe,
        )
        probe_ids = [r.centroid_id for r in probed.collect()]

    candidates = assigned_codes.filter(F.col("centroid_id").isin(probe_ids))
    shortlist = pq_search(candidates, codebooks, query_vec, k=rescore,
                          id_col=id_col, round_digits=None)

    fetched = corpus.join(
        F.broadcast(shortlist.select(id_col)), on=id_col, how="left_semi"
    )
    score = cosine_unrolled(vec_col, "query_vec", dim)
    if round_digits is not None:
        score = F.round(score, round_digits)
    exact = (
        fetched.join(F.broadcast(qdf))
        .select(F.col(id_col), score.alias("score"))
    )
    return global_topk(exact, [("score", False), (id_col, True)], k)


def pq_code_sql(codebook: list, vec_sql: str, off: int) -> str:
    """One block's nearest-codeword id as a JVM-parseable SQL string
    in the LOOP shape: distances as a ``transform`` over the codebook
    array literal — each a ``zip_with`` + ``aggregate`` fold-sum of
    (x−c)², bit-equal to the unrolled left-assoc chain (a left fold
    from 0.0 equals it; the operators/pca.py proven pairing) — then
    argmin via ``array_position(dists, array_min(dists))``, the same
    first-minimum tie-break as the oracle's ``list_position``.

    Why loop-shaped and not the fully-unrolled struct form: the
    unrolled tree is O(k·subdim) expression NODES, and janino blows
    the driver heap compiling it at large shapes (measured: OOM at
    128 codes × 64-d and at the 768-d defaults, 16×16×48). This form
    is O(1) nodes over two constant-folded array literals, so plan
    size is independent of the codebook. The string form costs ~ms to
    build where the Column form costs ~k·subdim·5 py4j round trips
    (measured 10 s at 8×16×8)."""
    from ..functions.vector import _lit_array_sql

    subdim = len(codebook[0])
    cb = "array(" + ", ".join(_lit_array_sql(cw) for cw in codebook) + ")"
    sub = (f"slice(CAST({vec_sql} AS ARRAY<DOUBLE>), {off + 1}, "
           f"{subdim})")
    dists = (f"transform({cb}, cw -> aggregate(zip_with({sub}, cw, "
             f"(x, c) -> (x - c) * (x - c)), CAST(0.0 AS DOUBLE), "
             f"(a, x) -> a + x))")
    return (f"CAST(array_position({dists}, array_min({dists})) - 1 "
            f"AS INT)")


def rotation_fold_sql(R: list, vec_sql: str) -> str:
    """OPQ rotation as the FOLD-shape SQL expression (bit-equal to
    the unrolled left-assoc chain — operators/pca.py's past-the-gate
    branch; the d×d unrolled form overflows janino's method budget):
    component j is ``aggregate(zip_with(x·R[:,j]))`` over the
    zero-centered cast array, pairing exactly with the oracle's
    ``list_dot_product`` over ``CAST(e[i] AS DOUBLE) - 0.0``."""
    from ..functions.vector import _lit_array_sql

    d = len(R)
    ce = (f"zip_with(CAST({vec_sql} AS ARRAY<DOUBLE>), "
          f"{_lit_array_sql([0.0] * d)}, (x, m) -> x - m)")
    comps = [
        f"aggregate(zip_with({ce}, "
        f"{_lit_array_sql([R[i][j] for i in range(d)])}, "
        f"(x, w) -> x * w), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        for j in range(d)]
    return "array(" + ", ".join(comps) + ")"


def pq_encode_frame(df: DataFrame, codebooks: list,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    carry_cols: tuple = (),
                    rotation: list | None = None) -> DataFrame:
    """Encode a frame with FROZEN codebooks (the catalog sidecar
    writer — the PQ analog of ``sq_encode``): one scan-local
    projection producing ``(id, carry..., code0..code{B-1})``. With
    ``rotation`` (OPQ), rows rotate first through the fold-shape
    expression and the argmin runs over the rotated doubles — same
    float shapes as the ``ann_opq_top5`` builder, so a DuckDB oracle
    re-derives identical codes."""
    n_blocks = len(codebooks)
    subdim = len(codebooks[0][0])
    src = f"`{vec_col}`"
    if rotation is not None:
        df = df.selectExpr(
            *[f"`{c}`" for c in (id_col, *carry_cols)],
            f"{rotation_fold_sql(rotation, src)} AS __rot",
        )
        src = "`__rot`"
        df = df.localCheckpoint(eager=True)  # don't re-rotate per block
    return df.selectExpr(
        *[f"`{c}`" for c in (id_col, *carry_cols)],
        *[f"{pq_code_sql(codebooks[b], src, b * subdim)} AS code{b}"
          for b in range(n_blocks)],
    )
