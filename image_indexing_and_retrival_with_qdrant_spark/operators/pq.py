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
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from ..functions.localframe import local_literal_df
from ..functions.vector import _lit_array_sql
from .ann import (NEAREST_SQL_MAX, _arrow_rows, ivf_probe_ids, nearest_np,
                  nearest_sql)
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
    """All-block PQ encoding in one Arrow UDF → an ``array<int>`` of
    ``n_blocks`` codes, each block's code ``nearest_np`` over that
    block's slice — the codes ``pq_encode_frame``'s expression form
    gives, at BLAS-class cost for codebooks past ``NEAREST_SQL_MAX``
    (a null vector codes 0 in every block, as there)."""
    mats = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    subdim = mats[0].shape[1]

    @arrow_udf("array<int>")
    def encode(v: pa.Array) -> pa.Array:
        V, valid = _arrow_rows(v, subdim * len(mats))
        codes = np.zeros((len(valid), len(mats)), dtype=np.int32)
        for b, C in enumerate(mats):
            codes[valid, b] = nearest_np(
                V[:, b * subdim:(b + 1) * subdim], C)[1][:, 0]
        offsets = np.arange(0, codes.size + 1, len(mats), dtype=np.int32)
        return pa.ListArray.from_arrays(pa.array(offsets),
                                        pa.array(codes.ravel()))

    return encode(vec_col.cast("array<double>"))


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

    codes = pq_encode_frame(corpus, codebooks, vec_col, id_col)
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
        probe_ids = ivf_probe_ids(centroids, qdf, nprobe)

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
    projection producing ``(id, carry..., code0..code{B-1})``. Each
    block's code is the nearest-centroid rule over its slice: per-block
    ``nearest_sql`` while the whole projection's blocks·k·subdim is ≤
    ``NEAREST_SQL_MAX``, one ``pq_encode_udf`` past it — the same codes
    either way. With ``rotation`` (OPQ), rows rotate first through the
    fold-shape expression and the codes come from the rotated doubles
    — the ``ann_opq_top5`` builder's shapes, so a DuckDB oracle
    re-derives identical codes."""
    n_blocks, k_codes = len(codebooks), len(codebooks[0])
    subdim = len(codebooks[0][0])
    keep = [F.col(f"`{c}`") for c in (id_col, *carry_cols)]
    name = vec_col
    if rotation is not None:
        df = df.select(*keep, F.expr(rotation_fold_sql(
            rotation, f"`{vec_col}`")).alias("__rot"))
        name = "__rot"
        df = df.localCheckpoint(eager=True)  # don't re-rotate per block
    if n_blocks * k_codes * subdim <= NEAREST_SQL_MAX:
        return df.select(*keep, *[F.expr(nearest_sql(
            cb, f"slice(`{name}`, {b * subdim + 1}, {subdim})") + "[0].i"
        ).alias(f"code{b}") for b, cb in enumerate(codebooks)])
    return df.select(*keep, pq_encode_udf(codebooks, F.col(f"`{name}`"))
                     .alias("__codes")).select(*keep, *[
                         F.col("__codes")[b].alias(f"code{b}")
                         for b in range(n_blocks)])
