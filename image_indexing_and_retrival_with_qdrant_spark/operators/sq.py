"""Scalar quantization (SQ) — Qdrant's int8 compression tier
(``ScalarQuantization(type=int8)`` in the public API; the reference
leaves quantization at the server default, so this is surface parity
with the engine the reference delegates to).

Each dimension is affinely mapped to an 8-bit code against per-dim
corpus (min, max): ``code_j = clamp(floor((x_j − min_j) / step_j), 0,
255)`` with ``step_j = (max_j − min_j) / 256``. Scoring dequantizes on
the fly: ``Σ_j (min_j + (code_j + 0.5)·step_j) · q_j`` — the +0.5
centers each code on its quantization bucket (halves the expected
error vs truncation).

Unlike PQ (KMeans codebooks — approximate by design, rows-only in the
driver), SQ is a **closed-form deterministic** transform: encode,
dequantize, and score are all plain arithmetic, so the whole tier is
DuckDB-oracle-checkable bit-for-bit (floor/least/greatest + double
math on both sides). 4× compression (fp32 → int8) at ~1-2 % score
error on unit vectors; the scale story mirrors PQ: codes live in
memory, full vectors are only read by a rescore stage.

Encode and score are whole-stage-codegen'd expressions (no Python, no
shuffle before the top-k) — encode is a projection over the scan,
exactly like the IVF assignment pass. Both unroll per dim up to a
width gate and take the loop form past it: the encode up to its own
``_ENCODE_UNROLL_MAX_DIM``, the score up to the scorers' shared gate
(``functions/vector.py``). ``sq_score`` is the one ranking
expression: its query operand is a literal vector (one query,
inlined) or a column name (a batch's broadcast ``query_vec``), so
both rank codes with the same float ops (operators/quant.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vector
from ..functions.vector import (
    _elem,
    _lit_array_sql,
    _operand_sql_frag,
    _sql_operand,
)
from .topk import global_topk

__all__ = ["sq_train", "sq_encode", "sq_search", "sq_score", "sq_decode_np",
           "sq_train_flat", "sq_encode_flat"]

# The encode's width gate, wider than the scorers' shared one. The
# encode is an 8-node clamp per dim; with
# spark.sql.codegen.fallback=false the unrolled encode compiles at 128
# dims and fails at 160 ("Code grows beyond 64 KB"), and with the
# fallback on Spark silently runs the whole stage interpreted. Past
# the gate it takes the loop form over constant-folded array literals:
# the same float64 ops, so the same codes. The loop form is not used
# at every width: at 64 dims it encoded 10× slower (median of 3 over
# 400k rows, 4 cores: 2.50 s vs 0.25 s). The score has no such
# exception: at 64 dims its unrolled form was the slower one (top-10
# over 400k cached code rows, median of 3, 4 cores: 3.49 s unrolled vs
# 1.88 s loop, ``python stress.py sqscore 400000 64``), so it takes
# ``functions/vector.py``'s gate like every other scorer.
_ENCODE_UNROLL_MAX_DIM = 128


def sq_decode_np(codes, mins: list[float], steps: list[float]):
    """Dequantize an (n × dim) int code matrix to float64 bucket
    centers: ``min_j + (code_j + 0.5)·step_j`` — the same arithmetic
    ``sq_search`` evaluates in-expression, as one vectorized numpy op
    (used by the quantized HNSW layouts, whose build AND search decode
    through this exact function so the graph and the walk live in the
    same space). A zero-width dimension (step 0) decodes to min."""
    import numpy as np

    C = np.asarray(codes, dtype=np.float64)
    return np.asarray(mins, dtype=np.float64) + \
        (C + 0.5) * np.asarray(steps, dtype=np.float64)


def sq_train(corpus: DataFrame, dim: int,
             vec_col: str = "embedding") -> tuple[list[float], list[float]]:
    """Per-dimension (min, step) from one aggregation pass over the
    corpus. Driver-side result is 2×dim floats — broadcast-as-literals
    territory, like IVF centroids."""
    # one F.expr per agg instead of 4 Column ops each: the Column
    # build was ~400 py4j round trips per train (measured); the parsed
    # SQL is the identical min/max-over-cast expression tree
    aggs = []
    for j in range(1, dim + 1):
        x = f"CAST(element_at(`{vec_col}`, {j}) AS DOUBLE)"
        aggs.append(F.expr(f"min({x}) AS mn{j}"))
        aggs.append(F.expr(f"max({x}) AS mx{j}"))
    row = corpus.agg(*aggs).collect()[0]
    mins = [float(row[f"mn{j}"]) for j in range(1, dim + 1)]
    steps = [(float(row[f"mx{j}"]) - float(row[f"mn{j}"])) / 256.0
             for j in range(1, dim + 1)]
    return mins, steps


def sq_train_flat(corpus: DataFrame, dim: int,
                  vec_col: str = "embedding"
                  ) -> tuple[list[float], list[float]]:
    """Per-dimension (min, step) for FLAT MULTIVECTOR columns (length
    n_vecs×dim, n_vecs may vary per row): dimension j's statistics
    pool over every SUBVECTOR of every row — the int8 params Qdrant
    trains for multivector spaces quantize subvectors, not flat
    positions. Per row the subvector min/max fold through
    ``array_min``/``array_max`` over a position transform (exact for
    min/max regardless of order), then one global agg — a single
    column-pruned pass, same cost shape as ``sq_train``."""
    aggs = []
    for j in range(1, dim + 1):
        per_row = (
            f"transform(sequence(1, size(`{vec_col}`) DIV {dim}), "
            f"b -> CAST(element_at(`{vec_col}`, "
            f"CAST((b-1)*{dim}+{j} AS INT)) AS DOUBLE))")
        aggs.append(F.min(F.expr(f"array_min({per_row})"))
                    .alias(f"mn{j}"))
        aggs.append(F.max(F.expr(f"array_max({per_row})"))
                    .alias(f"mx{j}"))
    row = corpus.agg(*aggs).collect()[0]
    mins = [float(row[f"mn{j}"]) for j in range(1, dim + 1)]
    steps = [(float(row[f"mx{j}"]) - float(row[f"mn{j}"])) / 256.0
             for j in range(1, dim + 1)]
    return mins, steps


def sq_encode_flat(corpus: DataFrame, dim: int, mins: list[float],
                   steps: list[float], vec_col: str = "embedding",
                   id_col: str = "vec_id", code_col: str = "codes",
                   carry_cols: tuple = ()) -> DataFrame:
    """Encode a flat multivector column to PACKED uint8 ``binary``
    codes — 1 byte/element on disk AND in every Arrow hop (4× under
    fp32, 2× under fp16; the halfvec-codec posture applied to codes):
    flat position i quantizes with dim (i mod dim)'s frozen params.
    An ``array<int>`` column would byte-pack on disk but cross Arrow
    as int32 — at ColPali width that hop is the quantized tier's
    dominant byte stream, so the codes pack at write. The clamp/floor
    arithmetic is the same float64 ops as ``sq_encode`` (np.floor ≡
    SQL floor on identical doubles), so the codes — and every
    DuckDB-twin re-derivation — are bit-identical to the Catalyst
    form. Zero-width dims encode 0."""
    import numpy as np

    mn = np.asarray([float(x) for x in mins], dtype=np.float64)
    st = np.asarray([float(x) for x in steps], dtype=np.float64)
    safe = np.where(st == 0.0, 1.0, st)

    @F.pandas_udf("binary")
    def _enc(v: pd.Series) -> pd.Series:
        out = []
        for x in v:
            if x is None:
                out.append(None)
                continue
            if isinstance(x, (bytes, bytearray)):
                # fp16 halfvec storage: decode INSIDE the encoder —
                # one Arrow hop carries the 2-byte cells, not a
                # separate 8-byte float64 decode pass
                X = np.frombuffer(x, dtype=np.float16).astype(
                    np.float64).reshape(-1, dim)
            else:
                X = np.asarray(x, dtype=np.float64).reshape(-1, dim)
            C = np.clip(np.floor((X - mn) / safe), 0, 255)
            C = np.where(st == 0.0, 0.0, C)
            out.append(C.astype(np.uint8).tobytes())
        return pd.Series(out)

    return corpus.select(F.col(id_col),
                         *[F.col(c) for c in carry_cols],
                         _enc(F.col(vec_col)).alias(code_col))


def sq_encode(corpus: DataFrame, mins: list[float], steps: list[float],
              vec_col: str = "embedding", id_col: str = "vec_id",
              code_col: str = "codes",
              carry_cols: tuple = ()) -> DataFrame:
    """Encode to an ``array<int>`` of 8-bit codes (1 byte/dim on disk
    after parquet byte-packing; 4× smaller than fp32). A zero-width
    dimension (min == max) encodes as 0 and dequantizes to min.
    ``carry_cols`` ride along unencoded (e.g. ``centroid_id`` when the
    codes sidecar shares the IVF layout)."""
    # ONE parsed SQL array instead of ~10 Column ops per dim (~660
    # py4j round trips per encode, measured): the same
    # least/greatest/floor int tree, float literals repr-exact
    if len(mins) > _ENCODE_UNROLL_MAX_DIM:
        st = _lit_array_sql(steps)
        x = f"CAST(element_at(`{vec_col}`, j) AS DOUBLE)"
        q = (f"CAST(FLOOR(({x} - element_at({_lit_array_sql(mins)}, j))"
             f" / element_at({st}, j)) AS INT)")
        arr = F.expr(f"transform(sequence(1, {len(mins)}), j -> "
                     f"IF(element_at({st}, j) = 0.0D, 0, "
                     f"least(255, greatest(0, {q}))))")
    else:
        codes = []
        for j, (mn, st) in enumerate(zip(mins, steps), start=1):
            if st == 0.0:
                codes.append("0")
                continue
            x = f"CAST(element_at(`{vec_col}`, {j}) AS DOUBLE)"
            q = (f"CAST(FLOOR(({x} - {float(mn)!r}D) / {float(st)!r}D)"
                 f" AS INT)")
            codes.append(f"least(255, greatest(0, {q}))")
        arr = F.expr("array(" + ", ".join(codes) + ")")
    return corpus.select(F.col(id_col), *[F.col(c) for c in carry_cols],
                         arr.alias(code_col))


def sq_score(mins: list[float], steps: list[float], q: list | str,
             code_col: str = "codes",
             round_digits: int | None = 6) -> Column:
    """Asymmetric dequantize-dot: each code dequantizes to its bucket
    center in-expression, ``Σ_j (min_j + (code_j + 0.5)·step_j)·q_j``
    left-to-right (the oracle's explicit sum). ``q`` is the query
    operand (functions/vector.py rule): a literal vector inlined as
    doubles, or the name of an ``array<double>`` column — the same
    expression either way. One JVM-parsed SQL string: the Column build
    costs ~dim·6 py4j round trips per query."""
    qo = _sql_operand(q)
    if len(mins) > vector._UNROLL_MAX_DIM:
        score = (
            f"aggregate(transform(`{code_col}`, (c, i) -> "
            f"(element_at({_lit_array_sql(mins)}, i + 1)"
            f" + ((CAST(c AS DOUBLE) + 0.5D)"
            f" * element_at({_lit_array_sql(steps)}, i + 1)))"
            f" * element_at({_operand_sql_frag(qo)}, i + 1)), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    else:
        score = " + ".join(
            f"(({float(mn)!r}D + ((CAST(element_at(`{code_col}`, {j}) AS"
            f" DOUBLE) + 0.5D) * {float(st)!r}D)) * {_elem(qo, j)})"
            for j, (mn, st) in enumerate(zip(mins, steps), start=1))
    score = F.expr(score)
    return score if round_digits is None else F.round(score, round_digits)


def sq_search(codes: DataFrame, mins: list[float], steps: list[float],
              query_vec: list, k: int = 5, id_col: str = "vec_id",
              code_col: str = "codes",
              round_digits: int | None = 6) -> DataFrame:
    """Top-k of one full-precision query over the codes: ``sq_score``
    with the query inlined as literals."""
    scored = codes.select(F.col(id_col), sq_score(
        mins, steps, query_vec, code_col, round_digits).alias("score"))
    return global_topk(scored, [("score", False), (id_col, True)], k)
