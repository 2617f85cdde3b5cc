"""Binary quantization (BQ) — Qdrant's 1-bit compression tier
(``BinaryQuantization`` in the public API; 32× smaller than fp32,
the most aggressive of Qdrant's three quantization options).

Encode: bit j of a vector is 1 iff ``x_j > 0``. Bits pack into 32-bit
words stored as BIGINTs (32 per word keeps every shift well inside
signed-64 range on both engines). Score: symmetric Hamming distance
``Σ_w bit_count(xor(w, q_w))`` — for ±1-binarized vectors the binary
dot is ``dim − 2·hamming``, a monotone transform, so ranking by
Hamming ascending IS ranking by binarized dot descending (Qdrant
scores BQ the same way, then rescores survivors with full vectors).

Everything here is integer math on codegen expressions — no Python,
no randomness, no shuffle before the top-k — so unlike real-valued
approximate tiers the whole path is DuckDB-oracle-checkable exactly,
*including* the composed BQ-shortlist → exact-rescore query.
``bq_score`` is the one Hamming expression: its query operand is the
literal query words (one query) or a column name (a batch's broadcast
``qwords``), so both rank codes with the same integer sum
(operators/quant.py).

Scale: codes are ``dim/8`` bytes/row (64-dim → 16 B vs 512 B fp32);
the compressed index of a 100 TB corpus fits in a fraction of cluster
memory, encode is a map-only projection over the scan, and the
shortlist→rescore pattern fetches only ``shortlist`` full vectors —
the same two-phase shape as PQ/SQ (SCALE.md §ANN tiers).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .topk import global_topk

__all__ = ["bq_encode", "bq_query_words", "bq_score", "bq_search",
           "bq_decode_np"]

_WORD = 32  # bits per packed word


def bq_decode_np(words, dim: int):
    """Unpack (n × n_words) BIGINT sign words to ±1.0 float64 rows —
    the binarized-space geometry. A graph walk over this decode with
    a FULL-PRECISION query is the asymmetric form (the SQ pattern:
    docs compressed, query exact — at least as informative as
    symmetric Hamming, which binarizes the query too). Used by the
    quantized HNSW layouts; build and search share this function."""
    import numpy as np

    W = np.asarray(words, dtype=np.int64)
    X = np.empty((W.shape[0], dim), dtype=np.float64)
    for j in range(dim):
        X[:, j] = np.where((W[:, j // _WORD] >> (j % _WORD)) & 1,
                           1.0, -1.0)
    return X


def _word_expr(vec: Column, word: int, nbits: int) -> Column:
    """One packed word: Σ_bit (x > 0 ? 2^bit : 0) — equivalent to OR
    of distinct bits, expressed as BIGINT addition so both engines
    fold it identically. The last word may hold fewer than 32 bits."""
    s = None
    for bit in range(nbits):
        j = word * _WORD + bit + 1  # 1-based element index
        term = F.when(
            F.element_at(vec, j).cast("double") > 0.0,
            F.lit(1 << bit).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        s = term if s is None else s + term
    return s


def _word_expr_sql(vec: str, word: int, nbits: int) -> str:
    """Loop-shaped twin of :func:`_word_expr`: one ``aggregate`` over
    ``sequence(0, nbits-1)`` instead of nbits inlined CASE branches.
    Value-identical — the terms are distinct powers of two, so the
    BIGINT addition is order-independent and equals the unrolled
    left fold bit for bit. Used past 64 dims: the production-width
    pack (24 words × 32 branches in ONE projection) overflowed
    janino's 64 KB method budget and de-codegen'd the whole encode
    stage (the centroid-argmin lesson, operators/ann.py)."""
    base = word * _WORD
    return (
        f"aggregate(sequence(0, {nbits - 1}), CAST(0 AS BIGINT), "
        f"(a, b) -> a + IF("
        f"CAST(element_at(`{vec}`, {base} + b + 1) AS DOUBLE) > 0.0D, "
        f"shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))")


def bq_encode(corpus: DataFrame, dim: int, vec_col: str = "embedding",
              id_col: str = "vec_id", code_col: str = "bits",
              carry_cols: tuple = ()) -> DataFrame:
    """Pack sign bits into ``ceil(dim/32)`` BIGINT words
    (``array<bigint>``); the final word is partial when 32∤dim.
    ``carry_cols`` ride along unencoded (e.g. ``centroid_id`` when the
    codes sidecar shares the IVF layout). Past 64 dims the words are
    the loop-shaped SQL form (see :func:`_word_expr_sql`); at small
    dims the unrolled expression stays — it codegens fine and inlines
    into the surrounding stage."""
    n_words = (dim + _WORD - 1) // _WORD
    if dim > 64:
        words = [
            F.expr(_word_expr_sql(vec_col, w, min(_WORD, dim - w * _WORD)))
            for w in range(n_words)
        ]
    else:
        v = F.col(vec_col)
        words = [
            _word_expr(v, w, min(_WORD, dim - w * _WORD))
            for w in range(n_words)
        ]
    return corpus.select(F.col(id_col), *[F.col(c) for c in carry_cols],
                         F.array(*words).alias(code_col))


def bq_query_words(query_vec: list) -> list[int]:
    """Driver-side encode of the query (same packing as bq_encode)."""
    out = []
    dim = len(query_vec)
    for w in range((dim + _WORD - 1) // _WORD):
        word = 0
        for bit in range(min(_WORD, dim - w * _WORD)):
            if float(query_vec[w * _WORD + bit]) > 0.0:
                word |= 1 << bit
        out.append(word)
    return out


def bq_score(qwords: list[int] | str, n_words: int,
             code_col: str = "bits") -> Column:
    """Σ_w bit_count(xor(word, q_word)) — left-to-right BIGINT sum.
    ``qwords`` is the literal query words or the name of an
    ``array<bigint>`` column; the sum is the same either way."""
    def qword(w: int) -> str:
        return (f"element_at(`{qwords}`, {w})" if isinstance(qwords, str)
                else f"CAST({int(qwords[w - 1])} AS BIGINT)")
    return F.expr(" + ".join(
        f"CAST(bit_count(element_at(`{code_col}`, {w}) ^ {qword(w)})"
        " AS BIGINT)" for w in range(1, n_words + 1)))


def bq_search(codes: DataFrame, query_vec: list, k: int = 5,
              id_col: str = "vec_id", code_col: str = "bits") -> DataFrame:
    """Top-k by Hamming distance, ascending (≡ binarized dot
    descending). Integer scores — exact, no rounding needed."""
    qwords = bq_query_words(query_vec)
    scored = codes.select(F.col(id_col), bq_score(
        qwords, len(qwords), code_col).alias("hamming"))
    return global_topk(scored, [("hamming", True), (id_col, True)], k)
