"""Vector column functions (dense + multivector).

The reference declares ``Distance.COSINE`` for every collection
(``with_vdr-2b-multi-v1/incremental_indexing_vdr_2b_multi_v1.py:80-83``,
``with_jina_text_v4/jina_v4_text_indexer.py:67-71``) and MaxSim for
multivector collections
(``with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:128-130``);
the actual math runs inside the Qdrant server. Here the same scoring is
expressed as JVM-side Catalyst expressions (``zip_with`` +
``aggregate``) so the KNN hot path needs no Python at all and stays
inside whole-stage codegen.

Numeric discipline: everything is cast to double and summed
left-to-right, which makes scores bit-reproducible against the DuckDB
oracle's ``list_dot_product(a::DOUBLE[], b::DOUBLE[])``; oracle-checked
queries additionally round scores (default 6 dp) to absorb any residual
last-ulp differences.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["as_double", "dot", "l2_norm", "cosine", "l2_normalize",
           "cosine_prenorm", "dot_unrolled", "cosine_unrolled",
           "euclid", "euclid_unrolled", "manhattan", "manhattan_unrolled",
           "mean_pool_flat", "operand_col"]

# --- operand polymorphism for the unrolled builders ----------------------
#
# Building a dim-64 unrolled expression out of pyspark Column objects
# costs ~1000 py4j round-trips (~1s of driver time PER SCORE, before
# any data moves). When an operand is a column NAME or a LITERAL
# vector, the whole expression can instead be rendered as one SQL
# string and parsed JVM-side by a single `F.expr` call (~ms). The SQL
# is written so the parsed tree is value-identical to the Column
# build: `+` is left-associative in SQL exactly as the Python loop
# folds it, every element access is double-typed, and literals use
# Python repr (shortest round-trip form, re-parsed by Java
# Double.parseDouble which is correctly rounded) — so bit-parity with
# the DuckDB oracle is preserved.


def _sql_operand(x: Column | str | Sequence[float]) -> str | list[float] | None:
    """Normalize a SQL-expressible operand: a column name becomes a
    cast SQL fragment, a literal vector becomes a float list (indexed
    driver-side — inlining a 64-element array constructor per term
    would hand Catalyst ~dim² literal nodes to fold). None = needs the
    Column path."""
    if isinstance(x, str):
        return f"CAST(`{x}` AS ARRAY<DOUBLE>)"
    if isinstance(x, Sequence):
        vals = [float(v) for v in x]
        if not all(math.isfinite(v) for v in vals):
            return None  # nan/inf have no SQL literal; Column path
        return vals
    return None


def operand_col(x: Column | str | Sequence[float]) -> Column:
    """Column form of an operand for the loop paths: a name casts, a
    finite literal vector is ONE JVM-parsed array literal (not the
    ~dim py4j round-trips of ``F.array(*[F.lit(v) ...])``)."""
    if isinstance(x, str):
        return F.col(x).cast("array<double>")
    if isinstance(x, Sequence):
        vals = [float(v) for v in x]
        if all(math.isfinite(v) for v in vals):
            return F.expr(_lit_array_sql(vals))
        return F.array(*[F.lit(v) for v in vals])
    return x.cast("array<double>")


# The one width gate of every unrolled scorer: past it the builders
# return their loop-shaped twins (aggregate(zip_with(...))) — the same
# left-to-right float64 fold, so the same bits. The loop form keeps a
# literal query as ONE referenced constant, so its generated code does
# not depend on the query (no class compiled per search) and stays
# O(1) in dim however often the optimizer copies the expression (a
# score_threshold filter pushed through the projection inlines it
# twice). The unrolled sum skips zip_with's per-row array but its code
# grows with dim: janino's 64 KB method limit drops the whole stage to
# interpreted somewhere between 512 and 768 terms, and long before
# that its codegen costs more than it saves. Median process-tree CPU
# (JIT compiler threads excluded) per top-10 search over a cached
# corpus, 5 warm searches per cell, 4 cores, Spark 4.1.2; a range is
# two runs (``python stress.py scorer <rows> <dim>``):
#
#   rows x dim  frame+unrolled  literal+unrolled  literal+loop  frame+loop
#   1k x 16          300 ms          200 ms          190 ms       240 ms
#   1k x 32          430-450         280-290         220-250      290-310
#   1k x 64          570-630         450-560         240          280-330
#   1k x 128         1,090           800             310          280
#   100k x 16        320-370         450-540         640-720      820-900
#   100k x 32        430-460         760-800         1,140-1,320  1,360-1,510
#   100k x 64        3,040           2,160           1,990        2,170
#   100k x 128       5,750           3,990           3,470        3,820
#
# Unrolling wins only on large scans at <= 32 dims; the loop form
# wins at 64 dims and wider at every size.
_UNROLL_MAX_DIM = 32


def _operand_sql_frag(x: str | list[float]) -> str:
    """SQL fragment for a normalized `_sql_operand` result: column
    fragments pass through, literal vectors render as ONE array
    literal (constant-folded to a single Literal — referenced, not
    inlined, by codegen)."""
    return x if isinstance(x, str) else _lit_array_sql(x)


def _lit_array_sql(vals: Sequence[float]) -> str:
    """One SQL array literal (constant-folded by Catalyst to a single
    Literal — referenced, not inlined, by codegen)."""
    return "array(" + ", ".join(f"{float(v)!r}D" for v in vals) + ")"


def _elem(x: str | list[float], i: int) -> str:
    """SQL for element i (1-based) of an operand: an ``element_at``
    on a column fragment, or a bare double literal (repr round-trips
    exactly through Double.parseDouble)."""
    return (f"element_at({x}, {i})" if isinstance(x, str)
            else f"{x[i - 1]!r}D")


def _dot_sql(a: str | list[float], b: str | list[float], dim: int) -> str:
    return " + ".join(
        f"({_elem(a, i)} * {_elem(b, i)})" for i in range(1, dim + 1)
    )


def as_double(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Elementwise product summed left-to-right in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two (unnormalized) double arrays."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_prenorm(a: Column, b: Column) -> Column:
    """Cosine when both sides are already unit-normalized: plain dot.

    Mirrors Qdrant's upsert-time normalization for COSINE collections —
    normalize once at write, score with a dot product at query time.
    """
    return dot(a, b)


def l2_normalize(a: Column) -> Column:
    """Unit-normalize an array<double> column (write-path helper)."""
    n = l2_norm(a)
    return F.transform(a, lambda x: x / n)


def dot_unrolled(a: Column | str | Sequence[float],
                 b: Column | str | Sequence[float], dim: int) -> Column:
    """Statically-unrolled dot product for a known dimension.

    ``element_at`` products summed left-to-right — the exact same
    addition order as ``dot`` (aggregate's ``0 + x1 + x2 + …``), so
    results are bit-identical, but without the per-row array
    allocation of ``zip_with``. That pays only on large scans at
    narrow widths; past ``_UNROLL_MAX_DIM`` (measured table there) the
    loop form is returned. Use whenever the collection's dim is known
    (it always is — collections declare it at creation, SURVEY.md
    §1.1).

    Operands may be column NAMES or literal vectors — then the whole
    expression is one JVM-parsed SQL string (single py4j call) instead
    of ~dim×5 Column round-trips; pass Columns only when a name can't
    address the operand."""
    if dim > _UNROLL_MAX_DIM:
        return dot(operand_col(a), operand_col(b))
    sa, sb = _sql_operand(a), _sql_operand(b)
    if sa is not None and sb is not None:
        return F.expr(_dot_sql(sa, sb, dim))
    a, b = operand_col(a), operand_col(b)
    s = None
    for i in range(1, dim + 1):
        term = F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
        s = term if s is None else s + term
    return s


def cosine_unrolled(a: Column | str | Sequence[float],
                    b: Column | str | Sequence[float], dim: int) -> Column:
    """Unrolled cosine — bit-identical to ``cosine`` (same op order);
    past ``_UNROLL_MAX_DIM`` returns the loop form (same bits)."""
    if dim > _UNROLL_MAX_DIM:
        return cosine(operand_col(a), operand_col(b))
    sa, sb = _sql_operand(a), _sql_operand(b)
    if sa is not None and sb is not None:
        return F.expr(
            f"({_dot_sql(sa, sb, dim)}) / (SQRT({_dot_sql(sa, sa, dim)})"
            f" * SQRT({_dot_sql(sb, sb, dim)}))")
    a, b = operand_col(a), operand_col(b)
    return dot_unrolled(a, b, dim) / (
        F.sqrt(dot_unrolled(a, a, dim)) * F.sqrt(dot_unrolled(b, b, dim))
    )


def euclid(a: Column, b: Column) -> Column:
    """Euclidean distance (Qdrant ``Distance.EUCLID``): squared diffs
    summed left-to-right, then sqrt — same numeric discipline as
    ``dot``."""
    return F.sqrt(F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    ))


def euclid_unrolled(a: Column | str | Sequence[float],
                    b: Column | str | Sequence[float], dim: int) -> Column:
    """Unrolled euclidean — bit-identical to ``euclid`` (same op
    order), no per-row array allocation; past ``_UNROLL_MAX_DIM``
    returns the loop form (same bits)."""
    if dim > _UNROLL_MAX_DIM:
        return euclid(operand_col(a), operand_col(b))
    sa, sb = _sql_operand(a), _sql_operand(b)
    if sa is not None and sb is not None:
        terms = " + ".join(
            "({d} * {d})".format(d=f"({_elem(sa, i)} - {_elem(sb, i)})")
            for i in range(1, dim + 1))
        return F.expr(f"SQRT({terms})")
    a, b = operand_col(a), operand_col(b)
    s = None
    for i in range(1, dim + 1):
        d = F.element_at(a, i).cast("double") - F.element_at(b, i).cast("double")
        term = d * d
        s = term if s is None else s + term
    return F.sqrt(s)


def manhattan(a: Column, b: Column) -> Column:
    """Manhattan / L1 distance (Qdrant ``Distance.MANHATTAN``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def manhattan_unrolled(a: Column | str | Sequence[float],
                       b: Column | str | Sequence[float], dim: int) -> Column:
    if dim > _UNROLL_MAX_DIM:
        return manhattan(operand_col(a), operand_col(b))
    sa, sb = _sql_operand(a), _sql_operand(b)
    if sa is not None and sb is not None:
        terms = " + ".join(
            f"ABS({_elem(sa, i)} - {_elem(sb, i)})"
            for i in range(1, dim + 1))
        return F.expr(terms)
    a, b = operand_col(a), operand_col(b)
    s = None
    for i in range(1, dim + 1):
        term = F.abs(
            F.element_at(a, i).cast("double") - F.element_at(b, i).cast("double")
        )
        s = term if s is None else s + term
    return s


def mean_pool_flat(col: Column, dim: int) -> Column:
    """Mean-pool a *flat* multivector (length n×dim) down to one
    dim-length vector: ``pooled[j] = mean_i v[i·dim + j]``. Pure
    Catalyst (nested aggregate over a sequence) — the pooling pass is
    a projection over the scan, used to give multivector collections a
    single routing vector for the IVF coarse stage."""
    n = (F.size(col) / dim).cast("int")
    return F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: F.aggregate(
            F.sequence(F.lit(0), n - 1),
            F.lit(0.0).cast("double"),
            lambda acc, i: acc + F.element_at(col, i * dim + j).cast("double"),
        ) / n,
    )
