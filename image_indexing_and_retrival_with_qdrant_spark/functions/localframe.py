"""Pure-JVM local relations for driver-side literal rows.

``spark.createDataFrame(local_rows)`` builds a Python-RDD-backed
DataFrame: EVERY evaluation of the plan (each broadcast build, each
collect) round-trips through a Python worker just to unpickle a
handful of literals. Worse, ``.coalesce(1)`` on such a frame makes one
task evaluate all ``defaultParallelism`` parent partitions
sequentially — measured 6.2 s per evaluation on local[32] vs 0.06 s
for the SQL-literal relation below (and on a 1000-core cluster the
un-coalesced form is a 1000-task job per query vector).

``local_literal_df`` renders the rows as ONE ``VALUES`` SQL literal —
a Catalyst ``LocalRelation``: no Python boundary, no scan job, and a
broadcast of it is driver-local. Values are bit-exact: float ``repr``
round-trips through ``Double.parseDouble`` (the same contract
``functions.vector._elem`` relies on), ints/strings are exact, arrays
nest. Rows any SQL literal can't express (None/NaN/Inf, exotic types)
fall back to ``createDataFrame`` unchanged. The result is reconciled
to the requested schema with ``DataFrame.to``, so column types and
nullability are indistinguishable from the ``createDataFrame`` form.

The literal path is SIZED FOR QUERY FRAMES (1-64 rows). A
corpus-scale collected result re-wrapped through it becomes a
multi-MB SQL string parsed single-threaded on the driver — a
core-count-independent stall at sf0.1 (measured +3-9 s on the
streaming drains, 39k-95k rows) and a driver parse/OOM wall at
larger SF. ``_MAX_LITERAL_ROWS`` / ``_MAX_LITERAL_CHARS`` cap the
path: above either bound the rows fall back to ``createDataFrame``
(the pre-round-11 behavior for those sites), which distributes the
pickled rows instead of parsing them.

``literal_in`` applies the same rendering to a candidate-id filter:
``Column.isin`` sends every value as its own py4j literal (measured
0.48 s for the ~900-id candidate union of one HNSW search), while
``literal_in`` renders one ``col IN (...)`` string the JVM parses in
one call. The analyzed and optimized plans are the same ``In`` /
``InSet`` either way.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["literal_in", "local_literal_df"]

# Query frames are 1-64 rows; the widest intended win (a 64-row batch
# of 64-d query vectors) renders ~80 KB. Both caps sit well above
# that and well below the drain-path pathology (see module docstring).
_MAX_LITERAL_ROWS = 512
_MAX_LITERAL_CHARS = 1 << 20


class _Unrenderable(Exception):
    pass


def _render(v) -> str:
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)" if abs(v) > 2**31 - 1 else str(v)
    if isinstance(v, float):
        if math.isfinite(v):
            return f"{v!r}D"
        raise _Unrenderable(v)
    if isinstance(v, Row):  # a nested STRUCT cell, not an array
        raise _Unrenderable(v)
    if isinstance(v, (list, tuple)):
        if not v:
            raise _Unrenderable(v)  # element type would be NULL
        return "array(" + ", ".join(_render(x) for x in v) + ")"
    raise _Unrenderable(v)


def local_literal_df(spark: SparkSession, rows: list,
                     ddl: str | StructType) -> DataFrame:
    """``spark.createDataFrame(rows, ddl)`` as a JVM LocalRelation
    (see module docstring). ``rows`` are tuples/Rows of str/int/
    float/bool/nested-list values; anything else (None, NaN, structs,
    datetimes, empty input) falls back to ``createDataFrame``."""
    schema = ddl if isinstance(ddl, StructType) else StructType.fromDDL(ddl)
    if not rows or len(rows) > _MAX_LITERAL_ROWS:
        return spark.createDataFrame(rows, ddl)
    try:
        values = ", ".join(
            "(" + ", ".join(_render(v) for v in row) + ")" for row in rows)
    except _Unrenderable:
        return spark.createDataFrame(rows, ddl)
    if len(values) > _MAX_LITERAL_CHARS:
        return spark.createDataFrame(rows, ddl)
    names = ", ".join(f"`{f.name}`" for f in schema.fields)
    df = spark.sql(f"SELECT * FROM (VALUES {values}) AS t({names})")
    return df.to(schema)


def literal_in(col: str, values) -> Column:
    """``F.col(col).isin(values)`` as ONE JVM-parsed ``IN`` literal
    (see module docstring). ``col`` names a top-level column (it is
    backtick-quoted, so any name works); ``values`` are str/int/float/
    bool. An empty ``values`` matches nothing; values no SQL literal
    can express fall back to ``isin``."""
    values = list(values)
    if not values:
        return F.lit(False)
    try:
        items = ", ".join(_render(v) for v in values)
    except _Unrenderable:
        return F.col(col).isin(values)
    return F.expr(f"`{col.replace('`', '``')}` IN ({items})")
