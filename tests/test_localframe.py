"""local_literal_df: JVM LocalRelation twin of createDataFrame for
driver-side literal rows (functions/localframe.py). Pins value parity,
type parity, the LocalTableScan plan shape (no Python-RDD scan), and
the fallback for rows SQL literals can't express. literal_in: the
one-call ``IN`` twin of ``Column.isin`` selects the same rows."""

import math

import pytest
from pyspark.sql import Row

from image_indexing_and_retrival_with_qdrant_spark.functions.localframe import (
    literal_in,
    local_literal_df,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


CASES = [
    ([([0.1 * i for i in range(8)],)], "query_vec array<double>"),
    ([(0, [1.5, -2.5]), (1, [float("5e-324"), 1e300])],
     "query_idx int, query_vec array<double>"),
    ([([[1.0, 2.0], [3.0, 4.0]],)], "query_vectors array<array<double>>"),
    ([("it's a 'test' \\ with backslash",), ("plain",)], "text string"),
    ([("term", 3), ("other", 2**40)], "term string, qtf bigint"),
    ([(True, 7)], "flag boolean, n int"),
]


@pytest.mark.parametrize("rows,ddl", CASES)
def test_value_and_type_parity(spark, rows, ddl):
    a = local_literal_df(spark, rows, ddl)
    b = spark.createDataFrame(rows, ddl)
    assert a.collect() == b.collect()
    # nullability may tighten (literals are provably non-null — an
    # information-only difference invisible to values and oracles);
    # names and types must be identical
    assert [(f.name, f.dataType.simpleString()) for f in a.schema.fields] == \
           [(f.name, f.dataType.simpleString()) for f in b.schema.fields]
    # the whole point: no Python-RDD scan in the plan
    p = _plan(a)
    assert "ExistingRDD" not in p and "LocalTableScan" in p, p


def test_fallback_paths(spark):
    # None, NaN, nested Row (struct cell), empty input, empty array:
    # all must fall back to createDataFrame and stay value-correct
    for rows, ddl in [
        ([(None,)], "x string"),
        ([(float("nan"),)], "x double"),
        ([(Row(a=1),)], "x struct<a:int>"),
        ([], "x string"),
        ([([],)], "x array<double>"),
    ]:
        a = local_literal_df(spark, rows, ddl)
        b = spark.createDataFrame(rows, ddl)
        got, want = a.collect(), b.collect()
        if rows and isinstance(rows[0][0], float):
            assert math.isnan(got[0][0]) and math.isnan(want[0][0])
        else:
            assert got == want


def test_size_cap_falls_back(spark):
    # corpus-scale collected results (streaming drains: 39k-95k rows)
    # must NOT become a driver-parsed SQL literal — above the row cap
    # the function returns the createDataFrame form (r11 verdict #1)
    from image_indexing_and_retrival_with_qdrant_spark.functions import (
        localframe,
    )

    n = localframe._MAX_LITERAL_ROWS
    big = [(i, float(i)) for i in range(n + 1)]
    df = local_literal_df(spark, big, "k int, v double")
    assert "LocalTableScan" not in _plan(df)
    assert df.count() == n + 1
    # at the cap the literal path still applies
    at_cap = [(i, float(i)) for i in range(64)]
    df2 = local_literal_df(spark, at_cap, "k int, v double")
    assert "LocalTableScan" in _plan(df2)
    assert df2.collect() == spark.createDataFrame(
        at_cap, "k int, v double").collect()


def test_char_cap_falls_back(spark):
    # a few rows of very wide arrays can also exceed the driver-parse
    # budget; the char cap catches what the row cap does not
    from image_indexing_and_retrival_with_qdrant_spark.functions import (
        localframe,
    )

    wide = [([float(i) + 0.123456789 for i in range(20_000)],)
            for _ in range(8)]
    df = local_literal_df(spark, wide, "v array<double>")
    assert "LocalTableScan" not in _plan(df)
    assert df.count() == 8
    assert localframe._MAX_LITERAL_CHARS >= 1 << 20


def test_accepts_struct_type_schema(spark):
    src = spark.createDataFrame([(1, "a", 0.5)], "id bigint, s string, v double")
    rows = src.collect()
    a = local_literal_df(spark, rows, src.schema)
    assert a.collect() == rows
    assert [f.dataType.simpleString() for f in a.schema.fields] == \
           [f.dataType.simpleString() for f in src.schema.fields]


def _ids(df, col):
    return sorted(r[col] for r in df.collect())


def test_literal_in_matches_isin_on_bigint_ids(spark):
    from pyspark.sql import functions as F

    big = [2**31, 2**40 + 7, 2**62, -(2**31) - 5, -(2**40)]
    ids = [*range(-50, 50), *big]
    df = spark.createDataFrame([(i,) for i in ids], "id bigint")
    pick = [-50, -3, 0, 7, 49, 2**31, 2**62, -(2**40), 123456]
    want = _ids(df.filter(F.col("id").isin(pick)), "id")
    assert want == sorted(set(pick) & set(ids))
    assert _ids(df.filter(literal_in("id", pick)), "id") == want
    assert _ids(df.filter(~literal_in("id", pick)), "id") == \
        _ids(df.filter(~F.col("id").isin(pick)), "id")


def test_literal_in_string_ids_with_quotes_and_unicode(spark):
    from pyspark.sql import functions as F

    ids = ["it's", "back\\slash", "tail\\", "'", "\\'", "naïve",
           "日本語", "plain", "emoji 🙂"]
    df = spark.createDataFrame([(i,) for i in ids], "id string")
    pick = ["it's", "back\\slash", "tail\\", "'", "\\'", "日本語",
            "emoji 🙂", "absent"]
    got = _ids(df.filter(literal_in("id", pick)), "id")
    assert got == _ids(df.filter(F.col("id").isin(pick)), "id")
    assert got == sorted(set(pick) & set(ids))


def test_literal_in_empty_matches_nothing(spark):
    df = spark.createDataFrame([(i,) for i in range(5)], "id bigint")
    assert df.filter(literal_in("id", [])).count() == 0
    assert df.filter(~literal_in("id", [])).count() == 5


def test_literal_in_quotes_column_name(spark):
    df = spark.createDataFrame([(i, i * 2) for i in range(6)],
                               "`point id` bigint, `a``b` bigint")
    assert _ids(df.filter(literal_in("point id", [1, 4, 9])),
                "point id") == [1, 4]
    assert _ids(df.filter(literal_in("a`b", [2, 10])), "a`b") == [2, 10]
