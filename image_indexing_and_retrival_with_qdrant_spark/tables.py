"""Fixture-table loaders.

The driver materializes TPC-H-ish + vector fixture tables as parquet
under ``/root/testdata/sf*/`` (see TESTDATA.md / FIXTURES.md). All
operators take DataFrames, so these loaders are the only place that
knows the on-disk layout. Reading via ``spark.read.parquet`` keeps
predicate pushdown / column pruning available to Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# path -> (mtime, schema), the one schema cache of every parquet read
# (fixture loads and catalog tables/sidecars alike). Creating a parquet
# DataFrame without a schema runs a driver-side footer pass that Spark
# often launches as a 1-task JOB (measured: 40-70 ms + ~150 ms of
# driver gap each; a warm catalog lifecycle query paid ~7 of them
# re-reading sidecars it had just written). The key carries the path's
# mtime: every Spark write — append, overwrite, partitionBy — rewrites
# <root>/_SUCCESS, so a directory's mtime moves on ANY write through
# any engine, and a regenerated fixture file re-infers. The events
# schema depends on the nanosAsLong conf, but load() always sets that
# conf before reading, so its cached schema is stable too.
_SCHEMA_CACHE: dict[str, tuple[int, object]] = {}


def _read_cached(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` with the schema cached per
    (path, mtime)."""
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        return spark.read.parquet(path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == mtime:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[path] = (mtime, df.schema)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column across fixture generations.

    Fixtures have stored ts as TIMESTAMP(NANOS) (which Spark's parquet
    reader surfaces as LongType nanos under
    ``spark.sql.legacy.parquet.nanosAsLong``) or as TIMESTAMP(MICROS)
    (read back as a timestamp type directly). Convert only when ts
    actually read back as a long (integer div — no double rounding).
    Shared by the batch loader (:func:`load`) and the streaming source
    (``streaming.windows.stream_events``) so the two can't drift.
    Works on both batch and streaming DataFrames (schema-only check).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, TimestampNTZType):
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) reads back as
        # TIMESTAMP_NTZ, which watermarks reject
        # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The cast preserves the
        # wall clock under the session timezone, so every downstream
        # expression (unix_timestamp, hour, window) yields identical
        # values — batch oracle results are unchanged.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}")
    if name == "events":
        # Set nanosAsLong at runtime so it works under the driver's own
        # session; see normalize_events_ts for the ts handling.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→timestamp cast in normalize_events_ts interprets the
        # wall clock in the session timezone; pin UTC so unix_timestamp/
        # epoch outputs are timezone-independent under any driver-owned
        # session (DuckDB oracle parity).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return normalize_events_ts(
            _read_cached(spark, os.path.join(sf_dir, "events.parquet"))
        )
    return _read_cached(spark, os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL API)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
