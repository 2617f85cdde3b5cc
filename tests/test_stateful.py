"""Stateful streaming ops: the native dedup (``dropDuplicates`` on the
JVM state store) and the ``applyInPandasWithState`` running totals."""

import os
import uuid

import pandas as pd
from pyspark.sql import functions as F

from image_indexing_and_retrival_with_qdrant_spark.streaming.stateful import (
    streaming_dedup,
    streaming_running_totals,
)
from image_indexing_and_retrival_with_qdrant_spark.tables import load


def _dup_stream(spark, sf_smoke, tmp_path):
    """events written twice (two files) → a stream with every row
    duplicated across micro-batches."""
    src = str(tmp_path / "dup_events")
    ev = load(spark, sf_smoke, "events").limit(300)
    ev.write.mode("overwrite").parquet(src)
    ev.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src)
    ), ev


def _drain_dedup(stream):
    """Drain ``streaming_dedup(stream)`` into a memory sink; return the
    stopped query and the sink's table name."""
    name = f"d_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_dedup(stream)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q, name


def _batches_stream(spark, tmp_path, *batches):
    """One parquet file per micro-batch, delivered in the given order."""
    src = tmp_path / "batches"
    src.mkdir()
    for i, rows in enumerate(batches):
        pd.DataFrame(rows, columns=["user_id", "event_id"]).to_parquet(
            src / f"part-{i}.parquet", index=False)
        os.utime(src / f"part-{i}.parquet", (1_000_000 + i,) * 2)
    schema = spark.read.parquet(str(src)).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src)))


def test_streaming_dedup_drops_redelivered(spark, sf_smoke, tmp_path, capsys):
    stream, ev = _dup_stream(spark, sf_smoke, tmp_path)
    q, name = _drain_dedup(stream)
    got = spark.sql(f"SELECT COUNT(*) n, COUNT(DISTINCT event_id) d FROM {name}").collect()[0]
    assert got.n == got.d == ev.count()  # every id exactly once
    # the dedup runs on the JVM state store, not in a Python state worker
    capsys.readouterr()
    q.explain()
    plan = capsys.readouterr().out
    assert "StreamingDeduplicate" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan


def test_streaming_dedup_keys_ids_per_key(spark, tmp_path):
    """An id is deduped within its key only: the same event_id under
    two user_ids is two events."""
    _, name = _drain_dedup(_batches_stream(spark, tmp_path, [(1, 7), (2, 7)]))
    rows = sorted(tuple(r) for r in spark.table(name).collect())
    assert rows == [(1, 7), (2, 7)]


def test_streaming_dedup_within_and_across_batches(spark, tmp_path):
    """A repeat inside one micro-batch and a repeat in a later one are
    each dropped exactly once."""
    q, name = _drain_dedup(_batches_stream(
        spark, tmp_path,
        [(1, 10), (1, 10), (1, 11)],  # 10 repeats within the batch
        [(1, 11), (1, 12)],           # 11 repeats across batches
    ))
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [3, 2]
    rows = sorted(tuple(r) for r in spark.table(name).collect())
    assert rows == [(1, 10), (1, 11), (1, 12)]


def test_streaming_running_totals(spark, sf_smoke, tmp_path):
    src = str(tmp_path / "ev")
    ev = load(spark, sf_smoke, "events").limit(200)
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    name = f"r_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_running_totals(stream)
        .writeStream.outputMode("update").format("memory").queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # final state per user == batch aggregation
    want = {
        (r.user_id, r.n): round(r.s, 2)
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    got_rows = spark.sql(
        f"SELECT user_id, n_events, total_value FROM {name}"
    ).collect()
    got = {(r.user_id, r.n_events): r.total_value for r in got_rows}
    for k, v in want.items():
        assert got.get(k) == v
