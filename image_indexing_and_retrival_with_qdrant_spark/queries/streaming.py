"""Streaming registry queries — Structured Streaming twins run to
completion and ORACLE-CHECKED (SURVEY.md §2.7).

A bounded file stream over the events fixture drains through
``processAllAvailable`` into a memory sink, and the sink table is
returned as an ordinary DataFrame — so the SAME DuckDB oracle that
gates the batch query gates the streaming plan (watermarks, streaming
aggregation state, stream-stream join state and all). This is the
strongest correctness signal a streaming operator can carry here:
value-hash parity with an independent engine, not just a pytest
behavior check.

The registered twins pick outputs that are exactly reproducible
through incremental execution: the band join emits integer delays
(join = no re-aggregation), and the tumbling aggregate's sums are
single-batch here (one fixture file per trigger set) with the same
partial/final aggregation tree as the batch plan — verified by the
driver's value hash at sf0.01 and by tests/test_streaming.py at
sf0.001.
"""

from __future__ import annotations

import uuid

from ..functions.localframe import local_literal_df
from pyspark.sql import DataFrame, SparkSession

from ..registry import register

__all__ = ["stream_tumbling_5min", "stream_click_purchase_band",
           "stream_session_windows", "stream_stateful_dedup"]


_STATE_PARTITIONS = 4


def _drain_to_table(stream_df, spark: SparkSession, mode: str) -> DataFrame:
    """Run a bounded stream to completion into a memory sink and return
    the sink table. The sink view stays readable after ``q.stop()`` and
    is never dropped, so the frame outlives the query object with no
    second copy of the rows, and a reduction on it runs as a Spark job
    whose result alone reaches Python.

    ``_STATE_PARTITIONS`` scopes ``spark.sql.shuffle.partitions`` to
    the drain (restored after): a stateful streaming operator
    creates one state-store instance per shuffle partition per
    micro-batch, so the partition count is a deliberate state-sizing
    decision, not a default to inherit. The fixture streams carry a few
    thousand rows; 32 state stores is pure structural overhead
    (measured: the heaviest drain drops ~2×). At scale, size it to
    state volume / executor memory (SCALE.md §Streaming) — the conf is
    fixed at the query's FIRST start and pinned by its checkpoint
    thereafter."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_STATE_PARTITIONS))
    try:
        name = f"strq_{uuid.uuid4().hex[:8]}"
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory").queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@register(
    "stream_tumbling_5min",
    # same oracle as the batch twin events_tumbling_5min
    """
    SELECT CAST(floor(floor(epoch(ts)) / 300) * 300 AS BIGINT) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation (watermarked, complete
    mode) drained to completion — the memory-sink rows must value-hash
    match the batch oracle, pinning the whole streaming agg pipeline:
    file source schema handling, event-time windows, watermark
    bookkeeping, incremental state merge."""
    from ..streaming.windows import stream_events, tumbling_counts

    return _drain_to_table(
        tumbling_counts(stream_events(spark, sf_dir)), spark, "complete")


@register(
    "stream_session_windows",
    # independent DuckDB recomputation of native session-window
    # semantics: exact-microsecond gap islands (epoch_us is BIGINT —
    # no float in the boundary math), session start = first event,
    # merge while inactivity < 30 min
    """
    WITH e AS (
      SELECT user_id, ts, value, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts)
                       - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                       >= 1800000000
                       OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                          IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM e
    )
    SELECT user_id,
           CAST(epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS session_value
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (``session_window`` with a
    30-minute inactivity gap, watermarked, complete mode) drained to
    completion. The oracle recomputes the sessions independently with
    exact-microsecond gap islands, so Spark's merging session-state
    implementation is value-hashed end to end — per-session starts,
    counts, and value sums."""
    from ..streaming.windows import session_aggregate, stream_events

    return _drain_to_table(
        session_aggregate(stream_events(spark, sf_dir)), spark, "complete")



@register(
    "stream_click_purchase_band",
    # same oracle as the batch twin events_click_purchase_band
    """
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, CAST(floor(epoch(ts)) AS BIGINT) AS c_sec
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, event_id AS purchase_id, CAST(floor(epoch(ts)) AS BIGINT) AS p_sec
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.click_id, p.purchase_id,
           CAST(p.p_sec - c.c_sec AS BIGINT) AS delay_sec
    FROM clicks c JOIN purchases p
      ON c.user_id = p.user_id
     AND p.p_sec - c.c_sec > 0 AND p.p_sec - c.c_sec <= 600
    """,
)
def stream_click_purchase_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (watermarked both sides, append
    mode) drained to completion: purchases within 10 minutes after a
    click by the same user. Integer outputs — exactly reproducible
    through incremental join-state execution, so the batch oracle
    gates the streaming join bit-for-bit."""
    from ..streaming.windows import stream_events, stream_stream_band_join

    ev = stream_events(spark, sf_dir)
    clicks = ev.filter(ev.event_type == "click")
    purchases = ev.filter(ev.event_type == "purchase")
    return _drain_to_table(
        stream_stream_band_join(clicks, purchases), spark, "append")


@register(
    "stream_stateful_dedup",
    # integer-exact oracle: in-flight dedup of a twice-delivered
    # stream must reduce to exactly the original events
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (native ``StreamingDeduplicateExec``)
    under the oracle: the events file is delivered TWICE as two
    micro-batches (``maxFilesPerTrigger=1`` forces the state to carry
    across batch boundaries), and the in-flight seen-id dedup must emit
    each event exactly once — per-type counts equal the original
    table's. This is the append-only-sink analog of MERGE ingest
    (SURVEY.md §1.4) with the state machinery value-checked, not just
    behavior-tested."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..streaming.stateful import streaming_dedup
    from ..tables import load

    ev = load(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="qd_stream_dedup_")
    try:
        src = os.path.join(root, "src")
        ev.coalesce(1).write.parquet(src)
        for f in os.listdir(src):  # duplicate delivery
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, f),
                            os.path.join(src, "dup_" + f))
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        return _drain_to_table(
            streaming_dedup(stream, key_col="user_id", id_col="event_id"),
            spark, "append",
        ).groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "stream_incremental_index",
    # integer-exact oracle for exactly-once MERGE ingest: after the
    # corpus streams in TWICE (restart + full redelivery), the
    # collection holds one point per distinct text — the honest fix
    # for the reference's duplicate-on-rerun (SURVEY.md §1.4)
    """
    SELECT 'after_first_run' AS step,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_points FROM documents
    UNION ALL
    SELECT 'after_redelivery',
           CAST(COUNT(DISTINCT text) AS BIGINT) FROM documents
    """,
)
def stream_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed streaming MERGE ingest under the oracle: stream
    the documents fixture into a collection (embed → point-build →
    foreachBatch merge-upsert), then re-deliver the whole corpus under
    a FRESH checkpoint — both counts must equal COUNT(DISTINCT text).
    Pins exactly-once semantics through checkpoint restart AND through
    content-level redelivery, driver-stamped instead of pytest-only."""
    import os
    import shutil
    import tempfile

    from ..catalog import create_collection
    from ..sources.embedder import HashEmbedder
    from ..streaming.incremental import incremental_index_stream
    from ..tables import load

    root = tempfile.mkdtemp(prefix="qd_stream_ingest_")
    try:
        src = os.path.join(root, "docs_in")
        load(spark, sf_dir, "documents").write.parquet(src)
        schema = spark.read.parquet(src).schema
        coll = create_collection(os.path.join(root, "colls"), "sdocs", dim=8)
        rows = []
        for step, ckpt in [("after_first_run", "ck1"),
                           ("after_redelivery", "ck2")]:
            q = incremental_index_stream(
                spark, spark.readStream.schema(schema).parquet(src), coll,
                HashEmbedder(dim=8), os.path.join(root, ckpt))
            q.awaitTermination(300)
            rows.append((step, coll.count(spark)))
        return local_literal_df(spark, rows, "step string, n_points long")
    finally:
        shutil.rmtree(root, ignore_errors=True)
