"""Streaming workload entries.

The reference is batch-only (SURVEY §2.9); the idiomatic Spark upgrade
for its incremental high-watermark macro is Structured Streaming with
``Trigger.AvailableNow`` over the landing directory. These queries run a
real streaming pipeline to completion (memory sink) and return the
result as a DataFrame, so the driver's DuckDB oracle can hash-match a
batch-SQL equivalent — i.e. the streaming path is held to the same
correctness bar as batch.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import events_stream, q, table


#: State partitions for the stateful streaming queries. A stateful
#: streaming query's per-microbatch floor is LINEAR in its shuffle
#: partition count: each partition is an HDFS-backed state-store
#: instance paying open/commit/snapshot per batch, regardless of data
#: (measured on q_stream_join at sf0.1, best-of-3: 32 partitions
#: 8.46 s, 16 -> 4.49 s, 8 -> 2.7 s, 4 -> 2.31 s — ~0.26 s per
#: partition; NOTES_r7). Batch queries want partitions ~ cores, but a
#: streaming query's partition count is a per-checkpoint PINNED choice
#: that should be sized to stream volume: at these volumes 8 is ample,
#: and at 100 TB you raise it before first start (it cannot change
#: without a new checkpoint).
STREAM_STATE_PARTITIONS = 8


@contextlib.contextmanager
def _state_partitions(spark: SparkSession, n: int = STREAM_STATE_PARTITIONS):
    """Scope ``spark.sql.shuffle.partitions`` to one streaming query.
    The conf is read when the query STARTS; restoring it after
    awaitTermination keeps the session's batch parallelism untouched
    (results are identical either way — only state-store instance
    count changes)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@q(
    "q_stream_hourly",
    """
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over a file stream, run to completion.

    readStream(parquet) → window(1 hour) agg → memory sink (complete).
    Watermarking is omitted because the batch oracle must see every row
    (watermarked streams are exercised by q_stream_join).
    """
    name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value_dec"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
            "n",
            F.col("total_value_dec").cast("double").alias("total_value"),
        )
    )
    with _state_partitions(spark):
        query = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(name)


@q(
    "q_stream_join",
    """
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
         p AS (SELECT * FROM events WHERE event_type = 'purchase')
    SELECT p.user_id,
           p.event_id AS left_id,
           c.event_id AS right_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 2 HOUR
     AND c.ts <= p.ts
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run to completion: click→purchase
    attribution within a 2-hour lookback, per user. Two independent
    file streams; watermarks + a two-sided event-time bound keep the
    join state finite (streaming/incremental.py stream_interval_join).
    AvailableNow processes the single landing file in one micro-batch,
    so the watermark drops nothing and the batch oracle sees the same
    rows.
    """
    from ..streaming.incremental import stream_interval_join

    name = f"stream_join_{uuid.uuid4().hex[:8]}"
    purchases = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    clicks = events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    joined = stream_interval_join(purchases, clicks)
    with _state_partitions(spark):
        query = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(name)


@q(
    "q_cdc_stream",
    """
    WITH ch AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM ch
    )
    SELECT user_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value
    FROM ranked
    WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_cdc_apply, held to the SAME batch oracle: the
    event changelog is split into three files and streamed one file per
    micro-batch through stream_cdc_sink (foreachBatch cdc_state_merge
    into versioned parquet snapshots), then the committed snapshot is
    read back. Micro-batch boundaries don't respect event order —
    round-robin repartition scatters each user's changes across batches
    — so a hash match here proves the sequence-aware merge, not just the
    compaction. Temp dirs live under /tmp per run (the memory-sink
    analogue for a directory-shaped sink)."""
    import tempfile

    from ..streaming.incremental import read_cdc_snapshot, stream_cdc_sink

    base = tempfile.mkdtemp(prefix="q_cdc_stream_")
    ev = table(spark, sf_dir, "events")
    changes = ev.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    changes.repartition(3).write.parquet(f"{base}/in")
    schema = spark.read.parquet(f"{base}/in").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{base}/in")
    )
    with _state_partitions(spark):
        stream_cdc_sink(
            stream, f"{base}/snap", f"{base}/ckpt",
            key_cols=["user_id"], seq_cols=["ts", "event_id"],
        )
    snap = read_cdc_snapshot(spark, f"{base}/snap")
    return snap.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )
