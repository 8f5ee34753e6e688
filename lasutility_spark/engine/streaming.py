"""Structured Streaming stages.

The reference has no streaming (SURVEY.md §2.6) — this module covers the
engine's streaming surface:

- windowed event aggregation with watermarked late-data handling
  (the streaming twin of the ``evt_hourly`` batch query — same results
  when run with availableNow over a static directory),
- a streaming tile-ingest: new image files micro-batched through the
  same decode + cell-id assignment used in batch (foreachBatch reuses
  the batch kernels, so stream/batch parity is by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def events_hourly_stream(
    spark: SparkSession, events_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """readStream over an events parquet directory -> watermarked hourly
    tumbling aggregation (late rows beyond the watermark are dropped)."""
    static = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
    )
    # parquet timestamps load as TIMESTAMP_NTZ; event-time semantics
    # require TIMESTAMP
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias(
                "sum_value_x1000"
            ),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value_x1000",
        )
    )


def events_sessions_stream(
    spark: SparkSession,
    events_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful streaming sessionization: Spark's state-store-backed
    ``session_window`` merges events whose gaps stay under ``gap``; the
    watermark bounds state and closes sessions.  The batch twin is
    pipelines.events.sessions_sql (gaps-and-islands)."""
    static = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
    )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias(
                "sum_value_x1000"
            ),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value_x1000",
        )
    )


def write_batch_idempotent(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Idempotent foreachBatch sink: the micro-batch lands in its own
    ``batch_id=N`` partition via DYNAMIC partition overwrite, so a
    replayed batch (crash after the data write but before the stream
    checkpoint committed the offsets) overwrites its own partition
    instead of appending duplicates.  foreachBatch guarantees a replay
    reuses the same batch_id, which makes offsets-checkpoint + this
    sink end-to-end exactly-once (a blind ``mode("append")`` sink is
    only at-least-once under that crash window)."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def tiles_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    px: int = 64,
    max_files_per_trigger: int = 2,
):
    """Streaming tile ingest: new image files -> the SAME fused
    Delaunay-TIN rasterization kernel as batch, written incrementally.

    foreachBatch hands every micro-batch to the batch-path
    :func:`tin_stage.rasterize_images_fused`, so stream output ==
    batch output row-for-row by construction; the stream checkpoint
    (source offsets) plus the batch_id-keyed idempotent sink
    (:func:`write_batch_idempotent`) gives exactly-once tile
    production across restarts, including mid-batch crash-replay —
    the streaming twin of the checkpoint/resume contract.  Returns
    the started query (caller awaits termination; availableNow drains
    the directory once)."""
    from . import tin_stage

    static = spark.read.parquet(source_dir)  # directory of image parquet files
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tiles = tin_stage.rasterize_images_fused(batch_df, px=px)
        write_batch_idempotent(tiles, out_dir, batch_id)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def user_totals_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    RUNNING totals (event count + value sum) carried across micro-batches
    in the state store — the arbitrary-state API for operators that
    built-in windows can't express (running aggregates, custom decay,
    per-key models).  Draining with availableNow leaves each user's last
    emitted row equal to the batch aggregate (pinned in tests)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    static = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_dir)
    )

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, sv = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            sv += int((pdf["value"] * 1000.0).apply(__import__("math").floor).sum())
        state.update((n, sv))
        yield pd.DataFrame(
            [{"user_id": user_id, "n_events": n, "sum_value_x1000": sv}]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value_x1000 long",
        stateStructType="n long, sv long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_once(stream_df: DataFrame, checkpoint_dir: str) -> list:
    """TEST HARNESS ONLY — drain the source with availableNow into an
    in-memory sink and return the final rows (complete mode).

    .. warning::
       Test-scale only: ``complete`` output mode keeps ALL result state
       unbounded and the memory sink materializes every row on the
       driver.  Production streams must use the update/append writers
       above (``tiles_stream``-style foreachBatch or a real sink with a
       watermark).  Kept importable because the pytest suite and the
       driver's streaming checks share it."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_once")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    return spark.sql("SELECT * FROM stream_once").collect()
