"""Event-time windowed aggregation with watermarked late-data
handling over a streaming events feed.

The reference has no sliding windows (SURVEY §2.7) — this is
engine-side surface for the streaming half of the north_star: tile
activity rollups over an event stream. Late events inside the
watermark still update their window; events later than the
watermark are dropped and the window state is reclaimed — bounded
state at any stream length.

Plan shape: file source -> withWatermark(event time) ->
groupBy(window, key) agg -> append-mode sink emits each window once
it is final (watermark passed). State per (window x key) only while
a window is open.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

EVENTS_SCHEMA = "event_id long, ts timestamp, cell long, value double"


def windowed_cell_activity(
    spark: SparkSession,
    events_dir: str,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Streaming per-cell activity: tumbling event-time windows with
    a late-data watermark. Returns the streaming DataFrame; attach
    a writeStream (append mode — windows emit once final)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .option("recursiveFileLookup", "true")
        .parquet(events_dir)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "cell")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cell",
            "n_events",
            "sum_value",
        )
    )


SESSION_EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long,"
    " event_type string, value double, props string"
)


def streaming_sessions(
    spark: SparkSession,
    events_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming session windows — the continuous twin of the batch
    gaps-and-islands sessionizer (operators/events.sessionize,
    q78): per-user sessions close after `gap` of inactivity, state
    is one open session per active user, and a session is emitted
    exactly once when the watermark passes its close (append mode).

    Uses Spark's native `session_window` — per-key merging session
    state inside the streaming aggregation, the
    applyInPandasWithState-free way to express this. Boundary
    semantics differ from the batch operator by the open/closed
    edge: session_window merges events strictly closer than `gap`
    (an exactly-`gap` quiet period starts a NEW session), while the
    batch sessionizer splits only on strictly-greater gaps; off-
    boundary data sessionizes identically (asserted in tests).

    Output schema matches q78 minus the per-user ordinal (a global
    per-key running index is meaningless on an infinite stream):
    (user_id, start_epoch, end_epoch = last event, n_events,
    n_types). `session_window.end` is last-event + gap, so the
    batch-comparable end is `end - gap`."""
    stream = (
        spark.readStream.schema(SESSION_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .option("recursiveFileLookup", "true")
        .parquet(events_dir)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            "user_id", F.session_window("ts", gap).alias("sw")
        )
        .agg(
            F.min(F.unix_timestamp("ts")).alias("start_epoch"),
            F.max(F.unix_timestamp("ts")).alias("end_epoch"),
            F.count("*").cast("long").alias("n_events"),
            F.size(F.collect_set("event_type"))
            .cast("long")
            .alias("n_types"),
        )
        .select(
            "user_id",
            "start_epoch",
            "end_epoch",
            "n_events",
            "n_types",
        )
    )


def run_to_sink(
    agg: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Materialize the windowed aggregate with availableNow (drain
    everything currently in the source, then stop) — append mode:
    only watermark-finalized windows are written."""
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_flagship(
    spark: SparkSession,
    pages_dir: str,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
):
    """The FLAGSHIP pipeline as a structured stream: pages files ->
    geocode + broadcast polygon PIP (one Arrow UDF — Arrow UDFs run
    unchanged in streaming micro-batches) -> cell encode ->
    watermarked per-region tumbling-window counts.

    This is the continuous-ingest shape of the engine's main query:
    a Common-Crawl-style crawl feed lands as files, and region/tile
    activity materializes incrementally with late-data tolerance —
    the same plan as flagship_assign per micro-batch, zero shuffles
    until the windowed aggregate."""
    from ..operators.flagship import flagship_points
    from ..pages import PAGES_SCHEMA

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .option("recursiveFileLookup", "true")
        .parquet(pages_dir)
    )
    # the flagship stages, keeping warc_ts for the event-time window
    assigned = flagship_points(stream)
    return (
        assigned.withColumn("ts", F.col("warc_ts"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "region")
        .agg(F.count("*").cast("long").alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            "region",
            "n_pages",
        )
    )
