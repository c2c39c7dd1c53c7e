"""Streaming ingestion of the events table: tumbling-window aggregates
with watermarked late-data handling.

The reference has no streaming surface (spatula is strictly batch,
SURVEY.md §2.6); this is the engine-side extension for continuous
crawl-metrics/event feeds. For local verification the parquet file
drives the stream synchronously (``processAllAvailable``), so the
result is deterministic and oracle-comparable against the equivalent
batch aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain_events


def stream_window_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, SLIDING/hopping) window
    (start, event_type) -> (n, total) via a real streaming query over
    the parquet file, drained synchronously. With a slide of S and
    width W each event lands in W/S overlapping windows. Complete
    output mode so every window is emitted regardless of watermark
    closure (the file source is finite)."""
    win = (
        F.window("ts", window, slide) if slide
        else F.window("ts", window)
    )

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", watermark)
            .groupBy(win, "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 6).alias("total"))
        )

    return drain_events(spark, events_path, build, "complete").select(
        F.col("window.start").alias("win_start"),
        "event_type",
        "n",
        "total",
    )
