"""Watermarked windowed ingest metrics — the late-data-tolerant streaming
aggregation surface (driver brief: "watermarks + windowed aggs for late
data").

``ingest_metrics`` turns a file-arrival stream into per-window,
per-language ingest counts and byte volumes: one-minute event-time
tumbling windows with a two-minute watermark, so late arrivals inside the allowed lateness still
update their window and state for closed windows is dropped (bounded
state — the property that matters on an unbounded 100 TB ingest feed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ingest_metrics(stream_df: DataFrame) -> DataFrame:
    """Streaming frame of (event_time, lang, content) -> windowed
    (window, lang, n_files, n_bytes).

    Append-safe: with the watermark, a window finalizes once event time
    passes window_end + watermark; update mode emits refinements as late
    rows arrive inside the allowance.
    """
    return (
        stream_df
        .withWatermark("event_time", "2 minutes")
        .groupBy(F.window(F.col("event_time"), "1 minute").alias("win"), "lang")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(F.length("content")).alias("n_bytes"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "lang", "n_files", "n_bytes",
        )
    )
