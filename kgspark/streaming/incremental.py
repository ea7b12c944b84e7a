"""Event-time windowed aggregation for streaming or batch event tables.

The reference has NO streaming surface (SURVEY.md §2: verified — no
watermarks, windows or state anywhere in it). The KG build's
resume contract — idempotent, manifest-gated, and an append snapshot
extracting only its new pages — lives in one place, ``run_pipeline``
(plans/pipeline.py). What remains here is the watermark-bounded window
aggregate, which the ``windowed_event_counts`` query runs in batch mode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    window_dur: str = "1 hour",
    watermark: str = "1 hour",
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """Event-time tumbling-window counts per key, watermark-bounded.

    ``withWatermark`` + ``F.window`` grouped aggregation. Late rows
    (event time older than ``max(event time) - watermark``) are
    dropped before aggregation; in append mode a window is emitted
    exactly once, when the watermark passes its end — so downstream
    sinks see each finalized window a single time.

    Works identically on a batch frame (watermark is a no-op there,
    every window is "final"), which is what lets the DuckDB
    ``time_bucket`` oracle check the aggregation semantics while the
    streaming test checks the watermark semantics.

    State at 10^12 docs: one row per (open window × key), hash-
    partitioned by the group key; the watermark bounds open windows to
    ``watermark/window_dur + 1`` per key, so state size is O(keys),
    never O(events).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window_dur).alias("win"),
            F.col(key_col),
        )
        .agg(F.count("*").alias("n_events"), *(extra_aggs or []))
        .withColumn("win_start", F.col("win.start"))
        .drop("win")
    )
