"""Event-time streaming operators the reference lacks entirely (ST7,
SURVEY.md §2.9): watermarks, tumbling/sliding windows, session windows,
and streaming dedup. These are what turn the stateless ingest pipeline
into a streaming *analytics* engine.

All functions take a streaming DataFrame with an event-time column and
return a transformed streaming DataFrame — sinks/output-mode are the
caller's choice (tests use availableNow + memory/file sinks).

Scale notes:
- watermark bounds state: with a 10-minute watermark and hour windows,
  state per key is O(active windows), evicted as the watermark passes.
- windowed aggregates shuffle on (key, window) — skewed keys can salt
  the window key exactly like batch groupBy.
- session windows use Spark's native session_window state merging.
- streaming dropDuplicates keeps one state entry per key within the
  watermark horizon — the exact-dedup streaming analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def windowed_event_stats(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) windowed count/sum per
    key with a watermark for late-data bounds.

    Append-mode compatible: results emit once the watermark passes the
    window end (exactly-once per window with a file sink)."""
    win = (
        F.window(F.col(ts_col), window)
        if slide is None
        else F.window(F.col(ts_col), window, slide)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def session_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows (gap-based) per key: a 30-minute gap by
    default, expressed with native session_window state."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on ``keys`` within the watermark horizon —
    the reference-absent ``dropDuplicates`` operator (ST7); state holds
    one entry per key and is evicted past the watermark."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(keys + [ts_col])
