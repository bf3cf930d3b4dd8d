"""Continuous aggregate (hypertable-style rollup) maintained by a stream.

The pattern: a streaming windowed aggregation in *update* mode feeds
the epoch changelog of streaming.changelog: each micro-batch overwrites
``changelog/epoch=N`` with the window rows it changed. Readers resolve
"latest epoch wins" per window key; compaction folds the changelog
into a one-file base snapshot so read amplification stays O(1).

This is the timeseries-DB "continuous aggregate" re-expressed on object
storage + Structured Streaming:

- the *writer* never rewrites history, and an epoch re-run (an
  at-least-once foreachBatch retry) overwrites its own directory;
- the *reader* is a plain DataFrame over the base and the unfolded
  epochs with a per-key ``row_number`` — no external metastore. Base
  rows carry epoch -1, so any unfolded changelog row supersedes them;
- *compaction* is an offline rewrite under the changelog's one-base +
  folded-epochs rule: every crash point reads the exact pre-crash
  state, and a re-run heals the layout.

Scale: each epoch directory holds only the windows touched by that
micro-batch (bounded by watermark + arrival skew, not by history), and
the reader's window function partitions by window key (no global
shuffle). State in the streaming agg itself is bounded by the
watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_template_spark.streaming.changelog import (
    compact_state,
    read_state,
    start_changelog_writer,
)

_COLS = ["bucket_start", "event_type", "n_events", "sum_value"]


def rollup_updates(events: DataFrame, bucket: str = "1 hour",
                   watermark: str = "10 minutes") -> DataFrame:
    """Streaming windowed agg (update mode source): per (bucket,
    event_type) count + exact decimal value sum. Late data beyond the
    watermark is dropped; within it, re-fired windows supersede prior
    emissions via the changelog's epoch."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", bucket).alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
    )


def write_rollup_stream(updates: DataFrame, rollup_dir: str, checkpoint: str,
                        available_now: bool = False):
    """Start the changelog writer: each epoch directory holds the
    window rows that micro-batch changed."""
    return start_changelog_writer(
        updates, rollup_dir, checkpoint, lambda batch: batch, available_now
    )


def _latest(union: DataFrame) -> DataFrame:
    """Latest epoch wins per (bucket_start, event_type)."""
    latest = Window.partitionBy("bucket_start", "event_type").orderBy(
        F.col("epoch").desc()
    )
    return (
        union.withColumn("__rn", F.row_number().over(latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "epoch")
    )


def read_rollup(
    spark: SparkSession, rollup_dir: str, as_of_epoch: int | None = None
) -> DataFrame:
    """Resolve the current rollup: the base and the unfolded changelog
    epochs, latest epoch per (bucket_start, event_type) wins. A present
    but unreadable base raises.

    ``as_of_epoch`` gives snapshot (time-travel) reads: only changelog
    epochs ≤ it participate, reproducing the table as of that commit —
    the changelog IS the history, so this costs a partition filter, not
    a copy. (Only valid before compaction folds those epochs away.)"""

    def merge(union: DataFrame) -> DataFrame:
        if as_of_epoch is not None:
            union = union.filter(F.col("epoch") <= as_of_epoch)
        return _latest(union)

    return read_state(spark, rollup_dir, _COLS, merge)


def compact_rollup(spark: SparkSession, rollup_dir: str) -> None:
    """Fold the changelog into the base snapshot (offline maintenance)
    under the changelog's crash-safe swap."""
    compact_state(spark, rollup_dir, _COLS, _latest)
