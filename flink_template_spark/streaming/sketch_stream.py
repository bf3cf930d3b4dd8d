"""Streaming KMV distinct-count sketches (mergeable-sketch changelog).

The streaming dual of operators.sketches_portable.kmv_*: each
micro-batch computes its OWN k-minimum-values sketch per cell (≤ k
rows) and writes it to the epoch changelog of streaming.changelog;
readers ``kmv_merge`` the base and the unfolded epochs back to one
sketch per cell, and compaction is the same merge into a new base.

Why this is exactly right for sketches: KMV union is LOSSLESS BY
VALUE (the k smallest of a union is a subset of each side's k
smallest — proven in tests/test_sketches), so the stream-maintained
sketch is BIT-IDENTICAL to the sketch a batch job would build over
all events ever seen. No approximation drift accumulates across
epochs, estimates (and their union/intersection algebra) keep their
oracle-exact arithmetic, and a compacted base is kilobytes per cell
regardless of stream history.

Scale: per epoch the writer ships ≤ k rows per touched cell; reader
cost is (epochs × k) rows per cell until compaction. State lives in
the changelog, not the streaming agg, so no watermark bound is needed
for correctness (distinct-ness is order-insensitive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_template_spark.operators.sketches_portable import (
    KMV_K,
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
)
from flink_template_spark.streaming.changelog import (
    compact_state,
    read_state,
    start_changelog_writer,
)


def write_kmv_stream(
    events: DataFrame,
    sketch_dir: str,
    checkpoint: str,
    cell_col: str = "event_type",
    item_col: str = "user_id",
    k: int = KMV_K,
    available_now: bool = False,
):
    """Start the sketch changelog writer: each epoch directory holds
    that micro-batch's per-cell KMV sketch rows."""
    return start_changelog_writer(
        events,
        sketch_dir,
        checkpoint,
        lambda batch: kmv_sketch(batch, [cell_col], item_col, k=k),
        available_now,
    )


def read_kmv(
    spark: SparkSession,
    sketch_dir: str,
    cell_col: str = "event_type",
    k: int = KMV_K,
) -> DataFrame:
    """(cell, n_h, theta, est): merge the base and the unfolded epochs
    and estimate — identical to the batch sketch over all events seen.
    A present but unreadable base raises."""
    merged = read_state(
        spark, sketch_dir, [cell_col, "h"], lambda u: kmv_merge(u, [cell_col], k=k)
    )
    return kmv_estimate(merged, [cell_col], k=k)


def compact_kmv(spark: SparkSession, sketch_dir: str, cell_col: str = "event_type",
                k: int = KMV_K) -> None:
    """Fold the changelog into a new base snapshot: kmv_merge IS the
    compaction, so read amplification returns to k rows per cell."""
    compact_state(
        spark, sketch_dir, [cell_col, "h"], lambda u: kmv_merge(u, [cell_col], k=k)
    )
