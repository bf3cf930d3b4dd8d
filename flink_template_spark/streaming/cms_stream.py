"""Streaming Count-Min frequency sketches (heavy-hitter maintenance).

The frequency dual of streaming.sketch_stream's KMV changelog: each
micro-batch computes its OWN CMS counter table per cell
(≤ d·w = 4096 rows per touched cell, operators.sketches_portable) and
writes it to the epoch changelog; readers SUM-merge the base and the
unfolded epochs.

Why this is exactly right for CMS: counter union IS addition — sums
commute and associate, so the stream-maintained sketch is BIT-IDENTICAL
to the sketch a batch job would build over all events ever seen, and
point estimates (min over the d rows) carry the same one-sided error
bound with zero drift across epochs. Compaction is cms_merge of epochs
back into a base of ≤ d·w rows per cell. Heavy-hitter queries
(estimate counts for a candidate key set) read kilobytes regardless of
stream history.

Crash-safety: counter addition is NOT idempotent, so a re-read epoch
would double-count; streaming.changelog's one-base + folded-epochs
read rule enters each epoch exactly once (see that module's docstring).
Both compaction crash windows are pinned by tests against the exact
batch counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_template_spark.operators.sketches_portable import (
    cms_counters,
    cms_lookup,
    cms_merge,
)
from flink_template_spark.streaming.changelog import (
    compact_state,
    read_state,
    start_changelog_writer,
)

_COLS = ["i", "pos", "cnt"]


def _merge(union: DataFrame) -> DataFrame:
    return cms_merge(union, [])


def write_cms_stream(
    events: DataFrame,
    sketch_dir: str,
    checkpoint: str,
    item_expr: str = "user_id",
    available_now: bool = False,
):
    """Start the counter changelog writer: each epoch directory holds
    that micro-batch's merged counter rows."""
    return start_changelog_writer(
        events,
        sketch_dir,
        checkpoint,
        lambda batch: cms_counters(batch, [], item_expr),
        available_now,
    )


def read_cms(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """The merged (i, pos, cnt) counter table over everything seen —
    identical to the batch sketch (counter addition commutes; the
    changelog's read rule guarantees each count enters the sum exactly
    once at every crash point)."""
    return read_state(spark, sketch_dir, _COLS, _merge)


def estimate_counts(
    spark: SparkSession, sketch_dir: str, keys: DataFrame, key_expr: str
) -> DataFrame:
    """Point estimates for ``keys`` against the stream-maintained
    sketch (min over d rows; ≥ true count, the CMS bound)."""
    return cms_lookup(read_cms(spark, sketch_dir), keys, key_expr)


def compact_cms(spark: SparkSession, sketch_dir: str) -> None:
    """Fold the chosen base ∪ unfolded epochs into a new base snapshot:
    cms_merge IS the compaction, read amplification returns to ≤ d·w
    rows; the swap is streaming.changelog's (crash windows pinned by
    tests)."""
    compact_state(spark, sketch_dir, _COLS, _merge)
