"""Continuously maintained content fingerprints (streaming integrity).

The streaming dual of plans.functions_ext.q_content_fingerprint: as
documents flow in, each micro-batch appends its per-source
(n_rows, xor_fp, sum_fp) rows to a changelog; readers fold them to the
fingerprint of EVERYTHING ingested so far. All three aggregates merge
(XOR and SUM are associative/commutative, counts add), so the
maintained fingerprint is bit-identical to the batch fingerprint over
the full history — the property that lets a replication target verify
itself against the source continuously instead of with a full rescan.

XOR/SUM state is ADDITIVE (not idempotent); streaming.changelog's
one-base + folded-epochs read rule enters each epoch exactly once, so
every compaction crash point reads the exact fingerprints (the
changelog's crash windows are pinned by the CMS tests; the
stream==batch equality here is pinned by
tests/test_fingerprint_stream.py).

Scale shape: per epoch the writer ships |sources-in-batch| rows; the
reader folds (epochs × sources) rows until compaction returns it to
|sources|. The fingerprint math itself is the map-side hash + combine
shape of the batch query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_template_spark.streaming.changelog import (
    compact_state,
    read_state,
    start_changelog_writer,
)

_COLS = ["source", "n_rows", "xor_fp", "sum_fp"]


def _batch_fingerprints(batch_df: DataFrame) -> DataFrame:
    """Per-source fingerprint rows of ONE batch — same serialization
    and hash-prefix scheme as the batch q_content_fingerprint."""
    from flink_template_spark.plans.functions_ext import _fp_serial

    hexed = batch_df.select(
        "source", F.md5(F.expr(_fp_serial("STRING"))).alias("hx")
    )
    return hexed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr("BIT_XOR(CAST(conv(substr(hx, 1, 15), 16, 10) AS BIGINT))")
        .cast("bigint")
        .alias("xor_fp"),
        F.sum(F.expr("CAST(conv(substr(hx, 1, 8), 16, 10) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_fp"),
    )


def _merge(union: DataFrame) -> DataFrame:
    return union.groupBy("source").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.expr("BIT_XOR(xor_fp)").cast("bigint").alias("xor_fp"),
        F.sum("sum_fp").cast("bigint").alias("sum_fp"),
    )


def write_fingerprint_stream(
    docs: DataFrame,
    state_dir: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the fingerprint changelog writer (one overwrite-by-epoch
    directory per micro-batch — retry-idempotent)."""
    return start_changelog_writer(
        docs, state_dir, checkpoint, _batch_fingerprints, available_now
    )


def read_fingerprints(spark: SparkSession, state_dir: str) -> DataFrame:
    """(source, n_rows, xor_fp, sum_fp) over everything ingested —
    bit-identical to the batch fingerprint of the same rows."""
    return read_state(spark, state_dir, _COLS, _merge)


def compact_fingerprints(spark: SparkSession, state_dir: str) -> None:
    """Fold the changelog into a |sources|-row base snapshot."""
    compact_state(spark, state_dir, _COLS, _merge)
