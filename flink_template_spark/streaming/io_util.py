"""Shared streaming-sink IO helpers.

One implementation of the optional-read used by the epoch-directory
sinks that read their own store back each epoch (ingest_dedup,
cdc_ingest), so the failure semantics cannot drift between them.
Copies of it had drifted before, and some swallowed EVERY exception —
a transient FS error read as "store is empty" silently duplicates the
whole store's content on the next epoch. The epoch-changelog streams
read through streaming.changelog, which applies the same rule."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_optional(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a local parquet directory, or None ONLY if it does not
    exist. Any other read failure (permissions, corrupt footer,
    transient FS error) propagates — silently treating a failed read
    as an empty store corrupts downstream dedup accounting."""
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)
