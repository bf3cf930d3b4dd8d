"""Testdata table loaders (TPC-H-ish star schema + events/documents/embeddings).

At 100 TB these would be partitioned/ bucketed lakehouse tables; here each
is a single parquet file per scale factor. The loaders are plain
``spark.read.parquet`` so Catalyst keeps predicate pushdown + column
pruning; never collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Base-table DataFrame, memoized per (session, sf_dir, name).

    ``spark.read.parquet`` pays a driver-side file listing + footer
    schema read on EVERY call; with ~400 load_table call sites across
    the query registry that metadata work recurs per query (and per
    scan within a query). The DataFrame is an immutable lazy plan, so
    one relation per (session, sf_dir, table) can be shared by every
    consumer — this is catalog-metadata caching (what a real metastore
    provides), NOT result caching: every action still scans the parquet
    from disk; only the listing/schema handshake is reused.

    The cache dict lives ON the session object, so its lifetime is
    exactly the session's (a stopped session's relations die with it,
    a fresh session re-lists the files — important for tests that
    rebuild sessions).

    Staleness contract: each table's file listing and schema are pinned
    at its first read for the rest of the session's life. Files added,
    replaced or removed under ``sf_dir`` afterwards are not seen (a
    removed file fails the next scan); a harness that rewrites data
    under ``sf_dir`` must start a new session."""
    try:
        cache = spark._flink_template_table_cache  # type: ignore[attr-defined]
    except AttributeError:
        cache = {}
        spark._flink_template_table_cache = cache  # type: ignore[attr-defined]
    key = (sf_dir, name)
    df = cache.get(key)
    if df is None:
        if name == "events":
            df = load_events(spark, sf_dir)
        else:
            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        cache[key] = df
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` normalized to a microsecond timestamp.

    Schema-driven: the testdata's events.parquet stores ``ts`` as parquet
    TIMESTAMP(MICROS), which Spark reads natively as TIMESTAMP_NTZ — pass
    it through unchanged (DuckDB reads the same column as naive TIMESTAMP,
    so oracle comparison needs no normalization). If an input instead
    carries int64 nanos (surfaced as LongType when
    ``spark.sql.legacy.parquet.nanosAsLong`` is set), floor to micros,
    matching DuckDB's ``CAST(ts_ns AS TIMESTAMP)``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        # NTZ → TIMESTAMP is an identity on the stored micros under the
        # UTC session timezone; downstream plans use unix_micros(ts) and
        # friends, which require TIMESTAMP.
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API path)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


# ---------------------------------------------------------------------------
# once-per-session warehouse layout helper (shared by the bucketed-join
# and partition-pruning demonstrations; r9 review: one copy of the
# token/path/marker logic so fixes can't drift between call sites)
# ---------------------------------------------------------------------------

_LAYOUTS_WRITTEN: set[tuple[str, str, str]] = set()


def layout_token(sf_dir: str) -> str:
    """A catalog-safe token for ``sf_dir``. LOWERCASED: Spark stores
    managed-table directories lowercased, so a mixed-case token would
    make stale-location cleanup rmtree a path that never exists."""
    import re

    return re.sub(r"[^0-9a-z]+", "_", sf_dir.strip("/").lower())


def warehouse_dir(spark: SparkSession) -> str:
    from urllib.parse import urlparse

    return urlparse(spark.conf.get("spark.sql.warehouse.dir")).path


def layout_once(
    spark: SparkSession, sf_dir: str, name: str, build
) -> None:
    """Run ``build()`` (a warehouse layout job — bucketed tables, a
    partitioned directory) at most once per (session, sf_dir, name).
    The artifact lives in the warehouse; only the write is skipped on
    re-serve — at 100 TB this is the one-off layout job an ingest
    pipeline owns, not a per-query cost."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key in _LAYOUTS_WRITTEN:
        return
    build()
    _LAYOUTS_WRITTEN.add(key)
