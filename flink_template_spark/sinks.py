"""Sinks — the Spark rebuild of the reference's JDBC sink stack
(SURVEY.md §2.1 S3-S5,S7):

reference                                        → here
JDBCOutputFormat batched writes (batch=5000,     → per-partition DB-API
  jdbc/JDBCOutputFormat.kt:23,97-142)              executemany in chunks
JDBCAppendTableSink.configure schema validation  → validate_sink_schema
  (jdbc/JDBCAppendTableSink.kt:32-66)
INSERT … ON CONFLICT accumulate-upsert           → upsert SQL template
  (TripAggregatorApplication.kt:227-233)
flush-on-checkpoint (JDBCSinkFunction.kt:20-22)  → foreachBatch: each
                                                   epoch commits atomically

Exactly-once note (SURVEY.md §7 hard-part 5): foreachBatch is
at-least-once; the accumulate-upsert is NOT naturally idempotent, so each
partition task commits its rows together with an (epoch_id, partition_id)
marker in ``__epochs`` in one transaction and skips replays — idempotent
under both task retry and micro-batch replay.

The DB-API connection factory is never serialized with live state: data
writes open their connections inside the partition function
(executor-side), and the per-epoch replay pre-check opens ONE
driver-side connection per micro-batch to read the marker table — so
the sink database must be reachable from the driver as well as the
executors (true for any ordinary JDBC/warehouse target; an
executor-local-only store would need the pre-check disabled). Tests use
sqlite3; any PEP-249 driver with ON CONFLICT support (e.g. psycopg2)
drops in.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BATCH_SIZE = 5000  # reference: JDBCOutputFormat.kt:23


class SchemaMismatch(Exception):
    pass


def validate_sink_schema(df_schema: T.StructType, target: T.StructType) -> None:
    """Field-count + per-column type equality, mirroring
    JDBCAppendTableSink.configure (jdbc/JDBCAppendTableSink.kt:32-66)."""
    if len(df_schema) != len(target):
        raise SchemaMismatch(
            f"field count {len(df_schema)} != target {len(target)}"
        )
    for got, want in zip(df_schema, target):
        if got.name != want.name or got.dataType != want.dataType:
            raise SchemaMismatch(
                f"column {got.name}:{got.dataType} != {want.name}:{want.dataType}"
            )


ACCOUNTS_TARGET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("is_terminator", T.BooleanType()),
    ]
)

# target-table DDL generated through the type registry (typemap.py, the
# reference's JDBCTypeUtil analogue) from the declared target schema
_ACCOUNTS_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("balance", T.DoubleType(), nullable=False),
        T.StructField("is_terminator", T.BooleanType(), nullable=False),
    ]
)


def _accounts_ddl() -> str:
    from flink_template_spark.typemap import ddl_for_schema

    return ddl_for_schema("accounts", _ACCOUNTS_TABLE_SCHEMA, primary_key="id")


ACCOUNTS_DDL = _accounts_ddl()

# the reference's accumulate-upsert (TripAggregatorApplication.kt:227-233)
ACCOUNTS_UPSERT_SQL = """
INSERT INTO accounts (id, balance, is_terminator) VALUES (?, ?, ?)
ON CONFLICT (id) DO UPDATE SET
  balance = accounts.balance + excluded.balance,
  is_terminator = accounts.is_terminator OR excluded.is_terminator
"""

EPOCHS_DDL = (
    "CREATE TABLE IF NOT EXISTS __epochs ("
    "epoch_id INTEGER, partition_id INTEGER, n_partitions INTEGER, "
    "partitioner TEXT, "
    "PRIMARY KEY (epoch_id, partition_id))"
)


def _ensure_epoch_tables(con, cur) -> None:
    """Create the sink tables; migrate a pre-round-4 __epochs table
    (created without the ``partitioner`` column) in place.

    The migration probes the schema DETERMINISTICALLY (a zero-row
    SELECT of the column — portable across DB-API backends, unlike
    PRAGMA/information_schema) and only ALTERs when the column is
    truly missing. An earlier version treated ANY ALTER failure as
    "column already present" (ADVICE r4) — a transient locked-database
    or permission error would then surface much later as a confusing
    INSERT failure; now an ALTER on a genuinely missing column raises
    at the migration site. The CREATEs commit BEFORE the probe, and a
    failed probe rolls back: on a transactional backend
    (PostgreSQL-style) a failed statement aborts the open transaction,
    and proceeding without rollback would break every later statement
    on the connection."""
    cur.execute(ACCOUNTS_DDL)
    cur.execute(EPOCHS_DDL)
    con.commit()
    try:
        cur.execute("SELECT partitioner FROM __epochs LIMIT 0")
        cur.fetchall()
        return  # column present (fresh DDL or prior migration)
    except Exception:
        try:
            con.rollback()
        except Exception:
            pass
    # column genuinely missing -> migrate. A failed ALTER is re-probed
    # before raising: a concurrent writer may have migrated between our
    # probe and our ALTER (duplicate-column error), or the probe itself
    # may have failed transiently (locked database) on an
    # already-migrated table — in both cases the column is present now
    # and the sink can proceed. Only a still-missing column makes the
    # ALTER failure real, and then it raises here, next to its cause.
    try:
        cur.execute("ALTER TABLE __epochs ADD COLUMN partitioner TEXT")
        con.commit()
    except Exception as alter_err:
        try:
            con.rollback()
        except Exception:
            pass
        try:
            cur.execute("SELECT partitioner FROM __epochs LIMIT 0")
            cur.fetchall()
        except Exception:
            try:
                con.rollback()
            except Exception:
                pass
            # column still missing: the ALTER failure is the root cause
            # — keep it primary, not the re-probe's no-such-column
            raise alter_err


_PARTITIONER_FP: dict[str, str] = {}


def _partitioner_fingerprint(spark) -> str:
    """Identity of the sink's hash partitioner, recorded with each
    replay marker. ``repartition(n, col)`` slots rows by
    murmur3(col) pmod n; pinning n alone (round 3) misses a Spark
    upgrade that changes the hash function itself — same partition
    count, different row→partition boundaries, so a partially applied
    epoch could double-apply/skip rows without tripping ReplayMismatch
    (ADVICE r3). The fingerprint is the Spark version plus the actual
    murmur3 outputs for fixed probe keys, evaluated through the same
    expression path HashPartitioning uses; any change to either
    produces a different string and the partial-replay pre-check
    refuses."""
    key = spark.sparkContext.applicationId
    fp = _PARTITIONER_FP.get(key)
    if fp is None:
        probes = spark.createDataFrame(
            [(0,), (1,), (7,), (123456789,)], "id int"
        ).select(F.hash("id").alias("h")).collect()
        fp = f"spark-{spark.version}/murmur3:" + ",".join(
            str(r["h"]) for r in probes
        )
        _PARTITIONER_FP[key] = fp
    return fp

# Fixed sink-side partition count. The sink repartitions every micro-batch
# by key into exactly this many hash partitions, so the unit of replay
# bookkeeping ((epoch, partition)) is deterministic regardless of input
# splits, AQE shuffle coalescing, or a changed
# spark.sql.shuffle.partitions across restarts. An explicit
# repartition(N, key) is NOT coalesced by AQE (only partition-count-less
# rebalances are), so N is stable for a given sink version.
SINK_PARTITIONS = 32


class ReplayMismatch(Exception):
    """A replayed epoch's partitioning no longer matches the markers
    recorded for it; resuming per-partition would double-apply or skip
    rows, so the sink refuses instead."""


def _epoch_status(cur, epoch: int) -> tuple[int, int | None, str | None]:
    """(marker_count, recorded n_partitions, recorded partitioner) for
    an epoch; raises ReplayMismatch if recorded markers disagree with
    each other.

    The NULL/non-NULL fingerprint MIX is itself a conflict: SQL
    MIN/MAX skip NULLs, so without the explicit COUNT(partitioner)
    check a partial epoch holding legacy (NULL) markers from hash A
    plus fingerprinted markers from hash B would read as uniformly
    fingerprinted and resume — the exact double-apply the fingerprint
    exists to refuse."""
    cur.execute(
        "SELECT COUNT(*), MIN(n_partitions), MAX(n_partitions), "
        "MIN(partitioner), MAX(partitioner), COUNT(partitioner) "
        "FROM __epochs WHERE epoch_id = ?",
        (epoch,),
    )
    n_markers, lo, hi, fp_lo, fp_hi, n_fp = cur.fetchone()
    if n_markers and lo != hi:
        raise ReplayMismatch(
            f"epoch {epoch} has markers under conflicting partition "
            f"counts {lo} and {hi}"
        )
    if n_markers and fp_lo != fp_hi:
        raise ReplayMismatch(
            f"epoch {epoch} has markers under conflicting partitioners "
            f"{fp_lo!r} and {fp_hi!r}"
        )
    if 0 < int(n_fp) < int(n_markers):
        raise ReplayMismatch(
            f"epoch {epoch} mixes legacy (no partitioner recorded) and "
            f"fingerprinted markers; partition boundaries are not "
            "provably consistent — refusing to resume"
        )
    return (
        int(n_markers),
        (int(lo) if n_markers else None),
        (fp_lo if n_markers else None),
    )


def accounts_upsert_batch_fn(
    connect: Callable[[], "object"],
    n_partitions: int = SINK_PARTITIONS,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: schema-validate, then executor-side batched
    accumulate-upsert with replay protection.

    Each task opens its own PEP-249 connection inside
    ``foreachPartition`` and applies its partition's rows in
    ``BATCH_SIZE`` chunks — the reference's JDBCOutputFormat runs the
    same way on task managers (jdbc/JDBCOutputFormat.kt:97-142); nothing
    is collected to the driver, so a 1000-executor micro-batch writes
    with full parallelism.

    Idempotency under at-least-once replay: the upsert accumulates, so
    each (epoch, partition) commits its rows and a marker row in ONE
    transaction; a retried task or replayed epoch sees its marker and
    skips. The batch is explicitly ``repartition(n_partitions, id)``
    before writing, so a replayed micro-batch reproduces the SAME
    partition boundaries — deterministic hash partitioning by key with a
    pinned partition count, independent of input splits, AQE coalescing,
    or shuffle-partitions conf. Each marker also records
    ``n_partitions``; before writing, the driver checks the epoch's
    recorded markers: a fully-applied epoch (all recorded markers
    present) is skipped wholesale even if the pinned count has since
    changed, while a partially-applied epoch under a DIFFERENT count
    raises :class:`ReplayMismatch` rather than risk double-apply.

    ``connect`` returns a fresh PEP-249 connection (e.g.
    ``lambda: sqlite3.connect(path)``); it is invoked inside the
    partition function so only the (picklable) factory crosses the
    driver/executor boundary.
    """

    def write(df: DataFrame, epoch_id: int) -> None:
        validate_sink_schema(df.schema, ACCOUNTS_TARGET_SCHEMA)
        epoch = int(epoch_id)
        fp = _partitioner_fingerprint(df.sparkSession)

        # driver-side pre-check of the epoch's replay markers
        con = connect()
        try:
            cur = con.cursor()
            _ensure_epoch_tables(con, cur)
            n_markers, recorded, recorded_fp = _epoch_status(cur, epoch)
        finally:
            con.close()
        if n_markers:
            if n_markers == recorded:
                return  # whole epoch already applied — skip wholesale
            if recorded != n_partitions:
                raise ReplayMismatch(
                    f"epoch {epoch} partially applied under "
                    f"n_partitions={recorded}, current sink uses "
                    f"{n_partitions}; refusing to resume"
                )
            # A NULL recorded_fp means pre-round-4 markers (no
            # fingerprint column yet) — nothing to compare against, so
            # resume on the n_partitions check alone as before.
            if recorded_fp is not None and recorded_fp != fp:
                raise ReplayMismatch(
                    f"epoch {epoch} partially applied under partitioner "
                    f"{recorded_fp!r}, current sink uses {fp!r}; the "
                    "same partition COUNT no longer implies the same "
                    "row->partition boundaries — refusing to resume"
                )

        # When resuming a LEGACY partial epoch (all markers NULL), the
        # markers written by this resume stay NULL too: recording the
        # current fingerprint would create the NULL/non-NULL mix that
        # _epoch_status refuses, bricking the epoch after a mid-resume
        # crash. A fresh epoch records the real fingerprint.
        marker_fp = fp if (not n_markers or recorded_fp is not None) else None

        def write_partition(rows) -> None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            con = connect()
            try:
                cur = con.cursor()
                _ensure_epoch_tables(con, cur)  # commits its DDL
                cur.execute(
                    "SELECT 1 FROM __epochs WHERE epoch_id = ? AND partition_id = ?",
                    (epoch, pid),
                )
                if cur.fetchone():
                    return  # replayed task/epoch — already applied
                batch: list[tuple] = []
                for r in rows:
                    batch.append((r["id"], r["amount"], bool(r["is_terminator"])))
                    if len(batch) >= BATCH_SIZE:
                        cur.executemany(ACCOUNTS_UPSERT_SQL, batch)
                        batch.clear()
                if batch:
                    cur.executemany(ACCOUNTS_UPSERT_SQL, batch)
                cur.execute(
                    "INSERT INTO __epochs "
                    "(epoch_id, partition_id, n_partitions, partitioner)"
                    " VALUES (?, ?, ?, ?)",
                    (epoch, pid, n_partitions, marker_fp),
                )
                con.commit()
            finally:
                con.close()

        df.repartition(n_partitions, df["id"]).foreachPartition(write_partition)

    return write


def write_stream_upsert(
    df: DataFrame,
    connect: Callable[[], "object"],
    checkpoint_dir: str,
):
    """Attach the upsert sink to a streaming DataFrame with checkpointing
    (reference S7: enableCheckpointing(5 s),
    TripAggregatorApplication.kt:244)."""
    return (
        df.writeStream.outputMode("update")
        .foreachBatch(accounts_upsert_batch_fn(connect))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def write_console(df: DataFrame, checkpoint_dir: str | None = None, n: int = 20):
    """Print sink (reference S2: rows.print(),
    TripAggregatorApplication.kt:242): console format for streams,
    ``show`` for batch."""
    if df.isStreaming:
        w = df.writeStream.outputMode("append").format("console").option(
            "numRows", str(n)
        )
        if checkpoint_dir:
            w = w.option("checkpointLocation", checkpoint_dir)
        return w.start()
    df.show(n, truncate=False)
    return None


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    max_records_per_file: int = 5_000_000,
    mode: str = "overwrite",
) -> None:
    """Lakehouse output path: hive-partitioned parquet with small-file
    control.

    The repartition on the partition columns routes each output
    partition's rows to one task (otherwise every task writes a file
    into every partition directory — the classic small-files explosion
    at 1000 executors); ``maxRecordsPerFile`` re-splits oversized
    partitions so single hot partitions still parallelize on read."""
    (
        df.repartition(*[F.col(c) for c in partition_by])
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed+sorted table write — the co-located-join layout: two
    tables bucketed on their join key with the same bucket count join
    with NO shuffle exchange on either side (pre-partitioned, pre-sorted
    sort-merge). At 100 TB this turns every recurring fact-fact join on
    the bucket key into a map-side merge."""
    (
        df.write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .mode(mode)
        .saveAsTable(table)
    )


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout for data skipping: rows are
    range-partitioned and sorted on ``cluster_by``, so each output file
    covers a DISJOINT range of the cluster key and its parquet footer
    min/max stats become selective — a point/range filter on the key
    prunes all but a few files (row-group stats pushdown), without hive
    partition directories and their small-file/ high-cardinality limits.

    This is the plain-parquet equivalent of lakehouse OPTIMIZE/cluster-
    by maintenance for the leading-key case; at 100 TB it is the
    difference between scanning every file and scanning the one file a
    key range lives in. Disjointness is machine-verified from the
    written footers in tests (not assumed)."""
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cluster_by])
        .sortWithinPartitions(*cluster_by)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_value(cols: list[str], mins: dict, maxs: dict, bits: int = 12):
    """Morton (Z-order) key as a pure Column expression: each column is
    equal-width bucketed to ``bits`` levels from its (min, max), then
    the bucket bits are interleaved. All shifts are literal, so the
    whole key stays in codegen."""
    n_levels = (1 << bits) - 1
    bucketed = []
    for c in cols:
        lo, hi = float(mins[c]), float(maxs[c])
        span = (hi - lo) or 1.0
        b = F.least(
            F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * n_levels),
            F.lit(n_levels),
        ).cast("long")
        bucketed.append(F.greatest(b, F.lit(0).cast("long")))
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i, b in enumerate(bucketed):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1).cast("long")),
                    bit * len(cols) + i,
                )
            )
    return z


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int = 32,
    bits: int = 12,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: the multi-dimensional extension of
    ``write_clustered_parquet``. Range clustering makes footer stats
    selective on ONE leading key; interleaving the bits of several keys
    makes every clustered dimension's min/max narrow in every file, so
    filters on ANY of the dimensions (not just the leading one) prune
    files — the standard lakehouse OPTIMIZE ZORDER layout, on plain
    parquet.

    Column min/max for bucketing come from one tiny agg job (2×|cols|
    scalars to the driver). Equal-width bucketing is deliberate: it
    needs no quantile sketch and the interleave only has to spread
    values, not balance them — file sizing is handled by the range
    partitioner on the z-key, which IS equi-depth."""
    stats = df.agg(
        *[F.min(c).alias(f"min_{c}") for c in cluster_by],
        *[F.max(c).alias(f"max_{c}") for c in cluster_by],
    ).first()
    mins = {c: stats[f"min_{c}"] for c in cluster_by}
    maxs = {c: stats[f"max_{c}"] for c in cluster_by}
    z = zorder_value(cluster_by, mins, maxs, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_file_bytes`` files, optionally re-clustering on the way.

    Streaming sinks and fine-grained ingestion leave thousands of tiny
    files; at 100 TB the resulting scan-planning and open() overhead
    dominates query time, so periodic bin-packing is standard lakehouse
    maintenance (OPTIMIZE). File count = ceil(input_bytes / target) from
    actual on-disk size (one cheap metadata pass, no data read);
    coalesce() avoids a shuffle when only merging, repartitionByRange
    re-clusters when ``cluster_by`` is given. Writes to ``dst`` —
    atomic swap is the caller's rename (streaming.changelog's
    compact_state shows a crash-safe one). Returns the target file
    count."""
    import glob as _glob

    total = sum(
        os.path.getsize(f)
        for f in _glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True)
    )
    n_files = max(1, (total + target_file_bytes - 1) // target_file_bytes)
    df = spark.read.parquet(src)
    if cluster_by:
        (
            df.repartitionByRange(n_files, *[F.col(c) for c in cluster_by])
            .sortWithinPartitions(*cluster_by)
            .write.mode("overwrite")
            .parquet(dst)
        )
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(dst)
    return int(n_files)


def apply_deletes(
    spark,
    path: str,
    delete_keys: DataFrame,
    id_col: str = "doc_id",
) -> dict:
    """Targeted row deletion (GDPR/right-to-be-forgotten propagation)
    over a flat parquet directory: rewrite ONLY the files that contain
    a victim row, leave every other file byte-identical.

    Why file-level surgery: at 100 TB a delete request touches a
    vanishing fraction of files — especially when the table is
    clustered/Z-ordered on the key — and a full-table rewrite per
    deletion batch is a cluster-day. The victim scan is one pass that
    ships only (id, file) pairs; files to rewrite come back as a
    bounded control-plane collect (file names, not rows).

    Idempotent, crash-recoverable swap (the compact_kmv discipline,
    adapted to many files): cleaned rows are written to a scratch dir,
    a MANIFEST naming the batch and its victim files is committed
    atomically (tmp + rename), the cleaned parts are moved into the
    table under the batch prefix, and only then are victim files
    removed and the manifest retired. Every call first COMPLETES any
    pending manifest, so a crash at ANY point either replays from
    scratch (pre-manifest: nothing was moved, the same victim set
    recomputes the same batch) or finishes the interrupted swap
    (post-manifest: remaining parts move, remaining victims go) —
    kept rows are never duplicated and deleted rows never resurrected.
    (Without the manifest, a crash mid-victim-removal would shrink the
    next run's victim set, change the batch hash, and re-emit kept
    rows beside the first run's cleaned files — permanent duplicates;
    r6 self-review.) This is the non-transactional contract of this
    repo's maintenance sinks — snapshot isolation for concurrent
    readers is a table-format (Delta/Iceberg) concern, documented not
    claimed.

    Returns {"n_files": total files, "n_rewritten": victim files,
    "n_rows_deleted": rows removed}.
    """
    import glob as _glob
    import hashlib
    import shutil
    from urllib.parse import unquote, urlparse

    _finish_pending_deletes(path)
    keys = delete_keys.select(id_col).distinct()
    all_files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    n_files = len(all_files)
    # Zone-map pruning BEFORE any data scan: a file whose footer
    # [min, max] for id_col excludes every delete key cannot contain a
    # victim. On a key-clustered/Z-ordered table this prunes the victim
    # scan itself to a handful of files — the footer pass is
    # control-plane (one metadata read per file, no row data). Falls
    # back to scanning everything when keys are non-collectable
    # (too many) or stats are absent; zone maps only ever FALSE-POSITIVE.
    candidates = _zone_map_candidates(all_files, id_col, keys)
    if not candidates:
        return {"n_files": n_files, "n_rewritten": 0, "n_rows_deleted": 0}
    tagged = spark.read.parquet(*candidates).withColumn(
        "__file", F.input_file_name()
    )
    victim_files = sorted(
        unquote(urlparse(r["__file"]).path)
        for r in tagged.join(keys, id_col, "left_semi")
        .select("__file")
        .distinct()
        .collect()  # bounded: one row per FILE containing a victim
    )
    if not victim_files:
        return {"n_files": n_files, "n_rewritten": 0, "n_rows_deleted": 0}

    batch = hashlib.md5("\n".join(victim_files).encode()).hexdigest()[:12]
    victims_df = spark.read.parquet(*victim_files)
    cleaned = victims_df.join(keys, id_col, "left_anti")

    scratch = os.path.join(path, f".delete_tmp_{batch}")
    if os.path.exists(scratch):
        shutil.rmtree(scratch)  # stale partial write from a crash
    cleaned.coalesce(max(1, len(victim_files))).write.mode(
        "overwrite"
    ).parquet(scratch)
    # Deleted-row count without re-running the anti-join (r6 review —
    # counting cleaned directly would scan the victim files a third
    # time): one victim-file count plus a count of the just-written
    # scratch output (small, and its footers carry exact row counts).
    n_deleted = victims_df.count() - spark.read.parquet(scratch).count()
    # Point of no return: commit the manifest atomically, then run the
    # same swap a crash-recovery entry would (move parts, drop victims,
    # retire the manifest) — one code path for both.
    manifest = os.path.join(path, _DELETE_MANIFEST)
    tmp = manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"batch": batch, "victim_files": victim_files}, fh)
    os.replace(tmp, manifest)
    _finish_pending_deletes(path)
    return {
        "n_files": n_files,
        "n_rewritten": len(victim_files),
        "n_rows_deleted": int(n_deleted),
    }


_DELETE_MANIFEST = ".delete_manifest.json"


def _finish_pending_deletes(path: str) -> None:
    """Complete (or clean up after) any interrupted apply_deletes swap.

    With a manifest present, the scratch write is known-complete (the
    manifest is only committed after it), so: move every cleaned part
    still in scratch into the table (skip-if-present — part basenames
    are unique, so a re-move is a no-op, never a clobber), remove
    every listed victim file that still exists, then retire the
    manifest and scratch. Without a manifest, any leftover scratch dir
    predates its batch's manifest commit — none of its parts were ever
    moved — so it is swept and the batch replays from nothing.
    """
    import glob as _glob
    import shutil

    manifest = os.path.join(path, _DELETE_MANIFEST)
    if os.path.exists(manifest):
        with open(manifest) as fh:
            pending = json.load(fh)
        batch = pending["batch"]
        scratch = os.path.join(path, f".delete_tmp_{batch}")
        if os.path.isdir(scratch):
            for part in sorted(_glob.glob(os.path.join(scratch, "*.parquet"))):
                dst = os.path.join(
                    path, f"cleaned-{batch}-{os.path.basename(part)}"
                )
                if not os.path.exists(dst):
                    os.rename(part, dst)
                else:
                    os.remove(part)
        for f in pending["victim_files"]:
            if os.path.exists(f):
                os.remove(f)
        os.remove(manifest)
        if os.path.isdir(scratch):
            shutil.rmtree(scratch)
    # manifest-less scratch dirs: crashed before their manifest commit
    # (nothing moved) or after a completed swap (already empty) — sweep
    for stale in _glob.glob(os.path.join(path, ".delete_tmp_*")):
        if os.path.isdir(stale):
            shutil.rmtree(stale)


_ZONE_MAP_KEY_CAP = 100_000  # collect bound for the delete-key set


def _zone_map_candidates(
    files: list[str], id_col: str, keys: DataFrame
) -> list[str]:
    """Files whose parquet-footer [min, max] for ``id_col`` could
    contain a delete key (zone-map pruning). Conservative by
    construction: any file with missing/unreadable stats, and every
    file when the key set exceeds the collect cap, stays a candidate —
    pruning may only ever produce false positives, never drop a real
    victim file."""
    import bisect

    if not files:
        return []
    n_keys = keys.limit(_ZONE_MAP_KEY_CAP + 1).count()
    if n_keys == 0:
        return []
    if n_keys > _ZONE_MAP_KEY_CAP:
        return list(files)  # control-plane bound exceeded: scan all
    key_vals = sorted(r[0] for r in keys.collect() if r[0] is not None)
    if not key_vals:
        return []
    try:
        import pyarrow.parquet as pq
    except ImportError:  # no footer access -> no pruning
        return list(files)
    out = []
    for f in files:
        try:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(id_col)
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no stats")
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        except Exception:
            out.append(f)  # unreadable/statless: keep as candidate
            continue
        # any key in [lo, hi]?
        i = bisect.bisect_left(key_vals, lo)
        if i < len(key_vals) and key_vals[i] <= hi:
            out.append(f)
    return out


_DELETES_SUBDIR = "_deletes"


def append_delete_file(
    spark: "SparkSession",
    path: str,
    delete_keys: DataFrame,
    id_col: str = "doc_id",
) -> None:
    """Merge-on-read deletion (the Iceberg equality-delete dual of
    ``apply_deletes``'s copy-on-write): record the keys in a delete
    file under ``path/_deletes/`` — O(keys) write, zero data files
    touched. Readers subtract them (``read_with_deletes``); a later
    ``compact_deletes`` folds them into a real rewrite when the delete
    ratio justifies it. This is the write-cheap/read-taxed half of the
    standard lakehouse trade: GDPR delete REQUESTS land immediately
    and cheaply; physical erasure happens at compaction.

    Underscore-prefixed dirs are invisible to Spark's parquet reader,
    so plain ``spark.read.parquet(path)`` still sees the raw table —
    deletion semantics are opt-in via the reader below, exactly like a
    table format's scan planning."""
    out = os.path.join(path, _DELETES_SUBDIR)
    delete_keys.select(id_col).distinct().write.mode("append").parquet(out)


def read_with_deletes(
    spark: "SparkSession", path: str, id_col: str = "doc_id"
) -> DataFrame:
    """The merge-on-read scan: data files anti-joined against the
    accumulated delete keys. The delete side is key-only and usually
    tiny → Catalyst broadcasts it and the anti-join is map-side; data
    files never shuffle. With no delete files this is a plain scan."""
    df = spark.read.parquet(path)
    ddir = os.path.join(path, _DELETES_SUBDIR)
    if not os.path.isdir(ddir):
        return df
    keys = spark.read.parquet(ddir).select(id_col).distinct()
    return df.join(keys, id_col, "left_anti")


def compact_deletes(
    spark: "SparkSession", path: str, id_col: str = "doc_id"
) -> dict:
    """Fold accumulated delete files into a physical rewrite
    (apply_deletes' zone-map-pruned copy-on-write path), then retire
    them. Crash-safe ordering: the rewrite completes (manifest swap
    included) BEFORE the delete files are removed — a crash in between
    leaves already-applied delete keys in place, and re-applying a
    delete key is a no-op by construction (anti-join semantics)."""
    import shutil

    ddir = os.path.join(path, _DELETES_SUBDIR)
    if not os.path.isdir(ddir):
        return {"n_files": 0, "n_rewritten": 0, "n_rows_deleted": 0}
    keys = spark.read.parquet(ddir).select(id_col).distinct()
    stats = apply_deletes(spark, path, keys, id_col=id_col)
    shutil.rmtree(ddir)
    return stats
