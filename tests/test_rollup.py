"""Continuous rollup: changelog-maintained aggregate equals the batch
aggregate over the same input; compaction preserves results; incremental
updates supersede earlier epochs."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from flink_template_spark.streaming.rollup import (
    compact_rollup,
    read_rollup,
    rollup_updates,
    write_rollup_stream,
)

SCHEMA = "ts TIMESTAMP, event_type STRING, value DOUBLE"


def _lines(rows):
    return "\n".join(json.dumps(r) for r in rows) + "\n"


def _batch_expected(spark, in_dir):
    df = spark.read.schema(SCHEMA).json(str(in_dir))
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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


def _drain(spark, in_dir, rollup_dir, ckpt):
    stream = spark.readStream.schema(SCHEMA).json(str(in_dir))
    q = write_rollup_stream(
        rollup_updates(stream, bucket="1 hour", watermark="10 minutes"),
        str(rollup_dir),
        str(ckpt),
        available_now=True,
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_rollup_matches_batch_and_survives_compaction(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.jsonl").write_text(
        _lines(
            [
                {"ts": f"2024-03-01T{h:02d}:{m:02d}:00", "event_type": t, "value": 1.5}
                for h in (0, 1, 2)
                for m in (0, 30)
                for t in ("view", "click")
            ]
        )
    )
    rollup_dir = tmp_path / "rollup"
    _drain(spark, in_dir, rollup_dir, tmp_path / "ckpt1")

    got = read_rollup(spark, str(rollup_dir))
    exp = _batch_expected(spark, in_dir)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    compact_rollup(spark, str(rollup_dir))
    got2 = read_rollup(spark, str(rollup_dir))
    assert got2.exceptAll(exp).count() == 0 and exp.exceptAll(got2).count() == 0
    # base exists, changelog folded away
    assert (rollup_dir / "base").exists()
    assert not (rollup_dir / "changelog").exists()


def test_incremental_update_supersedes_base(spark, tmp_path):
    """New data for an existing bucket lands as a higher epoch and wins
    over the compacted base; untouched buckets stay intact."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.jsonl").write_text(
        _lines(
            [
                {"ts": "2024-03-01T00:05:00", "event_type": "view", "value": 2.0},
                {"ts": "2024-03-01T01:05:00", "event_type": "view", "value": 3.0},
            ]
        )
    )
    rollup_dir = tmp_path / "rollup"
    _drain(spark, in_dir, rollup_dir, tmp_path / "ckpt")
    compact_rollup(spark, str(rollup_dir))

    # second batch touches only the 00:00 bucket (same checkpoint → the
    # stream resumes and processes just the new file)
    (in_dir / "b.jsonl").write_text(
        _lines([{"ts": "2024-03-01T00:10:00", "event_type": "view", "value": 5.0}])
    )
    _drain(spark, in_dir, rollup_dir, tmp_path / "ckpt")

    rows = {
        (r.bucket_start.hour, r.event_type): (r.n_events, r.sum_value)
        for r in read_rollup(spark, str(rollup_dir)).collect()
    }
    assert rows[(0, "view")] == (2, 7.0)  # superseded by the update epoch
    assert rows[(1, "view")] == (1, 3.0)  # untouched bucket from base


def test_as_of_epoch_snapshot_read(spark, tmp_path):
    """Time travel: reading the changelog as of an earlier epoch
    reproduces the pre-update state of a bucket."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.jsonl").write_text(
        _lines([{"ts": "2024-03-01T00:05:00", "event_type": "view", "value": 2.0}])
    )
    rollup_dir = tmp_path / "rollup"
    _drain(spark, in_dir, rollup_dir, tmp_path / "ckpt")
    epochs_before = sorted(
        int(r.epoch)
        for r in spark.read.parquet(str(rollup_dir / "changelog"))
        .select("epoch")
        .distinct()
        .collect()
    )

    (in_dir / "b.jsonl").write_text(
        _lines([{"ts": "2024-03-01T00:10:00", "event_type": "view", "value": 5.0}])
    )
    _drain(spark, in_dir, rollup_dir, tmp_path / "ckpt")

    latest = read_rollup(spark, str(rollup_dir)).first()
    assert (latest.n_events, latest.sum_value) == (2, 7.0)
    asof = read_rollup(spark, str(rollup_dir), as_of_epoch=epochs_before[-1]).first()
    assert (asof.n_events, asof.sum_value) == (1, 2.0)


def test_read_rollup_raises_on_corrupt_base(spark, tmp_path):
    """A present but unreadable base must fail the read and the
    compaction, not read as absent: the changelog alone would drop
    every folded window, and compaction would then delete the base."""
    import pytest

    rollup_dir = tmp_path / "rollup"
    spark.createDataFrame(
        [("view", 1, 2.0)], "event_type STRING, n_events LONG, sum_value DOUBLE"
    ).select(
        F.to_timestamp(F.lit("2024-03-01 00:00:00")).alias("bucket_start"),
        "event_type",
        "n_events",
        "sum_value",
    ).write.parquet(str(rollup_dir / "changelog" / "epoch=3"))
    (rollup_dir / "base").mkdir()
    (rollup_dir / "base" / "part-00000.parquet").write_bytes(b"not a parquet file")

    with pytest.raises(Exception):
        read_rollup(spark, str(rollup_dir)).collect()
    with pytest.raises(Exception):
        compact_rollup(spark, str(rollup_dir))
    assert (rollup_dir / "base" / "part-00000.parquet").exists()
    # a missing dir is still just "no data", loud but specific
    with pytest.raises(FileNotFoundError):
        read_rollup(spark, str(tmp_path / "absent"))


def test_rollup_compaction_crash_between_base_renames(
    spark, tmp_path, monkeypatch
):
    """Crash at the base_new -> base rename of a compaction that folds
    onto an earlier base: the reader must still return every window,
    including those only the earlier base holds, and a re-run must heal
    the layout."""
    import pytest

    import flink_template_spark.streaming.changelog as CL

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.jsonl").write_text(
        _lines(
            [
                {"ts": "2024-03-01T00:05:00", "event_type": "view", "value": 2.0},
                {"ts": "2024-03-01T01:05:00", "event_type": "click", "value": 3.0},
            ]
        )
    )
    rollup_dir = tmp_path / "rollup"
    _drain(spark, in_dir, rollup_dir, tmp_path / "ckpt")
    compact_rollup(spark, str(rollup_dir))  # the 01:00 window lives only here

    (in_dir / "b.jsonl").write_text(
        _lines(
            [
                {"ts": "2024-03-01T00:10:00", "event_type": "view", "value": 5.0},
                {"ts": "2024-03-01T02:10:00", "event_type": "view", "value": 1.0},
            ]
        )
    )
    _drain(spark, in_dir, rollup_dir, tmp_path / "ckpt")
    exp = _batch_expected(spark, in_dir)

    def same(got):
        return got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    assert same(read_rollup(spark, str(rollup_dir)))

    real_rename = CL.os.rename

    def crashing_rename(src, dst):
        if str(src).endswith("base_new"):
            raise RuntimeError("simulated crash at the base_new rename")
        return real_rename(src, dst)

    monkeypatch.setattr(CL.os, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_rollup(spark, str(rollup_dir))
    monkeypatch.setattr(CL.os, "rename", real_rename)

    assert not (rollup_dir / "base").exists()
    assert same(read_rollup(spark, str(rollup_dir)))

    compact_rollup(spark, str(rollup_dir))  # re-run heals the layout
    assert (rollup_dir / "base").exists()
    assert not (rollup_dir / "base_old").exists()
    assert not (rollup_dir / "base_new").exists()
    assert not (rollup_dir / "changelog").exists()
    assert same(read_rollup(spark, str(rollup_dir)))
