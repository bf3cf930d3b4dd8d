"""Streaming KMV sketches: the stream-maintained sketch must be
BIT-IDENTICAL to the batch sketch over all events seen (KMV union is
lossless by value), and compaction must preserve it exactly."""

from __future__ import annotations

import json

from flink_template_spark.streaming.sketch_stream import (
    compact_kmv,
    read_kmv,
    write_kmv_stream,
)

SCHEMA = "ts TIMESTAMP, event_type STRING, user_id LONG"


def _lines(rows):
    return "\n".join(json.dumps(r) for r in rows) + "\n"


def _batch_expected(spark, in_dir):
    from flink_template_spark.operators.sketches_portable import (
        kmv_estimate,
        kmv_sketch,
    )

    df = spark.read.schema(SCHEMA).json(str(in_dir))
    return kmv_estimate(kmv_sketch(df, ["event_type"], "user_id"), ["event_type"])


def test_kmv_stream_equals_batch_and_survives_compaction(spark, tmp_path):
    in_dir = tmp_path / "in"
    sk_dir = tmp_path / "sk"
    ckpt = tmp_path / "ckpt"
    in_dir.mkdir()
    # two files -> (at least) two micro-batches under availableNow;
    # heavy overlap between them so the union actually dedups hashes
    f1 = [
        {"ts": "2024-01-01T00:00:00", "event_type": "click", "user_id": u}
        for u in range(120)
    ] + [
        {"ts": "2024-01-01T00:01:00", "event_type": "view", "user_id": u}
        for u in range(30)
    ]
    f2 = [
        {"ts": "2024-01-01T01:00:00", "event_type": "click", "user_id": u}
        for u in range(60, 200)  # overlaps f1's 60..119
    ] + [
        {"ts": "2024-01-01T01:01:00", "event_type": "view", "user_id": u}
        for u in range(10, 40)
    ]
    (in_dir / "a.json").write_text(_lines(f1))
    (in_dir / "b.json").write_text(_lines(f2))

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(
        str(in_dir)
    )
    q = write_kmv_stream(
        stream, str(sk_dir), str(ckpt), available_now=True
    )
    q.awaitTermination(120)
    assert not q.isActive

    key = lambda r: (r["event_type"], r["n_h"], r["theta"], r["est"])
    want = sorted(map(key, _batch_expected(spark, in_dir).collect()))
    got = sorted(map(key, read_kmv(spark, str(sk_dir)).collect()))
    assert got == want  # lossless union: bit-identical to batch
    # click crossed k=64 distinct (estimating branch), view stayed exact
    by_type = {r[0]: r for r in got}
    assert by_type["click"][1] == 64  # n_h capped at k
    assert by_type["view"][1] == 40 and by_type["view"][3] == 40.0

    # compaction folds epochs into one and preserves the sketch exactly
    compact_kmv(spark, str(sk_dir))
    after = sorted(map(key, read_kmv(spark, str(sk_dir)).collect()))
    assert after == want

    # -- crash-window recoverability (ADVICE r5): simulate a crash
    # between compaction's rename-aside and rename-into-place, i.e.
    # base moved to base_old, base_new complete, base missing. Both the
    # reader and a re-run compaction must recover the full state.
    import shutil

    (sk_dir / "base_new").mkdir()  # even a PARTIAL base_new must be ignored
    (sk_dir / "base_new" / "part-corrupt.parquet").write_bytes(b"\x00garbage")
    shutil.move(str(sk_dir / "base"), str(sk_dir / "base_old"))
    mid_crash = sorted(map(key, read_kmv(spark, str(sk_dir)).collect()))
    assert mid_crash == want  # reader falls back to base_old
    compact_kmv(spark, str(sk_dir))  # re-run heals the layout
    assert (sk_dir / "base").exists()
    assert not (sk_dir / "base_old").exists()
    assert not (sk_dir / "base_new").exists()
    healed = sorted(map(key, read_kmv(spark, str(sk_dir)).collect()))
    assert healed == want


def test_read_kmv_raises_on_corrupt_base(spark, tmp_path):
    """A present-but-unreadable base must FAIL, not silently degrade to
    changelog-only undercounts (ADVICE r5)."""
    import pytest

    sk = tmp_path / "sk"
    (sk / "base").mkdir(parents=True)
    (sk / "base" / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        read_kmv(spark, str(sk))
    # and a missing dir is still just "no data", loud but specific
    with pytest.raises(FileNotFoundError):
        read_kmv(spark, str(tmp_path / "absent"))


def test_kmv_healing_compaction_crash_keeps_base_old(
    spark, tmp_path, monkeypatch
):
    """The r6-review hole: while HEALING a prior crash (state =
    {base_old, changelog}, no base), the swap must not delete base_old
    — the only copy of compacted history — before base_new is renamed
    into place. A crash at that rename must leave base_old readable,
    and the next compaction must fold it (base_new is never read)."""
    import shutil

    import flink_template_spark.streaming.changelog as CL

    in_dir = tmp_path / "in"
    sk_dir = tmp_path / "sk"
    ckpt = tmp_path / "ckpt"
    in_dir.mkdir()
    rows = [
        {"ts": "2024-01-01T00:00:00", "event_type": "click", "user_id": u}
        for u in range(80)
    ]
    (in_dir / "a.json").write_text(_lines(rows))
    stream = spark.readStream.schema(SCHEMA).json(str(in_dir))
    q = write_kmv_stream(stream, str(sk_dir), str(ckpt), available_now=True)
    q.awaitTermination(120)

    key = lambda r: (r["event_type"], r["n_h"], r["theta"], r["est"])
    compact_kmv(spark, str(sk_dir))
    want = sorted(map(key, read_kmv(spark, str(sk_dir)).collect()))

    # new epoch arrives, then simulate the prior crash state:
    # base renamed aside, no base
    rows2 = [
        {"ts": "2024-01-01T01:00:00", "event_type": "view", "user_id": u}
        for u in range(25)
    ]
    (in_dir / "b.json").write_text(_lines(rows2))
    q = write_kmv_stream(stream, str(sk_dir), str(ckpt), available_now=True)
    q.awaitTermination(120)
    shutil.move(str(sk_dir / "base"), str(sk_dir / "base_old"))
    want2 = sorted(map(key, read_kmv(spark, str(sk_dir)).collect()))

    real_rename = CL.os.rename

    def crashing_rename(src, dst):
        if str(src).endswith("base_new"):
            raise RuntimeError("simulated crash before base_new rename")
        return real_rename(src, dst)

    monkeypatch.setattr(CL.os, "rename", crashing_rename)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        compact_kmv(spark, str(sk_dir))
    monkeypatch.setattr(CL.os, "rename", real_rename)

    # the fix's guarantee: base_old survived the crashed healing run
    assert (sk_dir / "base_old").exists()
    assert not (sk_dir / "base").exists()
    assert sorted(map(key, read_kmv(spark, str(sk_dir)).collect())) == want2

    compact_kmv(spark, str(sk_dir))  # second heal completes
    assert (sk_dir / "base").exists()
    assert not (sk_dir / "base_old").exists()
    assert not (sk_dir / "base_new").exists()
    assert sorted(map(key, read_kmv(spark, str(sk_dir)).collect())) == want2
    assert want2 != want  # the new epoch is genuinely in the fold
