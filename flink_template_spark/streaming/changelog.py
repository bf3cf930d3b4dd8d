"""The epoch changelog behind every mergeable stream state.

Four streams keep their state here: the continuous rollup
(streaming.rollup, latest epoch wins per window), KMV sketches
(streaming.sketch_stream, set union), Count-Min counters
(streaming.cms_stream, addition) and content fingerprints
(streaming.fingerprint_stream, XOR/SUM). They differ only in how state
rows merge; the layout, the writer, the read rule and the compaction
swap are this module's.

- Writer: each micro-batch overwrites ``changelog/epoch=N`` with that
  batch's state rows, so a foreachBatch retry rewrites the same
  directory.
- Read rule: readers take EXACTLY ONE base (``base`` if present, else
  ``base_old``; whenever both exist, base is by construction the
  superset fold) plus every changelog epoch NOT named in that base's
  ``_folded_epochs.json`` sidecar. The union tags each row with its
  epoch, −1 for base rows, and the stream's merge function folds it.
  Each epoch's rows therefore enter the merge exactly once, which
  additive state needs (a re-read counter double-counts), and an
  already-folded epoch never overrides a newer base, which latest-wins
  state needs. Set union is exact under any rule.
- Compaction folds the union into base_new with sidecar = (previous
  sidecar ∩ epochs still on disk) ∪ newly folded (written INSIDE
  base_new, so it travels atomically with the base), renames base
  aside, renames base_new in, deletes exactly the sidecar-named epoch
  dirs, and drops base_old last. base_old is never touched while base
  is absent: it is then the only copy of the folded history.

Every crash point reads the exact pre-crash state and a re-run heals
the layout (pinned by the CMS, KMV and rollup crash-window tests). A
base without a sidecar (KMV and rollup bases compacted before this
rule served them) is read with every epoch on disk, as their readers
did then. Out of scope: a stream restarted WITHOUT its checkpoint
re-ingests its input under reset epoch ids; Structured Streaming's
exactly-once already requires the checkpoint to survive.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SIDECAR = "_folded_epochs.json"
_EPOCH = "epoch="

# merge: fold an epoch-tagged union of state rows to one state table
MergeFn = Callable[[DataFrame], DataFrame]


def _log(state_dir: str) -> str:
    return os.path.join(state_dir, "changelog")


def start_changelog_writer(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    state_rows: Callable[[DataFrame], DataFrame],
    available_now: bool = False,
):
    """Start the foreachBatch writer: each epoch's ``state_rows(batch)``
    overwrites ``changelog/epoch=N``. Update mode runs as append on a
    query without aggregation, and emits changed windows on one with."""

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            state_rows(batch_df)
            .repartition(1)
            .write.mode("overwrite")
            .parquet(os.path.join(_log(state_dir), f"{_EPOCH}{epoch_id}"))
        )

    writer = (
        stream.writeStream.outputMode("update")
        .foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _folded_epochs(base_dir: str) -> set[str]:
    sidecar = os.path.join(base_dir, _SIDECAR)
    if not os.path.exists(sidecar):
        return set()
    with open(sidecar) as fh:
        return set(json.load(fh)["epochs"])


def _epoch_dirs(state_dir: str) -> dict[str, str]:
    """Extant changelog epoch dirs: name -> absolute path."""
    log = _log(state_dir)
    if not os.path.isdir(log):
        return {}
    return {
        name: os.path.join(log, name)
        for name in sorted(os.listdir(log))
        if name.startswith(_EPOCH) and os.path.isdir(os.path.join(log, name))
    }


def _state_union(
    spark: SparkSession, state_dir: str, cols: list[str]
) -> tuple[DataFrame | None, set[str], dict[str, str]]:
    """(epoch-tagged union, chosen base's folded epochs, unfolded epoch
    dirs) under the one-base + unfolded-epochs read rule."""
    parts: list[DataFrame] = []
    folded: set[str] = set()
    for cand in ("base", "base_old"):
        d = os.path.join(state_dir, cand)
        if os.path.isdir(d):
            folded = _folded_epochs(d)
            parts.append(
                spark.read.parquet(d).select(
                    *cols, F.lit(-1).cast("long").alias("epoch")
                )
            )
            break  # exactly one base — base supersedes base_old
    epochs = {
        name: p for name, p in _epoch_dirs(state_dir).items() if name not in folded
    }
    if epochs:
        # one scan over every unfolded epoch; the epoch comes back as
        # the partition column of its directory name
        parts.append(
            spark.read.option("basePath", _log(state_dir))
            .parquet(*epochs.values())
            .select(*cols, F.col("epoch").cast("long"))
        )
    if not parts:
        return None, folded, epochs
    union = parts[0] if len(parts) == 1 else parts[0].unionAll(parts[1])
    return union, folded, epochs


def read_state(
    spark: SparkSession, state_dir: str, cols: list[str], merge: MergeFn
) -> DataFrame:
    """The merged state over everything the stream has written, exact
    at every crash point."""
    union, _, _ = _state_union(spark, state_dir, cols)
    if union is None:
        raise FileNotFoundError(f"no changelog state under {state_dir}")
    return merge(union)


def compact_state(
    spark: SparkSession, state_dir: str, cols: list[str], merge: MergeFn
) -> None:
    """Fold the chosen base ∪ unfolded epochs into a new one-file base
    and swap it in (module docstring)."""
    union, folded, epochs = _state_union(spark, state_dir, cols)
    if union is None:
        return
    # pinned before the renames below invalidate the plan's input paths
    merged = merge(union).localCheckpoint()

    base = os.path.join(state_dir, "base")
    base_old = os.path.join(state_dir, "base_old")
    base_new = os.path.join(state_dir, "base_new")
    merged.repartition(1).write.mode("overwrite").parquet(base_new)
    # sidecar: keep prior names only while their dirs still exist (a
    # completed earlier swap already deleted them), add what we folded
    on_disk = _epoch_dirs(state_dir)
    now_folded = sorted((folded & on_disk.keys()) | epochs.keys())
    tmp = os.path.join(base_new, _SIDECAR + ".tmp")
    with open(tmp, "w") as fh:
        json.dump({"epochs": now_folded}, fh)
    os.replace(tmp, os.path.join(base_new, _SIDECAR))

    # A stale base_old is superseded by base (and both by merged);
    # clear it so the rename-aside cannot collide.
    if os.path.isdir(base_old) and os.path.isdir(base):
        shutil.rmtree(base_old)
    if os.path.isdir(base):
        os.rename(base, base_old)
    os.rename(base_new, base)
    for name in now_folded:
        if name in on_disk:
            shutil.rmtree(on_disk[name])
    log = _log(state_dir)
    if os.path.isdir(log) and not os.listdir(log):
        os.rmdir(log)  # fully folded — tidy the empty namespace
    if os.path.isdir(base_old):
        shutil.rmtree(base_old)
