"""Skew bound of the blocked vector pair kernel
(operators.similarity.pair_cos_blocked): a block larger than
``_PAIR_BLOCK_TARGET`` splits into hash sub-blocks whose pairs run as
separate kernel rows and tasks, with the same pair set as one dense
block — for natural blocks (semdedup clusters) and for the one-block
corpus (cosine_near_dup_exact); a vector whose natural block key is
NULL (an off-width vector's IVF cluster) pairs with nothing."""

from __future__ import annotations

import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from flink_template_spark.operators import similarity

DIM = 8
HOT = 0  # centroid id that holds most of the corpus


def _corpus(spark, n_hot: int, n_cold: int, dim: int = DIM):
    """(vectors, centroids): unit-axis centroids 0..3, ``n_hot``
    vectors near centroid 0 (the hot cluster), ``n_cold`` near each of
    1..3, plus three 3-wide (off-width) vectors whose IVF cluster is
    NULL — ids 9000 and 9001 are near-duplicates of each other."""
    rng = random.Random(7)

    def near(axis: int) -> list[float]:
        return [
            round((1.0 if i == axis else 0.0) + rng.uniform(-0.3, 0.3), 3)
            for i in range(dim)
        ]

    rows, vid = [], 100
    for axis, n in ((0, n_hot), (1, n_cold), (2, n_cold), (3, n_cold)):
        for _ in range(n):
            rows.append((vid, near(axis)))
            vid += 1
    rows += [
        (9000, [1.0, 0.5, 0.25]),
        (9001, [1.0, 0.5, 0.26]),
        (9002, [0.0, 0.0, 1.0]),
    ]
    schema = "vec_id long, embedding array<double>"
    cents = [(c, [1.0 if i == c else 0.0 for i in range(dim)]) for c in range(4)]
    return (
        spark.createDataFrame(rows, schema),
        spark.createDataFrame(cents, "centroid_id long, embedding array<double>"),
    )


@contextmanager
def _uncoalesced(spark):
    """AQE merges small shuffle partitions into one task; at fixture
    size that would hide how the plan partitions the kernel input."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("target", [1, 8])
def test_sub_blocks_keep_rows(spark, monkeypatch, target):
    """A small sub-block target (down to one vector per sub-block)
    returns the rows of the default target (every block one sub-block
    here), for natural blocks and for the one-block corpus. The
    NULL-cluster off-width vectors are never paired by semdedup (the
    oracle's equi-join on the cluster never matches NULL), while the
    one-block exact scan pairs them like any equal-width vectors."""
    vectors, cents = _corpus(spark, n_hot=120, n_cold=20)
    assert vectors.count() == 183

    def run():
        keep = sorted(
            map(tuple, similarity.semdedup(vectors, cents, 0.95).collect())
        )
        exact = [
            tuple(r)
            for r in similarity.cosine_near_dup_exact(vectors, 0.9).collect()
        ]
        return keep, exact

    keep_ref, exact_ref = run()
    monkeypatch.setattr(similarity, "_PAIR_BLOCK_TARGET", target)
    keep, exact = run()
    assert keep == keep_ref and exact == exact_ref

    kept = dict(keep)
    # the hot cluster holds more than half of the corpus, and some of
    # its vectors are dominated while others are kept
    assert sum(1 for c in kept.values() if c == HOT) < 120
    assert sum(1 for c in kept.values() if c == HOT) > 0
    # off-width rows: NULL cluster, so all three are kept although
    # 9001 is a near-duplicate of 9000
    assert all(v in kept and kept[v] is None for v in (9000, 9001, 9002))
    assert (9000, 9001, 1.0) in {(a, b, round(c, 4)) for a, b, c in exact}
    assert len(exact) > 100


def _kernel_partitions(spark, vectors) -> int:
    """Number of kernel partitions that emit pairs for one
    within-cluster pair scan of ``vectors`` (all in cluster HOT)."""
    return (
        similarity.pair_cos_blocked(
            vectors.withColumn("cluster", F.lit(HOT)),
            -2.0,
            block_col="cluster",
        )
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )


def test_hot_cluster_runs_as_many_tasks(spark, monkeypatch):
    """One cluster of 2,000 vectors: as one block it is one kernel row
    in one task; with sub-blocks of 64 its 528 sub-block pairs spread
    over more than one of the kernel stage's tasks."""
    rng = random.Random(11)
    hot = spark.createDataFrame(
        [
            (i, [round(rng.uniform(-1.0, 1.0), 3) for _ in range(64)])
            for i in range(2000)
        ],
        "vec_id long, embedding array<double>",
    ).repartition(8)
    with _uncoalesced(spark):
        monkeypatch.setattr(similarity, "_PAIR_BLOCK_TARGET", 64)
        parts_sub = _kernel_partitions(spark, hot)
        monkeypatch.setattr(similarity, "_PAIR_BLOCK_TARGET", 10**9)
        parts_one = _kernel_partitions(spark, hot)
    assert parts_one == 1
    assert parts_sub > 1
