"""Product quantization: determinism, reconstruction quality, and
ADC-search agreement with exact distances on separated clusters."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _clustered_vectors(spark, n_per=20, dim=8, centers=((0.0,) * 8, (10.0,) * 8)):
    rng = random.Random(7)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(n_per):
            rows.append(
                (vid, [x + rng.uniform(-0.5, 0.5) for x in c])
            )
            vid += 1
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


def test_pq_train_deterministic(spark):
    from flink_template_spark.operators.pq import pq_train

    vecs = _clustered_vectors(spark)
    cb1 = pq_train(vecs, m=2, k=4, n_iter=2)
    cb2 = pq_train(vecs, m=2, k=4, n_iter=2)
    assert cb1 == cb2
    assert len(cb1) == 2 and all(len(cb) == 4 for cb in cb1)


def test_pq_codes_shape_and_range(spark):
    from flink_template_spark.operators.pq import pq_encode, pq_train

    vecs = _clustered_vectors(spark)
    cbs = pq_train(vecs, m=2, k=4, n_iter=2)
    codes = pq_encode(vecs, cbs).collect()
    assert len(codes) == 40
    for r in codes:
        assert len(r.codes) == 2
        assert all(0 <= c < 4 for c in r.codes)


def test_pq_reconstruction_beats_degenerate_codebook(spark):
    from flink_template_spark.operators.pq import (
        pq_decode_expr,
        pq_encode,
        pq_train,
    )

    vecs = _clustered_vectors(spark)
    trained = pq_train(vecs, m=2, k=4, n_iter=3)
    degenerate = [[[0.0] * 4] * 4, [[0.0] * 4] * 4]  # all-zero codes

    def mean_err(cbs):
        enc = pq_encode(vecs, cbs).join(vecs, "vec_id")
        rec = enc.select(
            "embedding", pq_decode_expr(cbs).alias("rec")
        )
        err = rec.select(
            F.aggregate(
                F.zip_with("embedding", "rec", lambda a, b: (a - b) ** 2),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("e")
        )
        return err.agg(F.avg("e")).first()[0]

    assert mean_err(trained) < mean_err(degenerate) / 10


def test_pq_adc_topk_finds_query_cluster(spark):
    from flink_template_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    vecs = _clustered_vectors(spark)
    cbs = pq_train(vecs, m=2, k=4, n_iter=3)
    encoded = pq_encode(vecs, cbs)
    # query at the second cluster's center: ids 20..39 are its members
    got = pq_adc_topk(encoded, cbs, [10.0] * 8, k_results=10).collect()
    assert len(got) == 10
    assert all(r.vec_id >= 20 for r in got)
    # compressed-domain distances are non-negative and sorted
    dists = [r.adc_dist for r in got]
    assert dists == sorted(dists) and dists[0] >= 0.0


def test_pq_codes_kernel_rejects_non_finite_codebook():
    """One NaN codebook entry makes only some of a subspace's distances
    NaN, where the vectorized argmin and the per-row loop disagree: the
    kernel refuses such a codebook when it is built."""
    from flink_template_spark.operators.pq import _codes_arrow

    with pytest.raises(ValueError, match="finite"):
        _codes_arrow([[[0.0, 0.0], [1.0, float("nan")]]], "embedding")
