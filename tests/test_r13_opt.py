"""Round-13 optimization tests: contracts and guards added this round.

- _plane_dot's fixed-width contract (VERDICT r12 #7): an off-width
  vector yields NULL by pinned contract, not by zip_with accident.
- facility_location_greedy's broadcast guard (VERDICT r12 #6): above
  BROADCAST_COV_MAX_ROWS the loop degrades to the shuffle join with
  identical picks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_plane_dot_fixed_width_contract(spark):
    """The LSH module contract is dim == PLANE_STRIDE (64). _plane_dot
    zip_withs the vector against a 64-wide literal weight array, so an
    off-width vector NULL-pads and the fold returns NULL — pin that as
    the explicit contract (off-width input => NULL, never a partial
    dot), for both the HOF form and the Arrow kernel."""
    from flink_template_spark.functions.vector import plane_dots_arrow
    from flink_template_spark.operators.similarity import (
        PLANE_STRIDE,
        _plane_dot,
        _plane_weights,
    )

    full = [float(i % 7) - 3.0 for i in range(PLANE_STRIDE)]
    short = full[: PLANE_STRIDE - 1]
    long = full + [1.0]
    df = spark.createDataFrame(
        [(1, full), (2, short), (3, long), (4, None)],
        "id long, v array<double>",
    )
    weights = [_plane_weights(j) for j in range(4)]
    rows = {
        r.id: r
        for r in df.select(
            "id",
            _plane_dot(F.col("v"), 0).alias("hof"),
            plane_dots_arrow(F.col("v"), weights).alias("arrow"),
        ).collect()
    }
    # in-contract width: both forms produce a real dot
    assert rows[1].hof is not None
    assert rows[1].arrow is not None and rows[1].arrow[0] is not None
    # off-width (short, long) and NULL vectors: NULL, never a partial dot
    for rid in (2, 3, 4):
        assert rows[rid].hof is None, f"id={rid} HOF broke the width contract"
        assert rows[rid].arrow is None, (
            f"id={rid} Arrow kernel broke the width contract"
        )


def test_minhash_instance_min_matches_distinct_min(spark, sf_dir):
    """minhash_signatures' distinct=False shingle feed must produce the
    identical signature table as a min over the DISTINCT shingle set
    (MIN is duplicate-insensitive)."""
    from flink_template_spark.functions.hashing import (
        NUM_HASHES,
        md5int_spark,
        minhash_expr,
    )
    from flink_template_spark.operators.dedup import (
        minhash_signatures,
        shingle_rows,
    )
    from flink_template_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    got = minhash_signatures(docs)
    sh = shingle_rows(docs, 3, distinct=True).withColumn(
        "h", F.expr(md5int_spark("shingle"))
    )
    ref = sh.groupBy("doc_id").agg(
        *[
            F.min(F.expr(minhash_expr(i, "h"))).alias(f"mh_{i}")
            for i in range(NUM_HASHES)
        ]
    )
    g = sorted(map(tuple, got.collect()))
    r = sorted(map(tuple, ref.collect()))
    assert g == r and len(g) > 0


def test_pq_codes_arrow_bit_identical(spark, sf_dir):
    """_codes_arrow must reproduce the HOF form —
    F.array(_argmin_code(slice_j, cb_j) for j) — EXACTLY: on the real
    embedding corpus with real trained codebooks, and on every
    out-of-contract shape (NULL row, NULL element, short/long/empty
    vector, NaN, ±Inf). Codes feed the declared q_pq/q_ann oracles, so
    a single differing argmin is a correctness bug, not a perf note."""
    from flink_template_spark.operators.pq import (
        _argmin_code,
        _codes_arrow,
        _subvec,
        pq_train,
    )
    from flink_template_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    codebooks = pq_train(emb, m=4, k=4, n_iter=1)
    d = len(codebooks[0][0])

    def hof(vec_col):
        return F.array(
            *[
                _argmin_code(_subvec(vec_col, j, d), cb)
                for j, cb in enumerate(codebooks)
            ]
        )

    # 1) the real corpus: every row's codes identical
    both = emb.select(
        "vec_id",
        hof("embedding").alias("h"),
        _codes_arrow(codebooks, "embedding").alias("a"),
    ).collect()
    assert len(both) > 0
    for r in both:
        assert r.h == r.a, f"vec_id={r.vec_id}: HOF {r.h} != Arrow {r.a}"

    # 2) adversarial shapes (dim = 4*d here)
    full = [0.25 * i - 3.0 for i in range(4 * d)]
    cases = [
        (1, full),
        (2, None),                                   # NULL row
        (3, full[: 4 * d - 1]),                      # short (last subspace)
        (4, full + [9.0]),                           # long (tail ignored)
        (5, []),                                     # empty
        (6, full[:d] + [None] + full[d + 1 :]),      # NULL element in j=1
        (7, full[:d] + [float("nan")] + full[d + 1 :]),   # NaN in j=1
        (8, [float("inf")] + full[1:]),              # +Inf in j=0
        (9, [float("-inf")] + full[1:]),             # -Inf in j=0
    ]
    adv = spark.createDataFrame(cases, "id long, v array<double>")
    rows = {
        r.id: r
        for r in adv.select(
            "id",
            hof("v").alias("h"),
            _codes_arrow(codebooks, "v").alias("a"),
        ).collect()
    }
    for cid, _ in cases:
        if cid == 6:
            continue  # the one documented divergence, pinned below
        assert rows[cid].h == rows[cid].a, (
            f"case {cid}: HOF {rows[cid].h} != Arrow {rows[cid].a}"
        )
    # shape spot-pins (so a both-sides regression can't hide):
    assert rows[2].h == [None] * 4          # NULL row -> m NULL argmins
    assert rows[3].h[3] is None and rows[3].h[0] is not None
    assert rows[7].h[1] == 0                # all-NaN dists -> first code
    assert rows[5].h == [None] * 4
    # case 6 (NULL element in subspace j=1): Arrow deserialization
    # erases NULL-element vs NaN inside array<double>, so the kernel
    # codes it as NaN (code 0) where the HOF fold yields NULL — the
    # documented out-of-contract boundary (operators/pq._codes_arrow)
    assert rows[6].h[1] is None and rows[6].a[1] == 0
    assert (
        [x for i, x in enumerate(rows[6].h) if i != 1]
        == [x for i, x in enumerate(rows[6].a) if i != 1]
    )


def test_pair_cos_blocked_bit_identical(spark, sf_dir):
    """pair_cos_blocked must emit bit-identical raw cosines to the
    per-pair fold join for EVERY unordered pair of valid vectors (the
    kernel replays dot's and l2_norm's exact folds), and
    cosine_near_dup_exact must be row-identical to the fold join
    rounded to 6 dp, thresholded and ordered by (id_a, id_b) at a
    permissive threshold. Mixed-width pairs drop like the zip_with
    NULL fold."""
    import struct

    from flink_template_spark.functions.vector import dot, l2_norm, valid_vec
    from flink_template_spark.operators.similarity import (
        cosine_near_dup_exact,
        pair_cos_blocked,
    )
    from flink_template_spark.tables import load_table

    def fold_pairs(vectors):
        """(id_a, id_b, raw cosine) by the per-pair JVM fold join."""
        wn = vectors.filter(valid_vec(F.col("embedding"))).select(
            "vec_id", "embedding", l2_norm(F.col("embedding")).alias("n")
        )
        a = wn.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("va"),
            F.col("n").alias("na"),
        )
        b = wn.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("vb"),
            F.col("n").alias("nb"),
        )
        return a.join(b, F.col("id_a") < F.col("id_b")).select(
            "id_a",
            "id_b",
            (
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            ).alias("c"),
        )

    def fold_near_dup(vectors, threshold):
        return (
            fold_pairs(vectors)
            .select("id_a", "id_b", F.round(F.col("c"), 6).alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
            .orderBy("id_a", "id_b")
            .collect()
        )

    emb = load_table(spark, sf_dir, "embeddings")
    fold = {(r.id_a, r.id_b): r.c for r in fold_pairs(emb).collect()}
    kern = {
        (r.id_a, r.id_b): r.raw_cos
        for r in pair_cos_blocked(emb, -2.0).collect()
    }
    assert len(fold) > 0 and set(fold) == set(kern)
    bits = lambda x: struct.pack("<d", x)  # noqa: E731
    for key in fold:
        assert bits(fold[key]) == bits(kern[key]), key

    got = cosine_near_dup_exact(emb, 0.30).collect()
    ref = fold_near_dup(emb, 0.30)
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]

    # mixed widths: only equal-width pairs score (zip_with pad -> NULL)
    mixed = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.5, 0.5, 0.0]),
            (3, [1.0, 0.0]),
            (4, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got_m = cosine_near_dup_exact(mixed, -1.0).collect()
    ref_m = fold_near_dup(mixed, -1.0)
    assert [tuple(r) for r in got_m] == [tuple(r) for r in ref_m]
    assert {(r.id_a, r.id_b) for r in got_m} == {(1, 2), (3, 4)}


def test_ivf_assign_mapside_identical(spark, sf_dir):
    """The map-side ivf_assign (one Arrow pass + in-plan rounded argmax)
    must reproduce the old crossJoin + window formulation row for row:
    same cluster for every vector, on the real corpus for several
    centroid-set sizes, including a rounded-tie corpus (duplicate
    centroids -> lowest centroid_id must win, as under the old
    row_number tiebreak)."""
    from pyspark.sql import Window as W

    from flink_template_spark.functions.vector import cosine, valid_vec
    from flink_template_spark.operators.similarity import ivf_assign
    from flink_template_spark.tables import load_table

    def old_assign(vectors, centroids, id_col="vec_id", vec_col="embedding"):
        c = centroids.filter(valid_vec(F.col(vec_col))).select(
            F.col("centroid_id"), F.col(vec_col).alias("__cvec")
        )
        scored = (
            vectors.filter(valid_vec(F.col(vec_col)))
            .crossJoin(F.broadcast(c))
            .select(
                id_col,
                "centroid_id",
                F.round(cosine(F.col(vec_col), F.col("__cvec")), 6).alias(
                    "c_sim"
                ),
            )
        )
        w = W.partitionBy(id_col).orderBy(F.desc("c_sim"), "centroid_id")
        return (
            scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(id_col, F.col("centroid_id").alias("cluster"))
        )

    emb = load_table(spark, sf_dir, "embeddings")
    for n_cent in (4, 45):
        cents = emb.filter(F.col("vec_id") < n_cent).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        got = {
            r.vec_id: r.cluster
            for r in ivf_assign(emb, cents).select("vec_id", "cluster").collect()
        }
        ref = {r.vec_id: r.cluster for r in old_assign(emb, cents).collect()}
        assert got == ref and len(got) > 0

    # duplicate centroid vectors force EXACT rounded ties on every row:
    # both formulations must break to the lowest centroid_id
    dup = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    dup = dup.unionAll(
        dup.select(
            (F.col("centroid_id") + 100).alias("centroid_id"), "embedding"
        )
    )
    got = {
        r.vec_id: r.cluster
        for r in ivf_assign(emb, dup).select("vec_id", "cluster").collect()
    }
    ref = {r.vec_id: r.cluster for r in old_assign(emb, dup).collect()}
    assert got == ref and set(got.values()) <= {0, 1}


def test_semdedup_blocked_identical(spark, sf_dir):
    """semdedup's blocked pair scoring must keep the identical id set
    as the old within-cluster pair join (round over every pair)."""
    from flink_template_spark.functions.vector import dot, l2_norm
    from flink_template_spark.operators.similarity import ivf_assign, semdedup
    from flink_template_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    for n_cent, th in ((4, 0.4), (20, 0.2)):
        cents = emb.filter(F.col("vec_id") < n_cent).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        got = sorted(
            map(tuple, semdedup(emb, cents, th).collect())
        )
        assigned = ivf_assign(emb, cents)
        wn = assigned.select(
            "vec_id", "cluster", "embedding",
            l2_norm(F.col("embedding")).alias("__norm"),
        )
        a = wn.select(
            "cluster", F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("va"), F.col("__norm").alias("na"),
        )
        b = wn.select(
            "cluster", F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("vb"), F.col("__norm").alias("nb"),
        )
        dominated = (
            a.join(b, ["cluster"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                F.round(
                    dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")),
                    6,
                )
                >= th
            )
            .select(F.col("id_b").alias("vec_id"))
            .distinct()
        )
        ref = sorted(
            map(
                tuple,
                assigned.join(dominated, "vec_id", "left_anti")
                .select("vec_id", "cluster")
                .collect(),
            )
        )
        assert got == ref and len(got) > 0


def test_contrastive_triplets_blocked_identical(spark, sf_dir):
    """The banded kernel pair scoring inside q_contrastive_triplets
    must reproduce the old symmetric round-all-pairs table: identical
    positives (anchor < other, cos ≥ POS) and identical per-anchor
    MIN hard negative (cos ≤ NEG, both orientations)."""
    from flink_template_spark.functions.vector import dot, l2_norm
    from flink_template_spark.operators.similarity import (
        ivf_assign,
        pair_cos_blocked,
    )
    from flink_template_spark.plans.vectors import TRIPLET_NEG, TRIPLET_POS
    from flink_template_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = (
        ivf_assign(emb, cents)
        .withColumn("nrm", l2_norm(F.col("embedding")))
        .select(
            "vec_id",
            "cluster",
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") / F.col("nrm")
            ).alias("u"),
        )
    )
    band = pair_cos_blocked(
        assigned,
        TRIPLET_POS - 1e-6,
        vec_col="u",
        block_col="cluster",
        max_raw=TRIPLET_NEG + 1e-6,
        score="dot",
    ).select("id_a", "id_b", F.round(F.col("raw_cos"), 6).alias("cos"))
    got_pos = sorted(
        map(tuple, band.filter(F.col("cos") >= TRIPLET_POS).collect())
    )
    low = band.filter(F.col("cos") <= TRIPLET_NEG)
    got_neg = sorted(
        map(
            tuple,
            low.select(F.col("id_a").alias("anchor"), F.col("id_b").alias("o"))
            .unionAll(
                low.select(
                    F.col("id_b").alias("anchor"), F.col("id_a").alias("o")
                )
            )
            .groupBy("anchor")
            .agg(F.min("o").alias("negative"))
            .collect(),
        )
    )
    a = assigned.select(
        "cluster", F.col("vec_id").alias("anchor"), F.col("u").alias("ua")
    )
    n = assigned.select(
        "cluster", F.col("vec_id").alias("other"), F.col("u").alias("un")
    )
    pairs = (
        a.join(n, "cluster")
        .filter(F.col("other") != F.col("anchor"))
        .select(
            "anchor",
            "other",
            F.round(dot(F.col("ua"), F.col("un")), 6).alias("cos"),
        )
    )
    ref_pos = sorted(
        map(
            tuple,
            pairs.filter(
                (F.col("anchor") < F.col("other"))
                & (F.col("cos") >= TRIPLET_POS)
            ).collect(),
        )
    )
    ref_neg = sorted(
        map(
            tuple,
            pairs.filter(F.col("cos") <= TRIPLET_NEG)
            .groupBy("anchor")
            .agg(F.min("other").alias("negative"))
            .collect(),
        )
    )
    assert got_pos == ref_pos and len(got_neg) > 0
    assert got_neg == ref_neg


def test_near_dup_lsh_blocked_identical(spark, sf_dir):
    """cosine_near_dup_lsh's bucket-kernel form must emit the identical
    (id_a, id_b, cos_sim) rows as the old bucket self-join +
    dedup-then-round formulation, at a permissive threshold so real
    rows flow."""
    from flink_template_spark.functions.vector import dot, l2_norm, valid_vec
    from flink_template_spark.operators.similarity import (
        band_signatures,
        cosine_near_dup_lsh,
    )
    from flink_template_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    th, n_bands, bits = 0.30, 8, 4
    got = cosine_near_dup_lsh(emb, th, n_bands=n_bands, bits_per_band=bits)
    bands = (
        band_signatures(
            emb.filter(valid_vec(F.col("embedding"))), n_bands, bits,
            "vec_id", "embedding",
        )
        .withColumn("__norm", l2_norm(F.col("embedding")))
    )
    a = bands.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"),
        F.col("__norm").alias("norm_a"), "band", "sig",
    )
    b = bands.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"),
        F.col("__norm").alias("norm_b"), "band", "sig",
    )
    ref = (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "vec_a", "vec_b", "norm_a", "norm_b")
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= th)
        .orderBy("id_a", "id_b")
    )
    g = [tuple(r) for r in got.collect()]
    r = [tuple(r) for r in ref.collect()]
    assert g == r and len(g) > 0


def test_coreset_broadcast_guard_fallback_identical(spark, monkeypatch):
    """Above BROADCAST_COV_MAX_ROWS the greedy loop must fall back to
    the shuffle join and still produce the identical pick sequence."""
    from flink_template_spark.operators import coreset

    data = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.5]),
        (5, [0.0, 0.0, 0.4, 1.0]),
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    picks_bcast = coreset.facility_location_greedy(df, k=3)
    monkeypatch.setattr(coreset, "BROADCAST_COV_MAX_ROWS", 2)
    picks_shuffle = coreset.facility_location_greedy(df, k=3)
    assert picks_bcast == picks_shuffle
    assert [p["round"] for p in picks_bcast] == [1, 2, 3]
