"""Round-12 behavior pins.

1. q_semdedup_keep's centroid count must GROW with corpus size
   (ADVICE r11: the fixed N_CENTROIDS=4 left the within-cell dominance
   pair table quadratic in the corpus — the exact shape the round-11
   triplet-miner fix diagnosed; both now share max(4, ceil(sqrt(n)))).
2. q_pca_power_iteration's width guard (ADVICE r11): an off-width
   embedding row must be EXCLUDED in both engines, not silently poison
   the per-dimension sums with NULLs (Spark zip_with pad) or read out
   of range (DuckDB v[i]).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from flink_template_spark import plans
from flink_template_spark.tables import load_table


def test_semdedup_uses_derived_centroid_count(spark, sf_dir):
    """The dedup query must block against ceil(sqrt(n)) centroids — a
    regression back to the fixed constant would read 4 distinct
    clusters here."""
    from flink_template_spark.operators.similarity import ivf_assign
    from flink_template_spark.plans.vectors import triplet_n_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = triplet_n_centroids(n)
    assert k > 4  # fixtures are ≥500 vectors: √n dominates the floor
    kept = plans.QUERIES["q_semdedup_keep"](spark, sf_dir)
    # the kept rows carry their cluster id = centroid vec_id ∈ [0, k)
    clusters = [r["cluster"] for r in kept.select("cluster").distinct().collect()]
    assert len(clusters) > 4, "blocking degenerated to the old fixed cell count"
    assert max(clusters) < k and min(clusters) >= 0
    # the scalar rides inside the plan (broadcast 1-row): no cartesian
    from tests.test_plans import plan_of

    assert "CartesianProduct" not in plan_of(kept)


def test_pca_width_guard_excludes_offwidth(spark, tmp_path):
    """A 63-wide (or 2-wide) vector must drop out of the PCA corpus in
    BOTH engines: before the guard, Spark's zip_with padded the dot
    with NULLs (null per-dim sums) while the oracle indexed v[i] out of
    range — both silently wrong (ADVICE r11)."""
    import duckdb

    from flink_template_spark.plans.vectors import _PCA_DIM
    from tests.oracle_check import compare

    good = [float(i % 7) / 7.0 + 0.01 for i in range(_PCA_DIM)]
    rows = [
        (0, [v + 0.1 for v in good], 0),
        (1, good, 1),
        (2, good[: _PCA_DIM - 1], 0),  # off-width: must be excluded
        (3, [1.0, 2.0], 1),  # off-width: must be excluded
        (4, [v * 0.5 for v in good], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "pcadir")
    os.makedirs(d, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "embeddings.parquet")
    )
    got = plans.QUERIES["q_pca_power_iteration"](spark, d).collect()
    assert len(got) == _PCA_DIM
    assert all(r["loading"] is not None for r in got)
    # cross-engine: the oracle must agree on the guarded corpus
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet('"
        + os.path.join(d, "embeddings.parquet", "*.parquet")
        + "')"
    )
    ok, msg = compare(
        plans.QUERIES["q_pca_power_iteration"](spark, d),
        con,
        plans.ORACLES["q_pca_power_iteration"],
    )
    assert ok, msg


def test_nb_scores_tokenless_docs_prior_only(spark, tmp_path):
    """VERDICT r11 what's-wrong #2: a token-less (empty/whitespace-
    only) document must appear in the NB readouts with a PRIOR-ONLY
    score, not silently drop out of n_docs/accuracy — pinned on a
    synthetic corpus where the fixtures can't exercise the path, with
    the oracle run on the same corpus so both engines agree."""
    import math

    import duckdb

    from flink_template_spark.plans.quality import _nb_scored
    from tests.oracle_check import compare

    rows = [
        (0, "the cat sat", "en", "a", 11),
        (1, "le chat", "fr", "a", 7),
        (2, "", "en", "b", 0),  # token-less: prior-only score
        (3, "   ", "fr", "b", 3),  # whitespace-only: prior-only score
        (4, "the dog sat", "en", "a", 11),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "nbdir")
    os.makedirs(d, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    scored = {r["doc_id"]: r for r in _nb_scored(spark, d).collect()}
    assert set(scored) == {0, 1, 2, 3, 4}, "token-less docs must be scored"
    pq = round(math.log(3 / 2) * 1e7)  # 3 en vs 2 non-en docs
    assert scored[2]["score_q"] == pq
    assert scored[3]["score_q"] == pq
    # whole-corpus n_docs in the classifier readout
    cls = {r["lang"]: r for r in plans.QUERIES["q_nb_lang_classifier"](spark, d).collect()}
    assert cls["en"]["n_docs"] == 3 and cls["fr"]["n_docs"] == 2
    # cross-engine on the synthetic corpus, all three consumers
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('"
        + os.path.join(d, "documents.parquet", "*.parquet")
        + "')"
    )
    for name in (
        "q_nb_lang_classifier",
        "q_calibration_brier",
        "q_isotonic_calibration",
    ):
        ok, msg = compare(
            plans.QUERIES[name](spark, d), con, plans.ORACLES[name]
        )
        assert ok, (name, msg)


def test_r12_plan_pins(spark, sf_dir):
    """Plan-shape pins for the five round-12 queries (the r10/r11
    discipline): no cartesian products — the only nested loops allowed
    are broadcast 1-row / bounded-spine ride-alongs — and the bounded
    post-aggregation shapes stay bounded."""
    from tests.conftest import parquet_scan_count, plan_formatted

    for q in (
        "q_cohens_kappa_gates",
        "q_pr_curve_nb",
        "q_logloss_nb",
        "q_label_noise_candidates",
        "q_levene_variance",
    ):
        p = plan_formatted(spark, plans, sf_dir, q)
        assert "CartesianProduct" not in p, q
    # kappa: ONE 2-column documents scan, map-only flags into a 1-row agg
    p = plan_formatted(spark, plans, sf_dir, "q_cohens_kappa_gates")
    assert parquet_scan_count(p) == 1
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # levene: the pinned 2-col orders projection hides re-scans; the
    # 5-row means ride back by BROADCAST, never a shuffle join
    p = plan_formatted(spark, plans, sf_dir, "q_levene_variance")
    assert parquet_scan_count(p) == 0  # behind the localCheckpoint pin
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_r12_wave2_plan_pins(spark, sf_dir):
    """Plan-shape pins for the four second-wave round-12 queries."""
    from tests.conftest import parquet_scan_count, plan_formatted

    for q in (
        "q_auc_nb_gate",
        "q_theils_u_lang_source",
        "q_minhash_jaccard_err",
        "q_hilbert_layout",
    ):
        p = plan_formatted(spark, plans, sf_dir, q)
        assert "CartesianProduct" not in p, q
    # hilbert: map-only key computation riding ONE 2-column pruned scan
    # into a 16-row agg — no joins of any kind
    p = plan_formatted(spark, plans, sf_dir, "q_hilbert_layout")
    assert parquet_scan_count(p) == 1
    assert "Join" not in p
    # theil's u: everything reads the pinned cell table (zero parquet
    # re-scans); the three entropy scalars ride back by broadcast
    p = plan_formatted(spark, plans, sf_dir, "q_theils_u_lang_source")
    assert parquet_scan_count(p) == 0
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # auc: the global rank is rank_global's two-pass shape — its pinned
    # range-partitioned ranking surfaces as a checkpoint scan (the
    # range exchange itself hides behind the localCheckpoint), and the
    # tie counts ride back by an ordinary score-keyed equi-join
    p = plan_formatted(spark, plans, sf_dir, "q_auc_nb_gate")
    assert "Scan ExistingRDD" in p
    assert "SortMergeJoin Inner" in p or "ShuffledHashJoin Inner" in p


def test_pr_curve_bucket_threshold_identity():
    """q_pr_curve_nb's sweep rests on bucket >= k <=> p >= k/10 for
    every 6-dp-rounded double p. Not obviously true in floating point
    (double(0.3)*10 must round back to exactly 3.0) — verified
    exhaustively over all 10^6+1 p values in review; pinned here on
    every boundary neighborhood plus a stride sample."""
    import math

    picks = set()
    for k in range(10):
        for d in range(-3, 4):
            picks.add(k * 100000 + d)
    picks.update(range(0, 1000001, 9973))
    picks.add(1000000)
    for i in sorted(p for p in picks if 0 <= p <= 1000000):
        p = float(repr(i / 1000000))
        b = min(int(math.floor(p * 10)), 9)
        for k in range(10):
            assert (b >= k) == (p >= k / 10), (i, k)


def test_bh_fdr_selects_on_planted_association(spark, tmp_path):
    """The testdata corpora yield ZERO BH discoveries at every SF (no
    real token-language association), so the fixture oracle greens
    never exercise the selection path. Plant a strong association and
    require the pipeline to find it — query vs oracle vs brute, all
    three ways."""
    import duckdb

    from tests.oracle_check import compare

    rows = []
    for i in range(120):
        en = i % 2 == 0
        text = ("zebra common filler words here" if en
                else "common filler words here autre")
        rows.append((i, text, "en" if en else "fr", "s", len(text)))
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "bhdir")
    os.makedirs(d, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    got = plans.QUERIES["q_bh_fdr_terms"](spark, d).collect()
    disc = [r["token"] for r in got if r["is_discovery"]]
    # 'zebra' (en-only) and 'autre' (fr-only) are perfectly associated:
    # both must be discovered; the shared filler tokens must not be
    assert "zebra" in disc and "autre" in disc
    assert got[0]["k_selected"] >= 2
    assert "common" not in disc and "filler" not in disc
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('"
        + os.path.join(d, "documents.parquet", "*.parquet")
        + "')"
    )
    ok, msg = compare(
        plans.QUERIES["q_bh_fdr_terms"](spark, d),
        con,
        plans.ORACLES["q_bh_fdr_terms"],
    )
    assert ok, msg
