"""Round-11 behavior pins.

1. q_contrastive_triplets' IVF cell count must GROW with corpus size
   (VERDICT r10 what's-wrong #1: the shipped N_CENTROIDS=4 constant
   made the Σ|cell|² pair table quadratic in the corpus — measured
   5.1× wall at the 4× embeddings step; with √n cells the same step
   measures ~2×).
2. bench.py's module import must stay cheap/lazy (ADVICE r10): the
   registry derivation lives in extended_names(), not at import time.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from flink_template_spark import plans
from flink_template_spark.tables import load_table


def test_triplet_centroids_grow_with_corpus():
    from flink_template_spark.plans.vectors import triplet_n_centroids

    # exact √n values at the shipped fixture sizes
    assert triplet_n_centroids(500) == 23
    assert triplet_n_centroids(2000) == 45
    # floor for tiny fixtures
    assert triplet_n_centroids(1) == 4
    assert triplet_n_centroids(16) == 4
    # monotone non-decreasing growth: a fixed constant cannot pass this
    prev = 0
    for n in (10, 100, 1_000, 10_000, 1_000_000, 10**9):
        k = triplet_n_centroids(n)
        assert k >= prev
        prev = k
    # √n posture: expected cell size n/k stays Θ(√n), never Θ(n)
    assert triplet_n_centroids(10**9) >= 31_000


def test_triplet_query_uses_derived_centroid_count(spark, sf_dir):
    """The mining query must assign against ceil(sqrt(n)) centroids —
    pin the centroid cardinality the plan actually uses (a regression
    back to the fixed constant would read 4 here)."""
    from flink_template_spark.plans.vectors import triplet_n_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = triplet_n_centroids(n)
    assert k > 4  # the fixtures are ≥500 vectors: √n dominates the floor
    # the cluster ids produced by the query's assignment stage are the
    # centroid vec_ids, i.e. drawn from [0, k)
    df = plans.QUERIES["q_contrastive_triplets"](spark, sf_dir)
    # result is triplet rows; re-derive the assignment the same way the
    # query does to count distinct cells actually in play
    from flink_template_spark.operators.similarity import ivf_assign

    centroids = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cells = ivf_assign(emb, centroids).select("cluster").distinct().count()
    assert cells > 4, "assignment degenerated to the old fixed cell count"
    assert df.columns == ["anchor", "positive", "negative", "cos_ap", "cos_an"]


def test_bench_import_is_lazy():
    """Importing bench must not import the plans registry (ADVICE r10:
    an import-time failure in one plans module would otherwise kill the
    whole bench record before per-query isolation can catch it)."""
    import importlib
    import subprocess
    import sys

    # in-process: the helper exists and is callable
    import bench

    importlib.reload(bench)
    assert callable(bench.extended_names)
    # subprocess: a bare `import bench` must succeed WITHOUT
    # flink_template_spark.plans landing in sys.modules
    code = (
        "import sys; import bench; "
        "sys.exit(1 if 'flink_template_spark.plans' in sys.modules else 0)"
    )
    rc = subprocess.run(
        [sys.executable, "-c", code],
        cwd="/root/repo",
        capture_output=True,
        timeout=120,
    )
    assert rc.returncode == 0, rc.stderr.decode()[-500:]


# ---------------------------------------------------------------------------
# Round-11 wave: brute-force recounts (the r10 test discipline)
# ---------------------------------------------------------------------------


def test_anova_recounts_brute(spark, sf_dir):
    row = plans.QUERIES["q_anova_oneway"](spark, sf_dir).collect()[0]
    rows = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    from collections import defaultdict
    from decimal import Decimal

    groups = defaultdict(list)
    for r in rows:
        # mirror the decimal(18,2) cast
        groups[r["o_orderpriority"]].append(
            Decimal(str(round(r["o_totalprice"], 2)))
        )
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    ssw = ssb = 0  # exact integers of the 1e-6-quantized terms
    s_all = sum(sum(v) for v in groups.values())
    m = float(s_all) / n
    for v in groups.values():
        ni, si = len(v), sum(v)
        ssi = sum(x * x for x in v)
        ssw += round(float(ni * ssi - si * si) / float(ni), 6) * 10**6
        dm = float(si) / ni - m
        ssb += round(ni * dm * dm, 6) * 10**6
    assert row["k_groups"] == k and row["n_rows"] == n
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert abs(row["f_stat"] - round(f, 6)) < 1e-4
    assert abs(row["ss_within"] - round(ssw / 10**6)) <= 1


def test_grubbs_recounts_brute(spark, sf_dir):
    row = plans.QUERIES["q_grubbs_outlier"](spark, sf_dir).collect()[0]
    import math

    rows = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    vals = [(r["o_orderkey"], round(r["o_totalprice"], 2)) for r in rows]
    n = len(vals)
    mean = sum(v for _, v in vals) / n
    sd = math.sqrt(
        sum((v - mean) ** 2 for _, v in vals) / (n - 1)
    )
    devs = [(round(abs(v - mean), 6), k) for k, v in vals]
    maxdev = max(d for d, _ in devs)
    outlier = min(k for d, k in devs if d == maxdev)
    assert row["n_rows"] == n
    assert abs(row["mean_price"] - mean) < 1e-3
    assert abs(row["sd_price"] - sd) < 1e-3
    assert row["outlier_key"] == outlier
    assert abs(row["grubbs_g"] - maxdev / sd) < 1e-4


def test_blocklist_recounts_brute(spark, sf_dir):
    from flink_template_spark.plans.safety import BLOCKLIST

    got = {
        r["source"]: r
        for r in plans.QUERIES["q_blocklist_gate_rates"](
            spark, sf_dir
        ).collect()
    }
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0, 0])  # n, flagged, hits
    for r in (
        load_table(spark, sf_dir, "documents")
        .select("source", "text")
        .collect()
    ):
        toks = r["text"].split(" ")
        hits = sum(1 for t in toks if t in BLOCKLIST)
        a = agg[r["source"]]
        a[0] += 1
        a[1] += int(hits > 0)
        a[2] += hits
    for src, r in got.items():
        n, fl, h = agg[src]
        assert (r["n_docs"], r["n_flagged"], r["total_hits"]) == (n, fl, h)
        assert abs(r["flag_rate"] - fl / n) < 1e-5


def test_mcnemar_recounts_brute(spark, sf_dir):
    from flink_template_spark.plans.quality import (
        _MCN_LEN_GATE,
        _MCN_TOK_GATE,
    )

    row = plans.QUERIES["q_mcnemar_gates"](spark, sf_dir).collect()[0]
    b = c = both = neither = 0
    for r in (
        load_table(spark, sf_dir, "documents")
        .select("n_chars", "text")
        .collect()
    ):
        ga = r["n_chars"] >= _MCN_LEN_GATE
        gb = len(r["text"].split(" ")) >= _MCN_TOK_GATE
        both += ga and gb
        b += ga and not gb
        c += gb and not ga
        neither += not ga and not gb
    assert (row["both_pass"], row["a_only"], row["b_only"], row["neither"]) \
        == (both, b, c, neither)
    if b + c:
        assert abs(row["mcnemar_chi2"] - (b - c) ** 2 / (b + c)) < 1e-5


def test_bh_fdr_recounts_brute(spark, sf_dir):
    from flink_template_spark.plans.quality import _BH_ALPHA, _CHI2_MIN_DF

    got = plans.QUERIES["q_bh_fdr_terms"](spark, sf_dir).collect()
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("lang", "text")
        .collect()
    )
    from collections import Counter

    n = len(docs)
    n_en = sum(1 for r in docs if r["lang"] == "en")
    df_t: Counter = Counter()
    a_t: Counter = Counter()
    for r in docs:
        for t in set(r["text"].split(" ")):
            df_t[t] += 1
            if r["lang"] == "en":
                a_t[t] += 1
    import math

    scored = []
    assert 0 < n_en < n  # fixtures contain both classes at every SF
    for t, df in df_t.items():
        # margin guards mirrored from the query (see its docstring)
        if df < _CHI2_MIN_DF or n - df < _CHI2_MIN_DF:
            continue
        a, b = float(a_t[t]), float(df - a_t[t])
        c, d = float(n_en - a_t[t]), float(n - n_en - (df - a_t[t]))
        num = a * d - b * c
        chi2 = round(
            (n * (num / ((a + b) * (c + d)))) * (num / ((a + c) * (b + d))),
            6,
        )
        scored.append((t, chi2))
    scored.sort(key=lambda x: (-x[1], x[0]))
    m = len(scored)

    def p_approx(chi2):
        # the shipped A&S 7.1.26 dag, replayed; independently pinned
        # against math.erfc below (r12: replaced the Chernoff bound)
        z = math.sqrt(chi2 / 2)
        t = 1.0 / (1.0 + 0.3275911 * z)
        poly = (
            (((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
             - 0.284496736) * t + 0.254829592
        ) * t
        return round(poly * math.exp(-(z * z)), 9)

    k_sel = 0
    for i, (t, chi2) in enumerate(scored, start=1):
        if p_approx(chi2) <= i * _BH_ALPHA / m:
            k_sel = i
        # the approximation must track the TRUE survival function
        assert abs(p_approx(chi2) - math.erfc(math.sqrt(chi2 / 2))) < 2e-7
    assert all(r["m_tested"] == m for r in got)
    assert got, "r12: the readout always reports the top-10 tests"
    assert got[0]["k_selected"] == k_sel
    # r12 semantics: every discovery (capped 50) plus always the top 10
    n_report = max(min(k_sel, 50), min(10, m))
    sel = scored[:n_report]
    assert [r["token"] for r in got] == [t for t, _ in sel]
    for r in got:
        assert r["is_discovery"] == (r["rk"] <= k_sel)


def test_pca_power_iteration_recounts_numpy(spark, sf_dir):
    import numpy as np

    got = plans.QUERIES["q_pca_power_iteration"](spark, sf_dir).collect()
    assert len(got) == 64
    emb = [
        r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("embedding")
        .collect()
    ]
    X = np.array(emb, dtype=np.float64)
    v = np.full(64, 0.125)
    lam = None
    for _ in range(2):
        dots = X @ v
        contrib = np.round(dots[:, None] * X * 1e6, 0)  # quantized terms
        wq = contrib.sum(axis=0)
        w = wq / 1e6
        lam = float(np.sqrt((w * w).sum()))
        v = w / lam
    for r in got:
        assert abs(r["loading"] - v[r["dim"] - 1]) < 1e-4, r["dim"]
        assert abs(r["eigenvalue_est"] - lam) < 1e-2
    # unit vector sanity
    assert abs(sum(r["loading"] ** 2 for r in got) - 1.0) < 1e-3


def test_modularity_recounts_brute(spark, sf_dir):
    got = plans.QUERIES["q_graph_modularity"](spark, sf_dir).collect()
    if not got:
        return
    q_reported = got[0]["modularity_q"]
    # rebuild labels + arcs from the shipped labelprop query's output
    # members (community -> members via min/label identity is not
    # enough, so re-derive from the edge table + brute LPA)
    from collections import Counter, defaultdict

    from flink_template_spark.plans.graph import _LP_ITER, _trade_edges

    edges = {(r["src"], r["dst"]) for r in _trade_edges(spark, sf_dir).collect()}
    sym = set()
    for s, d in edges:
        sym.add((s, d))
        sym.add((d, s))
    nodes = sorted({x for e in sym for x in e} | {
        r["n_nationkey"]
        for r in load_table(spark, sf_dir, "nation").collect()
    })
    label = {n: n for n in nodes}
    adj = defaultdict(list)
    for s, d in sym:
        adj[s].append(d)
    for _ in range(_LP_ITER):
        nxt = {}
        for n in nodes:
            cnt = Counter(label[d] for d in adj[n])
            if cnt:
                best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
                nxt[n] = best
            else:
                nxt[n] = n
        label = nxt
    arcs = len(sym)
    d_c: Counter = Counter()
    a_c: Counter = Counter()
    for s, d in sym:
        d_c[label[s]] += 1
        if label[s] == label[d]:
            a_c[label[s]] += 1
    qsum = 0
    for c in d_c:
        term = a_c[c] / arcs - (d_c[c] / arcs) ** 2
        qsum += round(term * 10**9)
    assert abs(q_reported - qsum / 10**9) < 1e-5
    by_c = {r["community"]: r for r in got}
    assert set(by_c) == set(d_c)
    for c, r in by_c.items():
        assert (r["internal_arcs"], r["degree_sum"]) == (a_c[c], d_c[c]), c


def test_calibration_brier_recounts_brute(spark, sf_dir):
    import math
    from collections import Counter, defaultdict

    got = {
        r["bucket"]: r
        for r in plans.QUERIES["q_calibration_brier"](spark, sf_dir).collect()
    }
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("lang", "text")
        .collect()
    )
    n = len(docs)
    n_en = sum(1 for r in docs if r["lang"] == "en")
    c1: Counter = Counter()
    c0: Counter = Counter()
    for r in docs:
        toks = [t for t in r["text"].split(" ") if t]
        (c1 if r["lang"] == "en" else c0).update(toks)
    vocab = set(c1) | set(c0)
    t1, t0, v = sum(c1.values()), sum(c0.values()), len(vocab)
    q = {
        w: round(
            (math.log((c1[w] + 1.0) / (t1 + v)) - math.log((c0[w] + 1.0) / (t0 + v)))
            * 1e7
        )
        for w in vocab
    }
    pq = round(math.log(n_en / (n - n_en)) * 1e7)
    agg = defaultdict(lambda: [0, 0, 0, 0])  # n, p_sum_q, n_pos, brier_q
    brier_q = total = 0
    ece_q = 0
    for r in docs:
        toks = [t for t in r["text"].split(" ") if t]
        if not toks:  # >=1-token scope, as in the NB classifier
            continue
        s = pq + sum(q[t] for t in toks)
        p = round(1.0 / (1.0 + math.exp(-s / 1e7)), 6)
        y = 1 if r["lang"] == "en" else 0
        b = min(int(p * 10), 9)
        a = agg[b]
        a[0] += 1
        a[1] += round(p * 1e6)
        a[2] += y
        term = round((p - y) * (p - y) * 1e9)
        a[3] += term
        brier_q += term
        total += 1
    assert set(got) == set(agg)
    for b in agg:
        nn, psq, npos, _ = agg[b]
        ece_q += abs(psq - npos * 10**6)
    for b, r in got.items():
        nn, psq, npos, _ = agg[b]
        assert r["n_docs"] == nn, b
        assert abs(r["mean_predicted"] - psq / (1e6 * nn)) < 1e-5, b
        assert abs(r["empirical_rate"] - npos / nn) < 1e-5, b
        assert abs(r["brier_score"] - brier_q / (1e9 * total)) < 1e-5
        assert abs(r["ece"] - ece_q / (1e6 * total)) < 1e-5


def test_isotonic_calibration_recounts_pav(spark, sf_dir):
    """Verify the minimax closed form against a REAL sequential
    pool-adjacent-violators run on the same bucket table — the
    identity iso(i) = max_{j<=i} min_{k>=i} avg(j..k) is only worth
    shipping if it equals the PAV output exactly."""
    got = {
        r["bucket"]: r
        for r in plans.QUERIES["q_isotonic_calibration"](
            spark, sf_dir
        ).collect()
    }
    # rebuild the bucket table from the shared scorer
    from flink_template_spark.plans.quality import _nb_scored

    rows = _nb_scored(spark, sf_dir).collect()
    import math
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for r in rows:
        p = round(1.0 / (1.0 + math.exp(-r["score_q"] / 1e7)), 6)
        b = min(int(p * 10), 9)
        agg[b][0] += 1
        agg[b][1] += r["y"]
    buckets = sorted(agg)
    # sequential PAV with weights n_b
    blocks = [[agg[b][1] / agg[b][0], agg[b][0]] for b in buckets]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] > blocks[i + 1][0] + 1e-15:
            m, n = blocks.pop(i + 1)
            v, w = blocks[i]
            blocks[i] = [(v * w + m * n) / (w + n), w + n]
            i = max(i - 1, 0)
        else:
            i += 1
    pav = []
    for v, w in blocks:
        cnt = 0
        # expand back to buckets by weight
        while cnt < w:
            b = buckets[len(pav)]
            cnt += agg[b][0]
            pav.append(v)
    assert set(got) == set(buckets)
    for idx, b in enumerate(buckets):
        r = got[b]
        assert r["n_docs"] == agg[b][0], b
        assert abs(r["raw_rate"] - agg[b][1] / agg[b][0]) < 1e-5, b
        assert abs(r["iso_rate"] - pav[idx]) < 1e-5, (b, r["iso_rate"], pav[idx])
    # monotone by construction
    rates = [got[b]["iso_rate"] for b in buckets]
    assert rates == sorted(rates)


from tests.conftest import parquet_scan_count as _parquet_scans


def _plan(spark, sf_dir, name):
    from tests.conftest import plan_formatted

    return plan_formatted(spark, plans, sf_dir, name)


def test_r11_plan_pins(spark, sf_dir):
    """Plan-shape pins for the nine round-11 queries (the r10
    discipline): scans pruned/pinned as documented, no cartesian
    products (the only nested loops allowed are broadcast 1-row/
    bounded-spine ride-alongs)."""
    # ANOVA: the pinned k-row terms table hides the single orders scan
    p = _plan(spark, sf_dir, "q_anova_oneway")
    assert _parquet_scans(p) == 0 and "CartesianProduct" not in p
    # Grubbs: pinned base + pinned deviations — zero re-scans, and the
    # argmax is a broadcast semi-filter, never a global sort
    p = _plan(spark, sf_dir, "q_grubbs_outlier")
    assert _parquet_scans(p) == 0 and "CartesianProduct" not in p
    # blocklist/mcnemar: ONE 2-column documents scan, map-only flags
    for q in ("q_blocklist_gate_rates", "q_mcnemar_gates"):
        p = _plan(spark, sf_dir, q)
        assert _parquet_scans(p) == 1 and "CartesianProduct" not in p, q
        assert "ReadSchema" in p and "text" in p
    # BH-FDR: pinned ranked table hides the scans; k* broadcasts back
    p = _plan(spark, sf_dir, "q_bh_fdr_terms")
    assert _parquet_scans(p) == 0 and "CartesianProduct" not in p
    # PCA: the final iterate is a pinned 1-row array — the output plan
    # reads it, never the corpus
    p = _plan(spark, sf_dir, "q_pca_power_iteration")
    assert _parquet_scans(p) == 0 and "CartesianProduct" not in p
    # modularity: pinned labels/terms; the memoized edge build and the
    # label joins are equi-joins
    p = _plan(spark, sf_dir, "q_graph_modularity")
    assert "CartesianProduct" not in p
    # calibration + isotonic: shared NB scoring; bounded-spine joins
    # only (broadcast), never a corpus-sized nested loop
    for q in ("q_calibration_brier", "q_isotonic_calibration"):
        p = _plan(spark, sf_dir, q)
        assert "CartesianProduct" not in p, q


def test_pav_minimax_identity_property():
    """Property pin (no Spark): the minimax closed form the isotonic
    query ships, iso(i) = max_{j<=i} min_{k>=i} weighted-avg(j..k),
    equals sequential pool-adjacent-violators on random weighted
    bucket tables — the identity is THE correctness argument for
    replacing the sequential loop with bounded joins."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=50),  # n_b
                st.integers(min_value=0, max_value=50),  # y_b (<= n_b ok)
            ),
            min_size=1,
            max_size=12,
        )
    )
    def check(tbl):
        tbl = [(n, min(y, n)) for n, y in tbl]
        rates = [y / n for n, y in tbl]
        weights = [n for n, _ in tbl]
        # sequential PAV
        blocks = [[r, w] for r, w in zip(rates, weights)]
        i = 0
        while i < len(blocks) - 1:
            if blocks[i][0] > blocks[i + 1][0] + 1e-15:
                v2, w2 = blocks.pop(i + 1)
                v1, w1 = blocks[i]
                blocks[i] = [(v1 * w1 + v2 * w2) / (w1 + w2), w1 + w2]
                i = max(i - 1, 0)
            else:
                i += 1
        pav = []
        for v, w in blocks:
            c = 0
            while c < w:
                c += weights[len(pav)]
                pav.append(v)
        # minimax closed form
        B = len(tbl)
        cn = [0] * (B + 1)
        cy = [0] * (B + 1)
        for b, (n, y) in enumerate(tbl):
            cn[b + 1] = cn[b] + n
            cy[b + 1] = cy[b] + y
        for i_b in range(B):
            best = -float("inf")
            for j in range(i_b + 1):
                m = min(
                    (cy[k + 1] - cy[j]) / (cn[k + 1] - cn[j])
                    for k in range(i_b, B)
                )
                best = max(best, m)
            assert abs(best - pav[i_b]) < 1e-9, (tbl, i_b, best, pav[i_b])

    check()
