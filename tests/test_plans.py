"""Physical-plan regression tests: the properties that make these
queries survive a 100× scale-up, asserted from `explain("formatted")`
so they can't silently regress.

- filters reach the parquet scan (PushedFilters);
- scans read only needed columns (ReadSchema pruning);
- dimension joins broadcast (no fact-side shuffle);
- nothing relational falls back to CartesianProduct;
- aggregates are partial (map-side combine) before the exchange.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from flink_template_spark import plans


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_q1_pushdown_and_pruning(spark, sf):
    p = plan_of(plans.QUERIES["q1_pricing_summary"](spark, sf))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # 7 needed columns, not all 11
    assert "l_partkey" not in p.split("ReadSchema")[1].splitlines()[0]
    assert "partial_sum" in p  # map-side combine before the exchange


def test_q3_broadcasts_dimensions(spark, sf):
    p = plan_of(plans.QUERIES["q3_shipping_priority"](spark, sf))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # both dims broadcast; no fact shuffle
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p  # top-k never sorts the full set


def test_q5_broadcasts_dimensions(spark, sf):
    p = plan_of(plans.QUERIES["q5_local_supplier_volume"](spark, sf))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_semi_anti_join_physical(spark, sf):
    p = plan_of(plans.QUERIES["q4_exists_late_ship"](spark, sf))
    assert "LeftSemi" in p
    p = plan_of(plans.QUERIES["q22_idle_rich_customers"](spark, sf))
    assert "LeftAnti" in p


def test_minhash_no_cartesian(spark, sf):
    import re as _re

    p = plan_of(plans.QUERIES["q_minhash_lsh_pairs"](spark, sf))
    assert "CartesianProduct" not in p  # banded LSH joins on (band, sig)
    # the bucket pair expansion stays a generator over collected buckets
    # (operators.dedup.bucket_pairs), never a bucket self-join: no join
    # node; three exchanges (signature min, bucket collect, pair count)
    # and four generators (shingles, bands, posexplode, sliced explode)
    assert "Join" not in p
    assert len(_re.findall(r"(?m)^\(\d+\) Exchange$", p)) == 3
    assert len(_re.findall(r"(?m)^\(\d+\) Generate$", p)) == 4


@pytest.mark.parametrize(
    "name",
    [
        "q_repetition_metrics",
        "q_ngram_novelty",
        "q_repeated_passages",
        "q_scrub_repeated_passages",
        "q_bigram_logprob",
        "q_stupid_backoff",
        "q_bigram_lift",
        "q_skipgram_pairs",
        "q_lang_id_ngram",
        "q_sorted_neighborhood_pairs",
        "q_minhash_lsh_pairs",
    ],
)
def test_ngrams_come_from_the_one_builder(spark, sf, name):
    """Every n-gram is a start-index slice (operators.dedup.ngram_rows):
    an explode of sequence(0, ...) and no token-position lead window,
    arrays_zip of slice copies or zip_with lambda. q_kneser_ney_bigram
    and q_decontaminate_bloom checkpoint their n-gram tables, so their
    plans do not show the subtree."""
    p = plan_of(plans.QUERIES[name](spark, sf))
    assert "explode(sequence(0, " in p
    for form in ("lead(", "arrays_zip", "zip_with"):
        assert form not in p, f"{name}: {form} n-gram in the plan"


def test_lsh_near_dup_no_cartesian(spark, sf):
    p = plan_of(plans.QUERIES["q_embedding_near_dup_lsh"](spark, sf))
    assert "CartesianProduct" not in p  # bucket join, unlike the exact baseline


def test_asof_join_no_cartesian(spark, sf):
    p = plan_of(plans.QUERIES["q_asof_latest_order_per_event"](spark, sf))
    assert "CartesianProduct" not in p


def test_subquery_family_physical(spark, sf):
    # q17's correlated avg decorrelates to broadcast joins, no cartesian
    p = plan_of(plans.QUERIES["q17_small_quantity_revenue"](spark, sf))
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    # q18 (r10 fusion): the HAVING aggregate rides the join as `q` —
    # ONE lineitem scan, no second fact join, no re-aggregation (the
    # pre-r10 shape was a LeftSemi + re-join + re-agg with two scans)
    p = plan_of(plans.QUERIES["q18_large_volume_orders"](spark, sf))
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", p)) == 3  # li+orders+cust
    assert "CartesianProduct" not in p
    # q11's scalar subquery is a broadcast nested loop of a 1-row agg,
    # not a cartesian of real data
    p = plan_of(plans.QUERIES["q11_important_balances"](spark, sf))
    assert "CartesianProduct" not in p


def test_interval_join_is_equi_key(spark, sf):
    # the user_id equi-key must carry the join (hash/sort-merge); the
    # time range rides along as a join-condition filter — never a
    # BroadcastNestedLoopJoin/CartesianProduct over full scans
    p = plan_of(plans.QUERIES["q_interval_join_attribution"](spark, sf))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "user_id" in p


def test_simhash_pairs_no_cartesian(spark, sf):
    # banded blocking: candidates only materialize within (band, key)
    p = plan_of(plans.QUERIES["q_simhash_hamming_pairs"](spark, sf))
    assert "CartesianProduct" not in p


def test_doc_chunks_is_map_side_only(spark, sf):
    # chunking is tokenize+sequence+slice per row: no shuffle at all
    p = plan_of(plans.QUERIES["q_doc_chunks"](spark, sf))
    assert "Exchange" not in p


def test_global_rank_is_prefix_topk(spark, sf):
    # r12: the query reports only the rn <= 500 prefix, so the plan
    # must be a global TakeOrdered (per-partition heaps + merge, no
    # data-sized exchange) feeding rank windows over exactly 500 rows
    # — NOT a full-table range-partitioned rank (that operator remains
    # exercised by its other ten consumers) and NOT a full-table
    # single-partition window (the limit must sit BELOW the windows).
    p = plan_of(plans.QUERIES["q_global_rank_scalable"](spark, sf))
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p.lower()
    assert "CartesianProduct" not in p


def test_ddsketch_exact_side_is_rank_based(spark, sf):
    """Round-4 fix of the VERDICT r3 perf-weak item: the exact-percentile
    comparison side must come from the two-pass range-partitioned global
    rank — never a collect_list of the full fact column into one task."""
    p = plan_of(plans.QUERIES["q_ddsketch_quantiles"](spark, sf))
    assert "collect_list" not in p
    assert "rangepartitioning" in p.lower()
    assert "__rg_pid" in p  # the rank's per-range-partition window


def test_ann_serve_reads_materialized_index(spark, sf):
    """Round-4 build/serve split: ann_index is memoized per (session,
    sf_dir) — repeated calls return the SAME persisted index (so no
    re-training on the serve path) — and the rerank's final stage does
    POINT LOOKUPS: the ≤50 shortlist ids are pushed into the vector
    scan as an In filter instead of streaming the corpus through the
    join."""
    from flink_template_spark.plans.vectors import ann_index

    c1, b1, i1 = ann_index(spark, sf)
    c2, b2, i2 = ann_index(spark, sf)
    assert i1 is i2 and b1 is b2 and c1 is c2
    # the persisted index itself reads back from cache
    assert "InMemoryTableScan" in plan_of(i1)
    p = plan_of(plans.QUERIES["q_ann_multiprobe_rerank"](spark, sf))
    assert "In(vec_id" in p  # shortlist-id pushdown reaches the scan
    assert "CartesianProduct" not in p


def test_ann_index_cache_bounded_eviction(spark, sf, monkeypatch):
    """The index cache is an LRU bounded by max_entries: overflowing
    it evicts (and unpersists) the oldest entry, and a later call for
    the evicted key rebuilds rather than returning a dead reference.
    Evicting a LIVE-session entry (both keys here belong to this
    session) must be loud — a warning, not a silent serve-path
    degradation (ADVICE r4)."""
    import os
    import warnings

    import pytest

    from flink_template_spark.plans import vectors as V

    # a sibling sf dir DIFFERENT from the configured test scale (the
    # second cache key must not collide with `sf` — ADVICE r4)
    base = os.path.dirname(sf.rstrip("/"))
    other = next(
        (
            os.path.join(base, d)
            for d in sorted(os.listdir(base))
            if os.path.join(base, d) != sf.rstrip("/")
            and os.path.exists(os.path.join(base, d, "embeddings.parquet"))
        ),
        None,
    )
    if other is None:
        pytest.skip("no sibling sf dir with embeddings to overflow the cache")

    monkeypatch.setattr(V._ANN_MEMO, "max_entries", 1)
    V._ANN_MEMO.cache.clear()
    _, _, idx_a = V.ann_index(spark, sf)
    key_a = (spark.sparkContext.applicationId, sf)
    assert key_a in V._ANN_MEMO.cache
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        _, _, idx_b = V.ann_index(spark, other)
    # sf's entry was evicted (cache holds only the newest), its
    # persisted blocks released, and the live-session eviction warned
    assert list(V._ANN_MEMO.cache) == [
        (spark.sparkContext.applicationId, other)
    ]
    assert idx_a.storageLevel.useMemory is False  # unpersisted
    assert any("LIVE-session" in str(x.message) for x in w)
    # the evicted key rebuilds fresh
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        _, _, idx_a2 = V.ann_index(spark, sf)
    assert idx_a2 is not idx_a
    V._ANN_MEMO.cache.clear()
    idx_a2.unpersist(True)
    idx_b.unpersist(True)


def test_ann_index_eviction_prefers_stopped_sessions(spark, sf, monkeypatch):
    """When the cache overflows, entries whose OWNING session is stopped
    (judged by the cached index's own SparkContext, not by whose
    applicationId is inserting) are evicted before any live entry —
    even if the stopped entry is newer. Popping also drops the victim's
    per-key build lock so the lock dict stays bounded (r5 review)."""
    from flink_template_spark.plans import vectors as V

    monkeypatch.setattr(V._ANN_MEMO, "max_entries", 1)
    V._ANN_MEMO.cache.clear()
    _, _, idx_a = V.ann_index(spark, sf)

    class _Dead:
        # no .sparkSession -> _ann_entry_stopped treats it as stopped
        def unpersist(self, blocking):
            raise RuntimeError("session stopped")

    # a stopped-session entry inserted AFTER ours (newer in LRU order)
    dead_key = ("app-other", sf)
    V._ANN_MEMO.cache[dead_key] = (None, None, _Dead())
    import threading

    # holder format: [lock, waiter_refcount]; 0 waiters -> evictable
    V._ANN_MEMO.key_locks.setdefault(dead_key, [threading.Lock(), 0])
    with V._ANN_MEMO.lock:
        V._ANN_MEMO.evict_locked()
    # the stopped entry went first; ours survived, still persisted;
    # the victim's key lock went with it
    assert list(V._ANN_MEMO.cache) == [
        (spark.sparkContext.applicationId, sf)
    ]
    assert dead_key not in V._ANN_MEMO.key_locks
    assert idx_a.storageLevel.useMemory is True
    V._ANN_MEMO.cache.clear()
    idx_a.unpersist(True)


def test_ann_index_failed_build_releases_key_lock(spark, tmp_path):
    """A build that raises must not leak its per-key lock: locks are
    otherwise popped only at eviction, so every failed key would pin a
    lock object for the process lifetime (ADVICE r5)."""
    import pytest

    from flink_template_spark.plans import vectors as V

    bad_dir = str(tmp_path / "no-such-sf")  # load_table will raise
    key = (spark.sparkContext.applicationId, bad_dir)
    assert key not in V._ANN_MEMO.key_locks
    with pytest.raises(Exception):
        V.ann_index(spark, bad_dir)
    assert key not in V._ANN_MEMO.cache
    assert key not in V._ANN_MEMO.key_locks  # lock popped on failure


# The audited bounded-size single-partition windows: ddsketch's
# merged-sketch cumsum + rank_global's per-range-partition offset table,
# and hybrid RRF's two top-20 rank lists. These are the ONLY bench
# queries allowed an unpartitioned WindowExec — everything else must
# partition. This guard is what makes session.silence_bounded_window_warns
# safe: the WARN the bench log suppresses is re-checked here structurally,
# so a future plan regressing into a genuine full-data window funnel
# fails CI instead of logging into a silenced logger.
_UNPARTITIONED_WINDOW_ALLOWLIST = {
    "q_ddsketch_quantiles": 2,
    "q_hybrid_search_rrf": 2,
    # two passes x two references (the a- and b-side of the rank+d
    # equi-join each re-expand the ranked subtree) of rank_global's
    # cumulative-offset window over the per-partition STATS table —
    # always <= spark.sql.shuffle.partitions rows, never data-sized;
    # the local-rank windows are pid-partitioned and don't count
    "q_sorted_neighborhood_pairs": 4,
    # one rank_global call: its cumulative-offset window over the
    # per-partition stats table (<= shuffle-partition-count rows)
    "q_curriculum_order": 1,
    # r12: one rank_global call (the global score ranking behind the
    # tie-corrected AUC); same bounded offsets window
    "q_auc_nb_gate": 1,
    "q_quantile_normalize": 1,
    # with_global_prefix_sum's cumulative-offset window over the
    # per-partition totals table (<= shuffle-partition-count rows)
    "q_systematic_resample": 1,
    # one rank_global call (the range-layout shard assignment): its
    # cumulative-offset window over the per-partition stats table
    # (<= shuffle-partition-count rows; q_vocab_coverage's rank_global
    # sits behind a lazy localCheckpoint boundary so its offset window
    # doesn't surface in the final plan)
    "q_shard_zonemap": 1,
    # r8: three rank_global calls whose offset windows share one
    # surfaced stats window (the other two sit behind the lazy
    # localCheckpoint boundary) — <= shuffle-partition-count rows
    "q_rfm_segments": 1,
    # with_global_prefix_max's per-partition maxima window
    # (<= shuffle-partition-count rows)
    "q_skyline_parts": 1,
    # with_global_prefix_sum's per-partition totals window + the
    # per-FLAG re-base offsets window (<= |return flags| = 3 rows)
    "q_weighted_median_price": 2,
    # the decile cumulative-share window: exactly 10 rows BY DESIGN
    # (rank_global's offsets window sits behind the pinned ranked
    # checkpoint and doesn't surface in the final plan)
    "q_revenue_concentration": 1,
    # (q_funnel_latency's rank offsets window sits behind its pinned
    # ranked checkpoint since the r8 second review pass — count 0)
    # rank_global's stats-offset window (<= shuffle-partition-count
    # rows) + the per-FLAG re-base offsets window (<= 3 rows)
    "q_trimmed_mean_price": 2,
    # r9: the two row_number-median windows (median of daily counts,
    # median of |n − med| deviations) run over the POST-AGGREGATION
    # day table — bounded by the calendar (≤ a few thousand rows at
    # any corpus size), documented in the query docstring; the med
    # subtree re-expands inside the mad branch, surfacing its window
    # twice (2 + 1 = 3). The day table itself is checkpoint-pinned,
    # so the re-expansions never touch parquet.
    "q_anomaly_days": 3,
    # (q_abc_classification's with_global_prefix_sum offsets window sits
    # behind the pinned cum checkpoint since the r9 grand-total rework —
    # count 0)
    # r9: the hazard denominator's prefix sum over the post-agg
    # gap-day table (bounded by the calendar day range)
    "q_repurchase_hazard": 1,
    # r9: the sweep-line running sum over the diff-day table
    # (bounded by the calendar day range)
    "q_rolling_wau": 1,
    # r9: the risk-set drain prefix sum + the (zero-flag, log-survival)
    # pair sharing one Window node, both over the POST-AGGREGATION
    # gap-day table — bounded by the calendar day range like
    # q_repurchase_hazard, never data-sized
    "q_kaplan_meier": 2,
    # r9: the rank window runs over the POST-LIMIT top-K table —
    # bounded by the fixed _ZIPF_TOP = 1000, never data-sized
    "q_zipf_fit": 1,
    # r9: one surfaced with_global_ranks offsets window
    # (<= shuffle-partition-count rows; the other ranking pass sits
    # behind its internal lazy checkpoint — the q_curriculum_order
    # pattern)
    "q_spearman_price_balance": 1,
    # r12: the rn/rnk/drnk windows run BELOW a global TakeOrdered(500)
    # — exactly 500 rows by the limit, never data-sized (the full-table
    # rank was removed; see test_global_rank_is_prefix_topk)
    "q_global_rank_scalable": 2,
    # r10 (registry-derived bench back-fill audit): one rank_global
    # offsets window each (<= shuffle-partition-count rows)
    "q_vocab_build": 1,
    "q_vocab_apply": 1,
    # r10: the per-nation dense rank runs over the DISTINCT nation-name
    # table — <= |nation| = 25 rows by construction, never data-sized
    # (the balance ranking's offsets window sits behind the pinned
    # ranked checkpoint — count 0, like q_rank_family's)
    "q_rank_suppliers_by_balance": 1,
}


def _unpartitioned_window_count(plan: str) -> int:
    """Count WindowExec nodes with an EMPTY partition spec: in
    explain('formatted') a Window node's Arguments line prints only the
    NON-EMPTY groups of ([exprs], [partitionSpec], [orderSpec]) — 3
    groups means partitioned+ordered; with 2 groups the second is
    EITHER a partition spec (partitioned, no ordering — e.g. a plain
    count() over partitionBy, fine at scale) or an order spec
    (UNPARTITIONED ordered window — the full-data funnel this audit
    exists to catch). Order-spec entries always carry a sort direction
    token; partition specs never do."""
    import re

    n = 0
    for m in re.finditer(
        r"^\(\d+\) Window\n(?:[^\n]*\n)*?Arguments: ([^\n]*)$", plan, re.M
    ):
        args = m.group(1)
        depth = 0
        groups: list[str] = []
        start = 0
        for i, ch in enumerate(args):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(args[start : i + 1])
        if len(groups) < 2:
            n += 1  # bare window funcs: no partition spec at all
        elif len(groups) == 2:
            n += " ASC" in groups[1] or " DESC" in groups[1]
    return n


def test_bench_queries_unpartitioned_windows_allowlisted(spark, sf):
    import bench

    offenders = {}
    for name in bench.HEADLINE + bench.extended_names():
        if name not in plans.QUERIES:
            continue
        k = _unpartitioned_window_count(plan_of(plans.QUERIES[name](spark, sf)))
        if k != _UNPARTITIONED_WINDOW_ALLOWLIST.get(name, 0):
            offenders[name] = k
    assert not offenders, (
        f"unpartitioned WindowExec count changed for {offenders}; either a "
        "plan regressed into a full-data single-partition window (fix the "
        "plan) or a NEW bounded-size window was audited (extend the "
        "allowlist with a size justification)"
    )


def test_global_rank_matches_naive_window(spark, sf):
    """Randomized parity: the two-pass range-partitioned rank equals the
    single-partition Window.orderBy formulation on data with heavy key
    ties (so offsets + tie co-location are genuinely exercised)."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from flink_template_spark.operators.rank_global import with_global_ranks

    for seed in (7, 42, 1337):
        rng = random.Random(seed)
        rows = [(i, rng.randrange(0, 12)) for i in range(500)]
        df = spark.createDataFrame(rows, "id LONG, k LONG")
        fast = with_global_ranks(
            df,
            [(F.col("k"), False)],
            tiebreak=["id"],
            row_number_col="rn",
            rank_col="rnk",
            dense_rank_col="drnk",
            num_partitions=7,
        )
        w_full = W.orderBy(F.col("k").desc(), F.col("id").asc())
        w_key = W.orderBy(F.col("k").desc())
        naive = df.select(
            "id",
            "k",
            F.row_number().over(w_full).alias("rn"),
            F.rank().over(w_key).alias("rnk"),
            F.dense_rank().over(w_key).alias("drnk"),
        )
        cols = ["id", "k", "rn", "rnk", "drnk"]
        diff = fast.select(cols).exceptAll(naive.select(cols))
        assert diff.count() == 0, f"seed {seed} mismatch"


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Catalyst's runtime row-level filtering injects a bloom_filter_agg
    / might_contain pair into a selective shuffle join once thresholds
    allow — the automatic counterpart of operators.bloom. Locally the
    10 MB creation-side threshold never trips, so this pins the conf
    knobs a 100 TB deployment relies on, then restores them."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # shuffle join (runtime filters don't apply to broadcast probe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .filter("o_orderpriority = '1-URGENT'")
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Joining a hive-partitioned fact against a filtered dim injects a
    dynamicpruning PartitionFilter: only partitions matching the dim's
    surviving keys are scanned — at 100 TB this is what turns a
    date-dim filter into a fact-partition skip without the user
    restating the predicate on the fact."""
    from flink_template_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    p = str(tmp_path / "po")
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(p)
    fact = spark.read.parquet(p)
    dim = spark.createDataFrame(
        [("1-URGENT", "hot"), ("5-LOW", "cold")], ["prio", "klass"]
    ).filter("klass = 'hot'")
    j = fact.join(dim, fact.o_orderpriority == dim.prio).groupBy("klass").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # and it actually prunes: only the URGENT partition's rows are read
    assert j.first()["count"] == orders.filter("o_orderpriority = '1-URGENT'").count()


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """The engine exposes Catalyst's join-strategy control surface:
    per-join hints override the planner's choice — the manual override
    lever when AQE's stats-driven pick is wrong at scale."""
    from flink_template_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")

    def physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    merge = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
    assert "SortMergeJoin" in physical(merge)

    shash = li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
    assert "ShuffledHashJoin" in physical(shash)

    bcast = li.join(orders.hint("broadcast"), li.l_orderkey == orders.o_orderkey)
    assert "BroadcastHashJoin" in physical(bcast)


def test_repetition_metrics_single_scan_partial_agg(spark, sf):
    """One corpus scan for all three gram orders; every aggregate is
    partial (map-side) before its exchange."""
    p = plan_of(plans.QUERIES["q_repetition_metrics"](spark, sf))
    # formatted explain prints each node twice (tree + details): one scan
    assert p.count("Scan parquet") == 2  # tagged explode, not 3 pipelines
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 6  # partial+final for each of 3 aggs


def test_mixture_rebalance_broadcasts_rates(spark, sf):
    """Per-lang rates broadcast onto the corpus; membership filter is
    map-side (no corpus-keyed exchange after the join)."""
    p = plan_of(plans.QUERIES["q_mixture_rebalance"](spark, sf))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p  # the corpus is never shuffle-joined


def test_ngram_novelty_joins_reduced_sides(spark, sf):
    """The final join is between two doc-keyed AGGREGATES — both join
    inputs must pass through HashAggregate before joining."""
    p = plan_of(plans.QUERIES["q_ngram_novelty"](spark, sf))
    assert "CartesianProduct" not in p
    # shingle-keyed work exists (first-occurrence agg) but the join keys
    # are doc ids: no join on the shingle column anywhere in the plan
    assert "shingle#" not in p[p.index("Join") :].split("\n")[0]


def test_semdedup_pair_join_is_cluster_keyed(spark, sf):
    """The dominance pair work must stay cluster-blocked, never a
    cartesian across cells. Since optimization r13 the within-cluster
    pair scoring is the blocked exact-fold kernel (one MapInPandas task
    per cluster over a cluster-keyed collect_list agg) rather than a
    pair equi-join — assert that shape, plus the keyed anti-join that
    subtracts the dominated set."""
    p = plan_of(plans.QUERIES["q_semdedup_keep"](spark, sf))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p  # r13: no pair rows at all
    # kernel path: cluster-keyed collect_list agg feeding MapInPandas
    assert "MapInPandas" in p
    assert "collect_list" in p
    # the keep-set subtraction is a keyed anti-join
    assert any(
        j in p
        for j in (
            "SortMergeJoin LeftAnti",
            "ShuffledHashJoin LeftAnti",
            "BroadcastHashJoin LeftAnti",
        )
    )


def test_semdedup_reads_one_pinned_assignment(spark, sf):
    """The pair kernel and the keep set's anti-join both read the
    centroid-assigned vectors. They read one lazily pinned copy, so
    ivf_assign's Arrow centroid pass runs once per vector, into the pin,
    and appears nowhere in the query's plan."""
    p = plan_of(plans.QUERIES["q_semdedup_keep"](spark, sf))
    assert "ArrowEvalPython" not in p
    assert "Scan ExistingRDD" in p


def test_pii_scrub_is_map_only(spark, sf):
    """The PII pass must ride a scan for free: zero exchanges, regex in
    the projection."""
    p = plan_of(plans.QUERIES["q_pii_detect"](spark, sf))
    # the only allowed exchange is the final presentation orderBy
    # (rangepartitioning); the scrub itself must not hash-shuffle
    assert "hashpartitioning" not in p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "CartesianProduct" not in p


def test_decontaminate_bloom_probe_precedes_exact_join(spark, sf):
    """Bloom probe is a Filter (map-side), the exact verify is an
    equi-semi-join — never a cartesian; the bloom bitmap arrives by
    broadcast."""
    p = plan_of(plans.QUERIES["q_decontaminate_bloom"](spark, sf))
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row bitmap ride-along


def test_portable_sketches_shuffle_sketch_sized_state(spark, sf):
    """HLL/CMS/DDSketch builds must partial-aggregate map-side (the
    shuffle carries registers/counters, not items) and never cartesian
    on the data side."""
    for q in ("q_hll_portable_rollup", "q_cms_token_freq", "q_ddsketch_quantiles"):
        p = plan_of(plans.QUERIES[q](spark, sf))
        assert "partial_" in p, q  # map-side combine before every exchange
        assert "CartesianProduct" not in p, q


def test_phrase_search_single_posting_build(spark, sf):
    """VERDICT r6 what's-wrong #2: phrase search must probe ONE
    materialized posting index, not re-plan the posexplode subtree per
    phrase word. Pin: every token filter in the serve plan is an
    InMemoryTableScan of the memoized posting relation (10 probes for
    the 4 phrases' 10 words), and the numbered plan tree carries at
    most the single echoed build subtree's parquet scan — not the 2L×P
    corpus re-scans of the old shape. Also pins the memo identity
    (repeated calls serve the same persisted index) and join-order
    invariance (rarest-token-first, asserted green by the oracle suite
    at 3 SFs)."""
    import re

    from flink_template_spark.plans.text_dedup import (
        _PHRASES,
        _phrase_posting_index,
    )

    vocab = tuple(sorted({w for p in _PHRASES for w in p.split(" ")}))
    p1, c1 = _phrase_posting_index(spark, sf, vocab)
    p2, c2 = _phrase_posting_index(spark, sf, vocab)
    assert p1 is p2 and c1 is c2  # memo hit, no rebuild
    assert set(c1) == set(vocab)

    n_words = sum(len(p.split(" ")) for p in _PHRASES)
    plan = plan_of(plans.QUERIES["q_phrase_search"](spark, sf))
    n_mem = len(re.findall(r"\(\d+\) InMemoryTableScan", plan))
    n_parq = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_mem == n_words, plan[:2000]
    assert n_parq <= 1, f"posting rebuilt per reference: {n_parq} scans"


def test_round3_flagship_compositions_no_cartesian(spark, sf):
    """The composed retrieval/curation flagships must stay equi-keyed:
    no CartesianProduct anywhere (the only nested-loop allowed is the
    broadcast single-row query-vector / bitmap ride-along)."""
    for q in (
        "q_ann_multiprobe_rerank",
        "q_hybrid_search_rrf",
        "q_contrastive_triplets",
        "q_dataset_datasheet",
        "q_source_overlap_matrix",
        "q_dup_cluster_sizes",
    ):
        p = plan_of(plans.QUERIES[q](spark, sf))
        assert "CartesianProduct" not in p, q


def test_datasheet_and_overlap_reduce_before_joining(spark, sf):
    """Both curation reports join REDUCED sides: datasheet joins the
    (hash, count) aggregate, the overlap matrix joins distinct
    (shingle, source) rows — map-side partial aggregation before every
    exchange."""
    for q in ("q_dataset_datasheet", "q_source_overlap_matrix"):
        p = plan_of(plans.QUERIES[q](spark, sf))
        assert "partial_" in p, q


def test_global_ranks_are_a_permutation(spark):
    """Regression for the double-evaluation boundary bug: `ranged`
    feeds both the stats aggregation and pass 2, and RangePartitioner
    samples boundaries per evaluation — without the pinned
    materialization the offsets can describe a partitioning the output
    rows don't have, yielding gaps/duplicates in the 'global' rank
    (observed at sf0.1 through q_curriculum_order). The invariant that
    breaks is exactly: rn must be a permutation of 1..N."""
    from pyspark.sql import functions as F

    from flink_template_spark.operators.rank_global import with_global_ranks

    n = 50_000
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") * 2654435761 % 1000003).alias("key"),
        )
    )
    ranked = with_global_ranks(
        df, [(F.col("key"), True)], tiebreak=["id"], row_number_col="rn"
    )
    got = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("rn").alias("n_distinct"),
        F.min("rn").alias("lo"),
        F.max("rn").alias("hi"),
    ).first()
    assert (got["n"], got["n_distinct"], got["lo"], got["hi"]) == (n, n, 1, n)


def test_vocab_coverage_broadcasts_k_literals(spark, sf):
    """ADVICE r7: the k-thresholds theta-join must keep the |Ks|-row
    literal table as the BNLJ build side. The old ks-LEFT-OUTER shape
    silently ignored the broadcast hint (BNLJ cannot build the
    preserved side's opposite for outer joins) and broadcast the
    vocab-sized rank table instead; the INNER rewrite pins BuildRight
    with ks on the right."""
    p = plan_of(plans.QUERIES["q_vocab_coverage"](spark, sf))
    assert "CartesianProduct" not in p
    inner_bnlj = [
        line
        for line in p.splitlines()
        if "BroadcastNestedLoopJoin" in line and "Inner" in line
    ]
    assert inner_bnlj, p
    for line in inner_bnlj:
        assert "BuildRight" in line  # ks literals, never the rank table


def test_components_consumers_serve_from_memoized_table(spark, sf):
    """VERDICT r7 next #2: the four near-dup-components consumers must
    serve from the memoized materialized fixpoint, not re-run the
    shingle-pair edge build + label propagation per query. Pin by scan
    census: downstream of the memo the component table is an RDD scan,
    so q_leakage_safe_split and q_dup_cluster_sizes read ZERO parquet
    (their only input is the component table) and q_best_of_cluster
    reads documents exactly once (for quality scoring)."""
    import re

    for name, n_parquet in (
        ("q_near_dup_components", 0),
        ("q_dup_cluster_sizes", 0),
        ("q_leakage_safe_split", 0),
        ("q_best_of_cluster", 1),
    ):
        p = plan_of(plans.QUERIES[name](spark, sf))
        # count operator detail headers: the formatted tree repeats
        # each node once in the tree and once in the detail section
        n = len(re.findall(r"\(\d+\) Scan parquet", p))
        assert n == n_parquet, (name, n, p)
        assert "Scan ExistingRDD" in p, name


def test_ann_recall_eval_single_cosine_pass_serves_index(spark, sf):
    """VERDICT r7 next #3: q_ann_recall_eval must (a) serve cluster
    assignments from the memoized persisted index (InMemoryTableScan,
    never an in-plan re-assignment), (b) evaluate the query-sample ×
    corpus cosine pass ONCE — exactly one corpus-side broadcast cross
    fan-out feeding exactly one query-partitioned Window that carries
    both ranks, and (c) join the index onto the N-row corpus BEFORE the
    |q|-fold fan-out (the cluster column joins below the BNLJ, so no
    shuffle of the pair table)."""
    p = plan_of(plans.QUERIES["q_ann_recall_eval"](spark, sf))
    assert "InMemoryTableScan" in p  # (a) memoized index, not a rebuild
    assert "CartesianProduct" not in p

    # The formatted tree EMBEDS the cached index-build plan under
    # InMemoryRelation; strip that subtree (by indentation) so the
    # census below counts only the live query's nodes.
    import re

    def node_col(line: str) -> int:
        # column of the node's own +-/:- marker ("... :  +- Window"),
        # NOT the first guide char — ':' guides extend into embedded
        # subtrees at the parent's column. Marker-less lines (AQE query
        # stages, section headers) sit at their indentation.
        m = max(line.rfind("+- "), line.rfind(":- "))
        return m if m >= 0 else len(line) - len(line.lstrip(" :"))

    keep, skip_past = [], None
    for line in p.splitlines():
        if re.match(r"^\(\d+\) ", line):
            break  # detail section: tree census is done
        if not line.strip():
            continue  # blank separators inside embedded AQE plans
        col = node_col(line)
        if skip_past is not None:
            if col > skip_past:
                continue
            skip_past = None
        if "InMemoryRelation" in line:
            skip_past = col
            continue
        keep.append(line)
    outer = "\n".join(keep)
    # (b) exactly two cross fan-outs (centroids×q probes, corpus×q
    # pairs) and exactly two Windows (probes' prk; the ONE ranked pair
    # pass that carries both rk_full and the running rk_a)
    assert outer.count("BroadcastNestedLoopJoin") == 2, outer
    assert len(re.findall(r"\+- Window \(", outer)) == 2, outer
    # (c) probes membership joins the pair table via broadcast equi-join
    assert "BroadcastHashJoin LeftOuter" in outer, outer
    # and the corpus⋈index equi-join sits BELOW the corpus fan-out (the
    # cluster column is attached to the N-row corpus, not the N×|q|
    # pair table): the BNLJ's left subtree contains the inner BHJ
    i_bnlj = outer.index("BroadcastNestedLoopJoin Cross")
    assert "BroadcastHashJoin Inner" in outer[i_bnlj:], outer


def test_ivm_refresh_scans_only_the_delta(spark, sf):
    """q_ivm_delta_merge's whole point: the refresh never re-reads base
    ROWS — the stored MV side is a checkpointed aggregate (RDD scan),
    so exactly ONE parquet scan (the delta partition) may appear, and
    its pushed filter must be the delta-side predicate."""
    import re

    p = plan_of(plans.QUERIES["q_ivm_delta_merge"](spark, sf))
    n = len(re.findall(r"\(\d+\) Scan parquet", p))
    assert n == 1, f"IVM refresh re-scanned the base: {n} parquet scans"
    assert "Scan ExistingRDD" in p  # the pinned MV partials
    assert "PushedFilters" in p and "GreaterThanOrEqual(o_orderdate" in p


def test_bucketed_join_has_no_join_side_exchange(spark, sf):
    """q_bucketed_join_colocated's deliverable is the PLAN: both fact
    sides come from bucketed scans, so the sort-merge join runs with
    no exchange on either join key — the only exchanges are the
    post-join rollup's (hash on the group key, range for the final
    sort)."""
    import re

    p = plan_of(plans.QUERIES["q_bucketed_join_colocated"](spark, sf))
    assert "SortMergeJoin" in p
    assert "SelectedBucketsCount" in p  # bucketed scans actually used
    assert "hashpartitioning(o_custkey" not in p
    assert "hashpartitioning(c_custkey" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2  # agg + sort only


def test_partition_pruned_scan_filters_directories_not_rows(spark, sf):
    """q_partition_pruned_scan's deliverable is the PLAN: the date
    range must appear as PartitionFilters (directory pruning) and no
    row-level date filter may remain — the scan never opens a file
    outside the month."""
    p = plan_of(plans.QUERIES["q_partition_pruned_scan"](spark, sf))
    assert "PartitionFilters: [isnotnull(event_date" in p
    assert "(event_date" in p.split("PartitionFilters")[1].splitlines()[0]
    # no residual row-level Filter on event_date above the scan: in
    # formatted explain a Filter node's predicate lives on its
    # "Condition :" detail line (the tree line is just "Filter (id)" —
    # r9 review killed a vacuous version of this assertion)
    for line in p.splitlines():
        if line.strip().startswith("Condition"):
            assert "event_date" not in line, line
