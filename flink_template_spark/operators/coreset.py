"""Greedy facility-location coreset selection.

The submodular-maximization primitive of data curation: pick k
exemplars maximizing total coverage Σ_d max_{c ∈ S} sim(d, c) — the
classic facility-location objective whose greedy algorithm carries the
(1 − 1/e) approximation guarantee. In LLM-pipeline terms: choose the k
most REPRESENTATIVE documents of a class/cluster (coreset / prototype
selection), the complement of semdedup's "drop the redundant" — here
we KEEP the cover.

Determinism & oracle-exactness: similarities are quantized to integer
micro-units (ROUND(cos·1e6) → bigint) before any accumulation, so
gains and coverage totals are exact integer sums in any partition
order, the argmax (gain desc, id asc) is total, and a DuckDB oracle
replaying the same k rounds as an unrolled CTE chain matches
bit-for-bit — the kmeans/pagerank replay discipline applied to a
greedy submodular loop.

Scale shape: the pair-similarity table is the cost. This operator
takes the UNIVERSE as given and is meant to run blocked — per class
(the query below), per IVF cell, or per LSH bucket — exactly like
semdedup's cluster-blocked pair join: quadratic only within a block,
never across the corpus. Each greedy round is one join + one
aggregation over the block's pair table; the only driver-side
materialization is the 1-row argmax per round (bounded control-plane
fetch, k rows total, like the k-row centroid collects in
operators.kmeans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_template_spark.functions.vector import dot, l2_norm, valid_vec

# Broadcast guard for the per-round gains join (ADVICE r12 / VERDICT r12
# #6): cov is one (id, bigint) row per universe point, so real blocks
# (per class / IVF cell / LSH bucket) sit orders of magnitude below this
# — 10M rows is ~160 MB built, safely inside the 8 GB / 512M-row
# broadcast cap and executor memory. A caller that violates the
# blocked-universe contract falls back to the shuffle join (degrades
# gracefully) instead of hard-failing the broadcast build.
BROADCAST_COV_MAX_ROWS = 10_000_000


def pair_sims_q(
    universe: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(d, c, sim_q): micro-unit-quantized cosine for every ordered
    pair of the (blocked, small) universe, self-pairs included
    (sim_q(d,d) — a facility covers itself). Degenerate vectors
    are excluded by the cosine-family valid_vec contract.

    A cross-join fold, not the blocked pair kernel
    (operators.similarity.pair_cos_blocked): this table keeps EVERY
    pair, so the kernel's extra mirror/union stages cost more than the
    folds it saves (measured 2.71 s vs 2.10 s on the greedy loop)."""
    u = universe.filter(valid_vec(F.col(vec_col))).select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("__n")
    )
    # norms are computed ONCE per row before the cross join (linear),
    # not inside the pair cosine (quadratic): dot/(na*nb) is the exact
    # expression tree cosine() builds, evaluated on identical operands,
    # so sim_q is bit-for-bit unchanged while the pair table drops two
    # of its three per-pair array folds (guide §1.2: fix the algorithm
    # inside the quadratic block first).
    a = u.select(F.col(id_col).alias("d"), F.col(vec_col).alias("__va"), F.col("__n").alias("__na"))
    b = u.select(F.col(id_col).alias("c"), F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb"))
    return a.crossJoin(b).select(
        "d",
        "c",
        F.round(
            dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb"))
            * 1_000_000.0,
            0,
        )
        .cast("bigint")
        .alias("sim_q"),
    )


def facility_location_greedy(
    universe: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[dict]:
    """Run k greedy rounds; returns one dict per round:
    {round, chosen id, gain_q, total_cov_q} (gain and running total in
    micro-units). Driver-side list BY DESIGN — the result is k rows of
    control-plane data, like kmeans' centroid fetches."""
    sims = pair_sims_q(universe, id_col, vec_col).localCheckpoint()
    cov = sims.select("d").distinct().select(
        "d", F.lit(0).cast("bigint").alias("cov")
    ).localCheckpoint()
    # one bounded count over the just-checkpointed table decides the
    # round-join strategy up front (see BROADCAST_COV_MAX_ROWS): cov's
    # row count is invariant across rounds, so the guard costs one tiny
    # job per operator call, not per round
    broadcast_cov = cov.count() <= BROADCAST_COV_MAX_ROWS
    out: list[dict] = []
    chosen_ids: list = []
    total = 0
    for t in range(1, k + 1):
        # broadcast the coverage table (optimization r12): cov is
        # LINEAR in the block (one row per universe point) while sims —
        # already materialized — is quadratic in it, so under the
        # operator's blocked-universe contract cov is always the small
        # side by a |block| factor; the hint removes the per-round
        # d-keyed exchange of the sims table (measured −15..25% on the
        # loop at sf0.1, picks identical). Guarded: an out-of-contract
        # universe keeps the shuffle join rather than exploding the
        # broadcast (BROADCAST_COV_MAX_ROWS).
        gains = (
            sims.join(F.broadcast(cov) if broadcast_cov else cov, "d")
            .groupBy("c")
            .agg(F.sum(F.greatest(F.col("sim_q") - F.col("cov"), F.lit(0))).alias("gain"))
        )
        # exclude already-chosen facilities: once coverage saturates,
        # every remaining gain is 0 and the bare argmax would re-pick
        # the same exemplar forever instead of k DISTINCT prototypes
        if chosen_ids:
            gains = gains.filter(~F.col("c").isin(chosen_ids))
        top = gains.orderBy(F.desc("gain"), "c").limit(1).collect()
        if not top:
            break  # universe smaller than k: no candidates left
        chosen, gain = top[0]["c"], top[0]["gain"]
        chosen_ids.append(chosen)
        total += gain
        out.append(
            {"round": t, id_col: chosen, "gain_q": gain, "total_cov_q": total}
        )
        chosen_sims = sims.filter(F.col("c") == chosen).select("d", "sim_q")
        # eager=False: the cov_t checkpoint materializes inside round
        # t+1's argmax job instead of costing a dedicated job per round
        # (halves the loop's job count; sims stays eagerly pinned)
        cov = (
            cov.join(chosen_sims, "d", "left")
            .select(
                "d",
                F.greatest(
                    F.col("cov"), F.coalesce(F.col("sim_q"), F.lit(0))
                ).alias("cov"),
            )
            .localCheckpoint(eager=False)
        )
    return out


def facility_location_sql(k: int, id_col: str = "vec_id") -> str:
    """DuckDB oracle: the identical k rounds unrolled (including the
    already-chosen exclusion). Expects a CTE ``sims(d, c, sim_q)`` to
    exist; emits cov0..cov{k} and pick1..pick{k}, plus a final
    ``picks`` CTE with (round, id, gain_q, total_cov_q)."""
    parts = [
        f"cov0 AS MATERIALIZED (SELECT DISTINCT d, CAST(0 AS BIGINT) AS cov FROM sims)"
    ]
    for t in range(1, k + 1):
        prior = " UNION ALL ".join(f"SELECT c FROM pick{i}" for i in range(1, t))
        excl = f"\n  WHERE c NOT IN ({prior})" if t > 1 else ""
        parts.append(
            f"""g{t} AS (
  SELECT s.c, SUM(GREATEST(s.sim_q - cv.cov, 0)) AS gain
  FROM sims s JOIN cov{t - 1} cv ON s.d = cv.d
  GROUP BY s.c
),
pick{t} AS MATERIALIZED (
  SELECT c, CAST(gain AS BIGINT) AS gain FROM g{t}{excl}
  ORDER BY gain DESC, c LIMIT 1
),
cov{t} AS MATERIALIZED (
  SELECT cv.d,
         GREATEST(cv.cov, COALESCE(s.sim_q, 0)) AS cov
  FROM cov{t - 1} cv
  LEFT JOIN (
    SELECT sims.d, sims.sim_q FROM sims JOIN pick{t} ON sims.c = pick{t}.c
  ) s ON cv.d = s.d
)"""
        )
    rounds_union = "\n  UNION ALL\n".join(
        f"  SELECT {t} AS round, c AS {id_col}, gain AS gain_q,"
        f" (SELECT CAST(SUM(cov) AS BIGINT) FROM cov{t}) AS total_cov_q"
        f" FROM pick{t}"
        for t in range(1, k + 1)
    )
    return ",\n".join(parts) + f",\npicks AS (\n{rounds_union}\n)"
