"""Embedding similarity-search queries over ``embeddings``
(SURVEY.md §2.7 north-star: ANN over array<float>).

All oracle-checked: DuckDB reproduces the same double math (float→double
casts, left-to-right folds, 6-dp rounding) via SQL fragments generated
from ``functions.vector``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_template_spark.memo import SessionLRUMemo
from flink_template_spark.functions.vector import (
    cosine_sql,
    dot_sql,
    l2_norm,
    l2_norm_sql,
    lit_doubles,
    lit_ints,
    rp_signs,
)
from flink_template_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_exact,
    cosine_near_dup_lsh,
    ivf_assign,
    ivf_topk,
    pair_cos_blocked,
    plane_dot_sql,
)
from flink_template_spark.plans.registry import register
from flink_template_spark.tables import load_table

N_CENTROIDS = 4
NEAR_DUP_THRESHOLD = 0.4
LSH_BANDS = 8
LSH_BITS = 4


@register(
    "q_vector_norms",
    oracle=f"""
SELECT
  vec_id,
  label,
  len(embedding) AS dims,
  ROUND({l2_norm_sql('embedding')}, 6) AS l2_norm,
  CAST(list_min(embedding) AS DOUBLE) AS min_el,
  CAST(list_max(embedding) AS DOUBLE) AS max_el
FROM embeddings
""",
)
def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("dims"),
        F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm"),
        F.array_min("embedding").cast("double").alias("min_el"),
        F.array_max("embedding").cast("double").alias("max_el"),
    )


@register(
    "q_cosine_topk",
    oracle=f"""
SELECT
  a.vec_id,
  ROUND({cosine_sql('a.embedding', 'q.embedding')}, 6) AS cos_sim
FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE a.vec_id <> 0
ORDER BY cos_sim DESC, a.vec_id
LIMIT 10
""",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return brute_force_topk(emb, query, k=10)


@register(
    "q_centroids_by_label",
    oracle="""
SELECT
  label,
  pos,
  CAST(SUM(CAST(ROUND(CAST(embedding[pos + 1] AS DOUBLE) * 10000000.0, 0) AS BIGINT))
       AS DOUBLE) / (10000000.0 * COUNT(*)) AS centroid_val,
  COUNT(*) AS n_vectors
FROM embeddings, unnest(range(0, len(embedding))) AS t(pos)
GROUP BY label, pos
""",
)
def q_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, one row per (label, dimension).

    Elements are fixed-point-quantized (×1e7, round to bigint) and summed
    as exact integers so the mean is identical across engines regardless
    of partition order. (A raw double sum over a shuffled group is
    order-sensitive in the last ulp, and Spark/DuckDB round float→decimal
    differently — integer quantization sidesteps both.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "el")
    )
    quantized = F.round(F.col("el").cast("double") * 10000000.0, 0).cast("bigint")
    return exploded.groupBy("label", "pos").agg(
        (
            F.sum(quantized).cast("double")
            / (F.lit(10000000.0) * F.count(F.lit(1)))
        ).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@register(
    "q_ann_ivf_probe",
    oracle=f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
scored AS (
  SELECT
    v.vec_id,
    v.embedding,
    c.centroid_id,
    ROUND({cosine_sql('v.embedding', 'c.embedding')}, 6) AS c_sim
  FROM embeddings v CROSS JOIN centroids c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id
    ) AS rk FROM scored
  ) WHERE rk = 1
),
qinfo AS (
  SELECT a.cluster AS qcluster, e.embedding AS qvec
  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
  WHERE a.vec_id = 0
)
SELECT
  a.vec_id,
  a.cluster,
  ROUND({cosine_sql('a.embedding', 'q.qvec')}, 6) AS cos_sim
FROM assigned a, qinfo q
WHERE a.cluster = q.qcluster AND a.vec_id <> 0
ORDER BY cos_sim DESC, a.vec_id
LIMIT 5
""",
)
def q_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    query = emb.filter(F.col("vec_id") == 0)
    return ivf_topk(emb, centroids, query, k=5)


@register(
    "q_ivf_cluster_sizes",
    oracle=f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
scored AS (
  SELECT
    v.vec_id,
    c.centroid_id,
    ROUND({cosine_sql('v.embedding', 'c.embedding')}, 6) AS c_sim
  FROM embeddings v CROSS JOIN centroids c
),
assigned AS (
  SELECT vec_id, centroid_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id
    ) AS rk FROM scored
  ) WHERE rk = 1
)
SELECT cluster, COUNT(*) AS n_vectors
FROM assigned GROUP BY cluster
""",
)
def q_ivf_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return (
        ivf_assign(emb, centroids)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


SEMDEDUP_THRESHOLD = 0.4


@register(
    "q_semdedup_keep",
    oracle=f"""
WITH centroids AS (
  -- sqrt(n) centroid count derived from the corpus (ADVICE r11: the
  -- fixed N_CENTROIDS=4 left the within-cell dominance join quadratic
  -- in corpus size — the exact shape the triplet-miner fix diagnosed);
  -- matches triplet_n_centroids() bit-for-bit
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE vec_id < GREATEST(4, CAST(CEIL(SQRT(
    (SELECT COUNT(*) FROM embeddings))) AS BIGINT))
),
scored AS (
  SELECT v.vec_id, v.embedding, c.centroid_id,
         ROUND({cosine_sql('v.embedding', 'c.embedding')}, 6) AS c_sim
  FROM embeddings v CROSS JOIN centroids c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id
    ) AS rk FROM scored
  ) WHERE rk = 1
),
dominated AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6)
        >= {SEMDEDUP_THRESHOLD}
)
SELECT vec_id, cluster FROM assigned
WHERE vec_id NOT IN (SELECT vec_id FROM dominated)
""",
)
def q_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators.similarity.semdedup):
    vectors are blocked by nearest seed centroid, and within each
    cluster any vector with a lower-id cosine-neighbor ≥ threshold is
    dropped (deterministic keep-first). Seed centroids are the lowest
    ``max(4, ceil(sqrt(n)))`` vec_ids — derived from the corpus via the
    same in-plan broadcast scalar as q_contrastive_triplets (ADVICE
    r11: the fixed 4-cell blocking left the Σ|cell|² dominance pair
    table quadratic in corpus size; √n cells pin it at n^1.5), so the
    whole composition stays SQL-replayable and lazy — the iterative
    k-means centroids stay rows-only in q_kmeans_clusters."""
    from flink_template_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    kdf = emb.agg(
        F.greatest(
            F.lit(4).cast("bigint"),
            F.ceil(F.sqrt(F.count(F.lit(1)).cast("double"))).cast("bigint"),
        ).alias("k_cells")
    )
    centroids = (
        emb.crossJoin(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("k_cells"))
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    )
    return semdedup(emb, centroids, SEMDEDUP_THRESHOLD)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection (SURVEY.md §2.7 north-star;
# the dedup family's vector member alongside MinHash/SimHash in
# plans.text_dedup).
# ---------------------------------------------------------------------------

@register(
    "q_embedding_near_dup_exact",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6)
      >= {NEAR_DUP_THRESHOLD}
ORDER BY id_a, id_b
""",
)
def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_exact(emb, NEAR_DUP_THRESHOLD)


def _lsh_band_sig_sql(vec: str, band: int) -> str:
    bits = [
        f"(CASE WHEN {plane_dot_sql(vec, band * LSH_BITS + m)} >= 0"
        f" THEN {2 ** m} ELSE 0 END)"
        for m in range(LSH_BITS)
    ]
    return " + ".join(bits)


@register(
    "q_embedding_near_dup_lsh",
    oracle=f"""
WITH bands AS (
  SELECT vec_id, embedding, t.band,
    CASE t.band
      {" ".join(f"WHEN {b} THEN {_lsh_band_sig_sql('embedding', b)}" for b in range(LSH_BANDS))}
    END AS sig
  FROM embeddings, unnest(range(0, {LSH_BANDS})) AS t(band)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
  WHERE a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
  ROUND({cosine_sql('ea.embedding', 'eb.embedding')}, 6) AS cos_sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.id_a
JOIN embeddings eb ON eb.vec_id = c.id_b
WHERE ROUND({cosine_sql('ea.embedding', 'eb.embedding')}, 6)
      >= {NEAR_DUP_THRESHOLD}
ORDER BY id_a, id_b
""",
)
def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_lsh(
        emb, NEAR_DUP_THRESHOLD, n_bands=LSH_BANDS, bits_per_band=LSH_BITS
    )


def _kmeans_oracle_cte(k: int, n_iter: int) -> str:
    """CTE chain replaying ``operators.kmeans.kmeans_fit`` in DuckDB.

    The fit is deterministic by construction (init = lowest-k vec_ids,
    6-dp-rounded cosine argmax with centroid-id tiebreak, exact
    fixed-point-integer means — kmeans.py:27-85), so a bounded number of
    Lloyd iterations unrolls into plain SQL: ``c{i}`` = centroids after
    iteration i, ``a{i}`` = assignment against ``c{i}``; the caller
    selects from ``a{n_iter}``/``c{n_iter}``."""

    def assign(i: int) -> str:
        return f"""a{i} AS (
  SELECT vec_id, embedding, cid AS cluster FROM (
    SELECT v.vec_id, v.embedding, c.cid,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY ROUND({cosine_sql('v.embedding', 'c.cvec')}, 6) DESC, c.cid
      ) AS rk
    FROM embeddings v CROSS JOIN c{i} c
  ) WHERE rk = 1
)"""

    parts = [
        f"""c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
)""",
        assign(0),
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""c{i} AS (
  SELECT cluster AS cid, list(m ORDER BY pos) AS cvec FROM (
    SELECT cluster, pos,
      CAST(SUM(CAST(ROUND(CAST(embedding[pos + 1] AS DOUBLE) * 10000000.0, 0)
           AS BIGINT)) AS DOUBLE) / (10000000.0 * COUNT(*)) AS m
    FROM a{i - 1}, unnest(range(0, len(embedding))) AS t(pos)
    GROUP BY cluster, pos
  ) GROUP BY cluster
)"""
        )
        parts.append(assign(i))
    return ",\n".join(parts)


@register(
    "q_kmeans_clusters",
    oracle=f"""
WITH {_kmeans_oracle_cte(4, 3)}
SELECT cluster, COUNT(*) AS n_vectors
FROM a3 GROUP BY cluster ORDER BY cluster
""",
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means. The driver-side Lloyd loop is bounded
    (n_iter=3), so the oracle unrolls it into chained CTEs — every
    iteration's argmax assignment and exact-integer centroid means are
    replayed in SQL (see _kmeans_oracle_cte); convergence/determinism
    additionally pytest-asserted in tests/test_kmeans.py. Produces real
    IVF centroids."""
    from flink_template_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_fit(emb, k=4, n_iter=3)
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cluster")
    )


@register(
    "q_ann_kmeans_probe",
    oracle=f"""
WITH {_kmeans_oracle_cte(4, 2)},
qinfo AS (
  SELECT cluster AS qcluster, embedding AS qvec FROM a2 WHERE vec_id = 0
)
SELECT a.vec_id, a.cluster,
  ROUND({cosine_sql('a.embedding', 'q.qvec')}, 6) AS cos_sim
FROM a2 a, qinfo q
WHERE a.cluster = q.qcluster AND a.vec_id <> 0
ORDER BY cos_sim DESC, a.vec_id
LIMIT 5
""",
)
def q_ann_kmeans_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANN story: k-means-fitted centroids feeding the IVF
    probe. ``ivf_topk`` re-assigns the corpus against the fitted
    centroids with the same argmax discipline as the fit, so the
    oracle's final-iteration assignment (a2) IS the probe's index —
    the probe then scans only the query's cluster."""
    from flink_template_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    _, centroids = kmeans_fit(emb, k=4, n_iter=2)
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in centroids],
        "centroid_id INT, embedding ARRAY<DOUBLE>",
    )
    query = emb.filter(F.col("vec_id") == 0)
    return ivf_topk(emb, cdf, query, k=5)


@register(
    "q_embedding_zscore",
    oracle="""
WITH ex AS (
  SELECT vec_id, label, pos,
         CAST(embedding[pos + 1] AS DOUBLE) AS el
  FROM embeddings, unnest(range(0, len(embedding))) AS t(pos)
  WHERE pos < 8
),
stats AS (
  SELECT label, pos,
    COUNT(*) AS n,
    CAST(SUM(CAST(ROUND(el * 10000000.0, 0) AS BIGINT)) AS DOUBLE)
      / (10000000.0 * COUNT(*)) AS mean,
    CAST(SUM(CAST(ROUND(el * el * 100000000000000.0, 0) AS BIGINT)) AS DOUBLE)
      / (100000000000000.0 * COUNT(*)) AS msq
  FROM ex GROUP BY label, pos
)
SELECT ex.vec_id, ex.label, ex.pos,
  ROUND((ex.el - stats.mean) / sqrt(stats.msq - stats.mean * stats.mean), 6) AS z
FROM ex JOIN stats USING (label, pos)
""",
)
def q_embedding_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, dimension) z-score normalization of embeddings (the
    feature-standardization step before clustering/training); first 8
    dims shown. Moments use fixed-point integer sums (×1e7 for x, ×1e14
    for x²) so mean/variance are partition-order-independent and
    engine-identical; sqrt and the final divide are correctly-rounded
    IEEE ops, then 6-dp rounding. One shuffle for the (label, pos)
    stats — a ~|labels|·dims table broadcast back onto the fact side."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = (
        emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "el"))
        .filter(F.col("pos") < 8)
        .select("vec_id", "label", "pos", F.col("el").cast("double").alias("el"))
    )
    q1 = F.round(F.col("el") * 10000000.0, 0).cast("bigint")
    q2 = F.round(F.col("el") * F.col("el") * 100000000000000.0, 0).cast("bigint")
    stats = ex.groupBy("label", "pos").agg(
        (F.sum(q1).cast("double") / (F.lit(10000000.0) * F.count(F.lit(1)))).alias(
            "mean"
        ),
        (
            F.sum(q2).cast("double")
            / (F.lit(100000000000000.0) * F.count(F.lit(1)))
        ).alias("msq"),
    )
    return ex.join(F.broadcast(stats), ["label", "pos"]).select(
        "vec_id",
        "label",
        "pos",
        F.round(
            (F.col("el") - F.col("mean"))
            / F.sqrt(F.col("msq") - F.col("mean") * F.col("mean")),
            6,
        ).alias("z"),
    )


@register(
    "q_knn_join",
    oracle=f"""
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT
    q.vec_id AS query_id,
    c.vec_id AS neighbor_id,
    ROUND({cosine_sql('c.embedding', 'q.embedding')}, 6) AS cos_sim,
    ROW_NUMBER() OVER (
      PARTITION BY q.vec_id
      ORDER BY ROUND({cosine_sql('c.embedding', 'q.embedding')}, 6) DESC, c.vec_id
    ) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
) WHERE rank <= 3
""",
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN JOIN (operators.similarity.knn_join_exact): top-3
    corpus neighbors for each of 20 query vectors in one pass —
    broadcast query set, single corpus scan, per-query window top-k.
    Rounded sims + id tiebreak make the ranking engine-portable, so the
    oracle is the full DuckDB cross join replay."""
    from flink_template_spark.operators.similarity import knn_join_exact

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return knn_join_exact(queries, emb, k=3)


@register(
    "q_embedding_quantize_int8",
    oracle="""
WITH q AS (
  SELECT vec_id, label,
    CAST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE)
      / 127.0 AS scale,
    embedding
  FROM embeddings
), codes AS (
  SELECT vec_id, label, scale,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) AS code,
    embedding
  FROM q
)
SELECT
  vec_id, label,
  CAST(ROUND(scale, 6) AS DOUBLE) AS scale_r,
  CAST(list_max(code) AS BIGINT) AS max_code,
  CAST(list_min(code) AS BIGINT) AS min_code,
  CAST(ROUND(list_max(list_transform(range(1, len(embedding) + 1),
    i -> abs(CAST(embedding[i] AS DOUBLE) - code[i] * scale))), 6) AS DOUBLE)
    AS max_abs_err
FROM codes
""",
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantize → dequantize → reconstruction-error audit, fully in
    array expressions (functions.vector.quantize_int8). The oracle
    replays the exact floor-based formula in DuckDB: matching max codes
    AND max reconstruction error to 1e-6 proves the quantization is
    engine-portable, not merely similar."""
    from flink_template_spark.functions.vector import dequantize_int8, quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label", F.col("embedding"), quantize_int8(F.col("embedding")).alias("q")
    )
    deq = q.withColumn("deq", dequantize_int8(F.col("q")))
    err = F.array_max(
        F.zip_with(
            F.col("embedding"),
            "deq",
            lambda a, b: F.abs(a.cast("double") - b),
        )
    )
    return deq.select(
        "vec_id",
        "label",
        F.round(F.col("q.scale"), 6).alias("scale_r"),
        F.array_max("q.codes").cast("long").alias("max_code"),
        F.array_min("q.codes").cast("long").alias("min_code"),
        F.round(err, 6).alias("max_abs_err"),
    )


def _pq_sqdist_sql(sv: str, cvec: str) -> str:
    """Left-to-right fold of (x-c)*(x-c) — bit-matches _sq_l2's unrolled
    codegen sum (diff*diff, never pow)."""
    return (
        f"list_sum(list_transform(range(1, len({sv}) + 1), "
        f"i -> (CAST({sv}[i] AS DOUBLE) - CAST({cvec}[i] AS DOUBLE)) "
        f"* (CAST({sv}[i] AS DOUBLE) - CAST({cvec}[i] AS DOUBLE))))"
    )


def _pq_replay_cte() -> str:
    """CTE chain replaying pq_train(m=4, k=4, n_iter=1) + pq_encode +
    the query's ADC distance table (query = vec 0). Exposes: ``codes``
    (vec_id, j, c), ``adc`` (vec_id, adc_dist — all corpus vectors
    except the query, unrounded sum in subspace order), ``cb1``
    (trained codebooks)."""
    return f"""params AS (SELECT len(embedding) // 4 AS d FROM embeddings LIMIT 1),
js AS (SELECT unnest(range(0, 4)) AS j),
init AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS c, embedding
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4)
),
cb0 AS (  -- init codebooks: subvector slices of the first k vectors
  SELECT js.j, i.c,
    list_slice(i.embedding, js.j * p.d + 1, (js.j + 1) * p.d) AS cvec
  FROM init i, params p, js
),
sub AS MATERIALIZED (  -- every vector's m subvectors
  SELECT e.vec_id, js.j,
    list_slice(e.embedding, js.j * p.d + 1, (js.j + 1) * p.d) AS sv
  FROM embeddings e, params p, js
),
assign0 AS (  -- Lloyd round 1 assignment: argmin code, ties -> lowest c
  SELECT vec_id, j, c FROM (
    SELECT s.vec_id, s.j, cb.c,
      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
        ORDER BY {_pq_sqdist_sql('s.sv', 'cb.cvec')}, cb.c) AS rk
    FROM sub s JOIN cb0 cb ON s.j = cb.j
  ) WHERE rk = 1
),
means AS (  -- exact fixed-point-integer means per (subspace, code, dim)
  SELECT a.j, a.c, t.pos,
    CAST(SUM(CAST(ROUND(CAST(s.sv[t.pos + 1] AS DOUBLE) * 10000000.0, 0)
         AS BIGINT)) AS DOUBLE) / (10000000.0 * COUNT(*)) AS m
  FROM assign0 a
  JOIN sub s ON a.vec_id = s.vec_id AND a.j = s.j,
  unnest(range(0, len(s.sv))) AS t(pos)
  GROUP BY a.j, a.c, t.pos
),
cb1 AS MATERIALIZED (  -- trained codebooks; empty clusters keep init
  SELECT cb.j, cb.c,
    COALESCE(mm.cvec, CAST(cb.cvec AS DOUBLE[])) AS cvec
  FROM cb0 cb LEFT JOIN (
    SELECT j, c, list(m ORDER BY pos) AS cvec FROM means GROUP BY j, c
  ) mm ON cb.j = mm.j AND cb.c = mm.c
),
codes AS MATERIALIZED (  -- encode: argmin against the trained codebooks
  SELECT vec_id, j, c FROM (
    SELECT s.vec_id, s.j, cb.c,
      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
        ORDER BY {_pq_sqdist_sql('s.sv', 'cb.cvec')}, cb.c) AS rk
    FROM sub s JOIN cb1 cb ON s.j = cb.j
  ) WHERE rk = 1
),
qtable AS (  -- the query's m x k asymmetric distance table
  SELECT cb.j, cb.c, {_pq_sqdist_sql('q.sv', 'cb.cvec')} AS dq
  FROM cb1 cb JOIN (SELECT j, sv FROM sub WHERE vec_id = 0) q ON cb.j = q.j
),
adc AS (  -- per-vector ADC distance, summed in subspace order
  SELECT vec_id, (d0 + d1) + d2 + d3 AS adc_dist FROM (
    SELECT co.vec_id,
      MAX(CASE WHEN co.j = 0 THEN qt.dq END) AS d0,
      MAX(CASE WHEN co.j = 1 THEN qt.dq END) AS d1,
      MAX(CASE WHEN co.j = 2 THEN qt.dq END) AS d2,
      MAX(CASE WHEN co.j = 3 THEN qt.dq END) AS d3
    FROM codes co JOIN qtable qt ON co.j = qt.j AND co.c = qt.c
    WHERE co.vec_id <> 0
    GROUP BY co.vec_id
  )
)"""


@register(
    "q_pq_adc_topk",
    oracle=f"""
WITH {_pq_replay_cte()}
SELECT vec_id, ROUND(adc_dist, 6) AS adc_dist
FROM adc
ORDER BY ROUND(adc_dist, 6), vec_id
LIMIT 10
""",
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (operators.pq): train m=4, k=4 sub-
    codebooks on the corpus, encode every embedding to 4 small ints
    (64 floats → 4 bytes-ish of codes), and answer vec 0's top-10 by
    asymmetric distance — scoring touches ONLY the compressed codes via
    broadcast distance-table lookups. Training is deterministic
    (quantized exact-integer means, lowest-id init), so the single
    Lloyd round unrolls into the SQL oracle; compression/recall
    behavior pinned in tests/test_pq.py. Pair with q_ann_ivf_probe for
    the standard IVF-PQ scale combo."""
    from flink_template_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from flink_template_spark.operators.similarity import _spread

    emb = load_table(spark, sf_dir, "embeddings")
    emb_r = _spread(emb)  # distance folds on all cores, not one split
    # one Lloyd round keeps the smoke fast; codebook QUALITY (more
    # rounds) is pinned by tests/test_pq.py, not by this entry
    codebooks = pq_train(emb_r, m=4, k=4, n_iter=1)
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    encoded = pq_encode(emb_r, codebooks)
    return pq_adc_topk(
        encoded.filter(F.col("vec_id") != 0), codebooks, query, k_results=10,
        round_dp=6,
    )


# ---------------------------------------------------------------------------
# Materialized ANN index: build once, serve many (VERDICT r3 design
# note — the round-3 rerank re-trained PQ and re-assigned IVF inside
# every query; ~half its 9.56 s bench wall was index build).
# ---------------------------------------------------------------------------

# Bounded + locked + per-key build serialization: the full contract
# (stopped-session-first eviction, live-eviction warning, failed-build
# lock cleanup) lives in memo.SessionLRUMemo — factored out in r6 so
# the trade-edge graph table (plans/graph.py) reuses it verbatim.
_ANN_MEMO = SessionLRUMemo("ann_index", max_entries=4, entry_df=lambda e: e[2])


def ann_index(spark: SparkSession, sf_dir: str):
    """The corpus's IVF-PQ serving index, built ONCE per (session,
    sf_dir) and persisted: (vec_id, cluster, codes) plus the trained
    codebooks and centroid table. Serving queries scan the compressed
    codes (4 small ints/vector) instead of raw vectors and never
    re-train. The persist is deliberate session-lifetime state — it IS
    the index (same pattern as streaming/ingest_dedup's persisted band
    index); at 100 TB this is the parquet artifact an offline build job
    writes and every serving query reads.

    Build stages are all distributed with bounded collects only
    (pq_train's k=4 centroid init + Lloyd means, operators/pq.py):
    one broadcast-argmax pass for IVF assignment, one encode pass for
    PQ codes, one join to co-locate them. The corpus is _spread to
    session parallelism first — the per-row distance folds are the
    build's hot loop, and a single-file parquet input would otherwise
    evaluate them on one core (one input split).
    """
    from flink_template_spark.operators.pq import pq_encode, pq_train
    from flink_template_spark.operators.similarity import _spread

    def _build() -> tuple:
        emb = load_table(spark, sf_dir, "embeddings")
        centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        emb_r = _spread(emb)
        codebooks = pq_train(emb_r, m=4, k=4, n_iter=1)
        # codes are a per-row map-side projection (broadcast literal
        # codebooks), so tag them BEFORE the IVF argmax and carry them
        # through it — the old (codes ⋈ assigned) vec_id shuffle join
        # and its second pass over emb_r are gone (optimization r12,
        # guide §2.4); both expressions and the argmax are unchanged,
        # so the index rows are identical
        enc = pq_encode(emb_r, codebooks, keep_cols=("embedding",))
        index = (
            ivf_assign(enc, centroids, keep_cols=("codes",))
            .select("vec_id", "codes", "cluster")
            .persist()
        )
        index.count()  # materialize the index once, before any serve path
        return centroids, codebooks, index

    key = (spark.sparkContext.applicationId, sf_dir)
    return _ANN_MEMO.get_or_build(key, _build)


@register(
    "q_ann_index_build",
    oracle=f"""
WITH {_pq_replay_cte()},
centroids AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, centroid_id AS cluster FROM (
    SELECT v.vec_id, c.centroid_id,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY ROUND({cosine_sql('v.embedding', 'c.embedding')}, 6) DESC,
                 c.centroid_id) AS rk
    FROM embeddings v CROSS JOIN centroids c
  ) WHERE rk = 1
),
codesw AS (
  SELECT vec_id,
    MAX(CASE WHEN j = 0 THEN c END) AS c0,
    MAX(CASE WHEN j = 1 THEN c END) AS c1,
    MAX(CASE WHEN j = 2 THEN c END) AS c2,
    MAX(CASE WHEN j = 3 THEN c END) AS c3
  FROM codes GROUP BY vec_id
)
SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
  CAST(a.cluster AS BIGINT) AS cluster,
  CAST(w.c0 AS BIGINT) AS c0, CAST(w.c1 AS BIGINT) AS c1,
  CAST(w.c2 AS BIGINT) AS c2, CAST(w.c3 AS BIGINT) AS c3
FROM assigned a JOIN codesw w ON a.vec_id = w.vec_id
ORDER BY vec_id
""",
)
def q_ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The offline half of the ANN stack: materialize the IVF-PQ index
    (every vector's cluster assignment + its m=4 PQ codes) via
    :func:`ann_index`. Deterministic end-to-end (fixed-seed centroids,
    quantized exact-integer PQ training, rounded argmax with id
    tiebreaks), so the full build replays in SQL — the oracle re-derives
    every vector's cluster AND all 4 code columns. Pair with
    q_ann_multiprobe_rerank, which SERVES from this index without
    re-training."""
    _, _, index = ann_index(spark, sf_dir)
    return index.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cluster").cast("bigint").alias("cluster"),
        *[
            F.element_at("codes", j + 1).cast("bigint").alias(f"c{j}")
            for j in range(4)
        ],
    ).orderBy("vec_id")


@register(
    "q_ann_multiprobe_rerank",
    oracle=f"""
WITH {_pq_replay_cte()},
centroids AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
probes AS (  -- multi-probe: the query's 2 nearest centroids
  SELECT centroid_id FROM (
    SELECT c.centroid_id,
      ROUND({cosine_sql('c.embedding', 'qv.qvec')}, 6) AS s
    FROM centroids c, qv
  ) ORDER BY s DESC, centroid_id LIMIT 2
),
assigned AS (
  SELECT vec_id, centroid_id AS cluster FROM (
    SELECT v.vec_id, c.centroid_id,
      ROUND({cosine_sql('v.embedding', 'c.embedding')}, 6) AS c_sim,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY ROUND({cosine_sql('v.embedding', 'c.embedding')}, 6) DESC,
                 c.centroid_id) AS rk
    FROM embeddings v CROSS JOIN centroids c
  ) WHERE rk = 1
),
members AS (
  SELECT a.vec_id FROM assigned a JOIN probes p ON a.cluster = p.centroid_id
  WHERE a.vec_id <> 0
),
short AS (  -- PQ-ADC shortlist inside the probed cells
  SELECT m.vec_id, ROUND(adc.adc_dist, 6) AS adc_dist
  FROM members m JOIN adc ON m.vec_id = adc.vec_id
  ORDER BY ROUND(adc.adc_dist, 6), m.vec_id LIMIT 50
)
SELECT s.vec_id, s.adc_dist,
  ROUND({cosine_sql('e.embedding', 'qv.qvec')}, 6) AS cos_sim
FROM short s JOIN embeddings e ON s.vec_id = e.vec_id, qv
ORDER BY cos_sim DESC, s.vec_id
LIMIT 10
""",
)
def q_ann_multiprobe_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING half of the production ANN stack, reading the
    materialized IVF-PQ index (:func:`ann_index` — built once per
    session, persisted; q_ann_index_build verifies the build itself):
    IVF multi-probe (query's 2 nearest centroids select the cells to
    scan) → PQ asymmetric-distance shortlist (top-50 inside the probed
    cells, touching only the index's compressed codes) → exact cosine
    rerank of the shortlist → top-10. At scale each stage cuts the work
    its successor sees: probes cut the scan ~K/2×, ADC reads 4-byte
    codes instead of 256-byte vectors, and the exact math runs on 50
    rows — and no training happens on the query path. Every stage is
    deterministic (fixed seed centroids, quantized PQ training, 6-dp
    rounded orderings with id tiebreaks), so the whole composition
    (index build + serve) replays in SQL."""
    from flink_template_spark.functions.vector import cosine_arrow as cosine
    from flink_template_spark.operators.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, codebooks, index = ann_index(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("__qvec")
    )
    probes = (
        centroids.crossJoin(F.broadcast(qvec))
        .select(
            "centroid_id",
            F.round(cosine(F.col("embedding"), F.col("__qvec")), 6).alias("s"),
        )
        .orderBy(F.desc("s"), "centroid_id")
        .limit(2)
        .select(F.col("centroid_id").alias("cluster"))
    )
    query = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    cand = (
        index.join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "codes")
    )
    short = pq_adc_topk(cand, codebooks, query, k_results=50, round_dp=6)
    # Exact rerank via POINT LOOKUP, not a corpus re-scan: collect the
    # shortlist (≤ 50 rows — bounded control-plane, like the query
    # vector above) and push the id set down into the vector scan as an
    # In filter (parquet row-group pruning). Joining `short` lazily
    # against `emb` instead would stream the ENTIRE corpus through the
    # join to fetch 50 vectors — the round-4 10× experiment measured
    # exactly that as the serve path's only data-proportional term
    # (SCALE.md round-4 table).
    short_rows = short.collect()
    short_df = spark.createDataFrame(short_rows, short.schema)
    lookup = emb.filter(
        F.col("vec_id").isin([r["vec_id"] for r in short_rows])
    )
    return (
        short_df.join(lookup, "vec_id")
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "adc_dist",
            F.round(cosine(F.col("embedding"), F.col("__qvec")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def _rrf_oracle() -> str:
    from flink_template_spark.plans.text_dedup import BM25_ORACLE_SQL

    # the BM25 oracle is a full statement (WITH ... SELECT ... LIMIT);
    # nest it as a derived table
    return f"""
WITH lex AS MATERIALIZED (
  SELECT * FROM ({BM25_ORACLE_SQL}) t
),
lexr AS (
  SELECT doc_id,
    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
  FROM lex
),
sem AS MATERIALIZED (
  SELECT a.vec_id AS doc_id,
    ROUND({cosine_sql('a.embedding', 'q.embedding')}, 6) AS cos_sim
  FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  WHERE a.vec_id <> 0
  ORDER BY cos_sim DESC, a.vec_id
  LIMIT 20
),
semr AS (
  SELECT doc_id,
    CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS sem_rank
  FROM sem
),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
    COALESCE(l.lex_rank, 0) AS lex_rank,
    COALESCE(s.sem_rank, 0) AS sem_rank,
    (CASE WHEN l.lex_rank IS NULL THEN 0.0
          ELSE 1.0 / (60.0 + CAST(l.lex_rank AS DOUBLE)) END)
    + (CASE WHEN s.sem_rank IS NULL THEN 0.0
            ELSE 1.0 / (60.0 + CAST(s.sem_rank AS DOUBLE)) END) AS rrf
  FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, ROUND(rrf, 6) AS rrf_score
FROM fused
ORDER BY ROUND(rrf, 6) DESC, doc_id
LIMIT 15
"""


@register("q_hybrid_search_rrf", oracle=_rrf_oracle())
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-20 (query terms {data, model,
    learning}) fused with cosine semantic top-20 (query = doc 0's
    embedding; ids align across documents/embeddings) by reciprocal-rank
    fusion, rrf = Σ 1/(60 + rank) over the lists a doc appears in —
    the standard score-free fusion that needs no cross-system score
    calibration. Both rank lists are deterministic (rounded scores,
    id tiebreaks) and list-absence is encoded as rank 0, so the fused
    ranking replays exactly in SQL. At scale both inputs are top-k
    reductions (TakeOrderedAndProject), so the fusion join touches 2k
    rows regardless of corpus size."""
    from pyspark.sql import Window as W

    from flink_template_spark.plans.text_dedup import q_bm25_search

    lex = q_bm25_search(spark, sf_dir)
    # single-partition rank windows BY DESIGN: both inputs are top-20
    # lists (already reduced by TakeOrderedAndProject). Spark 4 folds
    # away constant partition keys, so the no-partition WARN is
    # unavoidable plan-side — bench.py scopes that one logger to ERROR.
    wl = W.orderBy(F.desc("bm25"), "doc_id")
    lexr = lex.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    sem = brute_force_topk(emb, query, k=20).withColumnRenamed(
        "vec_id", "doc_id"
    )
    ws = W.orderBy(F.desc("cos_sim"), "doc_id")
    semr = sem.select(
        "doc_id", F.row_number().over(ws).cast("long").alias("sem_rank")
    )
    fused = lexr.join(semr, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
        F.coalesce("sem_rank", F.lit(0)).alias("sem_rank"),
        (
            F.when(
                F.col("lex_rank").isNull(), F.lit(0.0)
            ).otherwise(F.lit(1.0) / (F.lit(60.0) + F.col("lex_rank").cast("double")))
            + F.when(
                F.col("sem_rank").isNull(), F.lit(0.0)
            ).otherwise(F.lit(1.0) / (F.lit(60.0) + F.col("sem_rank").cast("double")))
        ).alias("rrf"),
    )
    return (
        fused.select(
            "doc_id", "lex_rank", "sem_rank", F.round("rrf", 6).alias("rrf_score")
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(15)
    )


TRIPLET_POS = 0.4  # positive pair: cosine >= this (near-dup band)
TRIPLET_NEG = 0.2  # hard negative: same cell but cosine <= this


def triplet_n_centroids(n_vectors: int) -> int:
    """IVF cell count for the triplet miner: ``max(4, ceil(sqrt(n)))``.

    The within-cell pair table is Σ|cell|², so a FIXED cell count makes
    the miner quadratic in corpus size (measured 5.1× wall at the 4×
    embeddings step with the old N_CENTROIDS=4 — SCALE.md round 10).
    √n centroids keep the expected cell size at √n, balancing the n·k
    assignment scan against the n²/k pair fold (both n^1.5 — the
    classic IVF tradeoff), so per-vector pair work stays flat as the
    corpus grows. Both engines derive k from the same double-precision
    ``ceil(sqrt(count))`` (IEEE sqrt is correctly rounded, so Python
    and DuckDB agree exactly); the floor of 4 keeps tiny fixtures from
    degenerating to 1-2 cells.
    """
    import math

    return max(4, math.ceil(math.sqrt(max(n_vectors, 1))))


@register(
    "q_contrastive_triplets",
    oracle=f"""
WITH centroids AS (
  -- sqrt(n) centroid count, derived from the corpus (NOT the fixed
  -- test constant): matches triplet_n_centroids() bit-for-bit
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE vec_id < GREATEST(4, CAST(CEIL(SQRT(
    (SELECT COUNT(*) FROM embeddings))) AS BIGINT))
),
assigned AS MATERIALIZED (
  -- unit-normalize ONCE per vector (norm hoisted out of the per-element
  -- lambda): pair cosine below is then a single dot product (the Spark
  -- plan shares this exact two-stage float path)
  SELECT vec_id,
    list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) / nrm) AS u,
    centroid_id AS cluster FROM (
    SELECT v.vec_id, v.embedding, c.centroid_id,
      {l2_norm_sql('v.embedding')} AS nrm,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY ROUND({cosine_sql('v.embedding', 'c.embedding')}, 6) DESC,
                 c.centroid_id) AS rk
    FROM embeddings v CROSS JOIN centroids c
  ) WHERE rk = 1
),
pairs AS MATERIALIZED (
  -- ONE symmetric within-cell pair table feeds both the positive band
  -- and the hard-negative probe (each pair cosine computed once)
  SELECT a.vec_id AS anchor, n.vec_id AS other,
    ROUND({dot_sql('a.u', 'n.u')}, 6) AS cos
  FROM assigned a JOIN assigned n
    ON a.cluster = n.cluster AND n.vec_id <> a.vec_id
),
positives AS (
  SELECT anchor, other AS positive, cos AS cos_ap
  FROM pairs WHERE anchor < other AND cos >= {TRIPLET_POS}
),
negatives AS (  -- deterministic hard negative: lowest-id far vector in cell
  SELECT anchor, MIN(other) AS negative
  FROM pairs WHERE cos <= {TRIPLET_NEG}
  GROUP BY anchor
)
SELECT p.anchor, p.positive, n.negative, p.cos_ap,
  ROUND({dot_sql('ae.u', 'ne.u')}, 6) AS cos_an
FROM positives p
JOIN negatives n ON p.anchor = n.anchor
JOIN assigned ae ON ae.vec_id = p.anchor
JOIN assigned ne ON ne.vec_id = n.negative
ORDER BY p.anchor, p.positive
""",
)
def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding-model training data:
    (anchor, positive, hard-negative) triplets where positives are
    near-dup pairs (cosine ≥ 0.4) and the hard negative is the
    deterministic lowest-id SAME-CELL vector with cosine ≤ 0.2 — the
    in-cell constraint is what makes the negative HARD (topically
    close) and, like SemDeDup, what bounds the pair work to the largest
    cell instead of the corpus. Anchors without a far-enough cell mate
    drop out (inner join) — a real mining pass would widen the probe.
    Every choice is deterministic (rounded cosines, id tiebreaks), so
    the mined triplets replay exactly in SQL.

    The cell count is ``triplet_n_centroids(n) = max(4, ceil(sqrt(n)))``
    — derived from the corpus, NOT a constant, so the Σ|cell|² pair
    table grows n^1.5 instead of n². The count rides INSIDE the plan
    (a broadcast 1-row scalar, same double ceil(sqrt(count)) dag in
    both engines) so building the DataFrame stays lazy — an eager
    .count() here made every plan-only inspection pay a real Spark
    job."""
    from flink_template_spark.functions.vector import dot_arrow as udot
    from flink_template_spark.functions.vector import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    kdf = emb.agg(
        F.greatest(
            F.lit(4).cast("bigint"),
            F.ceil(F.sqrt(F.count(F.lit(1)).cast("double"))).cast("bigint"),
        ).alias("k_cells")
    )
    centroids = (
        emb.crossJoin(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("k_cells"))
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    )
    # pin: FIVE consumers (positive pair a/b sides, negative probe,
    # anchor/negative unit-vector lookups) — without the pin the
    # |emb| × |centroids| assignment re-evaluates once per consumer
    # (measured 61 s at sf0.1 when the r10 bench back-fill first timed
    # this query). Vectors are unit-normalized HERE, once, so every
    # within-cell pair cosine below is a single 64-element fold
    # instead of dot + two norms (3x less per-pair HOF work; the
    # oracle shares the identical normalize-then-dot float path).
    assigned = (
        ivf_assign(emb, centroids)
        .withColumn("nrm", l2_norm(F.col("embedding")))
        .select(
            "vec_id",
            "cluster",
            F.transform(
                F.col("embedding"),
                lambda x: x.cast("double") / F.col("nrm"),
            ).alias("u"),
        )
        .localCheckpoint(eager=False)
    )
    # Within-cell pair scoring via the blocked exact-fold kernel
    # (optimization r13, operators.similarity.pair_cos_blocked): the
    # cell's sub-block pairs score every pair with the identical dot
    # fold, and only the two bands the query consumes survive
    # kernel-side (raw ≥ POS−1e-6 OR raw ≤ NEG+1e-6, conservative for
    # round-half-up) — the
    # old symmetric pair table paid one Arrow pair row + one BigDecimal
    # round per (anchor, other) ORDERED pair, discarded the whole
    # middle band afterwards, and its id-window checkpoint fed two
    # consumers. Unordered kernel pairs reconstruct both consumers: dot
    # is symmetric bit-for-bit (products commute, same fold order), the
    # positive band uses anchor < other as before, and the negative
    # probe unions both orientations of the low band. Row-identical by
    # tests/test_r13_opt.py::test_contrastive_triplets_blocked_identical.
    band = (
        pair_cos_blocked(
            assigned,
            TRIPLET_POS - 1e-6,
            vec_col="u",
            block_col="cluster",
            max_raw=TRIPLET_NEG + 1e-6,
            score="dot",
        )
        .select(
            "id_a", "id_b", F.round(F.col("raw_cos"), 6).alias("cos")
        )
        .localCheckpoint(eager=False)
    )
    positives = band.filter(F.col("cos") >= TRIPLET_POS).select(
        F.col("id_a").alias("anchor"),
        F.col("id_b").alias("positive"),
        F.col("cos").alias("cos_ap"),
    )
    low = band.filter(F.col("cos") <= TRIPLET_NEG)
    negatives = (
        low.select(F.col("id_a").alias("anchor"), F.col("id_b").alias("other"))
        .unionAll(
            low.select(
                F.col("id_b").alias("anchor"), F.col("id_a").alias("other")
            )
        )
        .groupBy("anchor")
        .agg(F.min("other").alias("negative"))
    )
    emb_a = assigned.select(F.col("vec_id").alias("anchor"), F.col("u").alias("ea"))
    emb_n = assigned.select(F.col("vec_id").alias("negative"), F.col("u").alias("en"))
    return (
        positives.join(negatives, "anchor")
        .join(emb_a, "anchor")
        .join(emb_n, "negative")
        .select(
            "anchor",
            "positive",
            "negative",
            "cos_ap",
            F.round(udot(F.col("ea"), F.col("en")), 6).alias("cos_an"),
        )
        .orderBy("anchor", "positive")
    )


# ---------------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss dimensionality reduction)
# ---------------------------------------------------------------------------

_RP_OUT_DIM = 8
_RP_IN_DIM = 64  # testdata embedding width; asserted in tests
_RP_SIGNS = rp_signs(_RP_OUT_DIM, _RP_IN_DIM)


def _rp_signs_values_sql() -> str:
    return ",\n".join(
        f"  ({j}, {list(_RP_SIGNS[j])})" for j in range(_RP_OUT_DIM)
    )


@register(
    "q_random_projection",
    oracle=f"""
WITH signs(j, s) AS (VALUES
{_rp_signs_values_sql()}
),
ex AS (
  SELECT vec_id, pos,
    CAST(ROUND(CAST(embedding[pos + 1] AS DOUBLE) * 10000000.0, 0) AS BIGINT)
      AS q
  FROM embeddings, unnest(range(0, len(embedding))) AS t(pos)
)
SELECT e.vec_id, signs.j,
  CAST(SUM(e.q * signs.s[e.pos + 1]) AS BIGINT) / 10000000.0 AS proj
FROM ex e CROSS JOIN signs
GROUP BY e.vec_id, signs.j
""",
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rademacher random projection 64 → 8 dims (Achlioptas'01 dense
    ±1 JL transform), long format (vec_id, j, proj) — the cheap
    similarity-preserving compression step ahead of clustering/LSH at
    lake scale (unscaled signed sums; consumers apply the constant
    1/sqrt(out_dim) if they need calibrated distances).

    Map-side only until one groupBy(vec_id) with 8 partial-aggregated
    integer sums: elements are fixed-point-quantized (×1e7 bigint, the
    operators.kmeans discipline) so the sums — and therefore the
    projections — are partition-order-independent and bit-identical to
    the oracle's replay with the SAME inlined sign literals
    (functions.vector.rp_signs, fixed seed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", F.posexplode("embedding").alias("pos", "el"))
    q = F.round(F.col("el").cast("double") * 10000000.0, 0).cast("bigint")
    aggs = [
        F.sum(
            q
            * F.element_at(
                lit_ints(_RP_SIGNS[j]),
                F.col("pos") + 1,
            )
        ).alias(f"s{j}")
        for j in range(_RP_OUT_DIM)
    ]
    sums = ex.groupBy("vec_id").agg(*aggs)
    return sums.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"s{j}") for j in range(_RP_OUT_DIM)])
        ).alias("j", "sq"),
    ).select(
        "vec_id",
        "j",
        # no final rounding: every sum is an exact multiple of 1e-7, so
        # ROUND(x, 6) would hit exact half-cases where the engines'
        # tie-breaking differs; bigint→double then one division is the
        # same correctly-rounded IEEE op in both engines
        (F.col("sq").cast("double") / F.lit(10000000.0)).alias("proj"),
    )


@register(
    "q_knn_join_gemm",
    oracle=f"""
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT
    q.vec_id AS query_id,
    c.vec_id AS neighbor_id,
    ROUND({cosine_sql('c.embedding', 'q.embedding')}, 6) AS cos_sim,
    ROW_NUMBER() OVER (
      PARTITION BY q.vec_id
      ORDER BY ROUND({cosine_sql('c.embedding', 'q.embedding')}, 6) DESC, c.vec_id
    ) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 40 AND c.vec_id <> q.vec_id
) WHERE rank <= 4
""",
)
def q_knn_join_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_join_exact's BLAS dual (operators.similarity.knn_join_gemm):
    one float64 GEMM per Arrow batch scores a 40-query batch against
    the corpus, per-batch top-k preselection bounds the shuffle at
    k·|Q| rows per batch, and the final window reproduces the exact
    rounded-sim/id ranking — the oracle is the same full cross-join
    replay as q_knn_join. Collects the 40 query vectors at plan time
    (bounded control-plane, registry docstring contract)."""
    from flink_template_spark.operators.similarity import (
        _spread,
        knn_join_gemm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40)
    return knn_join_gemm(queries, _spread(emb), k=4)


# ---------------------------------------------------------------------------
# Greedy facility-location coreset (submodular prototype selection)
# ---------------------------------------------------------------------------

_CORESET_K = 5
_CORESET_LABEL = 0


def _coreset_oracle() -> str:
    from flink_template_spark.operators.coreset import facility_location_sql

    return f"""
WITH u AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE label = {_CORESET_LABEL}
),
sims AS MATERIALIZED (
  SELECT a.vec_id AS d, b.vec_id AS c,
    CAST(ROUND({cosine_sql('a.embedding', 'b.embedding')} * 1000000.0, 0)
      AS BIGINT) AS sim_q
  FROM u a CROSS JOIN u b
),
{facility_location_sql(_CORESET_K)}
SELECT round, vec_id, gain_q, total_cov_q FROM picks ORDER BY round
"""


@register("q_coreset_greedy", oracle=_coreset_oracle())
def q_coreset_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy facility-location coreset of one embedding class
    (operators.coreset): the 5 exemplars maximizing total class
    coverage Σ_d max_c sim_q(d, c), with per-round marginal gains and
    the running coverage total in verified output — prototype
    selection, the KEEP-the-cover complement of semdedup. Runs blocked
    (here: per label; per IVF cell at corpus scale) so the pair table
    is quadratic only within a block. Micro-unit integer similarities
    make every gain an exact sum, and the oracle replays the identical
    greedy rounds as an unrolled CTE chain (the kmeans/pagerank
    discipline applied to a submodular loop). Eager by design: each
    round collects ONE argmax row (k-row control plane total)."""
    from flink_template_spark.operators.coreset import facility_location_greedy

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label") == _CORESET_LABEL
    )
    rows = facility_location_greedy(emb, k=_CORESET_K)
    return spark.createDataFrame(
        [
            (r["round"], r["vec_id"], r["gain_q"], r["total_cov_q"])
            for r in rows
        ],
        "round int, vec_id bigint, gain_q bigint, total_cov_q bigint",
    ).orderBy("round")


def _binary_topk_oracle() -> str:
    from flink_template_spark.functions.vector import sign_pack_duckdb

    p0 = sign_pack_duckdb("embedding", 1, 32)
    p1 = sign_pack_duckdb("embedding", 33, 32)
    ham = (
        "bit_count(xor(q.q0, c.c0)) + bit_count(xor(q.q1, c.c1))"
    )
    return f"""
WITH q AS (
  SELECT vec_id, {p0} AS q0, {p1} AS q1 FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id, {p0} AS c0, {p1} AS c1 FROM embeddings
),
short AS (
  SELECT query_id, neighbor_id, hamming FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST({ham} AS BIGINT) AS hamming,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY CAST({ham} AS BIGINT), c.vec_id
           ) AS hrk
    FROM q, c WHERE c.vec_id <> q.vec_id
  ) WHERE hrk <= 10
)
SELECT query_id, neighbor_id, hamming, cos_sim, rank FROM (
  SELECT s.query_id, s.neighbor_id, s.hamming,
         ROUND({cosine_sql('ce.embedding', 'qe.embedding')}, 6) AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY s.query_id
           ORDER BY ROUND({cosine_sql('ce.embedding', 'qe.embedding')}, 6)
                      DESC,
                    s.neighbor_id
         ) AS rank
  FROM short s
  JOIN embeddings qe ON qe.vec_id = s.query_id
  JOIN embeddings ce ON ce.vec_id = s.neighbor_id
)
WHERE rank <= 3
"""


@register("q_binary_embedding_topk", oracle=_binary_topk_oracle())
def q_binary_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding retrieval (operators.similarity.
    binary_hamming_topk): 1-bit sign quantization packs each 64-dim
    vector into two bigint words; the |corpus|×|Q| candidate scan runs
    Hamming distance (xor+bit_count) over 16-byte codes — ~32× less
    data movement than float cosine — and exact cosine only touches
    the per-query top-10 Hamming shortlist, fetched back by id. The
    oracle replays pack → Hamming shortlist → rerank with identical
    integer/rounding discipline, so ranks match exactly."""
    from flink_template_spark.operators.similarity import binary_hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return binary_hamming_topk(queries, emb, k=3, shortlist=10)


_RECALL_K = 10
_RECALL_NQ = 8  # query sample: vec_id < 8


def _ann_recall_oracle() -> str:
    sim = f"ROUND({cosine_sql('e.embedding', 'q.embedding')}, 6)"
    csim = f"ROUND({cosine_sql('v.embedding', 'c.embedding')}, 6)"
    return f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, centroid_id AS cluster FROM (
    SELECT v.vec_id, c.centroid_id,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY {csim} DESC, c.centroid_id) AS rk
    FROM embeddings v CROSS JOIN centroids c
  ) WHERE rk = 1
),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id < {_RECALL_NQ}),
probes AS (
  SELECT query_id, centroid_id AS cluster FROM (
    SELECT q.query_id, c.centroid_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
        ORDER BY ROUND({cosine_sql('c.embedding', 'q.embedding')}, 6) DESC,
                 c.centroid_id) AS prk
    FROM centroids c CROSS JOIN q
  ) WHERE prk <= 2
),
pairs AS (
  SELECT q.query_id, e.vec_id, {sim} AS s
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY s DESC, vec_id) AS rk
    FROM pairs
  ) WHERE rk <= {_RECALL_K}
),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, p.vec_id,
      ROW_NUMBER() OVER (PARTITION BY p.query_id
        ORDER BY p.s DESC, p.vec_id) AS rk
    FROM pairs p
    JOIN assigned a ON p.vec_id = a.vec_id
    JOIN probes pr ON pr.query_id = p.query_id AND pr.cluster = a.cluster
  ) WHERE rk <= {_RECALL_K}
)
SELECT e.query_id,
  CAST(COUNT(ap.vec_id) AS BIGINT) AS n_hit,
  ROUND(CAST(COUNT(ap.vec_id) AS DOUBLE) / {_RECALL_K}.0, 6) AS recall
FROM exact e
LEFT JOIN approx ap ON e.query_id = ap.query_id AND e.vec_id = ap.vec_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


@register("q_ann_recall_eval", oracle=_ann_recall_oracle())
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF multi-probe tier against exact brute-force
    ground truth, per query — the evaluation harness every ANN
    deployment runs before trusting its index (recall <1.0 quantifies
    exactly what the 2-of-{N_CENTROIDS}-cells probe scope gives up).
    Cluster assignments come from the SAME memoized index the serving
    path reads (ann_index), so the number measures the shipped index,
    not a re-derivation.

    Scale shape: ground truth is inherently one brute-force pass —
    the eval cost you pay ON A QUERY SAMPLE (8 queries here), never
    corpus×corpus; both tiers rank the same per-query-partitioned
    pair table, and the recall join is per (query, k). Determinism:
    6-dp-rounded cosines with id tiebreaks everywhere (the ANN family
    discipline), so both engines rank identically."""
    from pyspark.sql import Window as W

    from flink_template_spark.functions.vector import cosine_arrow as cosine

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, _, index = ann_index(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    probes = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col("centroid_id").alias("cluster"),
            F.round(cosine(F.col("embedding"), F.col("__qvec")), 6).alias("s"),
        )
        .withColumn(
            "prk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("s"), "cluster")
            ),
        )
        .filter(F.col("prk") <= 2)
        .select("query_id", "cluster")
    )
    # Cluster-tag the CORPUS before the query fan-out (r8 audit): the
    # index join lands on N rows instead of the N×|q| pair table —
    # the one shuffle this query pays shrinks |q|-fold, and the pair
    # table is born with its cluster attached.
    corpus = emb.join(index.select("vec_id", "cluster"), "vec_id")
    pairs = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "cluster",
            F.round(cosine(F.col("embedding"), F.col("__qvec")), 6).alias("s"),
        )
    )
    # ONE evaluation of the query-sample x corpus pass: tag each pair
    # with probe membership (broadcast left probe join), rank the
    # full order with row_number, and rank WITHIN the probed subset as
    # the running SUM of the membership flag over the same total order
    # — equal to the subset's row_number, without deriving a second
    # relation from the lazy pair table (the first draft evaluated the
    # cosine pass twice; r6 audit).
    wq = W.partitionBy("query_id").orderBy(F.desc("s"), "vec_id")
    wrun = wq.rowsBetween(W.unboundedPreceding, W.currentRow)
    tagged = (
        pairs.join(
            F.broadcast(probes.withColumn("probed", F.lit(1))),
            ["query_id", "cluster"],
            "left",
        )
        .select("query_id", "vec_id", "s", F.coalesce("probed", F.lit(0)).alias("probed"))
    )
    ranked = (
        tagged.withColumn("rk_full", F.row_number().over(wq))
        .withColumn("rk_a", F.sum("probed").over(wrun))
    )
    hit = (F.col("probed") == 1) & (F.col("rk_a") <= _RECALL_K)
    return (
        ranked.filter(F.col("rk_full") <= _RECALL_K)
        .groupBy("query_id")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("n_hit"),
            F.round(
                F.sum(F.when(hit, 1).otherwise(0)).cast("double") / _RECALL_K,
                6,
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


_SHAP_K = 3  # the KNN classifier being valued
_SHAP_SCALE = 10**15  # fixed-point scale for the per-term rationals
_SHAP_TOP = 20


def _knn_shapley_oracle() -> str:
    sim = f"ROUND({cosine_sql('x.embedding', 'q.embedding')}, 6)"
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS y_q, embedding FROM embeddings
  WHERE vec_id < {_RECALL_NQ}
),
train AS (
  SELECT vec_id, label, embedding FROM embeddings
  WHERE vec_id >= {_RECALL_NQ}
),
n AS (SELECT COUNT(*) AS n_train FROM train),
ranked AS (
  SELECT q.query_id, x.vec_id,
    CASE WHEN x.label = q.y_q THEN 1 ELSE 0 END AS ind,
    ROW_NUMBER() OVER (PARTITION BY q.query_id
      ORDER BY {sim} DESC, x.vec_id) AS rn
  FROM train x CROSS JOIN q
),
terms AS (
  SELECT query_id, vec_id, rn, ind,
    LEAD(ind) OVER (PARTITION BY query_id ORDER BY rn) AS ind_next
  FROM ranked
),
scaled AS (
  SELECT t.query_id, t.vec_id, t.rn,
    CASE WHEN t.rn < n.n_train THEN
      (t.ind - t.ind_next)
      * (CAST(LEAST({_SHAP_K}, t.rn) AS BIGINT) * {_SHAP_SCALE}
         // ({_SHAP_K} * t.rn))
    ELSE CAST(t.ind AS BIGINT) * ({_SHAP_SCALE} // n.n_train) END AS term
  FROM terms t CROSS JOIN n
),
svals AS (
  SELECT query_id, vec_id,
    SUM(term) OVER (PARTITION BY query_id ORDER BY rn
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS s_scaled
  FROM scaled
)
SELECT vec_id,
  ROUND(CAST(CAST(SUM(s_scaled) AS HUGEINT) AS DOUBLE)
        / (CAST((SELECT COUNT(*) FROM q) AS DOUBLE) * {_SHAP_SCALE}), 6)
    AS shapley
FROM svals
GROUP BY vec_id
ORDER BY shapley DESC, vec_id
LIMIT {_SHAP_TOP}
"""


@register("q_knn_shapley", oracle=_knn_shapley_oracle())
def q_knn_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN-Shapley data valuation (Jia et al., VLDB'19 closed
    form): each training vector's Shapley contribution to a
    {_SHAP_K}-NN classifier's accuracy on the held-out query sample,
    averaged over queries — the principled "which training points help,
    which hurt" signal used to prune harmful examples from a training
    corpus. Top-20 most valuable points reported.

    The closed form needs one sort per test point: with train points
    ranked by distance ascending (here: 6-dp cosine DESC, id tiebreak),
    s_N = 1[y_N = y_q]/N and s_i = s_(i+1) +
    (1[y_i=y_q] - 1[y_(i+1)=y_q]) * min(K,i) / (K*i) — evaluated as a
    reverse cumulative sum over the rank order.

    Exactness: every per-rank term is a FIXED-POINT bigint — the
    statistic is *defined* with floor(min(K,i)*1e15/(K*i)), and the
    sign factor (ind_i - ind_{{i+1}}) multiplies OUTSIDE the division so
    the floor always acts on positive integers (no truncate-vs-floor
    engine skew). Integer sums are order-free, so window/aggregation
    internals can't produce float drift; the single cast-to-double at
    the end maps the same exact integer to the same IEEE double in both
    engines. Worst-case |s_i| <= (2/3 + ln N)*1e15 keeps per-query sums
    and the 8-query total far from bigint overflow through N ~ 1e6.

    Scale shape: valuation cost is query_sample x corpus (one
    broadcast of the 8 queries, per-query-partitioned windows), the
    same posture as q_ann_recall_eval — never corpus x corpus; the
    final top-20 is a TakeOrdered, not a global sort."""
    from pyspark.sql import Window as W

    from flink_template_spark.functions.vector import cosine_arrow as cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("y_q"),
        F.col("embedding").alias("__qvec"),
    )
    train = emb.filter(F.col("vec_id") >= _RECALL_NQ)
    # bounded control-plane: two scalars. Divide by the ACTUAL query
    # count, not the _RECALL_NQ id bound — they coincide on the full
    # corpus but differ on filtered fixtures, and the hardcoded bound
    # silently mis-scaled every value (caught by the efficiency-axiom
    # test, which the replayed oracle structurally cannot catch).
    n_train = train.count()
    n_q = q.count()

    ranked = (
        train.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            F.when(F.col("label") == F.col("y_q"), 1).otherwise(0).alias("ind"),
            F.round(cosine(F.col("embedding"), F.col("__qvec")), 6).alias("s"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("s"), "vec_id")
            ),
        )
    )
    wlead = W.partitionBy("query_id").orderBy("rn")
    terms = ranked.withColumn("ind_next", F.lead("ind").over(wlead))
    scaled = terms.withColumn(
        "term",
        F.when(
            F.col("rn") < n_train,
            (F.col("ind") - F.col("ind_next"))
            * F.expr(
                f"CAST(LEAST({_SHAP_K}, rn) AS BIGINT) * {_SHAP_SCALE} "
                f"DIV ({_SHAP_K} * rn)"
            ),
        ).otherwise(F.col("ind").cast("bigint") * (_SHAP_SCALE // n_train)),
    )
    wrev = (
        W.partitionBy("query_id")
        .orderBy("rn")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    svals = scaled.withColumn("s_scaled", F.sum("term").over(wrev))
    return (
        svals.groupBy("vec_id")
        .agg(
            F.round(
                F.sum("s_scaled").cast("double")
                / (float(n_q) * _SHAP_SCALE),
                6,
            ).alias("shapley")
        )
        .orderBy(F.desc("shapley"), "vec_id")
        .limit(_SHAP_TOP)
    )


def _davies_bouldin_oracle() -> str:
    vsim = f"ROUND({cosine_sql('v.embedding', 'c.embedding')}, 6)"
    return f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, cluster, d_int FROM (
    SELECT v.vec_id, c.centroid_id AS cluster,
      CAST(ROUND((1.0 - {vsim}) * 1000000, 0) AS BIGINT) AS d_int,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY {vsim} DESC, c.centroid_id) AS rk
    FROM embeddings v CROSS JOIN centroids c
  ) WHERE rk = 1
),
scatter AS (
  SELECT cluster, COUNT(*) AS n_members,
    CAST(SUM(d_int) AS DOUBLE) / (COUNT(*) * 1000000.0) AS s
  FROM assigned GROUP BY cluster
),
cdist AS (
  SELECT a.centroid_id AS ci, b.centroid_id AS cj,
    CAST(ROUND((1.0 - ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6))
               * 1000000, 0) AS BIGINT) AS m_int
  FROM centroids a JOIN centroids b ON a.centroid_id <> b.centroid_id
),
ratios AS (
  SELECT d.ci AS cluster,
    ROUND((si.s + sj.s) / (CAST(d.m_int AS DOUBLE) / 1000000.0), 6) AS r
  FROM cdist d
  JOIN scatter si ON si.cluster = d.ci
  JOIN scatter sj ON sj.cluster = d.cj
  WHERE d.m_int > 0
)
SELECT s.cluster,
  CAST(s.n_members AS BIGINT) AS n_members,
  ROUND(s.s, 6) AS s_scatter,
  MAX(r.r) AS db_component
FROM scatter s JOIN ratios r ON r.cluster = s.cluster
GROUP BY s.cluster, s.n_members, s.s
ORDER BY s.cluster
"""


@register("q_davies_bouldin", oracle=_davies_bouldin_oracle())
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin cluster-quality components for the SERVED IVF
    index (the memoized ann_index assignment, not a re-derivation):
    per cluster, its scatter S_i (mean cosine distance of members to
    their centroid) and DB component max_{j!=i} (S_i+S_j)/M_ij — the
    index-health metric an ANN deployment tracks to decide when cells
    have degraded enough to re-train (a high component = two cells
    overlap relative to their internal spread).

    Exactness: each member distance is quantized ONCE to an integer
    micro-distance (round((1-cos)*1e6)) — identical doubles in, same
    integer out in both engines; scatters are exact-integer sums (far
    below 2^53) with one deterministic division; ratios are rounded to
    6dp BEFORE max so the argmax can't flip on last-bit float noise.

    Scale shape: one broadcast-centroid pass for member distances
    (k=N_CENTROIDS rows broadcast), one k x k centroid self-join — the
    quadratic term is in the CELL COUNT, never the corpus; identical-
    direction centroid pairs (m_int=0) are excluded by the same integer
    filter both sides."""
    from flink_template_spark.functions.vector import cosine_arrow as cosine

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, _, index = ann_index(spark, sf_dir)

    members = (
        index.select("vec_id", "cluster")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(
            F.broadcast(
                centroids.select(
                    F.col("centroid_id").alias("cluster"),
                    F.col("embedding").alias("__cvec"),
                )
            ),
            "cluster",
        )
        .select(
            "cluster",
            F.round(
                (F.lit(1.0) - F.round(cosine(F.col("embedding"), F.col("__cvec")), 6))
                * 1000000,
                0,
            )
            .cast("bigint")
            .alias("d_int"),
        )
    )
    scatter = members.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        (
            F.sum("d_int").cast("double")
            / (F.count(F.lit(1)) * F.lit(1000000.0))
        ).alias("s"),
    )
    ca = centroids.select(
        F.col("centroid_id").alias("ci"), F.col("embedding").alias("va")
    )
    cb = centroids.select(
        F.col("centroid_id").alias("cj"), F.col("embedding").alias("vb")
    )
    cdist = (
        ca.join(cb, F.col("ci") != F.col("cj"))
        .select(
            "ci",
            "cj",
            F.round(
                (F.lit(1.0) - F.round(cosine(F.col("va"), F.col("vb")), 6))
                * 1000000,
                0,
            )
            .cast("bigint")
            .alias("m_int"),
        )
        .filter(F.col("m_int") > 0)
    )
    si = scatter.select(F.col("cluster").alias("ci"), F.col("s").alias("s_i"))
    sj = scatter.select(F.col("cluster").alias("cj"), F.col("s").alias("s_j"))
    ratios = (
        cdist.join(si, "ci")
        .join(sj, "cj")
        .select(
            F.col("ci").alias("cluster"),
            F.round(
                (F.col("s_i") + F.col("s_j"))
                / (F.col("m_int").cast("double") / F.lit(1000000.0)),
                6,
            ).alias("r"),
        )
    )
    return (
        scatter.join(ratios, "cluster")
        .groupBy("cluster", "n_members", "s")
        .agg(F.max("r").alias("db_component"))
        .select(
            "cluster",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.round("s", 6).alias("s_scatter"),
            "db_component",
        )
        .orderBy("cluster")
    )


_MATRYOSHKA_DIMS = [8, 16, 32]
_MATRYOSHKA_K = 10


def _matryoshka_oracle() -> str:
    full = f"ROUND({cosine_sql('e.embedding', 'q.embedding')}, 6)"
    parts = []
    for d in _MATRYOSHKA_DIMS:
        trunc = cosine_sql(
            f"list_slice(e.embedding, 1, {d})",
            f"list_slice(q.embedding, 1, {d})",
        )
        parts.append(f"""
trunc{d} AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        ORDER BY ROUND({trunc}, 6) DESC, e.vec_id) AS rk
    FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.vec_id
  ) WHERE rk <= {_MATRYOSHKA_K}
)""")
    unions = " UNION ALL ".join(
        f"SELECT query_id, vec_id, {d} AS dim FROM trunc{d}"
        for d in _MATRYOSHKA_DIMS
    )
    return f"""
WITH qs AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_RECALL_NQ}
),
full_topk AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        ORDER BY {full} DESC, e.vec_id) AS rk
    FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.vec_id
  ) WHERE rk <= {_MATRYOSHKA_K}
),
{",".join(p.strip() for p in parts)},
truncs AS ({unions})
SELECT t.dim AS dim, f.query_id AS query_id,
  CAST(COUNT(t.vec_id) AS BIGINT) AS n_overlap,
  ROUND(CAST(COUNT(t.vec_id) AS DOUBLE) / {_MATRYOSHKA_K}.0, 6)
    AS overlap_frac
FROM full_topk f
LEFT JOIN truncs t
  ON t.query_id = f.query_id AND t.vec_id = f.vec_id
GROUP BY t.dim, f.query_id
HAVING t.dim IS NOT NULL
ORDER BY 1, 2
"""


@register("q_matryoshka_overlap", oracle=_matryoshka_oracle())
def q_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval audit: for each candidate
    truncated dimension (prefix 8/16/32 of the 64-d embedding), the
    top-{_MATRYOSHKA_K} overlap between truncated-cosine and
    full-cosine rankings per held-out query — the measurement that
    decides how far an embedding column can be truncated (4-8x less
    scan + shuffle per retrieval) before ranking quality degrades.

    Scale shape: ONE query-sample x corpus pass computes ALL tiers —
    the ranked relation chains the full-rank window and one window per
    truncation tier over the same query partitioning, then explodes a
    literal (dim, rank) array, so the cosine folds are evaluated once
    (the first draft derived full-topk and each tier from the pair
    table separately: 4 evaluations of the corpus pass; r6 audit).
    Exactness: 6-dp-rounded cosines with id tiebreaks — the ANN family
    discipline — so both engines rank identically at every dim."""
    from pyspark.sql import Window as W

    from flink_template_spark.functions.vector import cosine_arrow as cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("__qvec")), 6).alias(
                "s_full"
            ),
            *[
                F.round(
                    cosine(
                        F.slice(F.col("embedding"), 1, d),
                        F.slice(F.col("__qvec"), 1, d),
                    ),
                    6,
                ).alias(f"s_{d}")
                for d in _MATRYOSHKA_DIMS
            ],
        )
    )
    wq = lambda c: W.partitionBy("query_id").orderBy(F.desc(c), "vec_id")
    ranked = pairs.withColumn("rk_full", F.row_number().over(wq("s_full")))
    for d in _MATRYOSHKA_DIMS:
        ranked = ranked.withColumn(
            f"rk_{d}", F.row_number().over(wq(f"s_{d}"))
        )
    tiers = F.array(
        *[
            F.struct(F.lit(d).alias("dim"), F.col(f"rk_{d}").alias("rk_t"))
            for d in _MATRYOSHKA_DIMS
        ]
    )
    return (
        ranked.filter(F.col("rk_full") <= _MATRYOSHKA_K)
        .select("query_id", F.explode(tiers).alias("t"))
        .filter(F.col("t.rk_t") <= _MATRYOSHKA_K)
        .groupBy(F.col("t.dim").alias("dim"), "query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
            F.round(
                F.count(F.lit(1)).cast("double") / _MATRYOSHKA_K, 6
            ).alias("overlap_frac"),
        )
        .orderBy("dim", "query_id")
    )


_DRIFT_Q = 10**6  # element / product quantization scale


def _embedding_drift_oracle() -> str:
    from flink_template_spark.functions.hashing import md5int_duckdb

    half = f"{md5int_duckdb('CAST(vec_id AS VARCHAR)')} % 2"
    return f"""
WITH elems AS (
  SELECT label, {half} AS half, d - 1 AS dim,
    CAST(ROUND(CAST(embedding[d] AS DOUBLE) * {_DRIFT_Q}, 0) AS BIGINT) AS e_q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(d)
),
cent AS (
  SELECT label, half, dim,
    CAST(SUM(e_q) AS DOUBLE) / COUNT(*) AS c
  FROM elems GROUP BY label, half, dim
),
counts AS (
  SELECT label, half, COUNT(DISTINCT vec_id) AS n
  FROM (SELECT label, {half} AS half, vec_id FROM embeddings)
  GROUP BY label, half
),
pairs AS (
  SELECT a.label,
    SUM(CAST(ROUND(a.c * b.c / {_DRIFT_Q}, 0) AS BIGINT)) AS dot_q,
    SUM(CAST(ROUND(a.c * a.c / {_DRIFT_Q}, 0) AS BIGINT)) AS na_q,
    SUM(CAST(ROUND(b.c * b.c / {_DRIFT_Q}, 0) AS BIGINT)) AS nb_q
  FROM cent a JOIN cent b
    ON a.label = b.label AND a.dim = b.dim AND a.half = 0 AND b.half = 1
  GROUP BY a.label
)
SELECT p.label,
  CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
  ROUND(CAST(p.dot_q AS DOUBLE) / (SQRT(CAST(p.na_q AS DOUBLE))
        * SQRT(CAST(p.nb_q AS DOUBLE))), 6) AS centroid_cos
FROM pairs p
JOIN counts ca ON ca.label = p.label AND ca.half = 0
JOIN counts cb ON cb.label = p.label AND cb.half = 1
ORDER BY p.label
"""


@register("q_embedding_drift", oracle=_embedding_drift_oracle())
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-centroid agreement between two disjoint
    corpus halves (portable hash split of vec_id): centroid_cos near
    1.0 means the label's embedding distribution is stable across the
    halves; a drop flags drift — the check an embedding pipeline runs
    between snapshots (or train/serve feeds) before trusting distance
    thresholds tuned on the old distribution.

    Determinism discipline: elements quantize to integers BEFORE any
    aggregation (per-(label, half, dim) integer sums — order-free);
    each centroid element is one exact-integer division; the cross-
    half dot/norm accumulations quantize every per-dim product back
    to an integer before summing (a raw float SUM over dims would be
    partial-agg-order-dependent), and the final sqrt is IEEE-exact.

    Scale shape: posexplode → (label, half, dim)-keyed integer sums
    with map-side combine (the only corpus-proportional stage), then
    everything operates on |labels| x 2 x dims rows. Two snapshots
    living in different tables would swap the hash-half for a snapshot
    tag — identical plan."""
    from flink_template_spark.functions.hashing import md5int_spark

    emb = load_table(spark, sf_dir, "embeddings")
    half = F.expr(md5int_spark("CAST(vec_id AS STRING)")) % 2
    elems = emb.select(
        "label",
        half.alias("half"),
        F.posexplode("embedding").alias("dim", "e"),
    ).select(
        "label",
        "half",
        "dim",
        F.round(F.col("e").cast("double") * _DRIFT_Q, 0)
        .cast("bigint")
        .alias("e_q"),
    )
    # BOTH halves' centroids come out of ONE (label, dim) aggregate as
    # conditional sums — splitting a per-half table and re-joining it
    # would evaluate the posexplode pass once per consumer (the
    # multi-consumer trap this round's audit kept finding)
    is0 = F.col("half") == 0
    cent = (
        elems.groupBy("label", "dim")
        .agg(
            F.sum(F.when(is0, F.col("e_q"))).alias("s0"),
            F.count(F.when(is0, 1)).alias("k0"),
            F.sum(F.when(~is0, F.col("e_q"))).alias("s1"),
            F.count(F.when(~is0, 1)).alias("k1"),
        )
        .filter((F.col("k0") > 0) & (F.col("k1") > 0))
        .select(
            "label",
            (F.col("s0").cast("double") / F.col("k0")).alias("ca"),
            (F.col("s1").cast("double") / F.col("k1")).alias("cb"),
            (F.col("k0")).alias("n_a_dim"),
            (F.col("k1")).alias("n_b_dim"),
        )
    )
    q = lambda col: F.round(col / _DRIFT_Q, 0).cast("bigint")
    pairs = cent.groupBy("label").agg(
        F.sum(q(F.col("ca") * F.col("cb"))).alias("dot_q"),
        F.sum(q(F.col("ca") * F.col("ca"))).alias("na_q"),
        F.sum(q(F.col("cb") * F.col("cb"))).alias("nb_q"),
        # per-dim row counts equal the half's vector count (one elems
        # row per vector per dim), identical across dims — MAX picks it
        F.max("n_a_dim").cast("bigint").alias("n_a"),
        F.max("n_b_dim").cast("bigint").alias("n_b"),
    )
    return (
        pairs.select(
            "label",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.col("dot_q").cast("double")
                / (
                    F.sqrt(F.col("na_q").cast("double"))
                    * F.sqrt(F.col("nb_q").cast("double"))
                ),
                6,
            ).alias("centroid_cos"),
        )
        .orderBy("label")
    )


def _mrr_oracle() -> str:
    sim = f"ROUND({cosine_sql('e.embedding', 'q.embedding')}, 6)"
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS y_q, embedding FROM embeddings
  WHERE vec_id < {_RECALL_NQ}
),
ranked AS (
  SELECT q.query_id, e.label = q.y_q AS rel,
    ROW_NUMBER() OVER (PARTITION BY q.query_id
      ORDER BY {sim} DESC, e.vec_id) AS rk
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id >= {_RECALL_NQ}
),
hits AS (
  SELECT query_id, MIN(rk) AS first_rel
  FROM ranked WHERE rel AND rk <= {_RECALL_K}
  GROUP BY query_id
)
SELECT q.query_id,
  CAST(COALESCE(h.first_rel, 0) AS BIGINT) AS first_rel_rank,
  ROUND(CASE WHEN h.first_rel IS NULL THEN 0.0
             ELSE 1.0 / h.first_rel END, 6) AS rr
FROM q LEFT JOIN hits h ON q.query_id = h.query_id
ORDER BY q.query_id
"""


@register("q_mrr_eval", oracle=_mrr_oracle())
def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank @ {_RECALL_K} per query: rank the candidate pool
    (vec_id >= {_RECALL_NQ}) by exact cosine and report 1/rank of the
    first LABEL-MATCHING candidate (0 when none lands in the top
    {_RECALL_K}) — the standard first-relevant-result retrieval metric
    next to q_ann_recall_eval's set-overlap recall. MRR is chosen over
    NDCG deliberately: reciprocal rank is RATIONAL arithmetic (one
    exact IEEE division per query), where NDCG's log2 discount would
    re-open the cross-engine transcendental gap the Hellinger/sqrt
    discipline exists to avoid.

    Scale shape: same eval posture as q_ann_recall_eval — a broadcast
    {_RECALL_NQ}-query sample against the corpus, per-query-partitioned
    ranking with WindowGroupLimit pushdown, never corpus×corpus; the
    relevant-rank reduction is a per-query MIN with partial combine."""
    from pyspark.sql import Window as W

    from flink_template_spark.functions.vector import cosine_arrow as cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("y_q"),
        F.col("embedding").alias("__qvec"),
    )
    ranked = (
        emb.filter(F.col("vec_id") >= _RECALL_NQ)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            (F.col("label") == F.col("y_q")).alias("rel"),
            F.round(cosine(F.col("embedding"), F.col("__qvec")), 6).alias("s"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("s"), "vec_id")
            ),
        )
    )
    hits = (
        ranked.filter(F.col("rel") & (F.col("rk") <= _RECALL_K))
        .groupBy("query_id")
        .agg(F.min("rk").alias("first_rel"))
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("first_rel", F.lit(0)).cast("bigint").alias("first_rel_rank"),
            F.round(
                F.when(F.col("first_rel").isNull(), F.lit(0.0)).otherwise(
                    F.lit(1.0) / F.col("first_rel")
                ),
                6,
            ).alias("rr"),
        )
        .orderBy("query_id")
    )


_MMR_QID = 0  # the rerank's query vector
_MMR_POOL = 20  # shortlist size (ANN-rerank posture)
_MMR_K = 5


def _mmr_oracle() -> str:
    from flink_template_spark.operators.mmr import mmr_sql

    rel = f"CAST(ROUND({cosine_sql('e.embedding', 'q.embedding')} * 1000000.0, 0) AS BIGINT)"
    psim = f"CAST(ROUND({cosine_sql('x.embedding', 'y.embedding')} * 1000000.0, 0) AS BIGINT)"
    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {_MMR_QID}),
pool AS MATERIALIZED (
  SELECT vec_id, rel_q FROM (
    SELECT e.vec_id, {rel} AS rel_q,
      ROW_NUMBER() OVER (ORDER BY {rel} DESC, e.vec_id) AS rk
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> {_MMR_QID}
  ) WHERE rk <= {_MMR_POOL}
),
sims AS MATERIALIZED (
  SELECT x.vec_id AS a, y.vec_id AS b, {psim} AS sim_q
  FROM (SELECT p.vec_id, e.embedding FROM pool p
        JOIN embeddings e ON p.vec_id = e.vec_id) x
  CROSS JOIN (SELECT p.vec_id, e.embedding FROM pool p
              JOIN embeddings e ON p.vec_id = e.vec_id) y
),
{mmr_sql(_MMR_K)}
SELECT round, vec_id, rel_q, maxsim_q, obj_q FROM picks ORDER BY round
"""


@register("q_mmr_rerank", oracle=_mmr_oracle())
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-{_MMR_K} over the query's top-{_MMR_POOL}
    cosine shortlist (operators.mmr): each round keeps the most
    relevant candidate that is NOT redundant with what is already
    picked (λ=0.7 as exact integer weights) — the serve-time diversity
    stage between ANN retrieval (q_ann_multiprobe_rerank's shortlist
    posture) and the response. Verified output carries each round's
    relevance, the redundancy penalty actually applied, and the
    objective — so the oracle replays the FULL decision, not just the
    ids. Eager by design: {_MMR_K} 1-row argmax collects over a
    {_MMR_POOL}-row pool (control-plane, the coreset/kmeans
    discipline)."""
    from flink_template_spark.functions.vector import cosine
    from flink_template_spark.operators.mmr import mmr_select

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _MMR_QID).select(
        F.col("embedding").alias("__qvec")
    )
    rel_q = F.round(
        cosine(F.col("embedding"), F.col("__qvec")) * 1_000_000.0, 0
    ).cast("bigint")
    # global top-POOL via orderBy+limit = TakeOrderedAndProject (per-
    # partition heaps + driver merge), never a single-partition window
    pool = (
        emb.filter(F.col("vec_id") != _MMR_QID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "embedding", rel_q.alias("rel_q"))
        .orderBy(F.desc("rel_q"), "vec_id")
        .limit(_MMR_POOL)
        .localCheckpoint()
    )
    x = pool.select(F.col("vec_id").alias("a"), F.col("embedding").alias("__va"))
    y = pool.select(F.col("vec_id").alias("b"), F.col("embedding").alias("__vb"))
    sims = x.crossJoin(y).select(
        "a",
        "b",
        F.round(cosine(F.col("__va"), F.col("__vb")) * 1_000_000.0, 0)
        .cast("bigint")
        .alias("sim_q"),
    )
    rows = mmr_select(pool.select("vec_id", "rel_q"), sims, k=_MMR_K)
    return spark.createDataFrame(
        [
            (r["round"], r["vec_id"], r["rel_q"], r["maxsim_q"], r["obj_q"])
            for r in rows
        ],
        "round int, vec_id bigint, rel_q bigint, maxsim_q bigint, obj_q bigint",
    ).orderBy("round")


def _ndcg_oracle() -> str:
    sim = f"ROUND({cosine_sql('e.embedding', 'q.embedding')}, 6)"
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS y_q, embedding FROM embeddings
  WHERE vec_id < {_RECALL_NQ}
),
lc AS (
  SELECT label, COUNT(*) AS n FROM embeddings
  WHERE vec_id >= {_RECALL_NQ} GROUP BY label
),
nrel AS (
  SELECT query_id, COALESCE(n, 0) AS n_rel
  FROM q LEFT JOIN lc ON q.y_q = lc.label
),
ranked AS (
  SELECT q.query_id, e.label = q.y_q AS rel,
    ROW_NUMBER() OVER (PARTITION BY q.query_id
      ORDER BY {sim} DESC, e.vec_id) AS rk
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id >= {_RECALL_NQ}
),
dcg_q AS (
  SELECT query_id,
    SUM(1.0 / LOG2(CAST(rk + 1 AS DOUBLE))) AS dcg
  FROM ranked WHERE rel AND rk <= {_RECALL_K}
  GROUP BY query_id
),
ideal AS (
  SELECT nrel.query_id,
    SUM(1.0 / LOG2(CAST(i + 1 AS DOUBLE)))
      FILTER (WHERE i <= LEAST({_RECALL_K}, n_rel)) AS idcg
  FROM nrel CROSS JOIN (SELECT UNNEST(range(1, {_RECALL_K} + 1)) AS i)
  GROUP BY nrel.query_id
)
SELECT nrel.query_id,
  CAST(n_rel AS BIGINT) AS n_rel_pool,
  CASE WHEN n_rel = 0 THEN CAST(NULL AS DOUBLE)
       ELSE ROUND(COALESCE(dcg, 0.0) / idcg, 6) END AS ndcg
FROM nrel
LEFT JOIN dcg_q ON nrel.query_id = dcg_q.query_id
JOIN ideal ON nrel.query_id = ideal.query_id
ORDER BY nrel.query_id
"""


@register("q_ndcg_eval", oracle=_ndcg_oracle())
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per query over the exact-cosine ranking with binary
    label relevance — the position-weighted retrieval metric beside
    q_mrr_eval's first-hit and q_ann_recall_eval's set overlap (MRR
    rewards the first relevant result; NDCG rewards packing ALL of
    them high). The MRR docstring's transcendental caveat is honored
    in the bounded form: the log2 discounts touch only ranks 1..10 —
    ten fixed libm values per engine whose ulp differences sit orders
    below the 6-dp rounding (the KM/PSI/entropy precedent), and the
    ideal DCG normalizer is the same ten constants truncated at the
    query's relevant-pool size, with a NULL guard for a query whose
    label never appears in the pool.

    Scale shape: the relevant-pool size comes from the LABEL
    HISTOGRAM (one hash agg, no cosine, no window — labels suffice),
    so the window branch can filter rk <= 10 and keep the
    WindowGroupLimit top-k heap pushdown q_mrr_eval gets (plan-
    checked: an all-rows aggregate above the window would forfeit
    it and full-sort every per-query partition); the query sample
    broadcasts, never corpus×corpus; the ideal DCG is a 10-element
    array fold."""
    from pyspark.sql import Window as W

    from flink_template_spark.functions.vector import cosine_arrow as cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("y_q"),
        F.col("embedding").alias("__qvec"),
    )
    pool = emb.filter(F.col("vec_id") >= _RECALL_NQ)
    lc = pool.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    nrel = (
        q.select("query_id", "y_q")
        .join(F.broadcast(lc), q.y_q == lc.label, "left")
        .select(
            "query_id", F.coalesce("n", F.lit(0)).alias("n_rel")
        )
    )
    ranked = (
        pool.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            (F.col("label") == F.col("y_q")).alias("rel"),
            F.round(cosine(F.col("embedding"), F.col("__qvec")), 6).alias("s"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("s"), "vec_id")
            ),
        )
        .filter(F.col("rk") <= _RECALL_K)  # enables WindowGroupLimit
    )
    dcg_q = (
        ranked.filter(F.col("rel"))
        .groupBy("query_id")
        .agg(
            F.sum(
                F.lit(1.0) / F.log2((F.col("rk") + 1).cast("double"))
            ).alias("dcg")
        )
    )
    # ideal DCG: the same ten discount constants truncated at the
    # query's relevant-pool size — a 10-element array fold, no join
    n_eff = F.least(F.lit(_RECALL_K), F.col("n_rel"))
    idcg = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(_RECALL_K)),
            lambda i: F.when(
                i <= n_eff, F.lit(1.0) / F.log2((i + 1).cast("double"))
            ).otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        nrel.join(dcg_q, "query_id", "left")
        .select(
            "query_id",
            F.col("n_rel").cast("bigint").alias("n_rel_pool"),
            F.when(F.col("n_rel") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) / idcg, 6)
            )
            .alias("ndcg"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# PCA top component via power iteration (round 11)
# ---------------------------------------------------------------------------

_PCA_DIM = 64  # embedding width; off-width rows excluded in BOTH engines
_PCA_ITERS = 2
_PCA_V0 = 1.0 / 8.0  # unit start vector: every element 1/sqrt(64)


def _pca_iter_cte(prev_v: str, out: str) -> str:
    """One power-iteration step in DuckDB: w = Σᵢ (xᵢ·v)·xᵢ with each
    (row, dim) contribution fixed-point-quantized (×1e6, round-0,
    bigint) so the per-dimension sum is exact in any row order, then
    w is rebuilt as an ordered unit-normalized DOUBLE list. Mirrors
    the Spark stage expression-for-expression."""
    return f"""
{out}_w AS (
  SELECT u.j AS j,
    SUM(CAST(ROUND(dotv * u.x * 1000000, 0) AS BIGINT)) AS wq
  FROM (
    SELECT {dot_sql('e.embedding', f'{prev_v}.v')} AS dotv,
      unnest(list_transform(range(1, len(e.embedding) + 1),
        i -> {{'j': i, 'x': CAST(e.embedding[i] AS DOUBLE)}})) AS u
    FROM emb_valid e CROSS JOIN {prev_v}
  )
  GROUP BY u.j
),
{out}_arr AS (
  SELECT list(CAST(wq AS DOUBLE) / 1000000.0 ORDER BY j) AS w FROM {out}_w
),
{out} AS (
  SELECT list_transform(w, x -> x / {l2_norm_sql('w')}) AS v,
    {l2_norm_sql('w')} AS lam
  FROM {out}_arr
)"""


@register(
    "q_pca_power_iteration",
    oracle=f"""
WITH emb_valid AS (
  SELECT embedding FROM embeddings
  WHERE len(embedding) = {_PCA_DIM}
    AND isfinite({l2_norm_sql('embedding')})
    AND {l2_norm_sql('embedding')} > 0
),
v0 AS (SELECT list_transform(range(1, {_PCA_DIM} + 1),
                             i -> {_PCA_V0}) AS v),
{_pca_iter_cte('v0', 'v1')},
{_pca_iter_cte('v1', 'v2')}
SELECT CAST(u.j AS BIGINT) AS dim,
  ROUND(u.x, 6) AS loading,
  ROUND(v2.lam, 6) AS eigenvalue_est
FROM (
  SELECT unnest(list_transform(range(1, {_PCA_DIM} + 1),
    i -> {{'j': i, 'x': v[i]}})) AS u
  FROM v2
), v2
ORDER BY dim
""",
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram
    matrix via _PCA_ITERS=2 matrix-free power-iteration steps — the
    dominant-direction analysis an embedding-curation stack runs
    before whitening / de-biasing (a corpus whose top component
    explains most of the variance has collapsed representations;
    anisotropy removal needs exactly this vector). Returns the
    64-dim unit loading vector plus the Rayleigh-quotient eigenvalue
    estimate (‖w‖ of the last un-normalized step, since its input is
    unit).

    Exactness: v₀ is the constant unit vector (1/8 per element). Each
    step computes per-row dot xᵢ·v as the shared ordered float fold
    (functions.vector.dot ⇄ dot_sql), then quantizes every (row, dim)
    contribution dot·xᵢⱼ to fixed point (×1e6, round-0 → bigint —
    integer-valued doubles cast exactly, the q_nb_lang_classifier
    discipline) so the per-dimension sums are exact integers in ANY
    partition order; w is rebuilt as CAST(bigint AS DOUBLE)/1e6 (both
    exact IEEE ops) and unit-normalized with the same ordered fold.
    Degenerate vectors (NaN/Inf/zero-norm) are excluded by the
    valid_vec guard, mirrored in SQL — one corrupt row must not poison
    the corpus-wide sums.

    Scale shape: each iteration is ONE pass — posexplode to (dim,
    contribution) then a 64-key hash agg with map-side partials
    (corpus rows never shuffle; only 64·n_partitions partials move);
    the 64-row spine pivots back to a 1-row array (64-row bounded
    collect_list, control-plane-sized) that BROADCASTS into the next
    pass. Iterations are unrolled (fixed _PCA_ITERS), each pinned so
    lineage stays flat — the k-means/PageRank bounded-rounds posture."""
    from flink_template_spark.functions.vector import (
        dot as udot,
        l2_norm,
        valid_vec,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        # width guard (ADVICE r11): a non-_PCA_DIM vector would pad the
        # zip_with dot with NULLs here while the oracle indexes v[i] out
        # of range — BOTH silently. Excluding off-width rows in both
        # engines makes the scope explicit instead of corrupting sums.
        .filter(F.size(F.col("embedding")) == _PCA_DIM)
        .filter(valid_vec(F.col("embedding")))
        .select("embedding")
        .localCheckpoint(eager=False)  # one scan serves both iterations
    )
    v = spark.range(1).select(
        lit_doubles([_PCA_V0] * _PCA_DIM).alias("v")
    )
    lam = None
    for _ in range(_PCA_ITERS):
        scored = emb.crossJoin(F.broadcast(v)).select(
            udot(F.col("embedding"), F.col("v")).alias("dotv"),
            F.posexplode(F.col("embedding")).alias("j0", "x"),
        )
        w = (
            scored.groupBy("j0")
            .agg(
                F.sum(
                    F.round(
                        F.col("dotv") * F.col("x").cast("double") * 1000000,
                        0,
                    ).cast("bigint")
                ).alias("wq")
            )
            .select(
                (F.col("j0") + 1).alias("j"),
                (F.col("wq").cast("double") / 1000000.0).alias("wx"),
            )
        )
        arr = w.agg(
            F.array_sort(F.collect_list(F.struct("j", "wx"))).alias("ws")
        ).select(F.transform(F.col("ws"), lambda s: s.wx).alias("w"))
        v = arr.select(
            F.transform(
                F.col("w"), lambda x: x / l2_norm(F.col("w"))
            ).alias("v"),
            l2_norm(F.col("w")).alias("lam"),
        ).localCheckpoint(eager=False)
        lam = F.col("lam")
    return (
        v.select(F.posexplode(F.col("v")).alias("j0", "x"), lam)
        .select(
            (F.col("j0") + 1).cast("bigint").alias("dim"),
            F.round(F.col("x"), 6).alias("loading"),
            F.round(F.col("lam"), 6).alias("eigenvalue_est"),
        )
        .orderBy("dim")
    )
