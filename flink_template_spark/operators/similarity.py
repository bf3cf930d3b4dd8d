"""Similarity search over an embedding column (``array<float>``).

Two tiers (SURVEY.md §2.7 north-star):

- ``brute_force_topk``: exact cosine top-k. The query vector is a
  broadcast single-row DataFrame; scoring is a JVM-side expression over
  every row — a full scan, but embarrassingly parallel and shuffle-free
  until the final top-k (which Spark executes as per-partition heaps +
  driver merge via TakeOrderedAndProject). This is the correctness
  baseline at any scale.
- ``ivf_topk``: IVF-style probe. Vectors are pre-assigned to the nearest
  of K centroids (one broadcast join + argmax, no shuffle of the big
  side); a query scores only its own cluster — at 100 TB with K=4096
  this cuts the scan by ~K×. Here centroids are taken deterministically
  (vec_id < K) so the oracle can reproduce the assignment; in production
  they'd come from k-means.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from flink_template_spark.functions.vector import cosine_arrow, valid_vec
from flink_template_spark.operators.dedup import _spread


def brute_force_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine to the (single-row) query DataFrame.
    Degenerate vectors (zero-norm / NaN / Inf elements) are excluded
    on both sides — see functions.vector.valid_vec."""
    q = query.filter(valid_vec(F.col(vec_col))).select(
        F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
    )
    scored = (
        vectors.filter(valid_vec(F.col(vec_col)))
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            id_col,
            # Arrow exact-fold dual of cosine(): identical raw doubles,
            # rounded HERE in the plan (functions.vector kernel notes)
            F.round(cosine_arrow(F.col(vec_col), F.col("__qvec")), 6).alias(
                "cos_sim"
            ),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def centroid_cos_arrow(cvecs: "list[list[float]]", vec_col):
    """ALL centroid cosines per vector in ONE Arrow pass — the blocked
    dual of k per-(vector, centroid) ``cosine_arrow`` pair rows
    (optimization r13, guide §4.2): each corpus vector crosses the
    Python boundary once instead of k times, and no pair rows are ever
    materialized. Bit-exact by the r12 kernel construction — per
    centroid c the dot accumulates dimension-by-dimension from zeros
    (the aggregate(zip_with) left fold), norms fold the same way
    (np.sqrt ≡ JVM sqrt), and cosine divides by (norm_v · norm_c) in
    the same order, so every raw double matches cosine()/cosine_arrow()
    bit-for-bit (pinned by
    tests/test_r13_opt.py::test_ivf_assign_mapside_identical). Rounding
    stays in the Spark plan (r12 kernel discipline). Inputs must be
    valid_vec-filtered (NaN would cross the Arrow NaN→NULL boundary);
    a row whose width is not the centroids' yields NULL sims, like the
    zip_with pad → NULL fold, and leaves every other row of its batch
    scored."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    C = np.array(cvecs, dtype=np.float64)  # k × d
    k, d = C.shape
    cnorm = np.empty(k)
    for c in range(k):
        acc = 0.0
        for i in range(d):
            acc += C[c, i] * C[c, i]  # l2_norm's exact scalar fold
        cnorm[c] = acc
    cnorm = np.sqrt(cnorm)

    @pandas_udf("array<double>")
    def fn(v: pd.Series) -> pd.Series:
        n = len(v)
        out = [None] * n
        # only rows of width d are scored; off-width and NULL rows stay NULL
        width_d = v.map(lambda x: x is not None and len(x) == d).to_numpy(bool)
        idx = np.flatnonzero(width_d)
        if len(idx):
            V = np.array(v.iloc[idx].tolist(), dtype=np.float64)
            nrow = len(idx)
            vacc = np.zeros(nrow)
            for i in range(d):
                x = V[:, i]
                vacc += x * x
            vnorm = np.sqrt(vacc)
            sims = np.empty((nrow, k))
            for c in range(k):
                acc = np.zeros(nrow)
                for i in range(d):
                    acc += V[:, i] * C[c, i]  # dot's exact fold
                sims[:, c] = acc / (vnorm * cnorm[c])
            for p, i in enumerate(idx):
                out[i] = sims[p]
        return pd.Series(out, dtype=object)

    return fn(vec_col)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (rounded
    similarity + centroid id tiebreak for determinism).
    Degenerate vectors/centroids (zero-norm / NaN / Inf) are excluded
    (functions.vector.valid_vec) — every IVF/semdedup/knn-IVF consumer
    inherits the guard from here; consumers whose output is a KEEP-SET
    (semdedup) therefore also exclude them, so pipelines that must not
    lose rows should route df.filter(~valid_vec(col)) separately.
    ``keep_cols`` rides extra input columns through the argmax (the
    ann_index build carries its PQ codes here instead of re-joining
    them on vec_id afterwards — optimization r12).

    Map-side since optimization r13: the centroid set is collected once
    (bounded control-plane, same contract as the previous
    F.broadcast(c) — and as knn_join_gemm's query collect), every
    vector gets its k cosines from ONE Arrow pass
    (:func:`centroid_cos_arrow`), the 6-dp rounding happens in the
    Spark plan (transform + F.round, the same BigDecimal HALF_UP as
    before), and the argmax is array_position(array_max) — first match
    ≡ lowest centroid id on rounded ties, exactly the old window's
    (DESC c_sim, ASC centroid_id) row_number. The per-vector×centroid
    pair rows AND the window's full id-partitioned Exchange+Sort are
    gone; the assignment is a pure projection over the corpus scan."""
    c_rows = (
        # a NULL-id centroid could never be named as a cluster; dropping
        # it here also keeps the Python sort below total
        centroids.filter(valid_vec(F.col(vec_col)) & F.col(centroid_id).isNotNull())
        .select(centroid_id, vec_col)
        .collect()
    )
    c_rows.sort(key=lambda r: r[centroid_id])
    base = vectors.filter(valid_vec(F.col(vec_col)))
    if not c_rows:
        # empty/degenerate centroid set -> empty result, like the old
        # crossJoin against an empty broadcast side
        cid_type = centroids.schema[centroid_id].dataType.simpleString()
        return base.select(
            id_col,
            vec_col,
            *[F.col(k) for k in keep_cols],
            F.lit(None).cast(cid_type).alias("cluster"),
        ).filter(F.lit(False))
    cvecs = [[float(x) for x in r[vec_col]] for r in c_rows]
    cid_arr = F.array(*[F.lit(r[centroid_id]) for r in c_rows])
    sims = centroid_cos_arrow(cvecs, vec_col)
    rounded = F.transform(sims, lambda x: F.round(x, 6))
    pos = F.array_position(rounded, F.array_max(rounded)).cast("int")
    # explicit NULL guard: element_at over a literal array returns an
    # element, not NULL, for a NULL index (seen on Spark 4.1), so an
    # off-width row's NULL sims would otherwise still pick a cluster
    pick = F.when(pos.isNotNull(), F.element_at(cid_arr, pos))
    return base.select(
        id_col,
        vec_col,
        *[F.col(k) for k in keep_cols],
        pick.alias("cluster"),
    )


# target rows per sub-block for the blocked exact pair scan: bounds each
# kernel row (two sub-blocks) and its matrices at ~2·TARGET·d·8 bytes
# while keeping enough sub-block pairs for parallelism; each block's
# sub-block count derives from its size IN-PLAN (no eager count job), so
# the same code is right at any SF and for any block skew
_PAIR_BLOCK_TARGET = 256


def pair_cos_blocked(
    vectors: DataFrame,
    min_raw: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    max_raw: float | None = None,
    score: str = "cos",
) -> DataFrame:
    """(id_a, id_b, raw_cos) for every unordered pair of valid vectors
    in the same block with RAW cosine ≥ ``min_raw`` — the blocked exact
    dual of the per-pair fold join (optimization r13, guide §4.2/§2.2).

    Blocks: ``block_col`` is a NATURAL block key (an IVF cluster, an LSH
    bucket, a triplet cell) and pairs are scored strictly WITHIN a block
    (semdedup / triplet semantics), never across blocks; a vector whose
    key is NULL pairs with nothing, as under an equi-join on the key.
    Without ``block_col`` the whole corpus is one block.

    One (block, sub-block) path serves both (EDBT 2019's balanced work
    units): every block splits into n_sub = ⌈count/_PAIR_BLOCK_TARGET⌉
    hash sub-blocks (pmod(hash(id), n_sub); the per-block count is an
    aggregate broadcast back in-plan), and each kernel row is ONE pair
    of sub-blocks (sub_a ≤ sub_b) of one block, partitioned by
    (block, sub_a). So no row holds more than two sub-blocks, and a hot
    cluster or bucket runs as many tasks instead of one dense b² matrix
    in one task. Each sub-block's matrix crosses
    the Arrow boundary once per partner sub-block instead of once per
    pair. Inside the kernel the fold is replayed EXACTLY:

    - dot: acc += A[:,i] * B[:,j-th col], accumulated dimension-by-
      dimension from zeros — the identical IEEE sequence as
      aggregate(zip_with(a, b, x*y), 0.0, +) for every pair at once;
    - norm: acc += x_i·x_i then np.sqrt — identical to l2_norm's fold
      (np.sqrt ≡ JVM sqrt, IEEE-exact);
    - cosine: dot / (norm_a · norm_b) — same multiply, same divide.

    So raw doubles are bit-identical to the fold path (pinned by
    tests/test_r13_opt.py::test_pair_cos_blocked_bit_identical), no
    rounding happens kernel-side (F.round's BigDecimal HALF_UP stays in
    the Spark plan, per the r12 kernel discipline), and NaN can never
    reach the Arrow NaN→NULL boundary (valid_vec admission). Pairs of
    DIFFERENT vector widths yield NULL dots under zip_with (pad → NULL
    fold) and are dropped by any threshold filter — the kernel
    reproduces that by bucketing each sub-block by width and only
    scoring equal-width pairs. ``min_raw`` must carry the caller's
    rounding margin (round(x, 6) ≥ t ⟹ x ≥ t − 5e-7; callers pass
    t − 1e-6).

    Variants for the other pair-scoring consumers:
    - ``score="dot"``: raw dot instead of cosine (no norm division) —
      the pre-unit-normalized triplet shape.
    - ``max_raw``: keep the LOW tail too — a row survives if raw ≥
      min_raw OR raw ≤ max_raw (the triplet positive/hard-negative
      band pair)."""
    import numpy as np

    id_type = vectors.schema[id_col].dataType.simpleString()
    block = F.col(block_col) if block_col is not None else F.lit(0)
    # the exchange on id is read by both the size count and the rows
    # (exchange reuse), so a Python-computed key (ivf_assign's,
    # band_signatures') is evaluated once per row
    valid = (
        vectors.filter(valid_vec(F.col(vec_col)))
        .select(block.alias("__bk"), id_col, vec_col)
        .repartition(id_col)
    )
    # block sizes from partial counts, broadcast back, so neither a hot
    # block nor the one-block corpus funnels into one task. The count
    # reads vec_col (never NULL here) so that column pruning leaves
    # both readers of the exchange above the same columns, which keeps
    # it reused. It counts only non-NULL keys: the NULL key gets no
    # size row, so its vectors pair with nothing, as under an equi-join
    # on the key. The key is never tested with isNotNull, and the join
    # is null-safe, because an isNotNull filter, written or inferred
    # from an equi-join, is pushed below the key's projection and
    # evaluates the key twice.
    sizes = (
        valid.groupBy(F.col("__bk").alias("__sk"))
        .agg(
            F.count(
                F.when(F.col("__bk").isNotNull(), F.col(vec_col))
            ).alias("__n")
        )
        .filter(F.col("__n") > 0)
    )
    n_sub = F.ceil(F.col("__n") / float(_PAIR_BLOCK_TARGET)).cast("int")
    # a vector of sub-block s joins each of the n_sub sub-block pairs
    # (min(s, p), max(s, p)) of its block once; the repartition on
    # (block, sub_a) spreads a hot block's pairs over tasks
    sb, p = F.col("__sb"), F.col("__p")
    rows = (
        valid.join(
            F.broadcast(sizes), F.col("__bk").eqNullSafe(F.col("__sk"))
        )
        .select(
            "__bk", id_col, vec_col,
            F.pmod(F.hash(F.col(id_col)), n_sub).alias("__sb"),
            F.explode(F.sequence(F.lit(0), n_sub - 1)).alias("__p"),
        )
        .select(
            "__bk", id_col, vec_col, sb,
            F.least(sb, p).alias("sb_a"),
            F.greatest(sb, p).alias("sb_b"),
        )
        .repartition("__bk", "sb_a")
    )

    def side(sub: str, out: str):
        mine = F.filter("__items", lambda x: x["__sb"] == F.col(sub))
        return [
            F.transform(mine, lambda x: x[id_col]).alias(f"ids_{out}"),
            F.transform(mine, lambda x: x[vec_col]).alias(f"vecs_{out}"),
        ]

    sub_pairs = (
        rows.groupBy("__bk", "sb_a", "sb_b")
        .agg(F.collect_list(F.struct("__sb", id_col, vec_col)).alias("__items"))
        .select("sb_a", *side("sb_a", "a"), "sb_b", *side("sb_b", "b"))
    )

    want_cos = score == "cos"

    def _mats(ids, vecs):
        """Width-bucketed (ids, matrix, norms) triples for one sub-block."""
        by_w: dict = {}
        for i, v in zip(ids, vecs):
            by_w.setdefault(len(v), ([], []))
            by_w[len(v)][0].append(i)
            by_w[len(v)][1].append(v)
        out = []
        for w, (bi, bv) in by_w.items():
            M = np.array(bv, dtype=np.float64)
            if want_cos:
                acc = np.zeros(len(bi))
                for i in range(w):
                    x = M[:, i]
                    acc += x * x  # l2_norm's exact fold
                nrm = np.sqrt(acc)
            else:
                nrm = None
            out.append((np.asarray(bi), M, nrm))
        return out

    def gen(batches):
        for pdf in batches:
            o_a, o_b, o_r = [], [], []
            for ids_a, vecs_a, ids_b, vecs_b, same in zip(
                pdf["ids_a"],
                pdf["vecs_a"],
                pdf["ids_b"],
                pdf["vecs_b"],
                (pdf["sb_a"] == pdf["sb_b"]).to_numpy(),
            ):
                for ia, A, na in _mats(ids_a, vecs_a):
                    for ib, B, nb in _mats(ids_b, vecs_b):
                        if A.shape[1] != B.shape[1]:
                            continue  # zip_with pad → NULL dot → dropped
                        acc = np.zeros((len(ia), len(ib)))
                        for i in range(A.shape[1]):
                            # dot's exact fold, all pairs at once
                            acc += A[:, i, None] * B[None, :, i]
                        cos = (
                            acc / (na[:, None] * nb[None, :])
                            if want_cos
                            else acc
                        )
                        mask = cos >= min_raw
                        if max_raw is not None:
                            mask |= cos <= max_raw
                        if same:
                            mask &= ia[:, None] < ib[None, :]
                        r, c = np.nonzero(mask)
                        if not len(r):
                            continue
                        lo = np.minimum(ia[r], ib[c])
                        hi = np.maximum(ia[r], ib[c])
                        o_a.append(lo)
                        o_b.append(hi)
                        o_r.append(cos[r, c])
            if o_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(o_a),
                        "id_b": np.concatenate(o_b),
                        "raw_cos": np.concatenate(o_r),
                    }
                )

    return sub_pairs.mapInPandas(
        gen, schema=f"id_a {id_type}, id_b {id_type}, raw_cos double"
    )


def cosine_near_dup_exact(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold — exact O(n²) baseline.

    Correctness reference only: at 100 TB use ``cosine_near_dup_lsh``,
    which explodes candidates only within hash buckets.

    The corpus is one block of :func:`pair_cos_blocked` (hash
    sub-blocks, bit-identical raw cosines), with F.round (BigDecimal
    HALF_UP) applied only to the ≥ threshold−1e-6 survivors; the margin
    is conservative for round-half-up (round(x,6) ≥ t needs
    x ≥ t−5e-7)."""
    raw = pair_cos_blocked(
        vectors, threshold - 1e-6, id_col=id_col, vec_col=vec_col
    )
    return (
        raw.select(
            "id_a", "id_b", F.round(F.col("raw_cos"), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def semdedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster-blocked cosine dominance.

    Assign every vector to its nearest centroid (``ivf_assign``), then
    within each cluster drop any vector that has a LOWER-id neighbor
    with cosine ≥ threshold (deterministic keep-first). Returns the
    kept (id, cluster) rows.

    Scale contract: the pair scoring is per-cluster (natural blocks in
    :func:`pair_cos_blocked`), so cost is quadratic only in the largest
    CELL, never the corpus — with K centroids sized to the corpus
    (K ~ N/target cell size) this is the standard SemDeDup shape. A
    large cluster splits into hash sub-blocks, so its sub-block pairs
    run as many kernel rows and tasks, each holding at most two
    sub-blocks.

    Optimization r13: the within-cluster pair join (each pair row
    shipping two vectors + two norms, one Arrow eval + one BigDecimal
    round per pair) became the blocked kernel — raw cosines
    bit-identical (exact-fold kernel), F.round applied only to the
    ≥ threshold−1e-6 survivors. Row-identical by
    tests/test_r13_opt.py::test_semdedup_blocked_identical."""
    # pinned: the pair kernel and the keep set's anti-join both read
    # it, so ivf_assign's Arrow centroid pass runs once per vector
    assigned = ivf_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=False)
    raw = pair_cos_blocked(
        assigned,
        threshold - 1e-6,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cluster",
    )
    dominated = (
        raw.filter(F.round(F.col("raw_cos"), 6) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(dominated, id_col, "left_anti").select(id_col, "cluster")


# --- LSH (random hyperplane) near-dup -------------------------------------
#
# Deterministic rational hyperplanes from an LCG over the (plane, dim)
# index: every weight is an exact double both engines compute identically,
# so the oracle SQL (generated from the same constants) reproduces the
# bucketing bit-for-bit. Production would draw Gaussian planes; the LSH
# structure (sign bits → banded signatures → bucket self-join → exact
# verify) is identical.

LCG_A = 1103515245
LCG_C = 12345
LCG_M = 2147483648  # 2^31
PLANE_STRIDE = 64  # embedding dim in the testdata


def _plane_weight(i: "F.Column", j: int):
    """weight(plane j, dim i) ∈ [-0.5, 0.5), an exact rational."""
    seed = (
        F.lit(LCG_A).cast("bigint") * (F.lit(j * PLANE_STRIDE).cast("bigint") + i)
        + F.lit(LCG_C).cast("bigint")
    ) % F.lit(LCG_M).cast("bigint")
    return seed.cast("double") / F.lit(float(LCG_M)) - F.lit(0.5)


def _plane_weight_sql(i_expr: str, j: int) -> str:
    return (
        f"(CAST((CAST({LCG_A} AS BIGINT) * ({j * PLANE_STRIDE} + {i_expr})"
        f" + {LCG_C}) % {LCG_M} AS DOUBLE) / {float(LCG_M)} - 0.5)"
    )


def _plane_weights(j: int) -> list[float]:
    """Plane j's weights as Python floats — EXACTLY the doubles
    ``_plane_weight`` computes in the JVM: the LCG seed is exact int64
    arithmetic, seed / 2^31 is an exact power-of-two division, and
    − 0.5 is exact, so inlining them as an array literal changes how
    the constants enter the plan, not their bits."""
    return [
        float((LCG_A * (j * PLANE_STRIDE + i) + LCG_C) % LCG_M) / float(LCG_M) - 0.5
        for i in range(PLANE_STRIDE)
    ]


def _plane_dot(vec: "F.Column", j: int):
    # zip_with against the precomputed literal weight array instead of
    # recomputing the 5-op LCG weight per ELEMENT inside the lambda
    # (interpreted HOF eval — guide §1.2 per-task work). Same
    # left-to-right fold, same doubles. Assumes dim == PLANE_STRIDE
    # (the module contract; see PLANE_STRIDE note above).
    from flink_template_spark.functions.vector import lit_doubles

    return F.round(
        F.aggregate(
            F.zip_with(
                vec,
                lit_doubles(_plane_weights(j)),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def plane_dot_sql(vec: str, j: int) -> str:
    return (
        f"ROUND(list_sum(list_transform(range(1, len({vec}) + 1), "
        f"i -> CAST({vec}[i] AS DOUBLE) * {_plane_weight_sql('(i - 1)', j)})), 6)"
    )


def band_signatures(
    vectors: DataFrame,
    n_bands: int = 8,
    bits_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One row per (vector, band) with the band's sign-bit signature.

    All J = n_bands × bits_per_band hyperplane dots come from ONE
    Arrow-vectorized pass (functions.vector.plane_dots_arrow) instead
    of J interpreted zip_with/aggregate folds per row; the dots column
    is materialized in its own projection so the J sign tests reference
    a single ArrowEvalPython evaluation. Rounding (6 dp) and the sign
    thresholds stay in the Spark plan — raw dots are bit-identical to
    the _plane_dot folds, so bucketing is unchanged."""
    from flink_template_spark.functions.vector import plane_dots_arrow

    n_planes = n_bands * bits_per_band
    weights = [_plane_weights(j) for j in range(n_planes)]
    with_dots = _spread(vectors).select(
        id_col,
        vec_col,
        plane_dots_arrow(F.col(vec_col), weights).alias("__pdots"),
    )
    sigs = []
    for b in range(n_bands):
        sig = F.lit(0)
        for m in range(bits_per_band):
            j = b * bits_per_band + m
            bit = F.round(F.element_at("__pdots", j + 1), 6) >= 0
            sig = sig + F.when(bit, F.lit(2**m)).otherwise(0)
        sigs.append(sig)
    return with_dots.select(
        id_col, vec_col, F.posexplode(F.array(*sigs)).alias("band", "sig")
    )


def cosine_near_dup_lsh(
    vectors: DataFrame,
    threshold: float,
    n_bands: int = 8,
    bits_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH candidates (same signature in ≥1 band) verified by exact
    cosine — the 100 TB-scale near-dup path: the self-join explodes only
    within (band, signature) buckets, never across the full table.

    Optimization r13: bucket pairs are scored by the blocked exact-fold
    kernel with the (band, sig) bucket as the natural block — a hot
    bucket splits into sub-block pairs over many tasks, raw cosines are
    bit-identical to the fold path, and the
    margin filter (raw ≥ threshold−1e-6, conservative for
    round-half-up) runs INSIDE the kernel. The old plan shipped every
    bucket-collision row (two 64-dim vectors + two norms, ~550 B) into
    a dropDuplicates exchange and BigDecimal-rounded every candidate;
    now the dedup exchange carries only (id, id, double) survivors —
    a pair colliding in several bands scores bit-identically in each,
    so dropDuplicates keeps the same value regardless of which
    duplicate wins. Row-identity pinned by
    tests/test_r13_opt.py::test_near_dup_lsh_blocked_identical (this
    replaces the r12 slim-dedup attempt, which lost by re-attaching
    payloads through statless SMJs — the kernel never detaches them)."""
    bands = band_signatures(
        vectors.filter(valid_vec(F.col(vec_col))),
        n_bands, bits_per_band, id_col, vec_col,
    ).withColumn("__bucket", F.struct("band", "sig"))
    raw = pair_cos_blocked(
        bands,
        threshold - 1e-6,
        id_col=id_col,
        vec_col=vec_col,
        block_col="__bucket",
    )
    return (
        raw.dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a", "id_b", F.round(F.col("raw_cos"), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def ivf_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe only the query's cluster, then exact top-k inside it.
    The query side carries its own valid_vec guard — ivf_assign only
    filters the corpus/centroid sides, and a degenerate __qvec would
    reach cosine() (ANSI abort on zero norm, NaN pollution otherwise)."""
    assigned = ivf_assign(vectors, centroids, id_col, vec_col)
    q = query.filter(valid_vec(F.col(vec_col))).select(
        F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
    )
    q_cluster = (
        assigned.join(F.broadcast(q), assigned[id_col] == F.col("__qid"))
        .select(F.col("cluster").alias("__qcluster"), "__qid", "__qvec")
    )
    return (
        assigned.join(F.broadcast(q_cluster), assigned.cluster == F.col("__qcluster"))
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            id_col,
            F.col("cluster"),
            F.round(cosine_arrow(F.col(vec_col), F.col("__qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def knn_join_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN JOIN: top-k corpus neighbors for EVERY query row
    (brute_force_topk is the single-query special case).

    Output: (query_id, neighbor_id, cos_sim, rank). The query set is
    broadcast, so the corpus is scanned once whatever |Q| is; per-query
    top-k runs as a partitioned window (per-group heap, no global sort).
    Scale: cost is |corpus|×|Q| similarity evaluations — right whenever
    |Q| fits a broadcast (eval sets, probe batches); for corpus×corpus
    scale use knn_join_ivf. Similarities rounded to 1e-6 with neighbor-
    id tiebreak so rankings are reproducible across engines.

    Degenerate vectors (zero-norm / NaN / Inf elements) are EXCLUDED
    from both sides (functions.vector.valid_vec) — the contract
    knn_join_gemm mirrors; without the filter, ANSI mode (the Spark 4
    default) aborts the whole join on a zero-norm row, and a NaN
    similarity would silently rank FIRST in every top-k."""
    q = queries.filter(valid_vec(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    scored = (
        corpus.filter(valid_vec(F.col(vec_col)))
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine_arrow(F.col(vec_col), F.col("__qvec")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN JOIN through the IVF grid: both sides are
    assigned to centroid cells (broadcast argmax), the join runs
    per-cell, and top-k is a per-query window inside the matched cells.

    This is the corpus×corpus scale path: per-cell joins are
    sub-quadratic exactly like LSH bucket joins (quadratic only within
    the largest cell), the shuffle is keyed on the cell id, and no side
    needs to broadcast. Recall loss comes only from neighbors living in
    a different cell than the query (bounded in tests against
    knn_join_exact)."""
    c_assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    q_assigned = ivf_assign(queries, centroids, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.col("cluster"),
    )
    scored = (
        c_assigned.join(q_assigned, "cluster")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine_arrow(F.col(vec_col), F.col("__qvec")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join_gemm(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """knn_join_exact's vectorized dense dual: similarities via ONE
    float64 BLAS GEMM per Arrow batch (mapInPandas) instead of a
    per-pair aggregate fold — the "when Python is unavoidable, make it
    BLAS" tier. The query matrix rides the task closure (|Q| is
    broadcast-bounded by the same contract as knn_join_exact); each
    batch keeps, per query, every candidate whose RAW sim is within a
    4e-6 margin of the batch's k-th best — provably a superset of what
    the final Spark window can rank top-k (Spark's 6-dp rounding moves
    a value by at most 5e-7 + ulp slop, so a candidate more than 2e-6
    below a kept one can never round above it; the margin doubles
    that). The shuffle carries ~k·|Q| candidates per batch, not the
    corpus, and NO rounding happens in numpy at all.

    Numerics: dot and norms are computed separately and divided in the
    same order as functions.vector.cosine; the batch emits RAW sims
    and the 6-dp rounding happens in the Spark plan (F.round), so
    output values carry Spark's exact rounding semantics (BigDecimal
    HALF_UP over the shortest decimal repr — not reproducible in
    vectorized numpy, which is why the batch side must not round).
    Residual divergence vs the fold path is confined to raw sims
    within an ulp of a rounding boundary (BLAS-vs-fold summation
    order). Degenerate vectors (zero-norm / NaN / Inf / NULL) are
    excluded on both sides by the SAME Spark-side valid_vec filter the
    exact path uses (a NULL embedding must not crash the numpy
    conversion, so the guard lives in the plan, not the batch fn); a
    query set with only degenerate rows returns an EMPTY result, like
    the exact path, not an error. Id columns keep their source types
    (query_id from queries, neighbor_id from corpus), mirroring
    knn_join_exact's genericity — nothing coerces ids to int64.
    """
    import numpy as np
    import pandas as pd

    _MARGIN = 4e-6

    qrows = (
        queries.filter(valid_vec(F.col(vec_col)) & F.col(id_col).isNotNull())
        .select(id_col, vec_col)
        .collect()  # bounded: |Q| small by contract
    )
    q_id_type = queries.schema[id_col].dataType.simpleString()
    c_id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {q_id_type}, neighbor_id {c_id_type}, cos_sim double"
    if not qrows:
        # mirror knn_join_exact: degenerate/empty query set -> empty
        empty = corpus.sparkSession.createDataFrame([], out_schema)
        return empty.withColumn("rank", F.lit(1).cast("int")).filter(F.lit(False))
    qids = np.array([r[id_col] for r in qrows])
    qmat = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if not len(ids):
                continue
            norm = np.sqrt((mat * mat).sum(axis=1))
            sims = (mat @ qmat.T) / (norm[:, None] * qnorm[None, :])
            out_q, out_n, out_s = [], [], []
            for j in range(len(qids)):
                keep = ids != qids[j]
                cand = np.flatnonzero(keep)
                if not len(cand):
                    continue
                col = sims[cand, j]
                if len(cand) > k:
                    kth = np.partition(col, len(col) - k)[len(col) - k]
                    cand = cand[col >= kth - _MARGIN]
                out_q.append(np.full(len(cand), qids[j]))
                out_n.append(ids[cand])
                out_s.append(sims[cand, j])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cos_sim": np.concatenate(out_s),
                    }
                )

    cands = (
        corpus.filter(valid_vec(F.col(vec_col)) & F.col(id_col).isNotNull())
        .select(id_col, vec_col)
        .mapInPandas(gen, out_schema)
        .withColumn("cos_sim", F.round("cos_sim", 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return cands.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def binary_hamming_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    shortlist: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Binary-embedding k-NN: 1-bit sign quantization → packed-word
    Hamming shortlist → exact cosine rerank.

    Output: (query_id, neighbor_id, hamming, cos_sim, rank ≤ k).

    The production trick this implements: sign-quantized embeddings are
    32× smaller than the float arrays (two bigint words for 64 dims)
    and Hamming distance is two xor+bit_count ALU ops, so the full
    |corpus|×|Q| scan runs over 16-byte codes at a fraction of the
    float-cosine cost; exact math only touches the per-query
    ``shortlist`` survivors, fetched from the vector table by id —
    the same scan-codes/rerank-few shape as the IVF-PQ stack, without
    an index build. Shortlist and final ranks both break ties by
    neighbor id, so results replay exactly in any engine.

    Degenerate vectors are excluded on both sides (the knn_join
    contract — see knn_join_exact): NaN compares ≥ 0 as true in BOTH
    engines so even the sign bits of an invalid vector would agree,
    but its rerank cosine is an ANSI abort or a NaN that outranks
    everything."""
    from flink_template_spark.functions.vector import sign_pack_expr

    half = dim // 2
    p0 = sign_pack_expr(vec_col, 1, half)
    p1 = sign_pack_expr(vec_col, 1 + half, half)
    q = queries.filter(valid_vec(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"),
        F.expr(p0).alias("q0"),
        F.expr(p1).alias("q1"),
    )
    c = corpus.filter(valid_vec(F.col(vec_col))).select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(p0).alias("c0"),
        F.expr(p1).alias("c1"),
    )
    ham = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.expr("q0 ^ c0"))
                + F.bit_count(F.expr("q1 ^ c1"))
            ).cast("bigint").alias("hamming"),
        )
    )
    wham = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    short = ham.withColumn("hrk", F.row_number().over(wham)).filter(
        F.col("hrk") <= shortlist
    )
    # exact math on the shortlist only: join the float vectors back in
    # by id (the code scan above never carries them)
    qv = queries.filter(valid_vec(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    cv = corpus.filter(valid_vec(F.col(vec_col))).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    rr = (
        short.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.round(cosine_arrow(F.col("__cvec"), F.col("__qvec")), 6).alias(
                "cos_sim"
            ),
        )
    )
    wrank = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return rr.withColumn("rank", F.row_number().over(wrank)).filter(
        F.col("rank") <= k
    )
