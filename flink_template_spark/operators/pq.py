"""Product quantization (PQ) for embedding compression + ADC search —
the memory half of the ANN scale story (IVF routes the search,
PQ shrinks the vectors it scans).

Scale shape:

- training (``pq_train``) runs an L2 Lloyd loop per SUBSPACE on slices
  of the vectors; per round only k×(dim/m) floats reach the driver —
  identical discipline to operators.kmeans;
- encoding (``pq_encode``) is a map-side argmin against broadcast
  codebook literals: dim floats → m small ints, a ~(4·dim)/m× storage
  and shuffle reduction for every downstream consumer;
- search (``pq_adc_topk``) precomputes the query's m×k distance table
  ON THE DRIVER (m·k floats) and scores codes with pure
  ``element_at`` lookups + a fixed sum — whole-stage codegen over the
  compressed table, never touching the original vectors. Top-k via
  TakeOrderedAndProject (per-partition heaps, no global sort).

Training is deterministic by the same discipline as operators.kmeans
(init = first k vectors by id, fixed-point-quantized exact-integer
means, argmin ties → lowest code index), so a bounded Lloyd loop is
SQL-replayable — q_pq_adc_topk carries a full DuckDB oracle;
tests/test_pq.py additionally pins determinism, reconstruction-error
dominance over a degenerate codebook, and ADC↔exact agreement on
separated data.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Codebook = list[list[float]]  # k code vectors for one subspace

# fixed-point scale for exact-integer means — ONE source of truth shared
# with operators.kmeans (the vectors.py oracle CTEs hardcode the same
# 1e7 literal; changing it means changing them together)
from flink_template_spark.operators.kmeans import QUANT  # noqa: E402


def _subvec(vec_col: str, j: int, d: int):
    return F.slice(F.col(vec_col), j * d + 1, d)


def _sq_l2(sub, code: Column):
    """Squared L2 between a subvector Column and a code-vector Column,
    as a higher-order-function fold (zip_with + aggregate), same shape
    as functions.vector.dot.

    An earlier unrolled-codegen form (k·d explicit terms per argmin)
    paid several seconds of janino compile and ~1.5 MiB task binaries
    per stage — measured 9.2 s for a single sf0.1 pq_train round whose
    data is trivially small (BENCH r4's q_ann_index_build flag). The
    HOF fold keeps the identical left-to-right summation order
    (0.0 + t0 + t1 + … ≡ t0 + t1 + …: every term is a non-negative
    square, so the 0.0 seed is IEEE-exact) and therefore stays
    bit-identical to the DuckDB oracle replay (_pq_sqdist_sql's
    list_sum/list_transform fold).

    diff*diff, not diff**2: plain multiplication is the same IEEE
    operation in every engine, whereas pow() is libm-dependent."""
    return F.aggregate(
        F.zip_with(
            sub,
            code,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _lit_vec(code: list[float]):
    from flink_template_spark.functions.vector import lit_doubles

    return lit_doubles(code)


def _codes_arrow(codebooks: "list[Codebook]", vec_col: str):
    """All m nearest-code indices in ONE Arrow pass — the vectorized
    dual of m × k interpreted ``_sq_l2`` folds per row (optimization
    r13, guide §4.2; the corpus × broadcast-literal shape where the r12
    cosine kernels won). Bit-exact by the same construction as
    functions.vector.dot_arrow: each (row, code) distance accumulates
    dimension-by-dimension from 0.0 (acc += (x_i−c_i)·(x_i−c_i)) — the
    identical IEEE sequence as the left fold — and ``np.argmin`` takes
    the FIRST minimal index, matching array_position(array_min(...))'s
    lowest-index tie-break on bit-identical distances. Pinned by
    tests/test_r13_opt.py::test_pq_codes_arrow_bit_identical.

    Out-of-contract inputs reproduce the HOF form too (the pin test
    covers each shape): a NULL vector row → [NULL]×m (F.array of m
    NULL argmins); a subspace whose slice is short → NULL for THAT
    code only (zip_with pads → NULL fold); a longer-than-m·d vector
    ignores the tail (slice takes exactly d); NaN elements → code 0
    (all k distances NaN; Spark's array_min treats NaN=NaN and
    array_position finds the first — np.argmin and the per-row loop
    both land on index 0). ONE documented divergence: a NULL *element*
    inside a non-NULL vector reaches the worker as NaN (Arrow's
    array<double> deserialization erases the distinction), so it codes
    as 0 where the HOF fold yields NULL — same NaN↔NULL boundary the
    cosine kernels document; the curated embedding tables carry no
    NULL elements. Ragged batches fall off the vectorized path onto
    the exact per-row loop.

    The codebooks must be finite (ValueError otherwise): a NaN code
    entry would make only SOME of a subspace's k distances NaN, where
    np.argmin, the per-row loop's strict < and array_min would each
    pick a different code."""
    import numpy as _np

    from pyspark.sql.functions import pandas_udf

    cbs = _np.array(codebooks, dtype=_np.float64)  # m × k × d
    if not _np.isfinite(cbs).all():
        raise ValueError("PQ codebooks must be finite (found NaN or Inf)")
    m, k, d = cbs.shape

    def _row_codes(row) -> list:
        # scalar replay of F.array(_argmin_code(slice_j)) per row for
        # ragged batches (elements arrive as float64/NaN — see the
        # NULL-element boundary note above)
        out = []
        for j in range(m):
            sub = row[j * d : (j + 1) * d]
            if len(sub) < d:
                out.append(None)  # zip_with NULL-pad → NULL fold → NULL
                continue
            best_c, best_dist = 0, None
            for c in range(k):
                acc = 0.0
                for i in range(d):
                    t = float(sub[i]) - cbs[j, c, i]
                    acc += t * t
                # strict < keeps the FIRST minimum; an all-NaN column
                # (NaN input dim) keeps c=0, matching array_min's
                # NaN=NaN + array_position first-match
                if best_dist is None or acc < best_dist:
                    best_c, best_dist = c, acc
            out.append(best_c)
        return out

    @pandas_udf("array<int>")
    def fn(v: pd.Series) -> pd.Series:
        n = len(v)
        out = [[None] * m] * n  # NULL row → array of m NULL codes
        idx = _np.flatnonzero(v.notna().to_numpy())
        if len(idx):
            try:
                V = _np.array(v.iloc[idx].tolist(), dtype=_np.float64)
                if V.ndim != 2 or V.shape[1] != m * d:
                    raise ValueError
            except (ValueError, TypeError):
                vv = v.tolist()
                for i in idx:
                    out[i] = _row_codes(vv[i])
                return pd.Series(out, dtype=object)
            nrow = len(idx)
            codes = _np.empty((nrow, m), dtype=_np.int64)
            for j in range(m):
                sub = V[:, j * d : (j + 1) * d]
                dists = _np.empty((nrow, k))
                for c in range(k):
                    acc = _np.zeros(nrow)
                    for i in range(d):
                        t = sub[:, i] - cbs[j, c, i]
                        acc += t * t
                    dists[:, c] = acc
                codes[:, j] = _np.argmin(dists, axis=1)
            for p, i in enumerate(idx):
                out[i] = [int(x) for x in codes[p]]
        return pd.Series(out, dtype=object)

    return fn(vec_col)


def _argmin_code(sub, codebook: Codebook):
    """Index (0-based) of the nearest code; ties → lowest index.

    The codebook enters the plan as ONE array<array<double>> literal
    scanned with ``transform`` — literals are DATA the generated code
    references, so the compiled class is identical for every codebook,
    subspace, and k (janino cache hit), where the earlier per-code
    unrolled expressions compiled a fresh multi-hundred-term class per
    stage (~1.5 MiB task binaries, seconds of compile each — the
    BENCH r4 q_ann_index_build flag). This is also the only form whose
    plan size survives real-world k=256 codebooks."""
    table = F.array(*[_lit_vec(c) for c in codebook])
    dists = F.transform(table, lambda cb: _sq_l2(sub, cb))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[Codebook]:
    """L2 Lloyd loop over ALL subspaces at once — one Spark job per
    round (assign codes for every subspace in a single projection, one
    (subspace, code, dim) mean aggregation), not one per subspace.
    Deterministic: init = first k vectors by id; means via fixed-point
    quantization (×1e7 → exact bigint sums, identical in any partition
    order — same discipline as operators.kmeans); an empty cluster
    keeps its previous code vector."""
    # one bounded collect serves both the k init vectors AND the dim
    # probe (an earlier separate .first() job was pure fixed overhead)
    init_rows = vectors.orderBy(id_col).limit(k).select(vec_col).collect()
    if len(init_rows) < k:
        # catching this late (codebooks[j][c] rebuild indexing) gives an
        # IndexError far from the cause
        raise ValueError(
            f"pq_train needs at least k={k} vectors for the init"
            f" (got {len(init_rows)})"
        )
    dim = len(init_rows[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    codebooks: list[Codebook] = [
        [
            [float(x) for x in row[vec_col][j * d : (j + 1) * d]]
            for row in init_rows
        ]
        for j in range(m)
    ]
    for _ in range(n_iter):
        # Arrow codes kernel (bit-identical argmins, see _codes_arrow):
        # the m×k interpreted _sq_l2 folds per row were the round job's
        # dominant cost (isolated at sf0.1: 1.4 s of the 1.5 s round)
        code_arr = _codes_arrow(codebooks, vec_col)
        ex = vectors.select(
            code_arr.alias("codes"), F.posexplode(vec_col).alias("gp", "x")
        )
        j_col = (F.col("gp") / d).cast("int")
        means = (
            ex.select(
                j_col.alias("j"),
                F.element_at("codes", j_col + 1).alias("code"),
                (F.col("gp") % d).alias("pos"),
                F.round(F.col("x").cast("double") * QUANT, 0)
                .cast("bigint")
                .alias("q"),
            )
            .groupBy("j", "code", "pos")
            .agg(
                (
                    F.sum("q").cast("double")
                    / (F.lit(QUANT) * F.count(F.lit(1)))
                ).alias("mx")
            )
            .collect()
        )
        by_jc: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            by_jc.setdefault((r.j, r.code), {})[r.pos] = float(r.mx)
        codebooks = [
            [
                [by_jc[(j, c)][p] for p in range(d)]
                if (j, c) in by_jc
                else codebooks[j][c]
                for c in range(k)
            ]
            for j in range(m)
        ]
    return codebooks


def pq_encode(
    vectors: DataFrame,
    codebooks: list[Codebook],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, codes[, keep_cols...]): m nearest-code indices per vector,
    map-side only. ``keep_cols`` rides extra input columns through —
    the ann_index build tags codes onto the rows BEFORE the IVF argmax
    so no (codes ⋈ assigned) shuffle join is needed (optimization
    r12). Codes come from the Arrow kernel (bit-identical argmins —
    see _codes_arrow; r13)."""
    codes = _codes_arrow(codebooks, vec_col)
    return vectors.select(
        F.col(id_col), codes.alias("codes"), *[F.col(c) for c in keep_cols]
    )


def pq_decode_expr(codebooks: list[Codebook]):
    """Reconstructed vector from a ``codes`` column (literal lookup)."""
    parts = []
    for j, cb in enumerate(codebooks):
        table = F.array(*[_lit_vec(code) for code in cb])
        parts.append(F.element_at(table, F.element_at("codes", j + 1) + 1))
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return out


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[Codebook],
    query: list[float],
    k_results: int = 10,
    id_col: str = "vec_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per-subspace distance
    tables from the raw query (driver-computed m×k floats, broadcast as
    literals), scored with element_at lookups — the compressed scan.

    With ``round_dp`` the score is rounded BEFORE the ordering (ties
    then break on id), making the result set engine-portable: the
    table entries are left-to-right folds of diff*diff, which the SQL
    oracle reproduces, and rounding absorbs the final cross-subspace
    sum's ulp."""
    d = len(codebooks[0][0])
    score = None
    for j, cb in enumerate(codebooks):
        q_sub = query[j * d : (j + 1) * d]
        table = F.array(
            *[
                F.lit(sum((qx - cx) * (qx - cx) for qx, cx in zip(q_sub, code)))
                for code in cb
            ]
        )
        term = F.element_at(table, F.element_at("codes", j + 1) + 1)
        score = term if score is None else score + term
    if round_dp is not None:
        score = F.round(score, round_dp)
    return (
        encoded.select(id_col, score.alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k_results)
    )
