"""Round-12 optimization-round tests: each optimization that changed an
operator's internals gets a differential pin against the original
implementation (results must be identical — the optimization contract).
"""

from __future__ import annotations

import datetime as dt
import random

import pytest


def _canon(rows):
    return sorted(
        (r["user_id"], r["ts"], None if r["value"] is None else round(r["value"], 9), r["filled"])
        for r in rows
    )


@pytest.mark.parametrize("freq", ["1h", "1D"])
def test_resample_vectorized_matches_grouped_map(spark, freq):
    """The partition-wise mapInPandas resample must reproduce the
    applyInPandas reference exactly: same grids, same last-per-bin
    values, same filled flags, same leading-row drops — including keys
    with null values, all-null keys, and multi-day gaps."""
    from flink_template_spark.operators.resample import (
        resample_ffill,
        resample_ffill_grouped,
    )

    rng = random.Random(12)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for uid in range(1, 9):
        n = rng.randint(1, 40)
        for _ in range(n):
            ts = base + dt.timedelta(minutes=rng.randint(0, 60 * 24 * 20))
            val = None if rng.random() < 0.3 else round(rng.uniform(-5, 5), 3)
            rows.append((uid, ts, val))
    # key 99: every value null -> grouped-map emits nothing for it
    rows.append((99, base + dt.timedelta(hours=3), None))
    rows.append((99, base + dt.timedelta(hours=9), None))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")

    fast = _canon(resample_ffill(df, freq=freq).collect())
    ref = _canon(resample_ffill_grouped(df, freq=freq).collect())
    assert fast == ref
    assert len(fast) > 0


def test_lit_doubles_bit_identical_to_per_element_lits(spark):
    """lit_doubles builds the array as ONE parsed SQL expression; the
    doubles that come out must be bit-for-bit the ones per-element
    F.lit would have produced — including values with no short decimal
    form (repr round-trip is the contract)."""
    import math
    import struct

    from pyspark.sql import functions as F

    from flink_template_spark.functions.vector import lit_doubles, lit_ints

    vals = [0.1, -1 / 3, 2**-30, 1e300, -0.0, 123456.789012345678, math.pi]
    row = (
        spark.range(1)
        .select(
            lit_doubles(vals).alias("fast"),
            F.array(*[F.lit(float(v)) for v in vals]).alias("ref"),
        )
        .first()
    )
    bits = lambda xs: [struct.pack("<d", x) for x in xs]
    assert bits(row["fast"]) == bits(row["ref"])

    ivals = [0, -5, 2**31 - 1, -(2**31), 7]
    irow = (
        spark.range(1)
        .select(
            lit_ints(ivals).alias("fast"),
            F.array(*[F.lit(int(v)) for v in ivals]).alias("ref"),
        )
        .first()
    )
    assert list(irow["fast"]) == list(irow["ref"])

    with pytest.raises(ValueError):
        lit_doubles([1.0, float("nan")])
    with pytest.raises(ValueError):
        lit_doubles([float("inf")])


def test_cosine_lit_spark_matches_column_builder(spark):
    """The single-string cosine (cosine_lit_spark) must evaluate to the
    exact doubles of the Column-builder cosine against the same literal
    centroid — same zip_with/aggregate fold, same operand order."""
    import random
    import struct

    from pyspark.sql import functions as F

    from flink_template_spark.functions.vector import cosine, cosine_lit_spark, lit_doubles

    rng = random.Random(7)
    cvec = [round(rng.uniform(-1, 1), 6) for _ in range(16)]
    rows = [
        ([round(rng.uniform(-2, 2), 6) for _ in range(16)],) for _ in range(50)
    ]
    df = spark.createDataFrame(rows, "embedding array<double>")
    out = df.select(
        F.expr(cosine_lit_spark("embedding", cvec)).alias("fast"),
        cosine(F.col("embedding"), lit_doubles(cvec)).alias("ref"),
    ).collect()
    for r in out:
        assert struct.pack("<d", r["fast"]) == struct.pack("<d", r["ref"])


def test_plane_weights_literals_match_jvm_lcg(spark):
    """_plane_weights inlines the LCG hyperplane weights as Python
    floats; they must be bit-identical to the JVM _plane_weight
    computation for every (plane, dim) the LSH queries use, and the
    zip_with _plane_dot must reproduce the historical transform-based
    fold exactly on full-width vectors."""
    import random
    import struct

    from pyspark.sql import functions as F

    from flink_template_spark.operators.similarity import (
        PLANE_STRIDE,
        _plane_dot,
        _plane_weight,
        _plane_weights,
    )

    # element-level: JVM LCG vs Python literal, all dims of planes 0..15
    idx = spark.range(PLANE_STRIDE).select(F.col("id").cast("bigint").alias("i"))
    for j in (0, 1, 7, 15):
        jvm = [
            r["w"]
            for r in idx.select(F.col("i"), _plane_weight(F.col("i"), j).alias("w"))
            .orderBy("i")
            .collect()
        ]
        lit = _plane_weights(j)
        assert [struct.pack("<d", x) for x in jvm] == [
            struct.pack("<d", x) for x in lit
        ]

    # fold-level: zip_with literal-array form vs the historical
    # transform(vec, (x, i) -> x * lcg_weight(i, j)) construction
    rng = random.Random(3)
    rows = [
        ([round(rng.uniform(-1, 1), 6) for _ in range(PLANE_STRIDE)],)
        for _ in range(30)
    ]
    df = spark.createDataFrame(rows, "embedding array<float>")
    def _old_plane_dot(vec, j):
        return F.round(
            F.aggregate(
                F.transform(vec, lambda x, i: x.cast("double") * _plane_weight(i, j)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )

    for j in (0, 5):
        old = _old_plane_dot(F.col("embedding"), j)
        out = df.select(
            _plane_dot(F.col("embedding"), j).alias("fast"), old.alias("ref")
        ).collect()
        for r in out:
            assert struct.pack("<d", r["fast"]) == struct.pack("<d", r["ref"])


def test_coreset_pair_sims_factored_norms_match_cosine(spark):
    """pair_sims_q now computes each vector's norm once before the
    cross join and scores pairs as dot/(na*nb); the quantized sim_q
    must equal the original per-pair cosine() expression exactly."""
    import random

    from pyspark.sql import functions as F

    from flink_template_spark.functions.vector import cosine
    from flink_template_spark.operators.coreset import pair_sims_q

    rng = random.Random(11)
    rows = [
        (i, [round(rng.uniform(-1, 1), 6) for _ in range(8)]) for i in range(25)
    ]
    # degenerate rows the valid_vec guard must drop in both forms
    rows += [(100, [0.0] * 8), (101, [float("nan")] * 8)]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")

    fast = {
        (r["d"], r["c"]): r["sim_q"]
        for r in pair_sims_q(df, id_col="doc_id").collect()
    }

    from flink_template_spark.functions.vector import valid_vec

    u = df.filter(valid_vec(F.col("embedding")))
    a = u.select(F.col("doc_id").alias("d"), F.col("embedding").alias("va"))
    b = u.select(F.col("doc_id").alias("c"), F.col("embedding").alias("vb"))
    ref = {
        (r["d"], r["c"]): r["sim_q"]
        for r in a.crossJoin(b)
        .select(
            "d",
            "c",
            F.round(cosine(F.col("va"), F.col("vb")) * 1_000_000.0, 0)
            .cast("bigint")
            .alias("sim_q"),
        )
        .collect()
    }
    assert fast == ref
    assert (100, 100) not in fast and (101, 101) not in fast


def test_simhash_one_agg_matches_count_weighted(spark):
    """simhash_signatures now folds ±1 per token INSTANCE in a single
    id-keyed aggregation; the dropped groupBy(id, token) pre-count must
    be semantically free: Σ_instances sign == Σ_tokens cnt·sign. Pin
    the one-agg form against the count-weighted reference on a corpus
    with heavy token repetition (where the two differ if the identity
    is wrong) at both 32 and 60 signature widths."""
    import random

    from pyspark.sql import functions as F

    from flink_template_spark.functions.hashing import md5int_spark
    from flink_template_spark.operators.dedup import simhash_signatures

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 80))))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for bits in (32, 60):
        fast = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs, bits=bits).collect()}
        # the pre-r12 formulation, inline: count distinct (id, token),
        # then count-weighted bit sums
        counted = (
            docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("h", F.expr(md5int_spark("token", bits=bits)))
        )
        sums = counted.groupBy("doc_id").agg(
            *[
                F.sum(
                    F.expr(f"CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN cnt ELSE -cnt END")
                ).alias(f"s_{b}")
                for b in range(bits)
            ]
        )
        sig = None
        for b in range(bits):
            t = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            sig = t if sig is None else sig + t
        ref = {r["doc_id"]: r["sig"] for r in sums.select("doc_id", sig.alias("sig")).collect()}
        assert fast == ref
        assert len(fast) == 40


def test_repeated_passage_window_flag_matches_join(spark):
    """q_repeated_passages' dup flag now comes from a shingle-
    partitioned window COUNT; pin it against the groupBy+join
    reference on a corpus with cross-doc and within-doc repeats."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    passage = "a b c d e f g h i j k l m n o p q r s t u v"
    rows = [
        (1, passage + " x1 y1 z1 " + passage),   # within-doc repeat
        (2, passage + " tail only here"),         # cross-doc repeat
        (3, "entirely unique words q w e r t y"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n = 10
    tok = docs.select("doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "w"))
    wspec = W.partitionBy("doc_id").orderBy("pos0")
    leads = [F.lead("w", k).over(wspec).alias(f"w{k}") for k in range(1, n)]
    led = tok.select("doc_id", "pos0", "w", *leads)
    sh = led.filter(F.col(f"w{n-1}").isNotNull()).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.concat_ws(" ", "w", *[f"w{k}" for k in range(1, n)]).alias("shingle"),
    )
    fast = sh.select(
        "doc_id", "pos", (F.count(F.lit(1)).over(W.partitionBy("shingle")) >= 2).alias("dup")
    )
    counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("c"))
    ref = sh.join(counts, "shingle").select("doc_id", "pos", (F.col("c") >= 2).alias("dup"))
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, ref.collect()))
    # and the corpus really exercises both flag values
    vals = {r["dup"] for r in fast.collect()}
    assert vals == {True, False}


def test_rfm_single_rank_matches_three_ranks(spark, sf_dir):
    """q_rfm_segments now ranks the three metrics in ONE exploded
    two-pass global rank (rebase = (metric−1)·n). Pin the full query
    against the pre-r12 three-sequential-ranks formulation on the
    fixture — every segment row identical."""
    from pyspark.sql import functions as F

    from flink_template_spark import plans
    from flink_template_spark.operators.rank_global import with_global_ranks
    from flink_template_spark.tables import load_table

    out = plans.QUERIES["q_rfm_segments"](spark, sf_dir)
    fast = sorted(map(tuple, out.collect()))

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_dt"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
    )
    mx = cust.agg(F.max("last_dt").alias("maxd"))
    metrics = cust.crossJoin(F.broadcast(mx)).select(
        "c",
        F.datediff(F.col("maxd"), F.col("last_dt")).alias("rec_days"),
        "freq",
        "mon",
    )
    ranked = with_global_ranks(
        metrics, [(F.col("rec_days"), True)], tiebreak=["c"], row_number_col="rn_r"
    )
    ranked = with_global_ranks(
        ranked, [(F.col("freq"), True)], tiebreak=["c"], row_number_col="rn_f"
    )
    ranked = with_global_ranks(
        ranked, [(F.col("mon"), True)], tiebreak=["c"], row_number_col="rn_m"
    )
    n_tot = ranked.agg(F.count(F.lit(1)).alias("__n"))
    ref = sorted(
        map(
            tuple,
            ranked.crossJoin(F.broadcast(n_tot))
            .select(
                F.expr("(rn_r - 1) * 4L DIV __n + 1").alias("r_quartile"),
                F.expr("(rn_f - 1) * 4L DIV __n + 1").alias("f_quartile"),
                F.expr("(rn_m - 1) * 4L DIV __n + 1").alias("m_quartile"),
                "mon",
            )
            .groupBy("r_quartile", "f_quartile", "m_quartile")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                F.sum("mon").cast("double").alias("sum_monetary"),
            )
            .collect(),
        )
    )
    assert fast == ref
    assert len(fast) > 10


def test_minhash_estimate_error_pinned_matches_blackbox(spark, sf_dir):
    """q_minhash_estimate_error now derives candidates / exact Jaccard /
    both signature sides from ONE pinned signature pipeline and ONE
    pinned shingle table. Pin the full query against the pre-r12
    black-box composition (minhash_lsh_pairs + ngram_jaccard_pairs +
    minhash_signatures×2) — every decile row identical."""
    from pyspark.sql import functions as F

    from flink_template_spark import plans
    from flink_template_spark.functions.hashing import NUM_HASHES as _NH
    from flink_template_spark.operators.dedup import (
        minhash_lsh_pairs as _lsh,
        minhash_signatures as _sigs,
        ngram_jaccard_pairs as _exact,
    )
    from flink_template_spark.tables import load_table

    fast = sorted(
        map(tuple, plans.QUERIES["q_minhash_estimate_error"](spark, sf_dir).collect())
    )

    docs = load_table(spark, sf_dir, "documents")
    cands = _lsh(docs).select("id_a", "id_b")
    exact = _exact(docs, threshold=0.0).select("id_a", "id_b", "jaccard")
    sa = _sigs(docs).select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(_NH)],
    )
    sb = _sigs(docs).select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(_NH)],
    )
    agree = sum((F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(_NH))
    scored = (
        cands.join(exact, ["id_a", "id_b"], "left")
        .withColumn("exact_j", F.coalesce("jaccard", F.lit(0.0)))
        .join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_j", agree.cast("double") / F.lit(float(_NH)))
    )
    dec = lambda c: F.round(c, 8).cast("decimal(12,8)")  # noqa: E731
    n = F.count(F.lit(1))
    ref = sorted(
        map(
            tuple,
            scored.groupBy(
                F.least(F.floor(F.col("exact_j") * 10).cast("bigint"), F.lit(9)).alias(
                    "j_decile"
                )
            )
            .agg(
                n.cast("bigint").alias("n_pairs"),
                F.round(
                    F.sum(dec(F.col("exact_j"))).cast("double") / n.cast("double"), 6
                ).alias("mean_exact"),
                F.round(
                    F.sum(dec(F.col("est_j"))).cast("double") / n.cast("double"), 6
                ).alias("mean_est"),
                F.round(
                    F.sum(dec(F.abs(F.col("est_j") - F.col("exact_j")))).cast("double")
                    / n.cast("double"),
                    6,
                ).alias("mean_abs_err"),
            )
            .collect(),
        )
    )
    assert fast == ref
    assert len(fast) > 0


def _bits(x):
    import struct

    return None if x is None else struct.pack("<d", x)


def test_arrow_fold_kernels_bit_identical_to_hof(spark, sf_dir):
    """cosine_arrow / dot_arrow / plane_dots_arrow must reproduce the
    interpreted HOF folds BIT-FOR-BIT (raw doubles, before any
    rounding) — the contract that lets every oracle which replays the
    fold in SQL keep hash-matching after the Arrow swap. Exercised on
    the real fixture (embeddings x shifted embeddings) plus adversarial
    synthetic rows: NaN/Inf elements, subnormals, a whole-NULL vector,
    and a width-mismatched pair (zip_with pad semantics -> NULL)."""
    from pyspark.sql import functions as F

    from flink_template_spark.functions.vector import (
        cosine,
        cosine_arrow,
        dot,
        dot_arrow,
        plane_dots_arrow,
    )
    from flink_template_spark.operators.similarity import _plane_weights
    from flink_template_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(
        (F.col("vec_id") + 7).alias("ib"), F.col("embedding").alias("vb")
    )
    pairs = a.join(b, F.col("ia") == F.col("ib")).select(
        dot(F.col("va"), F.col("vb")).alias("d_hof"),
        dot_arrow(F.col("va"), F.col("vb")).alias("d_arrow"),
        cosine(F.col("va"), F.col("vb")).alias("c_hof"),
        cosine_arrow(F.col("va"), F.col("vb")).alias("c_arrow"),
    )
    rows = pairs.collect()
    assert len(rows) > 0
    for r in rows:
        assert _bits(r.d_hof) == _bits(r.d_arrow)
        assert _bits(r.c_hof) == _bits(r.c_arrow)

    # adversarial synthetic: NaN, Inf, subnormal, huge, NULL row,
    # width mismatch (3 vs 4)
    sub = 1.5e-300
    data = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, [float("nan"), 1.0, 2.0], [1.0, 1.0, 1.0]),
        (3, [float("inf"), 1.0, 2.0], [1.0, -1.0, 0.5]),
        (4, [sub, sub, sub], [sub, sub, sub]),
        (5, [1e155, 1.0, 0.0], [1e155, 2.0, 0.0]),
        (6, None, [1.0, 2.0, 3.0]),
        (7, [1.0, 2.0, 3.0], [1.0, 2.0, 3.0, 4.0]),
        (8, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
    ]
    df = spark.createDataFrame(
        data, "id long, va array<double>, vb array<double>"
    )
    out = df.select(
        "id",
        dot(F.col("va"), F.col("vb")).alias("d_hof"),
        dot_arrow(F.col("va"), F.col("vb")).alias("d_arrow"),
    ).collect()
    import math

    for r in out:
        if r.d_hof is not None and math.isnan(r.d_hof):
            # documented boundary semantics: a NaN result cannot cross
            # the pandas_udf return path (Arrow maps NaN -> NULL);
            # unreachable behind valid_vec, pinned here explicitly
            assert r.d_arrow is None, f"NaN mapping broke id={r.id}"
        else:
            assert _bits(r.d_hof) == _bits(r.d_arrow), f"dot mismatch id={r.id}"
    # cosine: zero-norm rows (ids 4 subnormal-underflow, 8 exact zero)
    # make the HOF division an ANSI DIVIDE_BY_ZERO abort — the region
    # valid_vec() excludes by contract at every call site; compare the
    # rest under the same NaN->NULL boundary rule
    cos_df = df.filter(~F.col("id").isin(4, 8)).select(
        "id",
        cosine(F.col("va"), F.col("vb")).alias("c_hof"),
        cosine_arrow(F.col("va"), F.col("vb")).alias("c_arrow"),
    ).collect()
    for r in cos_df:
        if r.c_hof is not None and math.isnan(r.c_hof):
            assert r.c_arrow is None, f"NaN mapping broke id={r.id}"
        else:
            assert _bits(r.c_hof) == _bits(r.c_arrow), f"cos mismatch id={r.id}"

    # plane dots: all 32 LSH planes in one Arrow pass vs the 32
    # unrounded HOF folds, compared bit-for-bit in ONE collect.
    # (_plane_dot itself rounds to 6 dp in-plan via F.round — BigDecimal
    # HALF_UP, not reproducible in numpy — so the contract is pinned on
    # the RAW folds, which is what plane_dots_arrow replaces.)
    from flink_template_spark.functions.vector import lit_doubles

    weights = [_plane_weights(j) for j in range(32)]

    def raw_hof(j: int):
        return F.aggregate(
            F.zip_with(
                F.col("embedding"),
                lit_doubles(weights[j]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    wide = emb.select(
        "vec_id",
        plane_dots_arrow(F.col("embedding"), weights).alias("pd"),
        *[raw_hof(j).alias(f"h_{j}") for j in range(32)],
    ).collect()
    assert len(wide) > 0
    for r in wide:
        for j in range(32):
            assert _bits(r[f"h_{j}"]) == _bits(r.pd[j]), (
                f"plane {j} mismatch vec_id={r.vec_id}"
            )


def test_global_rank_prefix_matches_full_rank(spark, sf_dir):
    """q_global_rank_scalable's TakeOrdered(500)+bounded-window form
    must emit exactly the rows the full-table range-partitioned rank
    produced (the prefix property: every rank function over a prefix of
    a total order depends only on rows inside the prefix)."""
    from pyspark.sql import functions as F

    from flink_template_spark import plans
    from flink_template_spark.operators.rank_global import with_global_ranks
    from flink_template_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("qty"),
    )
    ref = (
        with_global_ranks(
            li,
            [(F.col("qty"), False)],
            tiebreak=["l_orderkey", "l_linenumber"],
            row_number_col="rn",
            rank_col="rnk",
            dense_rank_col="drnk",
        )
        .filter(F.col("rn") <= 500)
        .select("l_orderkey", "l_linenumber", "qty", "rn", "rnk", "drnk")
        .orderBy("rn")
        .collect()
    )
    got = plans.QUERIES["q_global_rank_scalable"](spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_bpe_pair_counts_zipwith_matches_window_lead(spark):
    """_pair_counts' map-side zip_with-over-slices form must produce the
    identical weighted pair-count table as the posexplode + word-keyed
    lead-window formulation it replaced — including single-symbol words
    (no pairs) and repeated symbols (run pairs counted per position)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from flink_template_spark.operators.bpe import _pair_counts, _symbolize

    words = spark.createDataFrame(
        [
            ("low", 5),
            ("lower", 2),
            ("newest", 6),
            ("widest", 3),
            ("aaaa", 4),   # run pairs: (a,a) x3 positions
            ("x", 7),      # single char + </w>: exactly one pair
        ],
        "word string, cnt long",
    )
    vocab = _symbolize(words)
    got = {
        (r.a, r.b): r.pair_cnt for r in _pair_counts(vocab).collect()
    }
    ex = vocab.select("word", "cnt", F.posexplode("syms").alias("pos", "sym"))
    w = W.partitionBy("word").orderBy("pos")
    ref_df = (
        ex.select(
            "cnt",
            F.col("sym").alias("a"),
            F.lead("sym", 1).over(w).alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.sum("cnt").alias("pair_cnt"))
    )
    ref = {(r.a, r.b): r.pair_cnt for r in ref_df.collect()}
    assert got == ref
    assert got[("a", "a")] == 4 * 3  # run-pair positions, weighted


def test_ann_index_fused_build_matches_joined_build(spark, sf_dir):
    """The fused index build (codes tagged before the IVF argmax, no
    vec_id join) must produce the identical (vec_id, codes, cluster)
    table as the join formulation it replaced."""
    from flink_template_spark.operators.pq import pq_encode, pq_train
    from flink_template_spark.operators.similarity import _spread, ivf_assign
    from flink_template_spark.plans.vectors import N_CENTROIDS
    from flink_template_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    emb_r = _spread(emb)
    codebooks = pq_train(emb_r, m=4, k=4, n_iter=1)
    fused = (
        ivf_assign(
            pq_encode(emb_r, codebooks, keep_cols=("embedding",)),
            centroids,
            keep_cols=("codes",),
        )
        .select("vec_id", "codes", "cluster")
        .collect()
    )
    joined = (
        pq_encode(emb_r, codebooks)
        .join(ivf_assign(emb_r, centroids).select("vec_id", "cluster"), "vec_id")
        .select("vec_id", "codes", "cluster")
        .collect()
    )
    key = lambda r: (r.vec_id, tuple(r.codes), r.cluster)
    assert sorted(map(key, fused)) == sorted(map(key, joined))


def test_bench_steal_share_synthetic():
    """The steal share bench.py records (perfbench.probes.CpuSample):
    hypervisor steal over a window's total jiffies, 0.0 on a window with
    no elapsed time."""
    from perfbench.probes import CpuSample

    before = CpuSample(1000, 10, 0.0)
    assert before.steal_share_until(CpuSample(2000, 110, 0.0)) == 0.1
    assert before.steal_share_until(CpuSample(2000, 10, 0.0)) == 0.0
    assert before.steal_share_until(CpuSample(1000, 10, 0.0)) == 0.0
    # live read: integer jiffies from /proc/stat plus the 1-min load
    p = CpuSample.now()
    assert isinstance(p.total, int) and isinstance(p.steal, int)
    assert p.total >= p.steal >= 0 and p.load1 >= 0.0
