"""Deduplication operators over a document corpus.

Four tiers, all shuffle-disciplined for 100 TB corpora:

- exact: hash-groupBy on the full text (one shuffle on text hash);
- minhash + LSH: shingle → 16 portable min-hashes → 4 bands → bucket
  join; candidate pairs only ever materialize within a bucket, never the
  O(n²) cross product;
- simhash: 32-bit weighted-bit fingerprint (one shuffle, exact-match
  clustering on the signature);
- n-gram Jaccard: shared-shingle equi-join baseline (the verifier for
  the sketches at small scale; at 100 TB you run minhash-lsh first and
  Jaccard only on its candidates).

All hashing uses the portable md5-based primitive in
``functions.hashing`` so every operator here is DuckDB-oracle-checkable.
No Python UDFs — everything is Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from flink_template_spark.functions.hashing import (
    LSH_BANDS,
    NUM_HASHES,
    ROWS_PER_BAND,
    md5int_spark,
    minhash_expr,
)


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: keeper id, copy count."""
    return docs.groupBy(text_col).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to the session's parallelism before CPU-heavy
    per-row work (shingle hashing, vector math). The testdata tables
    are single parquet files → one input split → the expressions would
    otherwise run on one core. At lake scale inputs have many splits
    and this collapses into AQE's normal coalescing (a key-free
    round-robin shuffle of the raw rows is negligible next to the
    per-row work)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def ngram_rows(
    df: DataFrame, toks: Column, n: int, *cols: str, tails: bool = False
) -> DataFrame:
    """(cols..., pos, g) rows: ``g = slice(toks, pos + 1, n)`` for every
    0-based start index ``pos`` of the array ``toks``. The one n-gram
    builder: every word, symbol and character n-gram in the engine
    comes from it.

    One explode of ``sequence(0, size - n)`` and one codegen ``slice``
    per start: no window (the old posexplode + ``lead`` form paid an
    id-keyed exchange and a per-doc sort to look n-1 positions ahead
    in an array it already had), no ``arrays_zip`` of n slice copies
    and no lambda. Complete-gram callers ``array_join`` the slice.

    ``tails=True`` starts a gram at EVERY position, so the last n-1
    grams are shorter than n: the up-to-n window that callers needing
    tail positions (1/2/3-grams of one pass, skip-gram offsets) read
    slot by slot with ``F.get``, which is NULL past the end where
    ``g[k]`` would raise under ANSI.

    Arrays too short for a first gram are filtered BEFORE the generate:
    ``sequence(0, -1)`` counts down to ``[0, -1]`` instead of being
    empty. A NULL array has no size, so NULL text yields no rows."""
    k = 1 if tails else n
    arr = df.select(*cols, toks.alias("__toks")).filter(F.size("__toks") >= k)
    starts = arr.select(
        *cols,
        "__toks",
        F.explode(F.sequence(F.lit(0), F.size("__toks") - k)).alias("pos"),
    )
    return starts.select(
        *cols, "pos", F.slice("__toks", F.col("pos") + 1, F.lit(n)).alias("g")
    )


def shingle_rows(
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
    extra_cols: list[str] | None = None,
    keep_pos: bool = False,
) -> DataFrame:
    """Exploded (id, shingle) word n-gram rows, built map-side by
    ``ngram_rows`` over the single-space token split: each shingle is
    its n-token slice joined by one space, ``pos`` its 0-based first
    token. A doc with fewer than n tokens yields no rows.

    ``distinct=True`` clusters the rows by id before the distinct (an
    explicit id repartition that the dedup aggregation and every
    downstream id-keyed window/agg reuse): consumers that branch the
    shingle set several ways, like the prefix-filter family, would
    otherwise each re-pay that clustering. ``distinct=False``
    consumers aggregate immediately (minhash min, winnowing's
    min-by-window, which re-keys anyway), so they get the fully
    map-side form with no pre-shuffle.
    """
    keep = [id_col, *(extra_cols or [])]
    pos_cols = ["pos"] if keep_pos else []
    grams = ngram_rows(docs, F.split(F.col(text_col), " "), n, *keep)
    out = grams.select(
        *keep, *pos_cols, F.array_join("g", " ").alias("shingle")
    )
    return out.repartition(id_col).distinct() if distinct else out


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc MinHash signature columns mh_0..mh_{k-1}.

    Explode + grouped min, deliberately: a row-local
    ``array_min(transform(...))`` formulation avoids the shuffle but
    measured 2-4× SLOWER — Spark evaluates lambda higher-order
    functions interpreted (no whole-stage codegen), while the
    explode+partial-agg pipeline stays fully codegen'd and the shuffle
    carries only (id, 16 partial mins) per doc.

    distinct=False, deliberately (optimization r13): MIN is
    duplicate-insensitive — min over shingle INSTANCES equals min over
    the distinct shingle set (the simhash one-agg identity applied to
    minhash) — so the distinct aggregation bought nothing semantically.
    With the map-side shingle build there is now NO exchange at all
    before the id-keyed min aggregation; md5 + the 16 h_i run per
    instance pre-shuffle and the one exchange ships 16 partial mins per
    doc per map partition. Differential pin:
    tests/test_r13_opt.py::test_minhash_instance_min_matches_distinct_min.

    Docs with fewer than 3 tokens have no shingles and drop out (they
    can't be near-duplicates by shingle overlap).
    """
    sh = shingle_rows(
        docs, 3, id_col=id_col, text_col=text_col, distinct=False
    ).withColumn("h", F.expr(md5int_spark("shingle")))
    aggs = [
        F.min(F.expr(minhash_expr(i, "h"))).alias(f"mh_{i}")
        for i in range(NUM_HASHES)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def signature_bands(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, band_key) rows of a ``minhash_signatures`` frame: each
    band's ROWS_PER_BAND signature values joined by "_" (the DuckDB
    oracles build the same string). One pass over the signatures: every
    band as (band, band_key) rows via posexplode — NOT one select per
    band unioned (that recomputes the whole shingle→signature pipeline
    once per band)."""
    band_keys = F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    F.col(f"mh_{b * ROWS_PER_BAND + r}").cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            )
            for b in range(LSH_BANDS)
        ]
    )
    return sigs.select(
        F.col(id_col), F.posexplode(band_keys).alias("band", "band_key")
    )


def minhash_band_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, band, band_key) rows — the LSH bucket index of a corpus.
    Persisted, this is the membership index streaming ingest dedups
    against (streaming.ingest_dedup)."""
    return signature_bands(minhash_signatures(docs, id_col, text_col), id_col)


def bucket_pairs(
    rows: DataFrame, bucket_cols: list[str], item: "str | F.Column"
) -> DataFrame:
    """(id_a, id_b): every unordered pair of distinct ``item`` values
    (a column name or expression, e.g. a struct) that share a bucket,
    emitted once per bucket they share, with id_a < id_b in
    ``sort_array`` order.

    The one within-bucket pair expansion of the text LSH paths. Items
    are collected per bucket, not self-joined: the input is scanned
    once, and the quadratic blow-up stays bounded by the largest bucket
    — the property that makes LSH sub-quadratic (and the one place a
    bucket-skew bound would go). The i<j combinations come from two
    chained codegen generators (posexplode, then explode of a
    Column-sliced suffix); the equivalent nested ``transform`` lambda
    expansion runs interpreted and measured ~4× slower at sf0.1."""
    buckets = rows.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_set(item)).alias("ids")
    )
    lhs = buckets.filter(F.size("ids") > 1).select(
        F.posexplode("ids").alias("i", "id_a"), "ids"
    )
    return lhs.select(
        "id_a",
        F.explode(
            F.slice("ids", F.col("i") + F.lit(2), F.size("ids"))
        ).alias("id_b"),
    )


def minhash_lsh_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, n_shared_bands ≥ 1).

    Banding: signature split into LSH_BANDS bands of ROWS_PER_BAND; docs
    sharing any full band land in the same bucket, and pairs are only
    ever expanded within a (band, band_key) bucket (:func:`bucket_pairs`)
    — this is what keeps it sub-quadratic at scale.
    """
    bands = minhash_band_index(docs, id_col, text_col)
    pairs = bucket_pairs(bands, ["band", "band_key"], id_col)
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )


def minhash_dedup_increment(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Batch-incremental near-dup: dedup NEW documents against an
    EXISTING corpus's persisted LSH band index without touching the
    corpus text.

    ``corpus_index`` is ``minhash_band_index`` output (id, band,
    band_key) — in a lakehouse this is a parquet table maintained
    across snapshots, so each increment hashes only the new documents
    and joins ~|new| band rows against the index (band, band_key) keys.
    Returns one row per new doc: (id, is_dup, matched_corpus_id) where
    matched_corpus_id is the smallest corpus id sharing any band (null
    when none). Docs with fewer than 3 tokens have no shingles and
    cannot be near-dups — they come back is_dup = false.
    """
    idx = corpus_index.select(
        F.col("band"), F.col("band_key"), F.col(id_col).alias("__corpus_id")
    )
    new_bands = minhash_band_index(new_docs, id_col, text_col)
    matched = (
        new_bands.join(idx, ["band", "band_key"], "left")
        .groupBy(id_col)
        .agg(F.min("__corpus_id").alias("matched_corpus_id"))
    )
    return (
        new_docs.select(id_col)
        .distinct()
        .join(matched, id_col, "left")
        .select(
            F.col(id_col),
            F.col("matched_corpus_id").isNotNull().alias("is_dup"),
            "matched_corpus_id",
        )
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """``bits``-bit SimHash over whitespace tokens weighted by frequency.

    The token hash is widened to ``bits`` (md5 prefix, ≤60) so every
    signature bit carries entropy — with a fixed 32-bit hash, any
    ``bits`` > 32 would make the upper bit-sums constant. Wider
    signatures exist for banding at scale: band-key width = bits /
    n_bands decides the bucket count (see simhash_hamming_pairs).

    One aggregation, not two: the per-bit sum over token INSTANCES
    (±1 each) equals the count-weighted sum over DISTINCT (id, token)
    pairs — Σ_instances sign == Σ_tokens cnt·sign (the simhash_scalar
    identity), so the old groupBy(id, token).count() pre-pass bought
    nothing semantically and cost a FULL extra exchange of the distinct
    token pairs. Hashing now runs per instance (map-side, pre-shuffle);
    the single id-keyed aggregation ships only 32 partial sums per doc
    per map partition. Measured at sf0.1: signature stage 0.88 → 0.64 s
    (−27%), plan 2 Exchanges → 1, rows identical (r12 opt round)."""
    tok = _spread(docs).select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    hashed = tok.withColumn("h", F.expr(md5int_spark("token", bits=bits)))
    bit_sums = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END")
            ).alias(f"s_{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return bit_sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_scalar(text_col: str = "text", bits: int = 32):
    """Expression-only SimHash: the same 32-bit signature as
    ``simhash_signatures`` computed PER ROW with higher-order functions
    — no explode, no groupBy, no shuffle.

    Identity with the grouped version: iterating token INSTANCES and
    adding ±1 per bit equals the count-weighted sum over DISTINCT
    tokens (Σ_instances sign == Σ_tokens cnt·sign). Interpreted HOF
    lambdas are slower per byte than the codegen'd explode+partial-agg
    pipeline (see minhash_signatures), so batch dedup keeps the grouped
    form; this scalar form exists for places where a shuffle is
    impossible or wrong — pre-watermark streaming projections
    (streaming.windows.dedup_near_stream) and inline per-row
    fingerprinting."""
    h = md5int_spark("t", bits=bits)
    bitsums = (
        f"aggregate(transform(split({text_col}, ' '), t -> {h}), "
        f"array_repeat(CAST(0 AS BIGINT), {bits}), "
        f"(acc, hv) -> zip_with(acc, sequence(0, {bits - 1}), "
        f"(a, b) -> a + CASE WHEN (shiftright(hv, b) & 1) = 1 THEN 1 ELSE -1 END))"
    )
    return F.expr(
        f"aggregate(zip_with({bitsums}, sequence(0, {bits - 1}), "
        f"(s, b) -> CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
        f"ELSE CAST(0 AS BIGINT) END), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Banded blocking, EXACT by pigeonhole: the ``bits``-bit signature is
    split into ``n_bands`` contiguous bands; a pair differing in at most
    ``max_hamming < n_bands`` bits must agree exactly on at least one
    band, so the per-(band, band_key) bucket join has 100% recall — the
    result is identical to the O(n²) all-pairs scan the oracle runs, but
    the join only ever materializes within-bucket candidates (the
    sub-quadratic property that survives at 100 TB). Verification is one
    JVM-side ``bit_count(xor)`` per candidate.
    """
    if max_hamming >= n_bands:
        raise ValueError("exactness needs max_hamming < n_bands (pigeonhole)")
    sigs = simhash_signatures(docs, id_col, text_col, bits)
    width = bits // n_bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ]
    )
    bands = sigs.select(
        F.col(id_col).alias("id"),
        F.col("simhash").alias("sig"),
        F.posexplode(band_arr).alias("band", "band_key"),
    )
    # struct items: the sigs ride the candidate row for verification
    pairs = bucket_pairs(bands, ["band", "band_key"], F.struct("id", "sig"))
    # score BEFORE dedup (optimization r13, guide §2.2 — shuffle fewer
    # bytes): hamming is a pure map-side bit_count over the sigs riding
    # the candidate row, and every duplicate of a pair carries identical
    # sigs, so filter-then-dropDuplicates emits the identical pair set
    # while the dedup exchange ships only the ≤ max_hamming survivors —
    # measured 2.8M candidate rows (8-bit band keys over the word-salad
    # corpus make big buckets) collapsing to the handful of matches
    # before the shuffle instead of after it (2.95 → see A/B table).
    return (
        pairs.select(
            F.col("id_a.id").alias("id_a"),
            F.col("id_b.id").alias("id_b"),
            F.bit_count(F.col("id_a.sig").bitwiseXOR(F.col("id_b.sig")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over distinct 3-word shingles for pairs sharing ≥1
    shingle; filtered to ``jaccard >= threshold``."""
    sh = shingle_rows(docs, 3, id_col=id_col, text_col=text_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    # pair intersection counts via within-shingle-bucket combinations
    # (single scan of the shingle pipeline; a self-join would compute the
    # shingling twice). Blow-up is bounded by the hottest shingle's doc
    # list — the same bound the join has.
    inter = (
        bucket_pairs(sh, ["shingle"], id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_from_inter(inter, sizes, id_col, threshold)


def _jaccard_from_inter(
    inter: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Shared verification tail: (id_a, id_b, n_inter) + per-doc
    shingle counts -> 6-dp-rounded Jaccard, filtered to >= threshold.
    One implementation so every blocking family (bucket combinations,
    sorted neighborhoods) inherits identical rounding/threshold
    semantics — the subset-of-brute-force property is definitional,
    not maintained by hand."""
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    t_num: int = 9,
    t_den: int = 20,
    n: int = 4,
) -> DataFrame:
    """Exact set-similarity join (Jaccard >= t_num/t_den over distinct
    word n-gram shingles) via PPJoin-style PREFIX FILTERING.

    ``ngram_jaccard_pairs`` buckets on EVERY shingle, so a shingle shared
    by d documents contributes d*(d-1)/2 candidate pairs — at 100 TB one
    boilerplate sentence ("all rights reserved ...") appearing in 10 M
    docs is a 5*10^13-pair bucket that no executor survives. Prefix
    filtering is the classic exact fix (Chaudhuri et al. ICDE'06 /
    Xiao et al. WWW'08): order every document's shingle set by GLOBAL
    document frequency ascending (rarest first, ties by shingle text),
    index only each document's first p = |S| - ceil(t*|S|) + 1 shingles,
    and join on those. Any pair with J(A,B) >= t must share at least one
    prefix shingle (pigeonhole on the common total order), so the
    candidate set is a strict superset of the answer — but hot
    boilerplate shingles sit at the END of the frequency order and never
    enter a prefix, exactly inverting the blow-up. Candidates are then
    verified exactly against the full shingle sets.

    All threshold math is INTEGER (t = t_num/t_den; ceil(t*s) =
    (t_num*s + t_den - 1) div t_den; final filter
    inter*t_den >= t_num*union) — no float boundary epsilon on either
    engine, so the DuckDB oracle matches bit-for-bit.

    Shuffle shape: one shuffle to count shingle document frequency, one
    hash-partition by doc for the per-doc frequency ordering (window),
    one equi-join on prefix shingle, one verify join on the (small)
    candidate set. No all-pairs stage anywhere.
    """
    sh = shingle_rows(docs, n, id_col=id_col, text_col=text_col)
    # global document frequency per shingle — the total order everything
    # below agrees on. Window count over the shingle partition, not
    # groupBy+self-join: one exchange on shingle instead of two plus a
    # join, and the downstream doc-keyed window reshuffles either way.
    ranked = (
        sh.withColumn(
            "dfreq", F.count(F.lit(1)).over(W.partitionBy("shingle"))
        )
        .withColumn(
            "pos",
            F.row_number().over(
                W.partitionBy(id_col).orderBy("dfreq", "shingle")
            ),
        )
        .withColumn("n_sh", F.count(F.lit(1)).over(W.partitionBy(id_col)))
    )
    # prefix length p = s - ceil(t*s) + 1, integer-exact (integral DIV,
    # not float division + cast — the docstring's invariant)
    ceil_ts = F.expr(f"({t_num} * n_sh + {t_den - 1}) DIV {t_den}")
    prefix = ranked.filter(F.col("pos") <= F.col("n_sh") - ceil_ts + F.lit(1))

    pa = prefix.select(
        F.col(id_col).alias("id_a"), "shingle", F.col("n_sh").alias("n_a")
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("n_sh").alias("n_b")
    )
    # candidate pairs: share >= 1 prefix shingle; the symmetric length
    # filter t*max <= min prunes pairs no verification could pass
    cands = (
        pa.join(pb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("n_a", "n_b") * F.lit(t_den)
            >= F.greatest("n_a", "n_b") * F.lit(t_num)
        )
        .select("id_a", "id_b")
        .distinct()
    )

    docsets = sh.groupBy(id_col).agg(
        F.collect_set("shingle").alias("shs"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    da = docsets.select(
        F.col(id_col).alias("id_a"),
        F.col("shs").alias("shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    db = docsets.select(
        F.col(id_col).alias("id_b"),
        F.col("shs").alias("shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        cands.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("n_inter", inter)
        .filter(F.col("n_inter") * F.lit(t_den) >= F.lit(t_num) * union)
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter").cast("double") / union.cast("double"), 6),
        )
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    window: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Multi-pass sorted-neighborhood blocking (Hernández-Stolfo
    merge/purge), the FIFTH blocking family next to exact / MinHash-LSH
    / SimHash bands / PPJoin prefixes: sort each block by a key, compare
    every row only to its ``window - 1`` successors, union candidates
    over two passes with different keys (text order, then
    reversed-word order — a prefix edit invisible to pass 1 is a
    suffix edit visible to pass 2), then verify candidates with exact
    shingle Jaccard.

    What this buys at 100 TB: a FIXED per-row candidate budget.
    Bucket-based blocking (LSH bands, shingle buckets) degrades when a
    hot bucket collects 10^6 rows (quadratic inside the bucket);
    sorted-neighborhood emits exactly window-1 candidates per row per
    pass no matter how skewed the data — the worst case is priced in.
    The trade is recall at sort-boundary edits, which extra passes
    with different keys repair. Each pass is one range-sort window per
    block (partitioned by ``block_col`` — no global single-partition
    sort), and verification joins only the ~2·(window-1)·n candidate
    rows against the shingle index.

    Output matches ngram_jaccard_pairs: (id_a, id_b, n_inter, jaccard
    rounded to 6 dp) at ``jaccard >= threshold`` — by construction a
    SUBSET of the exact all-pairs answer (verification is exact, so
    precision is 1; recall is what the passes bought).

    Neighbor generation runs on the GLOBAL (block, key, id) order via
    the two-pass range-partitioned rank (operators.rank_global), then
    an equi-join on rank+d — NOT a per-block window, which would
    funnel a whole language through one task when blocks are few and
    huge (the low-cardinality-partition-key variant of the
    single-partition-window pathology). Ranks are a pure function of
    the total order, independent of range-partition boundaries, so
    the candidate set — and the oracle — is the plain global-window
    lead set either way."""
    from flink_template_spark.operators.rank_global import with_global_ranks

    if window < 2:
        raise ValueError(f"window must be >= 2 (got {window})")
    rev_key = F.array_join(F.reverse(F.split(F.col(text_col), " ")), " ")
    passes = [F.col(text_col), rev_key]
    cands = None
    for key in passes:
        ranked = with_global_ranks(
            docs.select(F.col(id_col), F.col(block_col), key.alias("__key")),
            [(F.col(block_col), True), (F.col("__key"), True)],
            tiebreak=[id_col],
            row_number_col="__rn",
        ).select(id_col, block_col, "__rn")
        a = ranked.select(
            F.col(block_col).alias("__blk"),
            F.col(id_col).alias("__ida"),
            F.col("__rn").alias("__r"),
        )
        b = ranked.select(
            F.col(block_col).alias("__blk"),
            F.col(id_col).alias("__idb"),
            F.explode(
                F.array(*[F.col("__rn") - F.lit(d) for d in range(1, window)])
            ).alias("__r"),
        )
        # eqNullSafe on the block: a NULL block key is ITS OWN block in
        # both the old window semantics and the oracle's PARTITION BY
        # (a plain equi-join would silently drop NULL-block rows from
        # candidate generation)
        pair = a.join(
            b,
            a["__blk"].eqNullSafe(b["__blk"]) & (a["__r"] == b["__r"]),
        ).select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
        )
        cands = pair if cands is None else cands.unionAll(pair)
    cands = cands.filter(F.col("id_a") != F.col("id_b")).distinct()
    # the shingle subtree is consumed on BOTH verify joins; its id
    # repartition (distinct=True) is the plan's reuse point
    sh = shingle_rows(docs, 3, id_col=id_col, text_col=text_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cands.join(sh.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
        .join(
            sh.select(F.col(id_col).alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_from_inter(inter, sizes, id_col, threshold)


def containment_prefix_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    t_num: int = 4,
    t_den: int = 5,
    n: int = 4,
) -> DataFrame:
    """Exact ASYMMETRIC containment join: ordered pairs (a, b), a != b,
    with C(a -> b) = |S_a ∩ S_b| / |S_a| >= t_num/t_den over distinct
    word n-gram shingles — the sub-document-duplication detector that
    symmetric Jaccard structurally misses (a 50-shingle doc pasted into
    a 5000-shingle doc has J ≈ 0.01 but C = 1.0; quote farms, wrapper
    boilerplate, and excerpt spam all look exactly like this).

    Prefix filtering adapts to the asymmetry (Chaudhuri et al.
    ICDE'06 pigeonhole, applied one-sided): order shingles by global
    document frequency ascending (rarest first, ties by text — the
    same total order as jaccard_prefix_pairs); if C(a -> b) >= t then
    fewer than t*|S_a| of S_a's shingles are OUTSIDE the intersection,
    so among a's first p_a = |S_a| - ceil(t*|S_a|) + 1 shingles at
    least one lies in S_b. Candidates therefore come from a-PREFIX vs
    b-FULL-SET equi-join on shingle, with NO length filter on b (none
    is sound: b may be arbitrarily larger than a).

    Skew posture (softened per ADVICE r6): hot boilerplate shingles
    sort to the END of each doc's frequency order, so for a TYPICAL
    doc — one with at least a prefix-worth of rarer-than-boilerplate
    shingles — they never enter the prefix and the b-side's hot rows
    find no matching key. The guarantee is per-document, not global:
    a doc composed almost entirely of globally-hot shingles has no
    rarer shingles to fill its prefix, its prefix necessarily carries
    hot keys, and the join fans out by those shingles' document
    frequency (a performance cliff, never a correctness one — the
    verify filter is exact either way). If a corpus has many such
    boilerplate-only docs, cap the candidate fan-out with a document-
    frequency ceiling on prefix keys and route the (few) capped docs
    through the exact docset verify directly.

    All threshold math is INTEGER (ceil(t*s) = (t_num*s + t_den - 1)
    DIV t_den; verify filter n_inter * t_den >= t_num * n_a), so the
    DuckDB brute-force oracle matches bit-for-bit.
    """
    sh = shingle_rows(docs, n, id_col=id_col, text_col=text_col)
    ranked = (
        sh.withColumn(
            "dfreq", F.count(F.lit(1)).over(W.partitionBy("shingle"))
        )
        .withColumn(
            "pos",
            F.row_number().over(
                W.partitionBy(id_col).orderBy("dfreq", "shingle")
            ),
        )
        .withColumn("n_sh", F.count(F.lit(1)).over(W.partitionBy(id_col)))
    )
    ceil_ts = F.expr(f"({t_num} * n_sh + {t_den - 1}) DIV {t_den}")
    prefix = ranked.filter(F.col("pos") <= F.col("n_sh") - ceil_ts + F.lit(1))

    pa = prefix.select(F.col(id_col).alias("id_a"), "shingle")
    full_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    cands = (
        pa.join(full_b, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    docsets = sh.groupBy(id_col).agg(
        F.collect_set("shingle").alias("shs"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    da = docsets.select(
        F.col(id_col).alias("id_a"),
        F.col("shs").alias("shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    db = docsets.select(
        F.col(id_col).alias("id_b"), F.col("shs").alias("shs_b")
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    return (
        cands.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("n_inter", inter)
        .filter(F.col("n_inter") * F.lit(t_den) >= F.lit(t_num) * F.col("n_a"))
        .withColumn(
            "containment",
            F.round(
                F.col("n_inter").cast("double") / F.col("n_a").cast("double"),
                6,
            ),
        )
        .select("id_a", "id_b", "n_inter", "containment")
    )
