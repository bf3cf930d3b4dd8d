"""Safety / scrubbing operators for LLM training-data curation (engine
additions beyond the reference surface, same family as plans.quality):

- PII detection and redaction (emails, phones, IPv4, SSN-shaped ids) as
  pure JVM-side regex expressions — the standard pre-training scrub
  pass, run per document with no shuffle at all;
- Bloom-pruned benchmark decontamination: the exact n-gram overlap
  check (q_contamination_check) re-expressed as build-a-bloom-over-the-
  benchmark-shingles → prune the corpus stream → exact verify. At 100 TB
  the corpus side never shuffles its non-matching shingles anywhere —
  the bloom probe is a map-side codegen expression and only the ~fpp
  survivors reach the exact semi-join.

The synthetic documents corpus contains no natural PII, so the PII
queries inject deterministic synthetic PII in a CTE evaluated
IDENTICALLY by both engines (same discipline as the multimodal family's
payload construction, plans/multimodal.py) — the machinery under test is
the detection/redaction pipeline, not the generator.

Cross-engine regex discipline: patterns stay inside the syntax subset
Java regex and RE2 (DuckDB) agree on — character classes, bounded
repetition, \\b word boundaries, non-capturing groups; no backreferences
or lookaround.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_template_spark.functions.hashing import md5int_duckdb
from flink_template_spark.plans.datapipe import TRAIN_PCT
from flink_template_spark.plans.registry import register
from flink_template_spark.tables import load_table

# Java-regex and RE2 compatible (see module docstring).
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]

# Deterministic synthetic-PII injection, evaluated identically by both
# engines: a subset of docs (by doc_id residue) gets an appended suffix
# containing one PII instance of each class.
_PII_DOCS_CTE = """pii_docs AS (
  SELECT doc_id, lang, source,
    text
    || CASE WHEN doc_id % 7 = 0
         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         ELSE '' END
    || CASE WHEN doc_id % 11 = 0
         THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE '' END
    || CASE WHEN doc_id % 13 = 0
         THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST(doc_id % 100 AS VARCHAR)
         ELSE '' END
    || CASE WHEN doc_id % 17 = 0
         THEN ' id 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE '' END
    AS text
  FROM documents
)"""


def _with_synthetic_pii(docs: DataFrame) -> DataFrame:
    """Spark dual of _PII_DOCS_CTE."""
    d = F.col("doc_id")

    def when_mod(m: int, suffix):
        return F.when(d % m == 0, suffix).otherwise(F.lit(""))

    text = F.concat(
        F.col("text"),
        when_mod(
            7, F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com"))
        ),
        when_mod(
            11,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((d % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ),
        when_mod(
            13,
            F.concat(
                F.lit(" host 10.0."),
                (d % 256).cast("string"),
                F.lit("."),
                (d % 100).cast("string"),
            ),
        ),
        when_mod(
            17,
            F.concat(
                F.lit(" id 123-45-"), F.lpad((d % 10000).cast("string"), 4, "0")
            ),
        ),
    )
    return docs.select("doc_id", "lang", "source", text.alias("text"))


def pii_counts(text: F.Column) -> list[F.Column]:
    """One match-count Column per PII class (codegen regexp_extract_all)."""
    return [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]


def pii_redact(text: F.Column) -> F.Column:
    """Sequential per-class redaction in fixed PII_PATTERNS order (the
    order matters only for overlapping classes; patterns here are
    disjoint on the injected shapes, but the fixed order makes the
    operator deterministic for arbitrary input)."""
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


@register(
    "q_pii_detect",
    oracle=f"""
WITH {_PII_DOCS_CTE}
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{PII_PATTERNS[0][1]}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{PII_PATTERNS[1][1]}')) AS BIGINT) AS n_ssn,
  CAST(len(regexp_extract_all(text, '{PII_PATTERNS[2][1]}')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text, '{PII_PATTERNS[3][1]}')) AS BIGINT) AS n_ipv4,
  (len(regexp_extract_all(text, '{PII_PATTERNS[0][1]}'))
   + len(regexp_extract_all(text, '{PII_PATTERNS[1][1]}'))
   + len(regexp_extract_all(text, '{PII_PATTERNS[2][1]}'))
   + len(regexp_extract_all(text, '{PII_PATTERNS[3][1]}'))) > 0 AS any_pii
FROM pii_docs
ORDER BY doc_id
""",
)
def q_pii_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII class counts + flag. Pure map-side regex in
    whole-stage codegen: no shuffle, no UDF — the shape that lets the
    scrub pass ride along any corpus scan at 100 TB for free."""
    docs = _with_synthetic_pii(load_table(spark, sf_dir, "documents"))
    counts = pii_counts(F.col("text"))
    any_pii = None
    for c in counts:
        any_pii = c if any_pii is None else any_pii + c
    return docs.select(
        "doc_id", *counts, (any_pii > 0).alias("any_pii")
    ).orderBy("doc_id")


@register(
    "q_pii_redact",
    oracle=f"""
WITH {_PII_DOCS_CTE},
red AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, '{PII_PATTERNS[0][1]}', '{PII_PATTERNS[0][2]}', 'g'),
          '{PII_PATTERNS[1][1]}', '{PII_PATTERNS[1][2]}', 'g'),
        '{PII_PATTERNS[2][1]}', '{PII_PATTERNS[2][2]}', 'g'),
      '{PII_PATTERNS[3][1]}', '{PII_PATTERNS[3][2]}', 'g') AS redacted,
    CAST(len(regexp_extract_all(text, '{PII_PATTERNS[0][1]}'))
       + len(regexp_extract_all(text, '{PII_PATTERNS[1][1]}'))
       + len(regexp_extract_all(text, '{PII_PATTERNS[2][1]}'))
       + len(regexp_extract_all(text, '{PII_PATTERNS[3][1]}')) AS BIGINT)
      AS n_redactions,
    CAST(length(text) AS BIGINT) AS orig_len
  FROM pii_docs
)
SELECT doc_id, redacted, n_redactions,
  orig_len - CAST(length(redacted) AS BIGINT) AS len_delta
FROM red
WHERE n_redactions > 0
ORDER BY doc_id
""",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redacted text for every document that contained PII, with the
    redaction count and the byte-length delta — the audit record a
    scrub pass emits. Same no-shuffle map-only shape as q_pii_detect."""
    docs = _with_synthetic_pii(load_table(spark, sf_dir, "documents"))
    counts = pii_counts(F.col("text"))
    total = None
    for c in counts:
        total = c if total is None else total + c
    red = docs.select(
        "doc_id",
        pii_redact(F.col("text")).alias("redacted"),
        total.alias("n_redactions"),
        F.length("text").cast("long").alias("orig_len"),
    )
    return (
        red.filter(F.col("n_redactions") > 0)
        .select(
            "doc_id",
            "redacted",
            "n_redactions",
            (F.col("orig_len") - F.length("redacted").cast("long")).alias(
                "len_delta"
            ),
        )
        .orderBy("doc_id")
    )


_DECON_N = 5  # shingle width for the decontamination check


@register(
    "q_decontaminate_bloom",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, len(w) - {_DECON_N - 2}),
        i -> {" || ' ' || ".join(f"w[i+{j}]" for j in range(_DECON_N))}))
        AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  )
),
lab AS (
  SELECT doc_id,
    ({md5int_duckdb("CAST(doc_id AS VARCHAR)")} % 100) < {TRAIN_PCT} AS is_train
  FROM documents
),
tr AS (
  SELECT s.doc_id, s.shingle FROM sh s JOIN lab l ON s.doc_id = l.doc_id
  WHERE l.is_train
),
ev AS (
  SELECT DISTINCT s.shingle FROM sh s JOIN lab l ON s.doc_id = l.doc_id
  WHERE NOT l.is_train
)
SELECT t.doc_id, COUNT(*) AS n_contam
FROM tr t JOIN ev e ON t.shingle = e.shingle
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination at corpus scale: the eval split's
    distinct 5-gram shingles build a Bloom filter (operators.bloom —
    distributed bit_or assembly, ~180 KB per million shingles at 1 %
    fpp); every train-split shingle is probed MAP-SIDE and only the
    ~fpp survivors reach the exact semi-join that removes false
    positives. Bloom filters have no false negatives, so the result is
    hash-identical to the plain exact overlap the oracle computes —
    the bloom is pure shuffle avoidance: at 100 TB the corpus's
    non-matching shingles (the overwhelming majority) never leave their
    scan tasks."""
    from flink_template_spark.operators.bloom import bloom_prune
    from flink_template_spark.operators.dedup import shingle_rows
    from flink_template_spark.plans.datapipe import split_of

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_train", split_of() == "train"
    )
    # localCheckpoint the shingle table: it feeds the train probe once
    # and the eval side THREE times (bloom sizing count, bloom build,
    # exact verify) — without materializing it each reference re-runs
    # the full tokenize + shingle pass over the corpus. Checkpoint
    # rather than persist so the blocks are GC-scoped (freed with the
    # DataFrame by the ContextCleaner) instead of pinned for the rest
    # of a long driver session (ADVICE r3). Known trade: localCheckpoint
    # truncates lineage, so on a cluster an executor loss between here
    # and the last consumer fails the query instead of recomputing —
    # acceptable for a batch job that simply re-runs; a deployment that
    # needs mid-query fault recovery should swap this for persist() and
    # unpersist after the final action (the same trade every
    # localCheckpoint in operators.components/kmeans makes).
    sh = shingle_rows(docs, _DECON_N, extra_cols=["is_train"]).localCheckpoint()
    train_sh = sh.filter(F.col("is_train")).select("doc_id", "shingle")
    eval_sh = sh.filter(~F.col("is_train")).select("shingle").distinct()

    n_eval = eval_sh.count()  # tiny control-plane scalar: sizes the bloom
    pruned = bloom_prune(
        train_sh, eval_sh, "shingle", "shingle", expected_items=max(n_eval, 1)
    )
    exact = pruned.join(eval_sh, "shingle", "left_semi")
    return (
        exact.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contam"))
        .orderBy("doc_id")
    )


_KANON_K = 5  # the k in k-anonymity
_KANON_LEN_BUCKET = 256  # quasi-identifier: n_chars bucketed


@register(
    "q_k_anonymity",
    oracle=f"""
WITH cells AS (
  SELECT lang, source, n_chars // {_KANON_LEN_BUCKET} AS len_bucket,
         COUNT(*) AS cell_n
  FROM documents GROUP BY 1, 2, 3
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(SUM(CASE WHEN cell_n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_cells_violating,
  CAST(SUM(CASE WHEN cell_n < {_KANON_K} THEN cell_n ELSE 0 END) AS BIGINT)
    AS n_docs_at_risk,
  CAST(MIN(cell_n) AS BIGINT) AS min_cell_size,
  ROUND(CAST(SUM(CASE WHEN cell_n < {_KANON_K} THEN cell_n ELSE 0 END)
             AS DOUBLE) / CAST(SUM(cell_n) AS DOUBLE), 6) AS frac_at_risk
FROM cells
GROUP BY lang
ORDER BY lang
""",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (lang, source, length-bucket): per language, how many equivalence
    cells fall below k={_KANON_K} members and how many documents sit
    in them — the re-identification risk readout a privacy review
    runs BEFORE releasing a corpus (a doc alone in its cell is
    linkable by its quasi-identifiers even after PII redaction;
    q_pii_redact removes direct identifiers, this measures the
    indirect ones).

    Scale shape: one hash aggregation to the cell table (bounded by
    |langs|·|sources|·|buckets|, never corpus-sized), one rollup to
    |langs| rows — both with map-side partial combine; integer
    counts end-to-end, one exact division at the end."""
    docs = load_table(spark, sf_dir, "documents")
    # floor, not truncate-toward-zero: the oracle's // floors, and a
    # (future) negative n_chars would otherwise bucket differently in
    # the two engines (r7 review)
    cells = docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / _KANON_LEN_BUCKET)
        .cast("bigint")
        .alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("cell_n"))
    violating = F.col("cell_n") < _KANON_K
    return (
        cells.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum(F.when(violating, 1).otherwise(0))
            .cast("bigint")
            .alias("n_cells_violating"),
            F.sum(F.when(violating, F.col("cell_n")).otherwise(0))
            .cast("bigint")
            .alias("n_docs_at_risk"),
            F.min("cell_n").cast("bigint").alias("min_cell_size"),
            F.round(
                F.sum(F.when(violating, F.col("cell_n")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("cell_n").cast("double"),
                6,
            ).alias("frac_at_risk"),
        )
        .orderBy("lang")
    )


_LDIV_L = 2  # the l in l-diversity (distinct-l variant)


def _sens_sql(textcol: str) -> str:
    """Priority-ordered sensitive class of a document (DuckDB side)."""
    e, s, p, i = (PII_PATTERNS[j][1] for j in range(4))
    return f"""CASE
    WHEN len(regexp_extract_all({textcol}, '{e}')) > 0 THEN 'email'
    WHEN len(regexp_extract_all({textcol}, '{s}')) > 0 THEN 'ssn'
    WHEN len(regexp_extract_all({textcol}, '{p}')) > 0 THEN 'phone'
    WHEN len(regexp_extract_all({textcol}, '{i}')) > 0 THEN 'ip'
    ELSE 'none' END"""


@register(
    "q_l_diversity",
    oracle=f"""
WITH {_PII_DOCS_CTE},
sens AS (
  SELECT p.lang, p.source, d.n_chars // {_KANON_LEN_BUCKET} AS len_bucket,
         {_sens_sql('p.text')} AS sensitive
  FROM pii_docs p JOIN documents d ON p.doc_id = d.doc_id
),
cells AS (
  SELECT lang, source, len_bucket,
         COUNT(*) AS cell_n, COUNT(DISTINCT sensitive) AS l
  FROM sens GROUP BY 1, 2, 3
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(MIN(l) AS BIGINT) AS min_l,
  CAST(SUM(CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_cells_below,
  CAST(SUM(CASE WHEN l < {_LDIV_L} THEN cell_n ELSE 0 END) AS BIGINT)
    AS n_docs_at_risk,
  ROUND(CAST(SUM(CASE WHEN l < {_LDIV_L} THEN cell_n ELSE 0 END) AS DOUBLE)
        / CAST(SUM(cell_n) AS DOUBLE), 6) AS risk_frac
FROM cells GROUP BY lang ORDER BY lang
""",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's sibling (q_k_anonymity counts
    cell SIZES; this counts distinct SENSITIVE values per cell): within
    each quasi-identifier cell (lang, source, length-bucket), how many
    distinct sensitive classes (the synthetic PII profile: email > ssn
    > phone > ip > none, priority-ordered) appear. A cell whose every
    member shares one sensitive value leaks that value to anyone who
    can place a person in the cell, even at k-anonymous cell sizes —
    the attribute-disclosure channel k-anonymity misses.

    Scale shape: sensitive classing is map-side codegen regex on the
    corpus scan (the q_pii_detect shape); one hash aggregation to the
    cell table (bounded by |langs|·|sources|·|buckets| · |classes|),
    one rollup to |langs| rows. Integer counts; one exact division."""
    docs = load_table(spark, sf_dir, "documents")
    pii = _with_synthetic_pii(docs)
    counts = pii_counts(F.col("text"))
    sensitive = (
        F.when(counts[0] > 0, F.lit("email"))
        .when(counts[1] > 0, F.lit("ssn"))
        .when(counts[2] > 0, F.lit("phone"))
        .when(counts[3] > 0, F.lit("ip"))
        .otherwise(F.lit("none"))
    )
    sens = pii.join(docs.select("doc_id", "n_chars"), "doc_id").select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / _KANON_LEN_BUCKET)
        .cast("bigint")
        .alias("len_bucket"),
        sensitive.alias("sensitive"),
    )
    cells = sens.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).alias("cell_n"),
        F.count_distinct("sensitive").alias("l"),
    )
    below = F.col("l") < _LDIV_L
    return (
        cells.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.min("l").cast("bigint").alias("min_l"),
            F.sum(F.when(below, 1).otherwise(0)).cast("bigint").alias("n_cells_below"),
            F.sum(F.when(below, F.col("cell_n")).otherwise(0))
            .cast("bigint")
            .alias("n_docs_at_risk"),
            F.round(
                F.sum(F.when(below, F.col("cell_n")).otherwise(0)).cast("double")
                / F.sum("cell_n").cast("double"),
                6,
            ).alias("risk_frac"),
        )
        .orderBy("lang")
    )


_BF_M = 65536  # bitmap bits (1024 words): exercises ~1e-4 fpp at
_BF_K = 4      # sf0.01 and a deliberately loaded ~0.13 at sf0.1


def _bf_pos_spark(h: int) -> str:
    from flink_template_spark.functions.hashing import md5int_spark

    keyed = f"concat(key, '#', '{h}')"
    return f"({md5int_spark(keyed)} % {_BF_M})"


def _bf_pos_duck(h: int) -> str:
    keyed = f"key || '#' || '{h}'"
    return f"({md5int_duckdb(keyed)} % {_BF_M})"


@register(
    "q_bloom_fpr_audit",
    oracle=f"""
WITH bkeys AS (
  SELECT DISTINCT 'c:' || CAST(c_custkey AS VARCHAR) AS key FROM customer
),
pkeys AS (
  SELECT DISTINCT 'p:' || CAST(o_orderkey AS VARCHAR) AS key FROM orders
),
bpos AS (
  SELECT DISTINCT p FROM (
    {" UNION ALL ".join(f"SELECT {_bf_pos_duck(h)} AS p FROM bkeys" for h in range(_BF_K))}
  )
),
ppos AS (
  {" UNION ALL ".join(f"SELECT key, {_bf_pos_duck(h)} AS p FROM pkeys" for h in range(_BF_K))}
),
hits AS (
  SELECT key FROM ppos JOIN bpos USING (p)
  GROUP BY key HAVING COUNT(*) = {_BF_K}
),
nb AS (SELECT COUNT(*) AS n_build FROM bkeys),
np AS (SELECT COUNT(*) AS n_probe FROM pkeys),
nf AS (SELECT COUNT(*) AS n_fp FROM hits)
SELECT
  CAST({_BF_M} AS BIGINT) AS m_bits,
  CAST({_BF_K} AS BIGINT) AS n_hashes,
  CAST(n_build AS BIGINT) AS n_build,
  CAST(n_probe AS BIGINT) AS n_probe,
  CAST(n_fp AS BIGINT) AS n_fp,
  ROUND(CAST(n_fp AS DOUBLE) / CAST(n_probe AS DOUBLE), 6) AS fpr,
  ROUND(POWER(1.0 - EXP(-({_BF_K}.0 * n_build) / {_BF_M}.0), {_BF_K}), 6)
    AS theory_fpp
FROM nb, np, nf
""",
)
def q_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter false-positive-rate audit — the
    did-we-size-it-right check beside q_decontaminate_bloom's
    did-it-prune use: a bitmap is built over the customer key set with
    the PORTABLE md5 hash family, probed with a provably-DISJOINT key
    set (prefixed order keys), and every hit is by construction a
    false positive; the measured rate sits next to the
    (1 − e^(−kn/m))^k theory value. At sf0.01 the bitmap is
    comfortable (~1e-4 fpp); at sf0.1 it is deliberately overloaded
    (~0.13) — the saturation curve an operator reads before choosing
    m at 100 TB.

    Engine duality: Spark assembles and probes the REAL word bitmap
    (operators.bloom.assemble_bitmap / bits_all_set — bit_or words,
    getbit probes); the oracle replays the same md5 positions as SET
    membership (all k positions present). Bitmap membership and
    position-set membership are definitionally the same predicate, so
    hash equality proves the bit packing, word indexing, and probe
    arithmetic correct — the production xxhash64 path shares
    everything but the hash family.

    Scale shape: the build is one hash agg into ≤ m/64 words (map-side
    bit_or partials); the 8 KB bitmap broadcasts; each probe is k
    md5+getbit expressions in whole-stage codegen — no join, no
    shuffle on the probe side; counts are broadcast scalars."""
    from flink_template_spark.operators.bloom import assemble_bitmap, bits_all_set

    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias(
                "key"
            )
        )
        .distinct()
        .localCheckpoint(eager=False)  # consumers: positions + n_build
    )
    probe = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.concat(F.lit("p:"), F.col("o_orderkey").cast("string")).alias(
                "key"
            )
        )
        .distinct()
        .localCheckpoint(eager=False)  # consumers: probe + n_probe
    )
    bpos = cust.select(
        F.explode(
            F.array(*[F.expr(_bf_pos_spark(h)) for h in range(_BF_K)])
        ).alias("p")
    )
    bloom = assemble_bitmap(bpos, _BF_M)
    probed = probe.join(F.broadcast(bloom)).filter(
        bits_all_set(
            F.col("__bloom"), [F.expr(_bf_pos_spark(h)) for h in range(_BF_K)]
        )
    )
    nb = cust.agg(F.count(F.lit(1)).alias("n_build"))
    np_ = probe.agg(F.count(F.lit(1)).alias("n_probe"))
    nf = probed.agg(F.count(F.lit(1)).alias("n_fp"))
    theory = F.pow(
        F.lit(1.0)
        - F.exp(-(F.lit(float(_BF_K)) * F.col("n_build")) / F.lit(float(_BF_M))),
        F.lit(_BF_K),
    )
    return (
        nf.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(np_))
        .select(
            F.lit(_BF_M).cast("bigint").alias("m_bits"),
            F.lit(_BF_K).cast("bigint").alias("n_hashes"),
            F.col("n_build").cast("bigint").alias("n_build"),
            F.col("n_probe").cast("bigint").alias("n_probe"),
            F.col("n_fp").cast("bigint").alias("n_fp"),
            F.round(
                F.col("n_fp").cast("double") / F.col("n_probe").cast("double"),
                6,
            ).alias("fpr"),
            F.round(theory, 6).alias("theory_fpp"),
        )
    )


# ---------------------------------------------------------------------------
# Lexicon blocklist gate (round 11)
# ---------------------------------------------------------------------------

# Fixed curation blocklist (stands in for a toxicity/NSFW word list —
# the Gopher/C4-style hard-block gate). Deliberately includes one
# high-frequency ('slow'), one mid ('dup') and one absent token so the
# per-source rates exercise all three regimes at every SF.
BLOCKLIST = ("slow", "dup", "zzznever")


@register(
    "q_blocklist_gate_rates",
    oracle=f"""
WITH scored AS (
  SELECT source,
    len(list_intersect(string_split(text, ' '),
                       {list(BLOCKLIST)})) > 0 AS flagged,
    len(list_filter(string_split(text, ' '),
                    t -> list_contains({list(BLOCKLIST)}, t))) AS hits
  FROM documents
)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
  ROUND(CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS flag_rate,
  CAST(SUM(hits) AS BIGINT) AS total_hits
FROM scored
GROUP BY source
ORDER BY source
""",
)
def q_blocklist_gate_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon blocklist gate, per source: how many documents contain
    at least one blocked token, and the total blocked-token mass — the
    hard-block quality gate every web-corpus curation stack runs
    (C4's bad-words filter, Gopher's toxicity lexicon) plus the
    per-source rate report that decides which crawls to drop.

    Exactness: token membership is exact string equality on the
    whitespace tokenization (both engines split on ' '); counts are
    integers; the rate is one double division rounded 6 dp.

    Scale shape: MAP-ONLY scoring — the blocklist is a literal array
    inside the row expression (a real 10k-word list would broadcast a
    hashed set; same plan shape), so corpus rows never shuffle for
    scoring; the only exchange is the |sources|-row rollup with
    map-side partials. No UDF: array_intersect/filter are codegen'd
    JVM expressions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    block = F.array(*[F.lit(t) for t in BLOCKLIST])
    scored = docs.select(
        "source",
        (F.size(F.array_intersect(toks, block)) > 0).alias("flagged"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(block, t))
        ).alias("hits"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("flagged"), 1).otherwise(0)).alias(
                "n_flagged"
            ),
            F.round(
                F.sum(F.when(F.col("flagged"), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("flag_rate"),
            F.sum("hits").alias("total_hits"),
        )
        .orderBy("source")
    )
