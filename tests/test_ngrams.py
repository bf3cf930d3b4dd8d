"""The one n-gram builder (operators.dedup.ngram_rows) and each caller
shape, pinned against one test-local posexplode + ``lead`` window
reference: complete word n-grams (``shingle_rows``), tail windows
(``_tagged_grams``, ``q_skipgram_pairs``' offsets), BPE symbol pairs and
character trigrams — on adversarial docs and on the fixture.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

ADVERSARIAL = [
    (9001, "one two three four five"),
    (9002, "a  b c"),  # empty token from the double space
    (9003, "solo"),  # one token: sequence(0, 1 - n) would count down
    (9004, ""),
    (9005, None),
    (9006, "x y"),  # n-1 tokens for n=3
    (9007, "r r r r"),  # repeated tokens -> duplicate shingles
    (9008, "a b c d e f g h i j k l"),  # 12 tokens: two complete 10-grams
]


def _lead_grams(src, arr, n, *cols, tails=False):
    """(cols..., pos, g) rows from posexplode + n-1 ``lead`` windows:
    the reference the builder must equal. With ``tails`` every position
    keeps its up-to-n window; otherwise only complete n-grams."""
    tok = src.select(*cols, F.posexplode(arr).alias("pos", "t"))
    w = W.partitionBy(*cols).orderBy("pos")
    leads = [F.lead("t", k).over(w) for k in range(1, n)]
    g = F.filter(F.array("t", *leads), lambda x: x.isNotNull())
    out = tok.select(*cols, "pos", g.alias("g"))
    return out if tails else out.filter(F.size("g") == n)


def _rows(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def sources(spark, sf_dir):
    from flink_template_spark.tables import load_table

    adversarial = spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return {"adversarial": adversarial, "fixture": docs}


@pytest.mark.parametrize("n", [1, 2, 3, 5, 10])
def test_ngram_rows_complete_grams_match_lead(spark, sources, n):
    from flink_template_spark.operators.dedup import ngram_rows

    for name, src in sources.items():
        toks = F.split(F.col("text"), " ")
        got = _rows(ngram_rows(src, toks, n, "doc_id"))
        ref = _rows(_lead_grams(src, toks, n, "doc_id"))
        assert got == ref, f"{name} n={n} ({len(got)} vs {len(ref)} rows)"
        assert name == "adversarial" or len(got) > 0


@pytest.mark.parametrize("n", [2, 3])
def test_ngram_rows_tail_windows_match_lead(spark, sources, n):
    from flink_template_spark.operators.dedup import ngram_rows

    for name, src in sources.items():
        toks = F.split(F.col("text"), " ")
        got = _rows(ngram_rows(src, toks, n, "doc_id", tails=True))
        ref = _rows(_lead_grams(src, toks, n, "doc_id", tails=True))
        assert got == ref, f"{name} n={n} ({len(got)} vs {len(ref)} rows)"


@pytest.mark.parametrize("n", [1, 2, 3, 5, 10])
def test_shingle_rows_match_lead(spark, sources, n):
    """Shingles are the complete n-grams joined by one space, for every
    distinct / keep_pos combination."""
    from flink_template_spark.operators.dedup import shingle_rows

    for name, src in sources.items():
        ref = _lead_grams(src, F.split(F.col("text"), " "), n, "doc_id").select(
            "doc_id", "pos", F.array_join("g", " ").alias("shingle")
        )
        for distinct in (True, False):
            for keep_pos in (False, True):
                got = shingle_rows(src, n, distinct=distinct, keep_pos=keep_pos)
                r = ref.select(got.columns)
                r = r.distinct() if distinct else r
                assert _rows(got) == _rows(r), (
                    f"{name} n={n} distinct={distinct} keep_pos={keep_pos}"
                )


def test_tagged_grams_match_lead(spark, sources):
    """_tagged_grams' 1/2/3-grams read from the up-to-3 tail windows."""
    from flink_template_spark.plans.quality import _tagged_grams

    for name, src in sources.items():
        win = _lead_grams(
            src, F.split(F.col("text"), " "), 3, "doc_id", tails=True
        )
        ref = None
        for k in (1, 2, 3):
            part = win.filter(F.size("g") >= k).select(
                "doc_id",
                F.lit(k).alias("n"),
                F.array_join(F.slice("g", 1, k), " ").alias("g"),
            )
            ref = part if ref is None else ref.unionAll(part)
        assert _rows(_tagged_grams(src)) == _rows(ref), name


def test_skipgram_offsets_match_lead(spark, sf_dir):
    """q_skipgram_pairs' forward-offset pairs from tail windows equal
    the lead-window neighbours on the fixture (the full top-k, ties cut
    by (count desc, w1, w2) as the query does)."""
    from flink_template_spark import plans
    from flink_template_spark.plans.quality import _SKIP_OFFS, _SKIP_TOP
    from flink_template_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    win = _lead_grams(
        docs, F.split(F.col("text"), " "), len(_SKIP_OFFS) + 1, "doc_id",
        tails=True,
    )
    pairs = None
    for k in _SKIP_OFFS:
        part = win.filter(F.size("g") > k).select(
            F.col("g")[0].alias("w1"), F.col("g")[k].alias("w2")
        )
        pairs = part if pairs is None else pairs.unionAll(part)
    ref = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_cooccur"))
        .orderBy(F.desc("n_cooccur"), "w1", "w2")
        .limit(_SKIP_TOP)
        .collect()
    )
    got = plans.QUERIES["q_skipgram_pairs"](spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref] and ref


def test_bpe_pair_counts_match_lead(spark):
    """_pair_counts' symbol 2-grams give the same weighted pair-count
    table as the lead window — including single-symbol words (one pair
    with the end mark) and repeated symbols (run pairs counted per
    position)."""
    from flink_template_spark.operators.bpe import _pair_counts, _symbolize

    words = spark.createDataFrame(
        [
            ("low", 5),
            ("lower", 2),
            ("newest", 6),
            ("widest", 3),
            ("aaaa", 4),  # run pairs: (a,a) x3 positions
            ("x", 7),  # single char + </w>: exactly one pair
        ],
        "word string, cnt long",
    )
    vocab = _symbolize(words)
    got = {(r.a, r.b): r.pair_cnt for r in _pair_counts(vocab).collect()}
    ref_df = (
        _lead_grams(vocab, F.col("syms"), 2, "word", "cnt")
        .select("cnt", F.col("g")[0].alias("a"), F.col("g")[1].alias("b"))
        .groupBy("a", "b")
        .agg(F.sum("cnt").alias("pair_cnt"))
    )
    ref = {(r.a, r.b): r.pair_cnt for r in ref_df.collect()}
    assert got == ref
    assert got[("a", "a")] == 4 * 3  # run-pair positions, weighted


def test_char_trigrams_match_substring_and_lead(spark, sf_dir):
    """q_lang_id_ngram's trigram rows (_char_trigrams) equal both the
    oracle's substring(text, i, 3) semantics and the lead reference over
    the code-point array — on the fixture and on adversarial docs
    (non-BMP code points, combining marks, empty, one/two chars, NULL).
    Both substring() and split('') index by CODE POINT; a surrogate-pair
    split would silently corrupt trigrams."""
    from flink_template_spark.plans.quality import _char_trigrams
    from flink_template_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    adversarial = spark.createDataFrame(
        [
            (1, "xx", "hello world"),
            (2, "xx", "a\U0001f600b\U0001f680cd"),  # non-BMP surrogate pairs
            (3, "xx", "éabc"),  # combining mark
            (4, "xx", ""),
            (5, "xx", "ab"),
            (6, "xx", "abc"),
            (7, "xx", None),
            (8, "xx", "ñüßπ中文字"),
        ],
        "doc_id long, lang string, text string",
    )
    for src in (docs, adversarial):
        got = _rows(_char_trigrams(src))
        by_substring = _rows(
            src.select(
                "doc_id",
                "lang",
                F.explode(
                    F.expr(
                        "CASE WHEN length(text) >= 3 THEN "
                        "transform(sequence(1, length(text) - 2),"
                        " i -> substring(text, i, 3)) "
                        "ELSE array() END"
                    )
                ).alias("g"),
            )
        )
        by_lead = _rows(
            _lead_grams(
                src, F.split(F.col("text"), ""), 3, "doc_id", "lang"
            ).select("doc_id", "lang", F.array_join("g", "").alias("g"))
        )
        assert got == by_substring == by_lead
        assert src is adversarial or len(got) > 0
