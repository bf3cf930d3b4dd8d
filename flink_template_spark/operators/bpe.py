"""Distributed BPE (byte-pair-encoding) merge learning — the tokenizer-
training stage of an LLM data pipeline.

The scale shape that makes BPE distributable: training never touches the
corpus after one pass. Pair statistics live on the DISTINCT-WORD
frequency table (Zipf: orders of magnitude smaller than the corpus), so

- one corpus-sized shuffle builds (word, count);
- each merge round then runs on the vocab table only: adjacent-pair
  counts from the symbol arrays' map-side 2-grams (weighted by word
  count, map-side partial agg — no per-round word-keyed exchange), top
  pairs to the driver (a few rows),
  merge application via an Arrow-batched ``mapInPandas`` over vocab
  rows (Python does O(symbols-per-word) work per DISTINCT word, never
  per corpus token).

Rounds are batched: each round applies the top-B non-conflicting pairs
(pairs sharing a symbol can interact, so they wait for the next round)
— the standard trick that divides the number of Spark jobs by ~B
without changing the greedy result materially. ``localCheckpoint``
truncates the per-round lineage exactly like operators.kmeans /
operators.components.

Iterative ⇒ no SQL oracle (recursive CTEs cannot express data-dependent
per-round rewrites); golden + property tests pin the semantics
(tests/test_bpe.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_template_spark.operators.dedup import ngram_rows

END_MARK = "</w>"  # word-final marker, standard BPE


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over whitespace tokens — the only corpus-sized pass."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _symbolize(words: DataFrame) -> DataFrame:
    """(word, cnt, syms): initial symbols = characters + END_MARK."""
    schema = "word string, cnt long, syms array<string>"

    def init(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["syms"] = [list(w) + [END_MARK] for w in pdf["word"]]
            yield pdf[["word", "cnt", "syms"]]

    return words.mapInPandas(init, schema)


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency.

    Pairs are the symbol array's 2-grams from ``ngram_rows``, entirely
    map-side: no word-keyed exchange and sort per merge round (the old
    posexplode + lead-window form paid one just to look one position
    ahead), and a single-symbol word yields no pairs. The one exchange
    is the (a, b)-keyed count agg with map-side partials."""
    pairs = ngram_rows(vocab, F.col("syms"), 2, "cnt").select(
        "cnt", F.col("g")[0].alias("a"), F.col("g")[1].alias("b")
    )
    return pairs.groupBy("a", "b").agg(F.sum("cnt").alias("pair_cnt"))


def _select_batch(top_rows: list, batch: int) -> list[tuple[str, str]]:
    """Greedy non-conflicting prefix of the count-ordered pair list:
    a pair is deferred if it shares a symbol with an already-picked pair
    (their applications could interact within one word)."""
    picked: list[tuple[str, str]] = []
    used: set[str] = set()
    for r in top_rows:
        if len(picked) >= batch:
            break
        if r.a in used or r.b in used:
            continue
        picked.append((r.a, r.b))
        used.update((r.a, r.b))
    return picked


def _apply_merges(vocab: DataFrame, batch_pairs: list[tuple[str, str]]) -> DataFrame:
    """Greedy left-to-right application of the batch to every symbol
    sequence (Arrow-batched; O(len) python per distinct word)."""
    merge_set = set(batch_pairs)
    schema = "word string, cnt long, syms array<string>"

    def apply(batches):
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                syms = list(syms)
                res = []
                i = 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) in merge_set:
                        res.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out.append(res)
            pdf = pdf.copy()
            pdf["syms"] = out
            yield pdf[["word", "cnt", "syms"]]

    return vocab.mapInPandas(apply, schema)


def learn_bpe(
    docs: DataFrame,
    n_merges: int = 32,
    batch: int = 4,
    text_col: str = "text",
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges; returns (ordered merges, final
    vocab DataFrame of (word, cnt, syms)).

    Deterministic: pair ranking orders by (count DESC, a, b); batch
    selection is a greedy non-conflicting prefix of that order.
    """
    vocab = _symbolize(word_frequencies(docs, text_col)).localCheckpoint()
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("pair_cnt"), "a", "b")
            .limit(want * 4)  # headroom for conflict-deferred pairs
            .collect()
        )
        picked = _select_batch(top, want)
        if not picked:
            break  # vocab fully merged
        merges.extend(picked)
        vocab = _apply_merges(vocab, picked).localCheckpoint()
    return merges, vocab


def encode_words(
    vocab: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Re-encode arbitrary (word, cnt, syms)-symbolized words with a
    learned merge list, applying merges in rank order (the standard
    BPE inference loop), Arrow-batched."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    schema = "word string, cnt long, syms array<string>"

    def apply(batches):
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                syms = list(syms)
                while len(syms) > 1:
                    best, best_rank = None, None
                    for i in range(len(syms) - 1):
                        r = ranks.get((syms[i], syms[i + 1]))
                        if r is not None and (best_rank is None or r < best_rank):
                            best, best_rank = i, r
                    if best is None:
                        break
                    syms[best : best + 2] = [syms[best] + syms[best + 1]]
                out.append(syms)
            pdf = pdf.copy()
            pdf["syms"] = out
            yield pdf[["word", "cnt", "syms"]]

    return vocab.mapInPandas(apply, schema)
