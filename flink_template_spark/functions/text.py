"""Text-analysis Column-expression builders (all JVM-side built-ins — no
Python UDFs in the hot path; these run inside whole-stage codegen).

Used by the LLM-data-pipeline operators: token counting, quality
scoring, language heuristics, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# "BPE-ish" lexer: words, digit runs, single non-space symbols.
BPE_TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

STOPWORDS = ["the", "a"]


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization (single-space split, matching oracle)."""
    return F.split(text, " ")


def token_count_ws(text: Column) -> Column:
    return F.size(ws_tokens(text)).cast("long")


def token_count_bpe(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_REGEX), 0)).cast("long")


def stopword_ratio(text: Column) -> Column:
    toks = ws_tokens(text)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return n_stop.cast("double") / F.size(toks).cast("double")


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, "[A-Za-z0-9\\s]", ""))
    return n_punct.cast("double") / F.length(text).cast("double")


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish quality heuristic: length band + stopword
    presence − punctuation penalty. Deterministic double arithmetic."""
    len_score = F.least(F.length(text).cast("double") / 500.0, F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 10.0, F.lit(1.0))
    return F.round(
        0.5 * len_score + 0.5 * stop_score - 0.25 * punct_ratio(text), 6
    )
