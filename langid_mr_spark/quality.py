"""Gopher/C4-style heuristic quality rules (BASELINE.json north_star:
"doc length, symbol ratio, repetition, stopword density").

Applied after the language gate: a document that passed language ID can
still be dropped for being too short/long, symbol-heavy, repetitive, or
function-word-free (machine-generated word salad). Every rule is a pure
native Column over the probe text; thresholds are module constants
(Gopher-inspired, relaxed for short web snippets). All ratios are single
IEEE divisions of integer counts, so the pure-Python twin
(``quality_one``) and the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import constants as C
from . import textnorm as TN
from .functions import exprs as X

MIN_WORDS = 5
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_RATIO = 0.20
MAX_DUP_TOKEN_RATIO = 0.60
MIN_STOPWORD_DENSITY = 0.02

# priority-ordered fail reasons
REASONS = ("too_few_words", "too_many_words", "mean_word_len",
           "symbol_ratio", "repetitive", "low_stopword_density")


def _metric_exprs(text: Column, tokens: Column) -> dict[str, Column]:
    """The five metric expressions over a caller-supplied token column."""
    n = F.size(tokens)
    nd = F.size(F.array_distinct(tokens))
    total_tok_len = F.aggregate(
        F.transform(tokens, lambda t: F.length(t)), F.lit(0),
        lambda acc, x: acc + x)
    mean_len = F.when(n == 0, F.lit(0.0)).otherwise(
        total_tok_len.cast("double") / n.cast("double"))
    n_chars = F.length(text)
    n_sym = F.length(F.regexp_replace(text, r"(?U)[\w\s]", ""))
    sym_ratio = F.when(F.coalesce(n_chars, F.lit(0)) == 0, F.lit(0.0)).otherwise(
        n_sym.cast("double") / n_chars.cast("double"))
    dup_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - nd.cast("double") / n.cast("double"))
    stop_density = F.when(n == 0, F.lit(0.0)).otherwise(
        (X.stopword_hits(tokens, "en") + X.stopword_hits(tokens, "fr"))
        .cast("double") / n.cast("double"))
    return {
        "n_words": n,
        "mean_word_len": mean_len,
        "symbol_ratio": sym_ratio,
        "dup_token_ratio": dup_ratio,
        "stopword_density": stop_density,
    }


def _fail_reason_from(m: dict[str, Column]) -> Column:
    return (
        F.when(m["n_words"] < MIN_WORDS, REASONS[0])
        .when(m["n_words"] > MAX_WORDS, REASONS[1])
        .when((m["mean_word_len"] < MIN_MEAN_WORD_LEN)
              | (m["mean_word_len"] > MAX_MEAN_WORD_LEN), REASONS[2])
        .when(m["symbol_ratio"] > MAX_SYMBOL_RATIO, REASONS[3])
        .when(m["dup_token_ratio"] > MAX_DUP_TOKEN_RATIO, REASONS[4])
        .when(m["stopword_density"] < MIN_STOPWORD_DENSITY, REASONS[5])
    )


# column names produced by with_quality(..., keep_metrics=True), in order
METRIC_COLS = ("n_words", "mean_word_len", "symbol_ratio",
               "dup_token_ratio", "stopword_density")


def with_quality(df, text_col: str, out_col: str = "quality_fail_reason",
                 keep_metrics: bool = False):
    """Append ``out_col`` (and optionally the five metric columns) with
    EXACTLY-ONCE evaluation (r06, guide §1.2 "per-task work").

    Three staged projections: (1) materialize the token array, (2) the five
    metrics over that array, (3) the priority when-chain over the metric
    attributes. Each stage's aliases are non-cheap and referenced more than
    once downstream, so CollapseProject cannot inline them back — the plan
    keeps three Projects and every subtree evaluates once per row.
    Lambda-bearing expressions get no codegen subexpression elimination, so
    an inlined ``tokenize`` would re-split the text at nearly every metric
    reference: ~10 splits + 4 token-array HOF passes per passing document
    (staging made quality_flags 13× faster at sf1.0: 16.2 s → 1.2 s)."""
    toked, metrics, verdict = _quality_stages(
        tuple(df.columns), text_col, out_col, keep_metrics)
    return df.select("*", *toked).select(*metrics).select(*verdict)


@X.per_jvm
def _quality_stages(base: tuple[str, ...], text_col: str, out_col: str,
                    keep_metrics: bool):
    """with_quality's three stage projections over ``base`` (built once
    per JVM)."""
    text = F.col(text_col)
    keep_base = [F.col(c) for c in base]
    m = _metric_exprs(text, F.col("_q_toks"))
    metrics = (*keep_base, *[m[k].alias(f"_q_{k}") for k in METRIC_COLS])
    m_attr = {k: F.col(f"_q_{k}") for k in METRIC_COLS}
    keep = ([m_attr[k].alias(k) for k in METRIC_COLS]
            if keep_metrics else [])
    verdict = (*keep_base, *keep, _fail_reason_from(m_attr).alias(out_col))
    return (X.tokenize(text).alias("_q_toks"),), metrics, verdict


def quality_one(text: str | None) -> dict[str, Any]:
    """Pure-Python twin (oracle spec)."""
    text = text or ""
    tokens = TN.tokenize_text(text)
    n = len(tokens)
    nd = len(set(tokens))
    mean_len = (sum(len(t) for t in tokens) / n) if n else 0.0
    n_chars = len(text)
    import re
    n_sym = len(re.sub(r"[\w\s]", "", text, flags=re.UNICODE))
    sym_ratio = (n_sym / n_chars) if n_chars else 0.0
    dup_ratio = (1.0 - nd / n) if n else 0.0
    hits = sum(1 for t in tokens if t in C.EN_STOPWORDS) + \
        sum(1 for t in tokens if t in C.FR_STOPWORDS)
    stop_density = (hits / n) if n else 0.0
    if n < MIN_WORDS:
        reason = REASONS[0]
    elif n > MAX_WORDS:
        reason = REASONS[1]
    elif mean_len < MIN_MEAN_WORD_LEN or mean_len > MAX_MEAN_WORD_LEN:
        reason = REASONS[2]
    elif sym_ratio > MAX_SYMBOL_RATIO:
        reason = REASONS[3]
    elif dup_ratio > MAX_DUP_TOKEN_RATIO:
        reason = REASONS[4]
    elif stop_density < MIN_STOPWORD_DENSITY:
        reason = REASONS[5]
    else:
        reason = None
    return {
        "n_words": n, "mean_word_len": mean_len, "symbol_ratio": sym_ratio,
        "dup_token_ratio": dup_ratio, "stopword_density": stop_density,
        "quality_fail_reason": reason, "quality_pass": reason is None,
    }
