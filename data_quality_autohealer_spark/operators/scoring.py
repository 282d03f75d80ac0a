"""Model scoring + scrubbing as ONE Arrow-batched pandas UDF.

Reference analogue: the ensemble's detector sweep
(/root/reference/src/detectors/ensemble_classifier.py:91-139) — run every
model, collect scores. The reference did this per-profile on the driver; here
it runs executor-side, once per Arrow record batch, via the
Iterator[Series] -> Iterator[DataFrame] pandas UDF form so models are
deserialized once per Python worker, not once per batch (the
``spark-submit --py-files``-friendly equivalent of a broadcast variable).

Everything inside the UDF is numpy/pandas vectorized over the batch — no
per-row Python (mandated by the rebuild's input contract).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import langid as _langid
from ..functions import perplexity as _pplx
from ..functions.scrub import scrub_series

import re as _re

from pyspark.sql.types import IntegerType

from ..functions.rule_ops import round6
from ..functions.text_heuristics import _SYMBOL_CLASS, _WS_CHARS

SCORE_SCHEMA = StructType([
    StructField("word_count", IntegerType()),
    StructField("mean_word_len", DoubleType()),
    StructField("symbol_ratio", DoubleType()),
    StructField("distinct_stopwords", IntegerType()),
    StructField("alpha_word_frac", DoubleType()),
    StructField("dup_2gram_frac", DoubleType()),
    StructField("dup_3gram_frac", DoubleType()),
    StructField("dup_4gram_frac", DoubleType()),
    StructField("lang_pred", StringType()),
    StructField("lang_conf", DoubleType()),
    StructField("log_pplx", DoubleType()),
    StructField("scrubbed_text", StringType()),
    StructField("n_email", LongType()),
    StructField("n_ssn", LongType()),
    StructField("n_phone", LongType()),
    StructField("n_ip", LongType()),
    StructField("n_tox", LongType()),
])


_ALPHA_RE = _re.compile(r"[a-zA-Z]")
# explicit ASCII class — NOT \s (Python \s is Unicode-wide; the native
# Spark/DuckDB twins tokenize on this exact ASCII set)
_WS_RE = _re.compile("[" + _WS_CHARS + "]+")


def heuristic_signal_batch(text: pd.Series, stopwords: tuple[str, ...]
                           ) -> pd.DataFrame:
    """All 8 Gopher signals per batch, tokens split ONCE per document.

    Exact same semantics (and HALF_UP 6dp rounding) as the native column
    expressions in functions.text_heuristics — asserted equal in
    tests/test_signal_twins.py. Lives here because, in the pipeline hot path,
    Spark evaluates the split/higher-order-function expressions in
    interpreted mode ~50× slower than one batched Python pass (SURVEY §7.1.4);
    the native exprs remain the implementation for SQL-oracle-checked queries.
    """
    stops = set(stopwords)
    n_docs = len(text)
    cols: dict[str, list] = {
        "word_count": [0] * n_docs, "mean_word_len": [0.0] * n_docs,
        "symbol_ratio": [0.0] * n_docs, "distinct_stopwords": [0] * n_docs,
        "alpha_word_frac": [0.0] * n_docs,
        "dup_2gram_frac": [0.0] * n_docs, "dup_3gram_frac": [0.0] * n_docs,
        "dup_4gram_frac": [0.0] * n_docs,
    }
    sym_findall = _re.compile(_SYMBOL_CLASS).findall
    alpha_search = _ALPHA_RE.search
    ascii_ws = _WS_CHARS  # the native exprs' exact whitespace set
    ws_split = _WS_RE.split
    for i, t in enumerate(text.fillna("").tolist()):
        # tokenize exactly like the native twins: strip leading/trailing
        # ASCII whitespace, split on ASCII whitespace runs (NOT str.split(),
        # which also splits on Unicode whitespace like U+00A0/U+3000)
        t2 = t.strip(ascii_ws)
        if not t2:
            continue
        w = ws_split(t2)
        wc = len(w)
        cols["word_count"][i] = wc
        nospace = len(t) - sum(1 for ch in t if ch in ascii_ws)
        cols["mean_word_len"][i] = round6(nospace / wc)
        cols["symbol_ratio"][i] = round6(len(sym_findall(t)) / wc)
        cols["distinct_stopwords"][i] = len(stops.intersection(w))
        n_alpha = 0
        for x in w:
            c0 = x[0]
            if ("a" <= c0 <= "z") or ("A" <= c0 <= "Z"):
                n_alpha += 1
            elif alpha_search(x):
                n_alpha += 1
        cols["alpha_word_frac"][i] = round6(n_alpha / wc)
        for n in (2, 3, 4):
            total = wc - n + 1
            if total < 1:
                continue
            distinct = len(set(zip(*(w[k:] for k in range(n)))))
            cols[f"dup_{n}gram_frac"][i] = round6(1.0 - distinct / total)
    out = pd.DataFrame(cols, index=text.index)
    out["word_count"] = out["word_count"].astype("int32")
    out["distinct_stopwords"] = out["distinct_stopwords"].astype("int32")
    return out

SCORE_FIELDS = [f.name for f in SCORE_SCHEMA.fields]

SIGNAL_SCHEMA = StructType(SCORE_SCHEMA.fields[:8])


@F.pandas_udf(returnType=SIGNAL_SCHEMA)
def _signals_only(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    from ..functions.text_heuristics import DEFAULT_THRESHOLDS
    for text in batches:
        yield heuristic_signal_batch(text, DEFAULT_THRESHOLDS.stopwords)


# nondeterministic for the same reason as score_and_scrub_udf: stop filter
# pushdown from cloning the ArrowEvalPython node (guide §4.4)
signal_udf = _signals_only.asNondeterministic()


def with_signal_columns_batched(df: DataFrame,
                                text_col: str = "text") -> DataFrame:
    """The 8 Gopher signal columns via ONE Arrow crossing of
    :func:`heuristic_signal_batch` — value-identical to
    text_heuristics.with_signal_columns (asserted in
    tests/test_signal_twins.py) but ~15× faster at sf1.0 (guide §4.2: the
    native split/higher-order-function expressions run interpreted; the
    batched Python pass tokenizes each doc once).  Used by the
    aggregation-shaped signal queries where the signal cost dominates; the
    native exprs remain for projection-shaped queries (their cost is pruned
    away) and as the engine-paired oracle twins."""
    from .distill import _spread
    df = _spread(df).withColumn("_sig", signal_udf(F.col(text_col)))
    for name in [f.name for f in SIGNAL_SCHEMA.fields]:
        df = df.withColumn(name, F.col(f"_sig.{name}"))
    return df.drop("_sig")


def with_quality_signals_batched(df: DataFrame,
                                 text_col: str = "text") -> DataFrame:
    """Batched twin of text_heuristics.with_quality_signals: batched
    signals + the SAME native rule conditions / reasons / keep on top."""
    from ..functions import text_heuristics as th
    df = with_signal_columns_batched(df, text_col)
    reasons = th.spark_reasons_expr(th.spark_rule_conditions())
    return df.withColumn("reasons", reasons).withColumn(
        "keep", F.size("reasons") == 0)


MODEL_FIELDS = ["lang_pred", "lang_conf", "log_pplx", "scrubbed_text",
                "n_email", "n_ssn", "n_phone", "n_ip", "n_tox"]


def score_batch(text: pd.Series) -> pd.DataFrame:
    """Score + scrub + signal one batch (columns in SCORE_SCHEMA order).
    Shared verbatim by the Spark UDF and the pandas oracle, so model outputs
    are identical by construction."""
    from ..functions.text_heuristics import DEFAULT_THRESHOLDS

    sig = heuristic_signal_batch(text, DEFAULT_THRESHOLDS.stopwords)
    lang = _langid.get_model().predict_series(text)
    pplx = _pplx.get_model().log_perplexity_series(text)
    scrub = scrub_series(text)
    out = sig.copy()
    out["lang_pred"] = lang["lang_pred"]
    out["lang_conf"] = lang["lang_conf"].astype("float64")
    out["log_pplx"] = pplx.astype("float64")
    out["scrubbed_text"] = scrub["scrubbed_text"]
    for c in ["n_email", "n_ssn", "n_phone", "n_ip", "n_tox"]:
        out[c] = scrub[c].astype("int64")
    return out[SCORE_FIELDS]


@F.pandas_udf(returnType=SCORE_SCHEMA)
def _score_and_scrub(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    # iterator form: get_model() trains/caches once per Python worker process
    for text in batches:
        yield score_batch(text)


# The UDF is pure, but we mark it non-deterministic so Catalyst neither
# duplicates it when a downstream filter references its output (filter
# pushdown was observed to clone the ArrowEvalPython node — scoring every
# document TWICE) nor pushes predicates through it.
score_and_scrub_udf = _score_and_scrub.asNondeterministic()


def with_model_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach flattened model-score columns via a single UDF crossing."""
    rest = [c for c in df.columns if c not in SCORE_FIELDS]
    return (df.select(*rest, score_and_scrub_udf(F.col(text_col))
                      .alias("_score"))
            .select(*rest, "_score.*"))
