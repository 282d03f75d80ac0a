"""Single-process pandas oracle: the reference-label generator.

Defines keep/drop + reason codes + scrubbed text for a corpus, with the
heuristic signals REIMPLEMENTED independently in pandas (regex/str ops) so
they cross-check the Spark native expressions; the model layers (langid,
perplexity) and the scrubber are shared modules by design — the F1≥0.99 /
byte-identical-text gate then verifies the Spark plumbing around them
(SURVEY.md §7.1.6). Thresholds identical by construction (same dataclasses).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from data_quality_autohealer_spark.functions.rule_ops import (
    round6,
    round6_array,
)
from data_quality_autohealer_spark.functions.text_heuristics import (
    DEFAULT_THRESHOLDS,
    GopherThresholds,
    _SYMBOL_CLASS,
    _WS_CHARS,
)
from data_quality_autohealer_spark.operators.decision import (
    DEFAULT_MODEL_THRESHOLDS,
    ModelThresholds,
)
from data_quality_autohealer_spark.operators.scoring import (
    MODEL_FIELDS,
    score_batch,
)

_ALPHA_RE = re.compile(r"[a-zA-Z]")
_SYMBOL_RE = re.compile(_SYMBOL_CLASS)
# explicit ASCII whitespace — NOT \s (Unicode in Python) — matching the
# Spark/DuckDB native twins exactly on real web text
_WS_RE = re.compile("[" + _WS_CHARS + "]+")


def _dup_frac(words: list[str], n: int) -> float:
    if len(words) < n:
        return 0.0
    grams = [" ".join(words[i: i + n]) for i in range(len(words) - n + 1)]
    return round6(1.0 - len(set(grams)) / len(grams))


def heuristic_signals(text: pd.Series,
                      th: GopherThresholds = DEFAULT_THRESHOLDS) -> pd.DataFrame:
    """Independent pandas twin of text_heuristics.spark_signal_exprs."""
    s = text.fillna("")
    out = pd.DataFrame(index=s.index)
    word_lists = [_WS_RE.split(t.strip(_WS_CHARS)) if t.strip(_WS_CHARS)
                  else [] for t in s]
    wc = np.array([len(w) for w in word_lists], dtype=np.int64)
    out["word_count"] = wc.astype(np.int32)

    nospace = np.array([len(_WS_RE.sub("", t)) for t in s], dtype=np.float64)
    out["mean_word_len"] = np.where(wc == 0, 0.0, round6_array(
        nospace / np.maximum(wc, 1)))
    nsym = np.array([len(_SYMBOL_RE.findall(t)) for t in s], dtype=np.float64)
    out["symbol_ratio"] = np.where(wc == 0, 0.0, round6_array(
        nsym / np.maximum(wc, 1)))
    stops = set(th.stopwords)
    out["distinct_stopwords"] = np.array(
        [0 if c == 0 else len(stops.intersection(w))
         for c, w in zip(wc, word_lists)], dtype=np.int32)
    nalpha = np.array(
        [sum(1 for x in w if _ALPHA_RE.search(x)) for w in word_lists],
        dtype=np.float64)
    out["alpha_word_frac"] = np.where(wc == 0, 0.0, round6_array(
        nalpha / np.maximum(wc, 1)))
    for n in (2, 3, 4):
        out[f"dup_{n}gram_frac"] = np.array(
            [_dup_frac(w, n) for w in word_lists], dtype=np.float64)
    return out


def reference_labels(
    pdf: pd.DataFrame,
    th: GopherThresholds = DEFAULT_THRESHOLDS,
    mt: ModelThresholds = DEFAULT_MODEL_THRESHOLDS,
) -> pd.DataFrame:
    """Oracle keep/drop + reasons + scrubbed text for a pages frame
    (columns: url, text, lang). Returns url-indexed frame with columns
    ``keep, reasons_csv, scrubbed_text`` plus every signal column."""
    sig = heuristic_signals(pdf["text"], th)
    fired: dict[str, pd.Series] = {
        "gopher.word_count": (sig["word_count"] < th.min_word_count)
        | (sig["word_count"] > th.max_word_count),
        "gopher.mean_word_length": (sig["mean_word_len"] < th.min_mean_word_length)
        | (sig["mean_word_len"] > th.max_mean_word_length),
        "gopher.symbol_ratio": sig["symbol_ratio"] > th.max_symbol_to_word_ratio,
        "gopher.stopwords": (pdf["lang"] == "en")
        & (sig["distinct_stopwords"] < th.min_distinct_stopwords),
        "gopher.alpha_ratio": sig["alpha_word_frac"] < th.min_alpha_word_frac,
        "gopher.dup_ngram": (sig["dup_2gram_frac"] > th.max_dup_2gram_frac)
        | (sig["dup_3gram_frac"] > th.max_dup_3gram_frac)
        | (sig["dup_4gram_frac"] > th.max_dup_4gram_frac),
    }
    out = pd.concat([pdf.reset_index(drop=True), sig.reset_index(drop=True)],
                    axis=1)
    scores = score_batch(pdf["text"]).reset_index(drop=True)[MODEL_FIELDS]
    out = pd.concat([out, scores], axis=1)
    fired = {k: v.reset_index(drop=True) for k, v in fired.items()}
    fired["langid"] = (
        (scores["lang_pred"] != out["lang"])
        & (scores["lang_pred"] != "und")
        # an absent claim, 'und' or null, is not judged (model_rules)
        & out["lang"].notna() & (out["lang"] != "und")
        & (scores["lang_conf"] >= mt.min_lang_conf)
    )
    fired["perplexity"] = scores["log_pplx"] > mt.max_log_pplx
    fired["toxicity"] = scores["n_tox"] > mt.max_tox
    reasons = []
    fired_df = pd.DataFrame(fired)
    for _, row in fired_df.iterrows():
        reasons.append(",".join(sorted(code for code, hit in row.items() if hit)))
    out["reasons_csv"] = reasons
    out["keep"] = fired_df.sum(axis=1) == 0
    return out
