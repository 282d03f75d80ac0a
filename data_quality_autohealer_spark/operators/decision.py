"""Keep/drop decision + reason codes: the ensemble layer.

Reference analogue: multi-label ensemble with confidence threshold
(/root/reference/src/detectors/ensemble_classifier.py:91-139, threshold 0.7)
and issue→action mapping (src/streaming/kafka_consumer.py:96-105). Here the
"ensemble" is the union of Gopher heuristic rules (native exprs,
text_heuristics.py) and model rules (langid / perplexity / toxicity from the
scoring UDF), each emitting a reason code; keep ⇔ no reason fired.

Each rule is written once (``text_heuristics.gopher_rules``,
:func:`model_rules`) over a ``rule_ops`` namespace: :func:`with_decision`
renders it as Spark Columns, :func:`decide_frame` evaluates it on a pandas
frame for the in-process API check.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text_heuristics as th
from ..functions.rule_ops import SPARK, PandasOps


@dataclass(frozen=True)
class ModelThresholds:
    max_log_pplx: float = 4.0
    min_lang_conf: float = 0.30  # only assert a language mismatch confidently
    max_tox: int = 2             # > max_tox toxic hits → drop, else scrub only


DEFAULT_MODEL_THRESHOLDS = ModelThresholds()

REASON_CODES = [
    "gopher.word_count", "gopher.mean_word_length", "gopher.symbol_ratio",
    "gopher.stopwords", "gopher.alpha_ratio", "gopher.dup_ngram",
    "langid", "perplexity", "toxicity",
    "c4.page",   # merged post-decision by run_filter(c4=True)
]


def model_rules(o, claimed_lang_col: str = "lang",
                mt: ModelThresholds = DEFAULT_MODEL_THRESHOLDS) -> dict:
    """Reason code -> ``(fired, confidence)`` over scoring-UDF output
    columns, written once over a ``rule_ops`` namespace (Spark Columns or
    numpy). Confidence ∈ [0,1] (reference ensemble's {issue: score} dict,
    ensemble_classifier.py:91-139): the langid rule reports the model's own
    softmax confidence; perplexity/toxicity report normalized distance past
    the threshold, clamped — the same min(x/τ, 1) shape as the heuristic
    rules."""
    c = o.col
    pred, claimed, conf = c("lang_pred"), c(claimed_lang_col), c("lang_conf")
    pplx, tox = c("log_pplx"), c("n_tox")
    # no mismatch when either side is 'und': the model abstaining, or the
    # claim being absent (WARC ingest stamps 'und' — the predicted language
    # is adopted downstream, not judged against the stamp)
    langid = ((pred != claimed) & (pred != "und") & (claimed != "und")
              & (conf >= mt.min_lang_conf))
    perplexity = pplx > mt.max_log_pplx
    toxicity = tox > mt.max_tox
    return {
        "langid": (langid, o.round6(o.case([(langid, conf)], 0.0))),
        "perplexity": (perplexity, o.past(
            (perplexity, (pplx - mt.max_log_pplx) / mt.max_log_pplx))),
        "toxicity": (toxicity, o.past(
            (toxicity, (tox - mt.max_tox) / float(mt.max_tox)))),
    }


def model_rule_conditions(
    claimed_lang_col: str = "lang",
    mt: ModelThresholds = DEFAULT_MODEL_THRESHOLDS,
) -> dict[str, Column]:
    """Reason-code -> fired-condition Column, from :func:`model_rules`."""
    return {k: fired for k, (fired, _) in
            model_rules(SPARK, claimed_lang_col, mt).items()}


def model_confidence_exprs(
    claimed_lang_col: str = "lang",
    mt: ModelThresholds = DEFAULT_MODEL_THRESHOLDS,
) -> dict[str, Column]:
    """Reason-code -> confidence Column, from :func:`model_rules`."""
    return {k: conf for k, (_, conf) in
            model_rules(SPARK, claimed_lang_col, mt).items()}


def with_confidences(
    df: DataFrame,
    gopher: th.GopherThresholds = th.DEFAULT_THRESHOLDS,
    model: ModelThresholds = DEFAULT_MODEL_THRESHOLDS,
    claimed_lang_col: str = "lang",
    include_model_rules: bool = True,
) -> DataFrame:
    """Attach ``confidences`` MAP<rule, DOUBLE>: one entry per rule, 0.0 when
    the rule did not fire (answers "how confident was the drop?")."""
    confs = dict(th.spark_confidence_exprs(gopher))
    if include_model_rules:
        confs.update(model_confidence_exprs(claimed_lang_col, model))
    m = F.map_from_arrays(
        F.array(*[F.lit(k) for k in confs]),
        F.array(*confs.values()))
    return df.withColumn("confidences", m)


def with_decision(
    df: DataFrame,
    gopher: th.GopherThresholds = th.DEFAULT_THRESHOLDS,
    model: ModelThresholds = DEFAULT_MODEL_THRESHOLDS,
    claimed_lang_col: str = "lang",
    include_model_rules: bool = True,
    include_confidences: bool = True,
) -> DataFrame:
    """Attach ``reasons`` (sorted array of codes), ``keep`` (bool) and
    ``confidences`` (map rule→score).

    Expects heuristic signal columns (text_heuristics.spark_signal_exprs) and,
    when ``include_model_rules``, scoring-UDF columns to be present.
    """
    conditions = dict(th.spark_rule_conditions(gopher))
    if include_model_rules:
        conditions.update(model_rule_conditions(claimed_lang_col, model))
    reasons = th.spark_reasons_expr(conditions)
    df = df.withColumn("reasons", reasons).withColumn(
        "keep", F.size("reasons") == 0
    )
    if include_confidences:
        df = with_confidences(df, gopher, model, claimed_lang_col,
                              include_model_rules)
    return df


def decide_frame(scored: pd.DataFrame) -> pd.DataFrame:
    """:func:`with_decision` (default thresholds) on a pandas frame of
    ``score_batch`` output plus the claimed ``lang``: the same rules
    evaluated on numpy. Returns ``keep``, ``reasons`` (sorted list of codes)
    and ``confidences`` (dict rule -> score), indexed like ``scored``."""
    o = PandasOps(scored)
    rules = {**th.gopher_rules(o), **model_rules(o)}
    codes = list(rules)
    fired = np.column_stack([f for f, _ in rules.values()]).astype(bool)
    conf = np.column_stack([c for _, c in rules.values()])
    order = sorted(range(len(codes)), key=codes.__getitem__)
    return pd.DataFrame({
        "keep": ~fired.any(axis=1),
        "reasons": [[codes[j] for j in order if row[j]]
                    for row in fired.tolist()],
        "confidences": [dict(zip(codes, row)) for row in conf.tolist()],
    }, index=scored.index)
