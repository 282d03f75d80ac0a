"""Keep/drop decision + reason codes: the ensemble layer.

Reference analogue: multi-label ensemble with confidence threshold
(/root/reference/src/detectors/ensemble_classifier.py:91-139, threshold 0.7)
and issue→action mapping (src/streaming/kafka_consumer.py:96-105). Here the
"ensemble" is the union of Gopher heuristic rules
(``text_heuristics.gopher_rules``) and model rules (langid / perplexity /
toxicity from the scoring kernels), each emitting a reason code; keep ⇔ no
reason fired.

Each rule is written once over a ``rule_ops`` namespace; :func:`decide_frame`
evaluates them on numpy columns for every document decision
(``scoring.score_and_decide``: the Spark scoring and the API check).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..functions import text_heuristics as th
from ..functions.rule_ops import PandasOps


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
    "c4.page",   # merged post-decision: score_and_decide(page_keep=)
]

# the reference's severity cuts, highest first (kafka_consumer.py:83-94):
# a score strictly above the cut takes that severity. Bucket alerts
# (plans.pipeline.alert_severity) and the API check reply share them.
SEVERITY_CUTS = ((0.9, "critical"), (0.8, "high"), (0.6, "medium"))


def model_rules(o) -> dict:
    """Reason code -> ``(fired, confidence)`` over scoring-kernel output
    columns, written once over a ``rule_ops`` namespace (Spark Columns or
    numpy). Confidence ∈ [0,1] (reference ensemble's {issue: score} dict,
    ensemble_classifier.py:91-139): the langid rule reports the model's own
    softmax confidence; perplexity/toxicity report normalized distance past
    the threshold, clamped — the same min(x/τ, 1) shape as the heuristic
    rules."""
    mt = DEFAULT_MODEL_THRESHOLDS
    c = o.col
    pred, claimed, conf = c("lang_pred"), c("lang"), c("lang_conf")
    pplx, tox = c("log_pplx"), c("n_tox")
    # no mismatch when either side is 'und': the model abstaining, or the
    # claim being absent (WARC ingest stamps 'und', and a null claim decides
    # as 'und' — the predicted language is adopted downstream, not judged
    # against the stamp)
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


def decide_frame(scored) -> dict:
    """Every rule (default thresholds) on the columns of ``score_columns``
    output plus the claimed ``lang`` (no nulls) — a DataFrame or a dict of
    numpy arrays. Returns ``keep`` (list of bool) and ``reasons`` (list of
    sorted code lists) in row order, and the confidences as one float
    matrix (``confidences``, one row per document) whose columns follow
    ``codes``; only the API reply reads them."""
    o = PandasOps(scored)
    rules = {**th.gopher_rules(o), **model_rules(o)}
    codes = list(rules)
    fired = np.column_stack([f for f, _ in rules.values()]).astype(bool)
    order = sorted(range(len(codes)), key=codes.__getitem__)
    return {
        "keep": (~fired.any(axis=1)).tolist(),
        "reasons": [[codes[j] for j in order if row[j]]
                    for row in fired.tolist()],
        "confidences": np.column_stack([c for _, c in rules.values()]),
        "codes": codes,
    }
