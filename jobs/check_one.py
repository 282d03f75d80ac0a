"""Synchronous ad-hoc quality check — the batch twin of the reference's
``POST /quality/check`` endpoint (/root/reference/src/api/quality_service.py:57-123):
score a small uploaded document set NOW, in this process and without Spark,
through the IDENTICAL scorer and rules the pipeline uses, and return the
reference-shaped response dict (detected_issues / scores / severity /
recommendations, severity cuts 0.9/0.8/0.6, ensemble selection threshold
0.7, ['clean'] fallback).

CLI:  python jobs/check_one.py --file docs.txt          # one document per line
      python jobs/check_one.py --text "some document"   # repeatable
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# reference ensemble threshold (ensemble_classifier.py:94 / quality_thresholds.yaml)
ENSEMBLE_THRESHOLD = 0.7

# issue → recommendation, the web-text port of quality_service.py:89-105
RECOMMENDATION_FOR_REASON = {
    "gopher.word_count": "Drop document: word count outside Gopher bounds",
    "gopher.mean_word_length": "Drop document: mean word length out of range",
    "gopher.symbol_ratio": "Drop document: symbol-to-word ratio too high "
                           "(markup/code debris)",
    "gopher.stopwords": "Drop document: too few required stopwords for "
                        "claimed language",
    "gopher.alpha_ratio": "Drop document: too few alphabetic words",
    "gopher.dup_ngram": "Drop document: repeated n-gram boilerplate",
    "langid": "Drop or relabel document: language-ID disagrees with claimed "
              "language",
    "perplexity": "Drop document: LM perplexity indicates non-natural text",
    "toxicity": "Drop document: toxicity hits above threshold "
                "(below it the scrub suffices)",
}


def check_documents(texts: list[str], langs: list[str] | None = None,
                    pipeline_id: str = "adhoc") -> dict:
    """Score ad-hoc documents in this process and return the
    reference-shaped response plus per-document decisions.

    The pipeline's ``score_batch`` runs on chunks of one Arrow batch
    (``session.ARROW_BATCH_ROWS`` rows, as the Spark UDF sees them), then
    ``decision.decide_frame`` applies the rule functions that ``with_decision``
    renders for Spark — so the reply matches ``score_pages`` with no Spark
    job. The perplexity model is this process's: a drift-retrained artifact
    reaches the API only through its own ``DQA_PPLX_MODEL`` environment
    variable, not through ``spark.executorEnv``, which configures the batch
    pipeline's Python workers.
    """
    import pandas as pd

    from data_quality_autohealer_spark.operators.decision import decide_frame
    from data_quality_autohealer_spark.operators.scoring import score_batch
    from data_quality_autohealer_spark.session import ARROW_BATCH_ROWS

    text = pd.Series(texts, dtype=object)
    scored = pd.concat([score_batch(text.iloc[i:i + ARROW_BATCH_ROWS])
                        for i in range(0, len(text), ARROW_BATCH_ROWS)])
    scored["lang"] = langs or ["en"] * len(texts)
    decided = decide_frame(scored)

    scores: dict[str, float] = {}
    for confidences in decided["confidences"]:
        for rule, conf in confidences.items():
            scores[rule] = max(scores.get(rule, 0.0), conf)
    detected = sorted(r for r, s in scores.items()
                      if s >= ENSEMBLE_THRESHOLD)
    # any fired rule below the ensemble cut still surfaces via reasons
    fired = sorted({c for rs in decided["reasons"] for c in rs})
    if not detected:
        detected = fired or ["clean"]
    max_score = max(scores.values()) if scores else 0.0
    severity = ("critical" if max_score > 0.9 else
                "high" if max_score > 0.8 else
                "medium" if max_score > 0.6 else "low")
    recommendations = [
        RECOMMENDATION_FOR_REASON.get(i, "No quality issues detected")
        for i in detected
    ] if detected != ["clean"] else ["No quality issues detected"]
    return {
        "pipeline_id": pipeline_id,
        "detected_issues": detected,
        "scores": {k: round(v, 6) for k, v in sorted(scores.items())},
        "severity": severity,
        "recommendations": recommendations,
        "documents": [
            {"url": f"adhoc://doc/{i}", "keep": bool(keep),
             "reasons": reasons, "confidences": confidences,
             "scrubbed_text": scrubbed}
            for i, (keep, reasons, confidences, scrubbed) in enumerate(zip(
                decided["keep"], decided["reasons"], decided["confidences"],
                scored["scrubbed_text"]))
        ],
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--text", action="append", default=[])
    p.add_argument("--file", help="one document per line")
    p.add_argument("--lang", default="en")
    p.add_argument("--pipeline-id", default="adhoc")
    args = p.parse_args()

    texts = list(args.text)
    if args.file:
        with open(args.file) as f:
            texts.extend(line.rstrip("\n") for line in f if line.strip())
    if not texts:
        p.error("provide --text or --file")

    resp = check_documents(texts, [args.lang] * len(texts), args.pipeline_id)
    json.dump(resp, sys.stdout, indent=2)
    print()


if __name__ == "__main__":
    main()
