"""Synchronous ad-hoc quality check — the batch twin of the reference's
``POST /quality/check`` endpoint (/root/reference/src/api/quality_service.py:57-123):
score a small uploaded document set NOW, in this process and without Spark,
through the IDENTICAL scorer and rules the pipeline uses, and return the
reference-shaped response dict (detected_issues / scores / severity /
recommendations, ``decision.SEVERITY_CUTS``, ensemble selection threshold
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

    The Spark scoring's evaluator (``scoring.score_and_decide``:
    ``score_columns`` then ``decision.decide_frame``) runs on chunks of one
    Arrow batch (``session.ARROW_BATCH_ROWS`` rows, as ``decide_batch`` sees
    them in the ``mapInArrow`` tasks) — so the reply matches ``score_pages``
    with no Spark job and no pandas frame. The perplexity model is this
    process's: a drift-retrained artifact reaches the API only through its own
    ``DQA_PPLX_MODEL`` environment variable, not through
    ``spark.executorEnv``, which configures the batch pipeline's Python
    workers.
    """
    from data_quality_autohealer_spark.operators.decision import SEVERITY_CUTS
    from data_quality_autohealer_spark.operators.scoring import (
        score_and_decide,
    )
    from data_quality_autohealer_spark.session import ARROW_BATCH_ROWS

    langs = langs or ["en"] * len(texts)
    # no documents: one empty chunk, which decides to the 'clean' reply
    chunks = [score_and_decide(texts[i:i + ARROW_BATCH_ROWS],
                               langs[i:i + ARROW_BATCH_ROWS])
              for i in range(0, len(texts) or 1, ARROW_BATCH_ROWS)]
    scrubbed = [t for cols, _ in chunks for t in cols["scrubbed_text"]]
    decided = {k: [v for _, dec in chunks for v in dec[k]]
               for k in ("keep", "reasons")}
    codes = chunks[0][1]["codes"]
    decided["confidences"] = [
        dict(zip(codes, row)) for _, dec in chunks
        for row in dec["confidences"].tolist()]

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
    severity = next((sev for cut, sev in SEVERITY_CUTS if max_score > cut),
                    "low")
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
            {"url": f"adhoc://doc/{i}", "keep": keep,
             "reasons": reasons, "confidences": confidences,
             "scrubbed_text": scrubbed}
            for i, (keep, reasons, confidences, scrubbed) in enumerate(zip(
                decided["keep"], decided["reasons"], decided["confidences"],
                scrubbed))
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
