"""Single-process pass of the scoring kernels over a workload's texts, in
the Arrow batch size the Spark UDFs receive (``session.ARROW_BATCH_ROWS``).
It is the single-threaded baseline the Spark stages are judged against."""

from __future__ import annotations

import time

import pandas as pd

KERNEL_MAX_DOCS = 8192


def kernel_rates(texts: pd.Series) -> dict[str, float]:
    from data_quality_autohealer_spark.functions import langid, perplexity
    from data_quality_autohealer_spark.functions.scrub import scrub_series
    from data_quality_autohealer_spark.functions.text_heuristics import (
        DEFAULT_THRESHOLDS,
    )
    from data_quality_autohealer_spark.operators import scoring
    from data_quality_autohealer_spark.session import ARROW_BATCH_ROWS

    texts = texts.reset_index(drop=True)
    while len(texts) < ARROW_BATCH_ROWS:  # small request pools: repeat
        texts = pd.concat([texts, texts], ignore_index=True)
    texts = texts.iloc[:KERNEL_MAX_DOCS]
    batches = [texts.iloc[i:i + ARROW_BATCH_ROWS]
               for i in range(0, len(texts), ARROW_BATCH_ROWS)]
    lang_model, pplx_model = langid.get_model(), perplexity.get_model()
    stop = DEFAULT_THRESHOLDS.stopwords
    kernels = {
        "functions.langid.docs_per_s": lang_model.predict_series,
        "functions.perplexity.docs_per_s": pplx_model.log_perplexity_series,
        "functions.scrub.docs_per_s": scrub_series,
        "operators.scoring.signals_docs_per_s":
            lambda b: scoring.heuristic_signal_batch(b, stop),
        "operators.scoring.score_batch_docs_per_s": scoring.score_batch,
    }
    rates = {}
    for name, fn in kernels.items():
        fn(batches[0].iloc[:64])  # first-call set-up off the clock
        t = time.perf_counter()
        for b in batches:
            fn(b)
        rates[name] = len(texts) / (time.perf_counter() - t)
    return rates
