"""The in-process ``POST /quality/check`` path against the Spark pipeline:
``check_documents`` (``score_batch`` + ``decision.decide_frame``) must return
what ``score_pages`` (``with_model_scores`` + ``with_decision``) returns —
keep, sorted reasons, every confidence and byte-identical scrubbed text —
and the oracle's keep and reasons; concurrent calls must not interfere."""

import sys
import threading
from fractions import Fraction

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_quality_autohealer_spark import synth
from data_quality_autohealer_spark.functions.rule_ops import (
    round6,
    round6_array,
)
from data_quality_autohealer_spark.functions.scrub import TOXICITY_WORDS
from data_quality_autohealer_spark.plans.pipeline import score_pages
from jobs.check_one import check_documents
from oracle.rules import reference_labels

LANGS = ["en", "de", "fr", "es", "it", "nl", "zh", "pt", "ru", "und"]


def _assert_parity(spark, texts: list[str], langs: list[str]) -> None:
    got = check_documents(texts, langs)["documents"]
    urls = [f"adhoc://doc/{i}" for i in range(len(texts))]
    df = spark.createDataFrame(list(zip(urls, texts, langs)),
                               "url string, text string, lang string")
    want = {r["url"]: r for r in score_pages(df).select(
        "url", "keep", "reasons", "confidences", "scrubbed_text").collect()}
    assert [d["url"] for d in got] == urls
    for d in got:
        r = want[d["url"]]
        assert d["keep"] == r["keep"], d["url"]
        assert d["reasons"] == sorted(r["reasons"]), d["url"]
        assert d["confidences"] == r["confidences"], d["url"]
        assert (d["scrubbed_text"].encode("utf-8")
                == r["scrubbed_text"].encode("utf-8")), d["url"]
    ref = reference_labels(pd.DataFrame({"url": urls, "text": texts,
                                         "lang": langs}))
    assert [d["keep"] for d in got] == ref["keep"].tolist()
    assert [",".join(d["reasons"]) for d in got] == ref["reasons_csv"].tolist()


def test_synth_corpus_and_und_claims_match_spark(spark):
    pdf = synth.gen_pages_pdf(np.arange(300))
    texts = pdf["text"].tolist()
    langs = pdf["lang"].tolist()
    # WARC ingest stamps every page 'und': the same texts, claim withheld
    _assert_parity(spark, texts + texts[:60], langs + ["und"] * 60)


_VOCAB = (synth.gen_pages_pdf(np.arange(40))["text"].str.split().explode()
          .drop_duplicates().head(300).tolist()
          + list(TOXICITY_WORDS)
          + ["###", "{}", "@@", "=>", "~~", "a@b.com", "123-45-6789",
             "555-123-4567", "10.0.0.1", " ", "\t", "　", "ü", "中文"])
_WORDY = st.lists(st.sampled_from(_VOCAB), max_size=120).map(" ".join)
_RAW = st.text(st.characters(blacklist_categories=("Cs",)), max_size=200)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(docs=st.lists(st.tuples(st.one_of(_WORDY, _RAW),
                               st.sampled_from(LANGS)),
                     min_size=1, max_size=12))
def test_generated_texts_and_langs_match_spark(spark, docs):
    _assert_parity(spark, [t for t, _ in docs], [lg for _, lg in docs])


def test_concurrent_checks_match_serial():
    """Two request threads scoring at once (the server runs threaded) get
    the replies serial calls get: the models and scorer share no mutable
    per-call state."""
    pdf = synth.gen_pages_pdf(np.arange(64))
    bodies = [(pdf["text"].tolist()[i:i + 8], pdf["lang"].tolist()[i:i + 8])
              for i in range(0, 64, 8)]
    serial = [check_documents(t, lg) for t, lg in bodies]
    results: dict[int, list] = {0: [], 1: []}
    start = threading.Barrier(2)

    def client(c: int) -> None:
        start.wait(timeout=30)
        for k in range(c, len(bodies) * 3, 2):
            t, lg = bodies[k % len(bodies)]
            results[c].append((k % len(bodies), check_documents(t, lg)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in (0, 1)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(results[0]) + len(results[1]) == len(bodies) * 3
    for c in (0, 1):
        for b, resp in results[c]:
            assert resp == serial[b]


def _tie_ratios() -> list[float]:
    """a/b and 1 - a/b (the shapes of the Gopher signals) whose exact
    decimal sits on a 6dp .5 tie."""
    out = []
    for b in range(1, 700):
        for a in range(0, b + 1):
            q = Fraction(a, b) * 10**6
            if q.denominator == 2:
                out += [a / b, 1.0 - a / b]
    return out


def test_round6_matches_spark_round(spark):
    ties = _tie_ratios()
    assert 41 / 640 in ties and 1 - 307 / 640 in ties
    rng = np.random.default_rng(7)
    vals = ties + list(rng.random(500)) + list(rng.random(200) * 20) + [
        0.0, 1.0, 0.5e-6, 2.5e-6, 1 / 128, 1e-7]
    spark_round = [r[0] for r in spark.createDataFrame(
        [(float(v),) for v in vals], "x double")
        .selectExpr("round(x, 6)").collect()]
    assert [round6(v) for v in vals] == spark_round
    assert round6_array(vals).tolist() == spark_round
    assert round6(41 / 640) == 0.064063
    assert round6(1 - 307 / 640) == 0.520313
