"""Synchronous ad-hoc check (jobs/check_one.py) — the reference's
POST /quality/check analogue, scored in-process without Spark — verified
against the pandas oracle labels."""

import os

import numpy as np
import pandas as pd

from data_quality_autohealer_spark import synth
from jobs.check_one import ENSEMBLE_THRESHOLD, check_documents
from oracle.rules import reference_labels


def test_clean_documents_report_clean():
    pdf = synth.gen_pages_pdf(np.arange(400))
    labels = reference_labels(pdf)
    good = labels[labels["keep"]].head(5)
    resp = check_documents(good["text"].tolist(), good["lang"].tolist())
    assert resp["detected_issues"] == ["clean"]
    assert resp["severity"] == "low"
    assert resp["recommendations"] == ["No quality issues detected"]
    assert all(d["keep"] for d in resp["documents"])


def test_bad_documents_match_oracle_labels():
    pdf = synth.gen_pages_pdf(np.arange(400))
    labels = reference_labels(pdf)
    bad = labels[~labels["keep"]].head(10)
    resp = check_documents(bad["text"].tolist(), bad["lang"].tolist())
    assert resp["detected_issues"] != ["clean"]
    assert resp["severity"] in {"critical", "high", "medium", "low"}
    assert len(resp["recommendations"]) == len(resp["detected_issues"])
    # per-document keep/reasons must match the oracle exactly
    for doc, (_, orc) in zip(resp["documents"], bad.iterrows()):
        assert doc["keep"] == bool(orc["keep"])
        assert ",".join(doc["reasons"]) == orc["reasons_csv"]


def test_scores_are_rule_confidences():
    # a pathological doc: short + symbol soup → multiple confident rules
    resp = check_documents(["### {} => ~~ @@@"], ["en"])
    assert resp["detected_issues"] != ["clean"]
    assert resp["scores"], "expected nonempty per-rule scores"
    assert all(0.0 <= s <= 1.0 for s in resp["scores"].values())
    confident = [r for r, s in resp["scores"].items()
                 if s >= ENSEMBLE_THRESHOLD]
    assert set(confident) <= set(resp["detected_issues"])
    assert not resp["documents"][0]["keep"]


def test_documents_preserve_input_order_past_ten():
    """≥10 docs: lexicographic url sort would put doc/10 before doc/2
    (ADVICE r02) — the response must follow the caller's input order."""
    pdf = synth.gen_pages_pdf(np.arange(200))
    good = pdf[reference_labels(pdf)["keep"]].head(12)
    resp = check_documents(good["text"].tolist(), good["lang"].tolist())
    urls = [d["url"] for d in resp["documents"]]
    assert urls == [f"adhoc://doc/{i}" for i in range(12)]


def test_und_claims_are_not_judged_by_langid():
    """WARC ingest stamps every page 'und': a clean document claimed 'und'
    is kept by the check and by the oracle alike (no langid mismatch)."""
    pdf = synth.gen_pages_pdf(np.arange(400))
    labels = reference_labels(pdf)
    good = labels[labels["keep"] & (labels["lang"] == "en")].head(5)
    und = pd.DataFrame({"url": good["url"], "text": good["text"],
                        "lang": "und"})
    resp = check_documents(und["text"].tolist(), und["lang"].tolist())
    assert [d["keep"] for d in resp["documents"]] == [True] * 5
    assert reference_labels(und)["keep"].tolist() == [True] * 5


def test_pplx_model_comes_from_the_process_env(tmp_path):
    """The check runs in this process, so DQA_PPLX_MODEL set on the API
    process (not spark.executorEnv) selects its perplexity model."""
    from data_quality_autohealer_spark.functions import perplexity as P

    doc = "zebra quokka axolotl wanders nightly"
    retrained = P.PerplexityModel.train_texts([doc] * 5)
    path = str(tmp_path / "pplx.npz")
    retrained.save(path)
    try:
        os.environ[P.MODEL_PATH_ENV] = path
        P.reset_model_cache()
        override = check_documents([doc])["documents"][0]
    finally:
        del os.environ[P.MODEL_PATH_ENV]
        P.reset_model_cache()
    seed = check_documents([doc])["documents"][0]
    assert "perplexity" in seed["reasons"]
    assert "perplexity" not in override["reasons"]
