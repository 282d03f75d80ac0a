"""The F1≥0.99 + byte-identical-scrubbed-text gate (BASELINE.md targets).

Spark pipeline output vs the pandas oracle on the deterministic synthetic
corpus (FIXTURES.md §1 quality mix). Mirrors the reference's end-to-end
detect test (/root/reference/tests/test_ensemble.py:183-199) at document
granularity.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_autohealer_spark import synth
from data_quality_autohealer_spark.plans import pipeline
from oracle.rules import reference_labels

N_DOCS = 3000


@pytest.fixture(scope="module")
def spark_scored(spark):
    pages = synth.gen_pages_df(spark, N_DOCS, num_partitions=8)
    scored = pipeline.score_pages(pages)
    pdf = (scored
           .withColumn("reasons_csv", F.array_join("reasons", ","))
           .select("url", "lang", "keep", "reasons_csv", "scrubbed_text",
                   "word_count", "log_pplx", "lang_pred")
           .toPandas()
           .sort_values("url").reset_index(drop=True))
    return pdf


@pytest.fixture(scope="module")
def oracle_scored():
    pdf = synth.gen_pages_pdf(np.arange(N_DOCS))
    out = reference_labels(pdf[["url", "text", "lang"]])
    return out.sort_values("url").reset_index(drop=True)


def test_keep_f1(spark_scored, oracle_scored):
    assert len(spark_scored) == len(oracle_scored) == N_DOCS
    s = spark_scored["keep"].to_numpy()
    o = oracle_scored["keep"].to_numpy()
    tp = int((s & o).sum())
    fp = int((s & ~o).sum())
    fn = int((~s & o).sum())
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"keep/drop F1 {f1:.4f} < 0.99 (fp={fp}, fn={fn})"


def test_reason_codes_match(spark_scored, oracle_scored):
    mismatch = (spark_scored["reasons_csv"] != oracle_scored["reasons_csv"])
    frac = mismatch.mean()
    assert frac <= 0.01, (
        f"{mismatch.sum()} reason mismatches; e.g. "
        f"{spark_scored[mismatch].head(3)[['url','reasons_csv']].values} vs "
        f"{oracle_scored[mismatch].head(3)[['reasons_csv']].values}"
    )


def test_scrubbed_text_byte_identical(spark_scored, oracle_scored):
    eq = spark_scored["scrubbed_text"].to_numpy() == \
        oracle_scored["scrubbed_text"].to_numpy()
    assert eq.all(), f"{int((~eq).sum())} scrubbed_text byte mismatches"


def test_pii_slice_scrubbed(oracle_scored):
    # PII slice (row_id % 100 in 94..97) must be kept with text != scrubbed
    ids = oracle_scored["url"].str.extract(r"/p/(\d+)$")[0].astype(int)
    pii = (ids % 100).between(94, 97)
    sub = oracle_scored[pii]
    assert (sub["scrubbed_text"] != sub["text"]).all()
    assert sub["keep"].mean() > 0.95


def test_quality_mix_expectations(oracle_scored):
    ids = oracle_scored["url"].str.extract(r"/p/(\d+)$")[0].astype(int)
    sl = ids % 100
    o = oracle_scored
    assert o[sl < 55]["keep"].mean() > 0.95           # clean
    assert not o[(sl >= 55) & (sl < 63)]["keep"].any()  # too-short
    assert not o[(sl >= 63) & (sl < 69)]["keep"].any()  # gibberish
    assert not o[(sl >= 69) & (sl < 75)]["keep"].any()  # symbol-heavy
    assert not o[(sl >= 75) & (sl < 83)]["keep"].any()  # repetitive
    assert o[(sl >= 83) & (sl < 89)]["keep"].mean() < 0.05  # wrong-language
    assert o[(sl >= 89) & (sl < 94)]["keep"].mean() < 0.05  # word salad


def test_run_filter_null_and_und_claims_match_oracle(spark, tmp_path):
    """A null claim (a Kafka frame without the ``lang`` field) is no claim,
    like 'und': ``run_filter`` keeps and scrubs what the oracle does, and
    its clean rows keep a null claim null while an 'und' claim adopts the
    predicted language. Judging a null claim as a real one would drop the
    null-claim pages on langid."""
    from data_quality_autohealer_spark.warehouse import Warehouse

    pdf = synth.gen_pages_pdf(np.arange(600))
    lang = pdf["lang"].astype(object).to_numpy()
    lang[1::5] = "und"
    lang[::3] = None
    pdf["lang"] = lang
    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=4)
    wh.write_pages(spark.createDataFrame(pdf, synth.PAGES_SCHEMA_DDL))
    summary = pipeline.run_filter(wh, "nulls")

    ref = reference_labels(pdf[["url", "text", "lang"]])
    kept = ref[ref["keep"]]
    null_kept = kept["lang"].isna().sum()
    assert null_kept > 50  # the null claims are kept as no claim
    want_lang = [lp if lg == "und" and lp != "und" else lg
                 for lg, lp in zip(kept["lang"], kept["lang_pred"])]
    want = dict(zip(kept["url"], zip(want_lang, kept["scrubbed_text"])))
    got = {r["url"]: (r["lang"], r["text"])
           for r in wh.read_clean().select("url", "lang", "text").collect()}
    assert summary["docs_in"] == len(pdf)
    assert summary["docs_kept"] == len(want)
    assert got == want


def test_task_partials_match_the_spark_sql_sinks(spark, tmp_path,
                                                 scored_metric_rows):
    """The scoring tasks count the metrics and build the clean rows
    themselves. Their metrics equal per-bucket sums of ``score_pages``
    rows counted here, and their clean rows the streaming sink's
    ``clean_rows`` projection, on pages with 'und' and null claims, C4
    re-lined text (with a ``c4.page`` drop) and a bucket where every page
    is dropped."""
    from data_quality_autohealer_spark.warehouse import Warehouse, bucket_expr

    pdf = synth.gen_pages_pdf(np.arange(800))
    pdf["text"] = [t[:120] + ".\n" + t[120:240] + ".\n" + t[240:] + "."
                   for t in pdf["text"]]
    pdf.loc[7, "text"] += "\nlorem ipsum dolor sit amet."
    lang = pdf["lang"].astype(object).to_numpy()
    lang[1::5] = "und"
    lang[::7] = None
    pdf["lang"] = lang
    buckets = {r["url"]: r["b"] for r in spark.createDataFrame(pdf[["url"]])
               .select("url", bucket_expr("url", 4).alias("b")).collect()}
    soup = pdf["url"].map(buckets) == 3
    pdf.loc[soup, "text"] = "### {} => ~~ @@ |||| ^^^ " * 10
    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=4)
    wh.write_pages(spark.createDataFrame(pdf, synth.PAGES_SCHEMA_DDL))

    pipeline.run_filter(wh, "tasks", c4=True)
    scored = pipeline.score_pages(wh.read_pages(), c4=True)

    def metric_keys(rows):
        return sorted((r["bucket"], r["docs_in"], r["docs_kept"],
                       r["docs_dropped"], sorted(r["rule_hits"].items()),
                       sorted(r["pii_scrubbed"].items())) for r in rows)

    got = metric_keys(wh.read_metrics().collect())
    assert got == metric_keys(scored_metric_rows(scored, "tasks"))
    by_bucket = {m[0]: m for m in got}
    assert by_bucket[3][1] > 0 and by_bucket[3][2] == 0
    assert sum(dict(m[4])["c4.page"] for m in got) > 0

    cols = ["url", "warc_ts", "lang", "text", "reasons_csv", "bucket"]
    clean = sorted(tuple(r) for r in wh.read_clean().select(*cols).collect())
    assert clean == sorted(tuple(r) for r in pipeline.clean_rows(scored)
                           .select(*cols).collect())
    claims = dict(zip(pdf["url"], lang))
    assert any(claims[r[0]] is None and r[2] is None for r in clean)
    assert any(claims[r[0]] == "und" and r[2] not in (None, "und")
               for r in clean)
