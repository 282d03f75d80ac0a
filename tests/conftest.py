import pytest

from data_quality_autohealer_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dqa-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture()
def scored_metric_rows():
    """``fn(scored, run_id)``: the metrics checkpoint rows of a
    ``pipeline.score_pages`` frame, each bucket's counts summed here from
    its collected rows (apart from the scoring tasks' own counting) and
    packed by ``pipeline.bucket_metrics``."""
    from data_quality_autohealer_spark.operators.decision import REASON_CODES
    from data_quality_autohealer_spark.plans.pipeline import (
        PII_KINDS, bucket_metrics,
    )

    def rows(scored, run_id):
        sums = {}
        for r in scored.select("bucket", "keep", "reasons",
                               *[f"n_{k}" for k in PII_KINDS]).collect():
            p = sums.setdefault(r["bucket"], {
                "bucket": r["bucket"], "docs_in": 0, "docs_kept": 0,
                "rule_hits": [0] * len(REASON_CODES),
                "pii_scrubbed": [0] * len(PII_KINDS)})
            p["docs_in"] += 1
            p["docs_kept"] += int(r["keep"])
            for code in r["reasons"]:
                p["rule_hits"][REASON_CODES.index(code)] += 1
            for j, k in enumerate(PII_KINDS):
                p["pii_scrubbed"][j] += r[f"n_{k}"]
        return bucket_metrics(list(sums.values()), run_id)

    return rows
