"""Resume contract (north_rule): a killed job resumes without rescoring
completed partitions. Mirrors SURVEY §5.2.4."""

import datetime
import os

import pyspark.sql.functions as F
import pytest

from data_quality_autohealer_spark import synth
from data_quality_autohealer_spark.plans.pipeline import (
    run_filter, score_pages, validate_run,
)
from data_quality_autohealer_spark.warehouse import Warehouse

N = 2000
BUCKETS = 8


@pytest.fixture()
def wh(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"), num_buckets=BUCKETS)
    pages = synth.gen_pages_df(spark, N, num_partitions=4)
    w.write_pages(pages)
    return w


def test_full_run_writes_clean_and_metrics(wh, spark):
    summary = run_filter(wh, "run1")
    assert summary["docs_in"] == N
    clean = wh.read_clean()
    assert clean.count() == summary["docs_kept"] > 0
    m = wh.read_metrics().where(F.col("run_id") == "run1")
    rows = m.collect()
    assert {r["bucket"] for r in rows} == set(range(BUCKETS))
    assert sum(r["docs_in"] for r in rows) == N
    assert sum(r["docs_kept"] for r in rows) == summary["docs_kept"]
    hits = rows[0]["rule_hits"]
    assert set(hits) >= {"gopher.word_count", "langid", "perplexity"}


def test_resume_skips_completed_buckets(wh, spark, scored_metric_rows):
    # simulate a killed run: checkpoint metrics for buckets 0..3 only
    pages = wh.read_pages()
    part = pages.where(F.col("bucket") < 4)
    scored = score_pages(part)
    wh.append_metrics(scored_metric_rows(scored, "run2"))

    todo = wh.resume_filter(pages, "run2")
    todo_buckets = {r["bucket"] for r in todo.select("bucket").distinct().collect()}
    assert todo_buckets == {4, 5, 6, 7}

    # full resume run completes the remaining buckets only
    summary = run_filter(wh, "run2")
    assert summary["docs_in"] == pages.where(F.col("bucket") >= 4).count()
    m = wh.read_metrics().where(F.col("run_id") == "run2")
    assert m.select("bucket").distinct().count() == BUCKETS
    # re-run again: nothing left to do
    summary2 = run_filter(wh, "run2")
    assert summary2["docs_in"] == 0


def test_validate_and_notify_tail(wh, spark):
    # reference: every DAG ends validate_remediation >> notify
    # (schema_drift_remediation.py:143-204); here: re-score the clean table,
    # assert re-drop ≈ 0, and append the completion audit row
    from data_quality_autohealer_spark.plans.pipeline import validate_run
    run_filter(wh, "runv")
    result = validate_run(wh, "runv")
    assert result["status"] == "ok", result
    assert result["docs_validated"] == wh.read_clean().count() > 0
    assert result["revalidation_drop_rate"] <= 0.02
    audit = wh.read_audit().where(F.col("run_id") == "runv").collect()
    assert len(audit) == 1
    assert audit[0]["step"] == "validate_remediation"
    assert audit[0]["status"] == "ok"
    assert audit[0]["completed_at"] is not None


def _parquet_files(path):
    """bucket dir ('.' for an unpartitioned table) -> data file count."""
    out = {}
    for root, _, files in os.walk(path):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            out[os.path.relpath(root, path)] = n
    return out


def _symbol_soup(spark, n):
    return spark.createDataFrame(
        [(f"http://bad.test/{i}", datetime.datetime(2026, 1, 1),
          bytearray(b""), "### {} => ~~ @@ |||| ^^^ " * 10, "en")
         for i in range(n)],
        "url string, warc_ts timestamp, html binary, text string, lang string")


def test_run_filter_cost(wh, spark):
    """One no-alert run_filter is one Spark job (listing, resume, alert
    checks and the metrics checkpoint run none), leaves one file per
    bucket in pages and pages_clean, no checksum file and no staging
    directory, and appends exactly one metrics file."""
    root = wh.root
    pages_files = _parquet_files(os.path.join(root, "pages"))
    assert len(pages_files) == BUCKETS and set(pages_files.values()) == {1}
    sc = spark.sparkContext
    sc.setJobGroup("run-filter-cost", "one run_filter")
    try:
        summary = run_filter(wh, "cost")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("run-filter-cost")
    assert summary["docs_in"] == N and summary["alerts"] == 0
    assert len(jobs) == 1, jobs
    clean_files = _parquet_files(os.path.join(root, "pages_clean"))
    assert len(clean_files) <= BUCKETS and set(clean_files.values()) == {1}
    names = [n for _, dirs, files in os.walk(os.path.join(root, "pages_clean"))
             for n in dirs + files]
    assert not [n for n in names if n.startswith(".") or n.endswith(".crc")]
    assert _parquet_files(os.path.join(root, "metrics")) == {".": 1}
    run_filter(wh, "cost-2")
    assert _parquet_files(os.path.join(root, "metrics")) == {".": 2}


def test_buckets_spanning_arrow_batches_keep_one_file(wh, spark):
    """A bucket whose pages arrive over several Arrow batches of a task is
    still one clean file, with the rows a one-batch-per-bucket run
    writes."""
    run_filter(wh, "big-batches", clean_table="clean_big")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        run_filter(wh, "small-batches", clean_table="clean_small")
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    files = _parquet_files(os.path.join(wh.root, "clean_small"))
    assert len(files) == BUCKETS and set(files.values()) == {1}
    assert sorted(wh.read_clean("clean_small").collect()) == \
        sorted(wh.read_clean("clean_big").collect())

    def metrics(run_id):
        return sorted((m["bucket"], m["docs_in"], m["docs_kept"],
                       sorted(m["rule_hits"].items()),
                       sorted(m["pii_scrubbed"].items()))
                      for m in wh.read_metrics()
                      .where(F.col("run_id") == run_id).collect())

    assert metrics("small-batches") == metrics("big-batches")


def test_all_dropped_run_validates_zero_docs(wh, spark):
    """A run that drops every document leaves an empty clean table that
    reads and validates as 0 docs (no schema to infer from)."""
    wh.write_pages(_symbol_soup(spark, 50), table="pages_soup")
    summary = run_filter(wh, "soup", pages_table="pages_soup",
                         clean_table="clean_soup")
    assert summary["docs_in"] == 50 and summary["docs_kept"] == 0
    # every bucket dropped everything: the driver-side alert count matches
    # the rows quality_alerts wrote
    alerts = wh.read_alerts().where(F.col("run_id") == "soup").collect()
    assert summary["alerts"] == len(alerts) > 0
    assert {a["severity"] for a in alerts} == {"critical"}
    assert wh.read_clean("clean_soup").count() == 0
    result = validate_run(wh, "soup", clean_table="clean_soup")
    assert result["docs_validated"] == 0
    assert result["status"] == "ok"


def test_drift_triggered_retrain(wh, spark):
    # reference distribution_shift_remediation.py:69-104: retrain on drift
    from data_quality_autohealer_spark.functions.perplexity import (
        PerplexityModel,
    )
    from data_quality_autohealer_spark.plans.pipeline import drift_retrain

    run_filter(wh, "base")  # baseline drop rate on the normal mix

    # same corpus again: no drift -> no retrain, audit row 'skipped'
    run_filter(wh, "same")
    r = drift_retrain(wh, "same", "base")
    assert r["retrained"] is False and r["drift"] < 0.05

    # symbol-soup corpus: drop rate jumps -> retrain fires
    wh.write_pages(_symbol_soup(spark, 200), table="pages_bad")
    run_filter(wh, "bad", pages_table="pages_bad")
    r2 = drift_retrain(wh, "bad", "base")
    assert r2["retrained"] is True and r2["drift"] > 0.15
    m = PerplexityModel.load(r2["model_path"])  # artifact round-trips
    assert m.total > 0
    steps = {a["run_id"]: a["status"] for a in wh.read_audit().collect()
             if a["step"] == "drift_retrain"}
    assert steps == {"same": "skipped", "bad": "retrained"}


def test_run_filter_in_waves(wh, spark):
    from data_quality_autohealer_spark.plans.pipeline import (
        run_filter_in_waves,
    )
    summary = run_filter_in_waves(wh, "w1", wave_buckets=3)
    assert summary["docs_in"] == N and summary["waves"] == 3  # ceil(8/3)
    m = wh.read_metrics().where(F.col("run_id") == "w1")
    assert m.select("bucket").distinct().count() == BUCKETS
    # wave output identical to a single-shot run of the same corpus
    single = run_filter(wh, "w1-single")
    assert summary["docs_kept"] == single["docs_kept"]
    # resume after waves: nothing left
    again = run_filter_in_waves(wh, "w1", wave_buckets=3)
    assert again["docs_in"] == 0 and again["buckets_skipped"] == BUCKETS


def test_waves_below_one_bucket_are_refused(monkeypatch, tmp_path):
    """A negative --wave-buckets is a parser error, before any session
    starts; run_filter_in_waves refuses a wave below one bucket (a
    negative one used to run no wave and report docs_in 0)."""
    import sys

    from data_quality_autohealer_spark import session
    from data_quality_autohealer_spark.plans.pipeline import (
        run_filter_in_waves,
    )
    from jobs import run_filter as cli

    def no_spark(*a, **k):
        raise AssertionError("get_spark called")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", [
        "run_filter.py", "--warehouse", str(tmp_path / "wh"),
        "--run-id", "r1", "--wave-buckets", "-1"])
    with pytest.raises(SystemExit) as exit_:
        cli.main()
    assert exit_.value.code == 2
    for n in (0, -1):
        with pytest.raises(ValueError, match="wave_buckets"):
            run_filter_in_waves(None, "r1", wave_buckets=n)


def test_wave_buckets_are_listed_without_a_spark_job(wh, spark):
    """The buckets run_filter_in_waves walks are the pages table's
    partition directories, listed on the driver: the Spark query it ran
    before (select distinct bucket: 2 jobs scanning every pages file)
    gives the same set."""
    sc = spark.sparkContext
    sc.setJobGroup("wave-buckets", "list the pages buckets")
    try:
        buckets = wh.page_buckets()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("wave-buckets")) == []
    assert buckets == sorted(r["bucket"] for r in wh.read_pages()
                             .select("bucket").distinct().collect())
    assert buckets == list(range(BUCKETS))


def test_bucket_assignment_is_stable(wh, spark):
    a = wh.read_pages().select("url", "bucket")
    b = wh.read_pages().select(
        "url", F.pmod(F.xxhash64("url"), F.lit(BUCKETS)).cast("int")
        .alias("bucket2"))
    j = a.join(b, "url")
    assert j.where(F.col("bucket") != F.col("bucket2")).count() == 0


def test_quality_alerts(spark):
    from data_quality_autohealer_spark.plans.pipeline import quality_alerts
    from data_quality_autohealer_spark.warehouse import METRICS_SCHEMA
    rows = [
        ("r", 0, 100, 5, 95, {"langid": 90}, {}, datetime.datetime(2026, 1, 1)),
        ("r", 1, 100, 85, 15, {}, {}, datetime.datetime(2026, 1, 1)),
        ("r", 2, 100, 30, 70, {}, {}, datetime.datetime(2026, 1, 1)),
    ]
    m = spark.createDataFrame(rows, METRICS_SCHEMA)
    alerts = {r["bucket"]: r for r in quality_alerts(m).collect()}
    assert alerts[0]["severity"] == "critical"
    assert 1 not in alerts           # 15% drop rate -> below medium cut
    assert alerts[2]["severity"] == "medium"
    assert '"docs_dropped":95' in alerts[0]["payload"]


# -- crash points: a run killed at any sink resumes to a crash-free state ----

def _crash_pages(spark):
    """Synth pages plus as many symbol-soup pages: buckets drop a large
    share, so a run appends alerts as well as clean rows and metrics."""
    return synth.gen_pages_df(spark, N, num_partitions=4).unionByName(
        _symbol_soup(spark, N))


def _sink_state(w):
    """Clean rows, metrics (minus completed_at) and alert keys, sorted."""
    clean = sorted(tuple(r) for r in w.read_clean().collect())
    metrics = sorted(
        (r["run_id"], r["bucket"], r["docs_in"], r["docs_kept"],
         r["docs_dropped"], sorted(r["rule_hits"].items()),
         sorted(r["pii_scrubbed"].items()))
        for r in w.read_metrics().collect())
    alerts = sorted((r["run_id"], r["bucket"], r["severity"], r["drop_rate"])
                    for r in w.read_alerts().collect())
    return clean, metrics, alerts


@pytest.fixture(scope="module")
def crash_free(spark, tmp_path_factory):
    w = Warehouse(spark, str(tmp_path_factory.mktemp("crash_free")),
                  num_buckets=BUCKETS)
    w.write_pages(_crash_pages(spark))
    run_filter(w, "crash")
    state = _sink_state(w)
    clean, metrics, alerts = state
    # one metrics row per (run, bucket), and the crash points are all live
    assert [(m[0], m[1]) for m in metrics] == \
        [("crash", b) for b in range(BUCKETS)]
    assert clean and alerts
    return state


def _crash_warehouse(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"), num_buckets=BUCKETS)
    w.write_pages(_crash_pages(spark))
    return w


def _raise_on_call(monkeypatch, owner, name, nth):
    """Make ``owner.name`` raise on its ``nth`` call only."""
    real = getattr(owner, name)
    calls = []

    def flaky(*args, **kwargs):
        calls.append(1)
        if len(calls) == nth:
            raise RuntimeError(f"injected crash in {name}")
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, flaky)


@pytest.mark.parametrize("method",
                         ["write_clean", "append_alerts", "append_metrics"])
def test_resume_after_sink_crash_matches_crash_free_run(
        spark, tmp_path, monkeypatch, crash_free, method):
    """A crash inside any sink of run_filter, then a resume, leaves the
    clean rows, one metrics row per bucket and the alerts of a run that
    never crashed: alerts are appended before the metrics checkpoint (the
    reverse order lost them) and read_alerts collapses a rescored bucket's
    repeat."""
    w = _crash_warehouse(spark, tmp_path)
    _raise_on_call(monkeypatch, Warehouse, method, 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_filter(w, "crash")
    run_filter(w, "crash")
    assert _sink_state(w) == crash_free


def test_resume_after_crash_between_waves_matches_crash_free_run(
        spark, tmp_path, monkeypatch, crash_free):
    """A crash after the first of two waves resumes with the second only
    and ends in the crash-free state."""
    from data_quality_autohealer_spark.plans import pipeline

    w = _crash_warehouse(spark, tmp_path)
    _raise_on_call(monkeypatch, pipeline, "run_filter", 2)
    with pytest.raises(RuntimeError, match="injected crash"):
        pipeline.run_filter_in_waves(w, "crash", wave_buckets=BUCKETS // 2)
    monkeypatch.undo()
    summary = pipeline.run_filter_in_waves(w, "crash",
                                           wave_buckets=BUCKETS // 2)
    assert summary["buckets_skipped"] == BUCKETS // 2
    assert summary["waves"] == 1
    assert _sink_state(w) == crash_free


@pytest.mark.parametrize("nth", [1, BUCKETS // 2 + 1],
                         ids=["before_any_publish", "after_half_published"])
def test_resume_after_publish_crash_matches_crash_free_run(
        spark, tmp_path, monkeypatch, crash_free, nth):
    """A crash after the scoring job, before the first bucket's files are
    published or after half of them, leaves the staged files where no
    reader looks: the clean table shows the published buckets only. The
    next call with the run_id removes the staging directory and ends in
    the crash-free state."""
    w = _crash_warehouse(spark, tmp_path)
    _raise_on_call(monkeypatch, Warehouse, "_publish_bucket", nth)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_filter(w, "crash")
    monkeypatch.undo()
    clean_dir = os.path.join(w.root, "pages_clean")
    assert [n for n in os.listdir(clean_dir) if n.startswith(".")] == \
        [".staging-crash"]
    published = {int(n[len("bucket="):]) for n in os.listdir(clean_dir)
                 if n.startswith("bucket=")}
    assert len(published) == nth - 1
    crash_clean = crash_free[0]
    assert sorted(tuple(r) for r in w.read_clean().collect()) == \
        [r for r in crash_clean if r[-1] in published]
    run_filter(w, "crash")
    assert [n for n in os.listdir(clean_dir) if n.startswith(".")] == []
    assert _sink_state(w) == crash_free


def test_unnamed_staged_file_is_never_published(
        spark, tmp_path, monkeypatch, crash_free):
    """A staged file that no successful task's row names, as a failed task
    attempt leaves one, is deleted instead of published."""
    import pyarrow as pa

    from data_quality_autohealer_spark.warehouse import StagedBucketWriter

    w = _crash_warehouse(spark, tmp_path)
    real = Warehouse.clean_staging

    def with_failed_attempt(self, table, run_id):
        staging = real(self, table, run_id)
        writer = StagedBucketWriter(staging)
        writer.write(0, pa.table({
            "url": ["http://failed.attempt/0"],
            "warc_ts": pa.array([datetime.datetime(2026, 1, 1)],
                                pa.timestamp("us", tz="UTC")),
            "lang": ["en"], "text": ["half-written"], "reasons_csv": [""]}))
        writer.close()
        return staging

    monkeypatch.setattr(Warehouse, "clean_staging", with_failed_attempt)
    run_filter(w, "crash")
    # bucket 0 was published, with the named file only
    assert _parquet_files(os.path.join(w.root, "pages_clean"))["bucket=0"] \
        == 1
    assert _sink_state(w) == crash_free
