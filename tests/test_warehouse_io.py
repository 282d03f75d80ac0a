"""The warehouse's pinned reads and driver-side writes on the Parquet
fallback: every pages writer leaves a table that ``read_pages`` reads under
``PAGES_SCHEMA`` with no Spark job, and the metrics checkpoint that
``append_metrics`` writes with pyarrow reads back as the collected rows and
is published whole or not at all."""

import datetime
import os
import time

import pytest
from pyspark.errors import AnalysisException

from data_quality_autohealer_spark import synth
from data_quality_autohealer_spark.plans.pipeline import (
    run_filter,
    score_pages,
)
from data_quality_autohealer_spark.warehouse import Warehouse


def _jobs_of(spark, fn):
    """``fn()``'s result and the Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup("warehouse-io", "jobs of one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup("warehouse-io")


def _by_url(rows):
    return sorted(rows, key=lambda r: r["url"])


def _written_by_write_pages(spark, root):
    wh = Warehouse(spark, root, num_buckets=8)
    wh.write_pages(synth.gen_pages_df(spark, 300, num_partitions=2))
    return wh, "pages"


def _written_by_upsert_pages(spark, root):
    from pyspark.sql import functions as F

    wh = Warehouse(spark, root, num_buckets=8)
    base = synth.gen_pages_df(spark, 300, num_partitions=2)
    wh.upsert_pages(base)  # first delta: the create path
    delta = (base.orderBy("url").limit(20)
             .withColumn("warc_ts", F.col("warc_ts") + F.expr("interval 1 day"))
             .withColumn("text", F.concat("text", F.lit(" v2"))))
    wh.upsert_pages(delta)  # touched buckets rewritten
    return wh, "pages"


def _written_by_run_dedup(spark, root):
    from jobs import run_dedup

    wh = Warehouse(spark, root)
    wh.write_pages(synth.gen_pages_df(spark, 300, num_partitions=2))
    run_dedup.main(["--warehouse", root, "--mode", "exact"])
    return wh, "pages_deduped"


def _written_by_warc_ingest(spark, root):
    import jobs.run_warc_ingest as ingest

    ingest.main(["--warc", os.path.join(root, "crawl"), "--warehouse", root,
                 "--num-buckets", "4", "--synth-segments", "2",
                 "--docs-per-segment", "30"])
    return Warehouse(spark, root, num_buckets=4), "pages"


@pytest.mark.parametrize("writer", [
    _written_by_write_pages, _written_by_upsert_pages,
    _written_by_run_dedup, _written_by_warc_ingest,
], ids=["write_pages", "upsert_pages", "run_dedup", "warc_ingest"])
def test_every_pages_writer_reads_back_under_the_pinned_schema(
        spark, tmp_path, writer):
    """The pinned read builds its frame with no Spark job (a schema
    inference is one) and returns the schema and rows Spark infers from
    the files."""
    wh, table = writer(spark, str(tmp_path / "wh"))
    pinned, jobs = _jobs_of(spark, lambda: wh.read_pages(table))
    assert jobs == []
    inferred = spark.read.parquet(os.path.join(wh.root, table))
    assert pinned.schema == inferred.schema
    rows = _by_url(pinned.collect())
    assert rows and rows == _by_url(inferred.collect())


def test_missing_pages_table_raises(spark, tmp_path):
    """A mistyped pages table is an error, never an empty corpus."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        wh.read_pages("no_such_pages")


@pytest.fixture()
def scored_wh(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=4)
    wh.write_pages(synth.gen_pages_df(spark, 200, num_partitions=2))
    return wh


@pytest.fixture()
def pacific_time(monkeypatch):
    """This process in a non-UTC zone: collected timestamps are naive
    datetimes in local time, 7-8 hours from UTC."""
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_metrics_checkpoint_reads_back_the_collected_rows(
        scored_wh, pacific_time, scored_metric_rows):
    rows = scored_metric_rows(score_pages(scored_wh.read_pages()), "tz")
    assert rows and all(isinstance(r["completed_at"], datetime.datetime)
                        for r in rows)
    scored_wh.append_metrics(rows)
    back = scored_wh.read_metrics().collect()
    key = lambda r: r["bucket"]  # noqa: E731
    assert sorted(back, key=key) == sorted(rows, key=key)
    # one published file, no temporary left behind
    names = os.listdir(os.path.join(scored_wh.root, "metrics"))
    assert len(names) == 1 and names[0].startswith("part-") \
        and names[0].endswith(".parquet"), names
    # audit rows take the same driver-side path
    audit = [("tz", "validate_remediation", 3, 0.5, "ok", "m",
              rows[0]["completed_at"]),
             ("tz", "drift_retrain", 0, 0.0, "skipped", None,
              datetime.datetime(2026, 1, 1, 23, 30))]
    scored_wh.append_audit(audit)
    assert sorted(tuple(r) for r in scored_wh.read_audit().collect()) == \
        sorted(audit)
    names = os.listdir(os.path.join(scored_wh.root, "audit"))
    assert len(names) == 1 and names[0].startswith("part-"), names


def test_crash_before_the_rename_publishes_no_checkpoint(
        scored_wh, monkeypatch, scored_metric_rows):
    """A crash after pyarrow wrote the temporary file but before it was
    renamed leaves nothing any reader sees; the next run scores every
    bucket and publishes its checkpoint."""
    rows = scored_metric_rows(score_pages(scored_wh.read_pages()), "crash")

    def crash(src, dst):
        raise RuntimeError("injected crash before rename")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        scored_wh.append_metrics(rows)
    monkeypatch.undo()
    metrics = os.path.join(scored_wh.root, "metrics")
    assert [n for n in os.listdir(metrics) if not n.startswith(".")] == []
    assert scored_wh.read_metrics().count() == 0
    assert scored_wh.completed_buckets("crash") == []
    summary = run_filter(scored_wh, "crash")
    assert summary["docs_in"] == 200
    assert scored_wh.completed_buckets("crash") == [0, 1, 2, 3]


def test_clean_warc_ts_round_trips_in_another_time_zone(
        scored_wh, pacific_time):
    """The pages writer and the scoring tasks write ``warc_ts`` with
    pyarrow as UTC microseconds (Spark's writer used INT96). Read back by
    Spark in a process at TZ=America/Los_Angeles, and read raw with
    pyarrow, each pages row carries its generated instant and each clean
    row its page's."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    run_filter(scored_wh, "tz")
    pdf = synth.gen_pages_pdf(np.arange(200))
    want = dict(zip(pdf["url"], pdf["warc_ts"]))
    pages = {r["url"]: r["warc_ts"] for r in
             scored_wh.read_pages().select("url", "warc_ts").collect()}
    utc = datetime.timezone.utc
    assert {u: t.astimezone(utc) for u, t in pages.items()} == want
    raw_pages = pq.read_table(os.path.join(scored_wh.root, "pages"),
                              columns=["url", "warc_ts"])
    assert raw_pages.schema.field("warc_ts").type == \
        pa.timestamp("us", tz="UTC")
    assert {r["url"]: r["warc_ts"] for r in raw_pages.to_pylist()} == want
    clean = scored_wh.read_clean().select("url", "warc_ts").collect()
    assert clean and all(r["warc_ts"] == pages[r["url"]] for r in clean)
    raw = pq.read_table(os.path.join(scored_wh.root, "pages_clean"),
                        columns=["url", "warc_ts"]).to_pylist()
    assert len(raw) == len(clean)
    assert all(r["warc_ts"] == pages[r["url"]].astimezone(utc) for r in raw)


# -- the staged pages write: a failed write or publish loses no page ---------

def _pages_rows(wh, table="pages"):
    return sorted(tuple(r) for r in wh.read_pages(table).collect())


def _fail_after_clustering(monkeypatch):
    """Every frame ``Warehouse._clustered`` returns gains a Python UDF that
    raises: a task failure in the write stage, after the shuffle."""
    from pyspark.sql import functions as F

    real = Warehouse._clustered

    @F.udf("string")
    def boom(url):
        raise RuntimeError("injected task failure")

    def failing(df):
        return real(df).withColumn("url", boom("url"))

    monkeypatch.setattr(Warehouse, "_clustered", staticmethod(failing))


@pytest.mark.parametrize("write", ["write_pages", "upsert_pages"])
def test_failed_pages_write_leaves_the_table_unchanged(
        spark, tmp_path, monkeypatch, write):
    """A task failure in the write stage of a pages overwrite or upsert
    leaves every page in place and no staged file where ``read_pages``
    looks; the next write succeeds. (Spark's partitioned overwrite emptied
    the table: it deletes the old partitions before the tasks write.)"""
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=8)
    pages = synth.gen_pages_df(spark, 400, num_partitions=2)
    wh.write_pages(pages)
    before = _pages_rows(wh)
    new = pages if write == "write_pages" else (
        pages.orderBy("url").limit(30)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("interval 1 day")))
    _fail_after_clustering(monkeypatch)
    with pytest.raises((PySparkException, Py4JJavaError),
                       match="injected task failure"):
        getattr(wh, write)(new)
    monkeypatch.undo()
    assert _pages_rows(wh) == before
    assert not [f for f in wh.read_pages().inputFiles() if ".staging" in f]
    getattr(wh, write)(new)
    assert len(_pages_rows(wh)) == 400


def test_rerun_after_a_publish_crash_matches_a_crash_free_write(
        spark, tmp_path, monkeypatch):
    """A crash after half the buckets of a pages overwrite are published,
    then the same write again, leaves the rows a crash-free write does."""
    pages = synth.gen_pages_df(spark, 400, num_partitions=2)
    crash_free = Warehouse(spark, str(tmp_path / "crash_free"), num_buckets=8)
    crash_free.write_pages(pages)
    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=8)
    wh.write_pages(synth.gen_pages_df(spark, 600, num_partitions=2))
    real = Warehouse._publish_bucket
    calls = []

    def crash_half_way(self, *args):
        calls.append(1)
        if len(calls) > 4:
            raise RuntimeError("injected crash in the publish")
        return real(self, *args)

    monkeypatch.setattr(Warehouse, "_publish_bucket", crash_half_way)
    with pytest.raises(RuntimeError, match="injected crash"):
        wh.write_pages(pages)
    monkeypatch.undo()
    wh.write_pages(pages)
    assert _pages_rows(wh) == _pages_rows(crash_free)
    assert not [n for n in os.listdir(os.path.join(wh.root, "pages"))
                if n.startswith(".")]


def test_each_pages_bucket_is_one_file(spark, tmp_path):
    """Each pages bucket, after a write and after an upsert, is one
    Parquet file: no checksum, no ``_SUCCESS``, no staging directory. A
    write with no rows leaves an empty table that reads as 0 pages."""
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=8)
    pages = synth.gen_pages_df(spark, 300, num_partitions=2)
    assert wh.write_pages(pages) == 300
    wh.upsert_pages(pages.orderBy("url").limit(10).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("interval 1 day")))
    table = os.path.join(wh.root, "pages")
    assert sorted(os.listdir(table)) == [f"bucket={b}" for b in range(8)]
    for b in range(8):
        files = os.listdir(os.path.join(table, f"bucket={b}"))
        assert len(files) == 1 and files[0].startswith("part-") \
            and files[0].endswith(".parquet"), files
    assert wh.write_pages(pages.limit(0)) == 0
    assert os.listdir(table) == []
    assert wh.read_pages().count() == 0 and wh.page_buckets() == []
