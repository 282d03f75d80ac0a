"""Contract tests for the Warehouse's Iceberg branch (VERDICT-r04 task 3).

No Iceberg runtime jar exists in this sandbox, so the ``use_iceberg``
branch of warehouse.py can never execute against a real catalog here.
These tests pin its CONTRACT instead: every DDL string it would issue and
every ``writeTo`` call chain it would make, captured by a recording fake
session. A real-catalog deployment then only has to trust Iceberg's own
semantics for ``CREATE TABLE``/``writeTo`` — the strings and sequences
below are exactly what it receives.

The fakes record; real pyspark Column/Window objects (bucket_expr,
row_number) are constructed as usual — the ``spark`` fixture's JVM backs
them — and simply ignored by the recorder. The ``run_filter`` test runs
the staged scoring job on the real session and records only the catalog
calls (``RecordingSession``).
"""

import datetime
import os

import pytest

from data_quality_autohealer_spark.warehouse import Warehouse


class Rows(list):
    """collect() result — list of dict-likes."""


class FakeWriter:
    def __init__(self, log, df, fqn):
        self._log, self._df, self._fqn = log, df, fqn
        self._using, self._partitioned = None, None

    def using(self, fmt):
        self._using = fmt
        return self

    def partitionedBy(self, col):
        self._partitioned = str(col)
        return self

    def _done(self, verb):
        self._log.append(("writeTo", self._fqn, verb, self._using,
                          self._partitioned, tuple(self._df.ops)))

    def replace(self):
        self._done("replace")

    def append(self):
        self._done("append")

    def create(self):
        self._done("create")

    def createOrReplace(self):
        self._done("createOrReplace")

    def overwritePartitions(self):
        self._done("overwritePartitions")


class FakeDF:
    """Records column-level ops; every transform returns a new FakeDF so
    branch-specific op trails stay separable."""

    def __init__(self, spark, ops=()):
        self.spark, self.ops = spark, list(ops)

    def _with(self, op):
        return FakeDF(self.spark, self.ops + [op])

    def withColumn(self, name, col):
        return self._with(f"withColumn:{name}")

    def drop(self, *cols):
        return self._with("drop:" + ",".join(cols))

    def where(self, cond):
        return self._with("where")

    def unionByName(self, other):
        return self._with("unionByName")

    def select(self, *cols):
        return self._with("select:" + ",".join(str(c) for c in cols))

    def distinct(self):
        return self._with("distinct")

    def collect(self):
        return self.spark.scripted_collect

    def count(self):
        return len(self.spark.scripted_collect)

    def writeTo(self, fqn):
        return FakeWriter(self.spark.log, self, fqn)

    @property
    def write(self):  # pragma: no cover - parquet branch must not be hit
        raise AssertionError("parquet writer used on the Iceberg branch")


class FakeCatalog:
    def __init__(self, spark):
        self.spark = spark

    def tableExists(self, fqn):
        self.spark.log.append(("tableExists", fqn))
        return self.spark.tables_exist


class FakeReader:
    def __init__(self, spark):
        self.spark = spark

    def table(self, fqn):
        self.spark.log.append(("read.table", fqn))
        return FakeDF(self.spark)

    def schema(self, schema):
        return self

    def option(self, key, value):
        return self

    def parquet(self, *paths):
        self.spark.log.append(("read.parquet", paths))
        return FakeDF(self.spark)


class FakeSpark:
    def __init__(self):
        self.log = []
        self.tables_exist = False
        self.scripted_collect = Rows()
        self.catalog = FakeCatalog(self)
        self.read = FakeReader(self)

    def sql(self, ddl):
        self.log.append(("sql", " ".join(ddl.split())))
        return FakeDF(self)

    def createDataFrame(self, rows, schema):
        self.log.append(("createDataFrame", len(rows), schema.fieldNames()))
        return FakeDF(self)


@pytest.fixture()
def wh(spark):  # noqa: ARG001 - real session only backs Column objects
    fake = FakeSpark()
    w = Warehouse(fake, "/unused", num_buckets=16, catalog="ice")
    return fake, w


def test_write_pages_creates_bucket_partitioned_table_then_replaces(wh):
    fake, w = wh
    w.write_pages(FakeDF(fake))
    assert fake.log[0] == ("sql", (
        "CREATE TABLE IF NOT EXISTS ice.wh.pages (url string, warc_ts "
        "timestamp, html binary, text string, lang string) USING iceberg "
        "PARTITIONED BY (bucket(16, url))"))
    kind, fqn, verb, using, part, ops = fake.log[1]
    assert (kind, fqn, verb) == ("writeTo", "ice.wh.pages", "replace")
    assert ops == ()  # frame written as-is: no materialized bucket column —
    # Iceberg's hidden bucket(16, url) transform owns the partitioning


def test_write_clean_first_run_creates_then_resume_overwrites(wh, tmp_path):
    fake, w = wh
    staging = tmp_path / "staging"
    # the scoring tasks' rows: bucket 3 staged a file, bucket 5 kept none
    fake.scripted_collect = Rows([{"bucket": 3, "file": "part-a.parquet"},
                                  {"bucket": 5, "file": None}])
    # fresh catalog: the write must CREATE (overwritePartitions alone
    # fails with table-not-found)
    fake.tables_exist = False
    staging.mkdir()
    w.write_clean(FakeDF(fake), "pages_clean", str(staging))
    # only the named staged files are read and handed to the write
    assert fake.log[0] == ("read.parquet",
                           (str(staging / "bucket=3" / "part-a.parquet"),))
    assert fake.log[1] == ("tableExists", "ice.wh.pages_clean")
    kind, fqn, verb, using, part, ops = fake.log[2]
    assert (fqn, verb, using) == ("ice.wh.pages_clean", "create", "iceberg")
    assert "bucket" in part
    assert not staging.exists()
    # resumed run against an existing table: idempotent per-bucket rewrite
    fake.log.clear()
    fake.tables_exist = True
    staging.mkdir()
    w.write_clean(FakeDF(fake), "pages_clean", str(staging))
    assert fake.log[2][1:3] == ("ice.wh.pages_clean", "overwritePartitions")


def test_append_metrics_ddl_and_append(wh):
    fake, w = wh
    now = datetime.datetime.now()
    w.append_metrics([("r", 1, 2, 1, 1, {"langid": 1}, {"email": 0}, now)])
    assert fake.log[0] == ("sql", (
        "CREATE TABLE IF NOT EXISTS ice.wh.metrics (run_id string, bucket "
        "int, docs_in bigint, docs_kept bigint, docs_dropped bigint, "
        "rule_hits map<string,bigint>, pii_scrubbed map<string,bigint>, "
        "completed_at timestamp) USING iceberg"))
    # the collected rows become a frame under METRICS_SCHEMA, then append
    assert fake.log[1] == ("createDataFrame", 1, [
        "run_id", "bucket", "docs_in", "docs_kept", "docs_dropped",
        "rule_hits", "pii_scrubbed", "completed_at"])
    assert fake.log[2][1:3] == ("ice.wh.metrics", "append")


@pytest.mark.parametrize("appender,table", [
    (lambda w, df: w.append_alerts(df), "alerts"),
    (lambda w, df: w.append_audit(
        [("r", "step", 1, 0.0, "ok", "m", datetime.datetime.now())]),
     "audit"),
])
def test_alert_audit_sinks_create_then_append(wh, appender, table):
    fake, w = wh

    def catalog_calls():
        # the audit rows become a frame first (createDataFrame)
        return [e for e in fake.log if e[0] != "createDataFrame"]

    fake.tables_exist = False
    appender(w, FakeDF(fake))
    assert catalog_calls()[0] == ("tableExists", f"ice.wh.{table}")
    assert catalog_calls()[1][1:3] == (f"ice.wh.{table}", "create")
    fake.log.clear()
    fake.tables_exist = True
    appender(w, FakeDF(fake))
    assert catalog_calls()[1][1:3] == (f"ice.wh.{table}", "append")


def test_reads_route_through_catalog_tables(wh):
    fake, w = wh
    w.read_clean()
    w.read_metrics()
    w.read_alerts()
    w.read_audit()
    assert [e for e in fake.log if e[0] == "read.table"] == [
        ("read.table", "ice.wh.pages_clean"),
        ("read.table", "ice.wh.metrics"),
        ("read.table", "ice.wh.alerts"),
        ("read.table", "ice.wh.audit"),
    ]
    # read_pages re-derives the bucket column (engine-agnostic call sites
    # filter on it) on top of the catalog read
    fake.log.clear()
    df = w.read_pages()
    assert fake.log == [("read.table", "ice.wh.pages")]
    assert df.ops == ["withColumn:bucket"]


def test_upsert_existing_table_overwrites_touched_partitions_only(wh):
    fake, w = wh
    fake.tables_exist = True
    fake.scripted_collect = Rows([{"bucket": 3}, {"bucket": 7}])
    out = w.upsert_pages(FakeDF(fake), "pages")
    # call sequence: existence probe -> affected-bucket probe ->
    # catalog read of existing -> single overwritePartitions write
    assert fake.log[0] == ("tableExists", "ice.wh.pages")
    assert ("read.table", "ice.wh.pages") in fake.log
    writes = [e for e in fake.log if e[0] == "writeTo"]
    assert len(writes) == 1
    kind, fqn, verb, using, part, ops = writes[0]
    assert (fqn, verb) == ("ice.wh.pages", "overwritePartitions")
    # merged frame: dedup window applied, helper cols dropped, and the
    # derived bucket column dropped before handing Iceberg the write
    # (its hidden partition transform re-derives it)
    assert ops[-1] == "drop:bucket"
    assert any(o == "withColumn:_rn" for o in ops)
    assert out == {"affected_buckets": 2, "total_buckets": 16}


def test_upsert_fresh_catalog_falls_back_to_create_path(wh):
    fake, w = wh
    fake.tables_exist = False
    w.upsert_pages(FakeDF(fake), "pages")
    # first delta: batch self-dedup then the plain write_pages DDL+replace
    assert fake.log[0] == ("tableExists", "ice.wh.pages")
    assert fake.log[1][0] == "sql"
    assert "CREATE TABLE IF NOT EXISTS ice.wh.pages" in fake.log[1][1]
    assert fake.log[2][1:3] == ("ice.wh.pages", "replace")
    # the rows written are counted from the table
    assert fake.log[3] == ("read.table", "ice.wh.pages")


def test_audit_frame_contract_smoke(spark):
    """The AUDIT_SCHEMA the sinks receive builds a real row (guards the
    DDL column list in append_metrics against schema drift)."""
    from data_quality_autohealer_spark.warehouse import (
        AUDIT_SCHEMA, METRICS_SCHEMA,
    )
    now = datetime.datetime.now()
    spark.createDataFrame(
        [("r", "step", 1, 0.0, "ok", "m", now)], AUDIT_SCHEMA).collect()
    m = spark.createDataFrame(
        [("r", 1, 2, 1, 1, {"rule": 1}, {"email": 0}, now)],
        METRICS_SCHEMA)
    # every METRICS_SCHEMA field appears in the Iceberg DDL string
    ddl_cols = ("run_id", "bucket", "docs_in", "docs_kept", "docs_dropped",
                "rule_hits", "pii_scrubbed", "completed_at")
    assert tuple(f.name for f in m.schema.fields) == ddl_cols


class RecordingSession:
    """The real session, with the catalog calls of an Iceberg warehouse
    recorded instead of run: every table is absent, a catalog read returns
    ``pages``, DDL is logged, and ``writeTo`` (patched by
    :func:`_record_writes`) keeps the rows it is handed."""

    def __init__(self, spark, pages):
        self._spark, self.pages = spark, pages
        self.log, self.written = [], {}
        self.catalog = self

    def __getattr__(self, name):
        return getattr(self._spark, name)

    def tableExists(self, fqn):
        self.log.append(("tableExists", fqn))
        return False

    def sql(self, ddl):
        self.log.append(("sql", " ".join(ddl.split()[:6])))

    @property
    def read(self):
        session, real = self, self._spark.read

        class Reader:
            def table(self, fqn):
                session.log.append(("read.table", fqn))
                return session.pages

            def __getattr__(self, name):
                return getattr(real, name)

        return Reader()


def _record_writes(monkeypatch, session):
    class Writer:
        def __init__(self, df, fqn):
            self.df, self.fqn = df, fqn

        def using(self, fmt):
            return self

        def partitionedBy(self, col):
            return self

        def _done(self, verb):
            session.log.append(("writeTo", self.fqn, verb))
            session.written[self.fqn] = self.df.collect()

        def create(self):
            self._done("create")

        def append(self):
            self._done("append")

    monkeypatch.setattr(type(session._spark.range(1)), "writeTo",
                        lambda df, fqn: Writer(df, fqn))


def test_run_filter_stages_and_hands_the_named_files_to_iceberg(
        spark, tmp_path, monkeypatch):
    """On Iceberg ``run_filter`` runs the same staged scoring job as on
    Parquet, over a pages scan that is not clustered by bucket, and hands
    the staged clean files to one ``writeTo``: its rows, and the metrics
    appended, equal the Parquet run's."""
    from data_quality_autohealer_spark import synth
    from data_quality_autohealer_spark.plans.pipeline import run_filter

    parquet = Warehouse(spark, str(tmp_path / "parquet"), num_buckets=8)
    parquet.write_pages(synth.gen_pages_df(spark, 600, num_partitions=2))
    want = run_filter(parquet, "r")
    clean = sorted(tuple(r) for r in parquet.read_clean().collect())

    def metrics(rows):
        return sorted(tuple(r)[:-1] for r in rows)  # minus completed_at

    session = RecordingSession(
        spark, parquet.read_pages().drop("bucket").repartition(3))
    _record_writes(monkeypatch, session)
    ice = Warehouse(session, str(tmp_path / "ice"), num_buckets=8,
                    catalog="ice")
    assert run_filter(ice, "r") == want
    assert session.log == [
        ("read.table", "ice.wh.pages"),
        ("tableExists", "ice.wh.metrics"),
        ("tableExists", "ice.wh.pages_clean"),
        ("writeTo", "ice.wh.pages_clean", "create"),
        ("sql", "CREATE TABLE IF NOT EXISTS ice.wh.metrics"),
        ("writeTo", "ice.wh.metrics", "append"),
    ]
    assert sorted(tuple(r) for r in
                  session.written["ice.wh.pages_clean"]) == clean
    assert metrics(session.written["ice.wh.metrics"]) == \
        metrics(parquet.read_metrics().collect())
    assert os.listdir(tmp_path / "ice" / "pages_clean") == []
