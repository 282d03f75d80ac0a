"""Iceberg-style warehouse layer: bucketed tables + metrics/lineage + resume.

Reference analogue: the Kafka metrics topic
(src/streaming/kafka_producer.py:36-109) → here an append-only METRICS
TABLE, one row per (run_id, bucket), which doubles as the resume checkpoint
(north_rule: "checkpoints per-partition lineage + rule-hit metrics ... so a
killed job resumes without rescoring completed partitions"). On the Parquet
fallback the checkpoint is written and its resume set read with pyarrow on
the driver, where the metric rows already are. Tables carry
no manifest: the bucket count is the reader's ``num_buckets``, and the
partition directories are the table's layout.

When a real Iceberg catalog is configured (``spark.sql.catalog.<name>`` +
runtime jar), tables are created with
``CREATE TABLE ... USING iceberg PARTITIONED BY (bucket(N, url))`` and written
through ``writeTo()``. In this sandbox (no Iceberg jar) the layer falls
back transparently to hash-bucketed Parquet: a materialized
``bucket = pmod(xxhash64(url), N)`` column used as the physical partition
column — the same pruning/co-location semantics Iceberg's bucket transform
provides. Every Parquet bucketed table has one writer: tasks stage each
bucket's file with pyarrow (:class:`StagedBucketWriter`), and the driver
publishes the files they name once the job has succeeded, so a failed job
leaves the table as it was. All call sites are engine-agnostic.

Scale notes: bucket count N is the unit of parallelism for resume and metrics
(at 10^12 docs choose N ~ 10k-100k so each bucket is a few GB); xxhash64(url)
decorrelates skewed hosts across buckets (host-level Zipf skew lands evenly).
"""

from __future__ import annotations

import datetime
import functools
import os
import shutil
import uuid
from urllib.parse import quote

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .session import forget_zip_finders

AUDIT_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("step", T.StringType(), False),
    T.StructField("docs_validated", T.LongType()),
    T.StructField("revalidation_drop_rate", T.DoubleType()),
    T.StructField("status", T.StringType()),
    T.StructField("message", T.StringType()),
    T.StructField("completed_at", T.TimestampType()),
])

METRICS_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("docs_in", T.LongType()),
    T.StructField("docs_kept", T.LongType()),
    T.StructField("docs_dropped", T.LongType()),
    T.StructField("rule_hits", T.MapType(T.StringType(), T.LongType())),
    T.StructField("pii_scrubbed", T.MapType(T.StringType(), T.LongType())),
    T.StructField("completed_at", T.TimestampType()),
])

# the pages table as every writer leaves it (write_pages, upsert_pages):
# ``synth.PAGES_SCHEMA_DDL`` plus the ``bucket`` partition column
PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
])
PAGE_COLUMNS = PAGES_SCHEMA.fieldNames()[:-1]

# the clean table as run_filter writes it; ``bucket`` is the partition column
CLEAN_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("lang", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("reasons_csv", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
])


# quality alerts as plans.pipeline.quality_alerts writes them
ALERTS_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("severity", T.StringType()),
    T.StructField("drop_rate", T.DoubleType()),
    T.StructField("payload", T.StringType()),
])


# one row per bucket a staging task wrote: the file and its row count
STAGED_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("file", T.StringType()),
    T.StructField("rows", T.LongType()),
])


def _part_name() -> str:
    return f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"


class StagedBucketWriter:
    """Task side of every Parquet bucketed write (pages and clean): writes
    Arrow tables of one bucket's rows (no ``bucket`` column; timestamps as
    UTC microseconds) with pyarrow to one file per bucket under
    ``staging/bucket=N/``, opened with the bucket's first rows and kept
    open until :meth:`close`, so a bucket seen again adds to its file."""

    def __init__(self, staging: str) -> None:
        self.staging = staging
        self._open: dict[int, list] = {}  # bucket -> [file, writer, rows]

    def write(self, bucket: int, rows) -> None:
        import pyarrow.parquet as pq

        if bucket not in self._open:
            folder = os.path.join(self.staging, f"bucket={bucket}")
            os.makedirs(folder, exist_ok=True)
            name = _part_name()
            self._open[bucket] = [name, pq.ParquetWriter(
                os.path.join(folder, name), rows.schema), 0]
        entry = self._open[bucket]
        entry[1].write_table(rows)
        entry[2] += rows.num_rows

    def write_runs(self, buckets: np.ndarray, rows) -> None:
        """Write ``rows``, whose bucket numbers are ``buckets``, one run of
        same-bucket rows at a time."""
        for bucket, lo, hi in bucket_runs(buckets):
            self.write(bucket, rows.slice(lo, hi - lo))

    def close(self) -> list[dict]:
        """End every open file; one ``STAGED_SCHEMA`` dict per bucket."""
        staged = [{"bucket": b, "file": name, "rows": n}
                  for b, (name, _, n) in sorted(self._open.items())]
        for _, writer, _ in self._open.values():
            writer.close()
        self._open = {}
        return staged


def bucket_runs(buckets: np.ndarray) -> list[tuple[int, int, int]]:
    """``(bucket, lo, hi)`` of each run of equal values in ``buckets``."""
    if not len(buckets):
        return []
    cuts = [0, *(np.flatnonzero(np.diff(buckets)) + 1), len(buckets)]
    return [(int(buckets[lo]), lo, hi) for lo, hi in zip(cuts, cuts[1:])]


def _stage_pages(staging: str, batches):
    """``mapInArrow`` body of the Parquet pages write: stage each Arrow
    batch of pages (``PAGES_SCHEMA``) by bucket, then yield the task's
    ``STAGED_SCHEMA`` rows."""
    import pyarrow as pa

    schema = to_arrow_schema(T.StructType(PAGES_SCHEMA.fields[:-1]))
    writer = StagedBucketWriter(staging)
    try:
        for batch in batches:
            rows = pa.Table.from_batches([batch])
            writer.write_runs(rows.column("bucket").to_numpy(),
                              rows.drop_columns("bucket").cast(schema))
        staged = writer.close()
    finally:
        writer.close()  # after a failure: files no row names
    if staged:
        yield pa.RecordBatch.from_pylist(staged,
                                         to_arrow_schema(STAGED_SCHEMA))
    forget_zip_finders()


def bucket_expr(url_col: str = "url", num_buckets: int = 64):
    """Iceberg-equivalent bucket transform: pmod(xxhash64(url), N)."""
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(num_buckets)).cast("int")


class Warehouse:
    """Engine-agnostic table layer rooted at a directory (Parquet fallback)
    or an Iceberg catalog namespace when available."""

    def __init__(self, spark: SparkSession, root: str, num_buckets: int = 64,
                 catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.num_buckets = num_buckets
        self.catalog = catalog or self._detect_catalog()
        if not self.use_iceberg:
            os.makedirs(root, exist_ok=True)

    def _detect_catalog(self) -> str | None:
        for k, v in self.spark.sparkContext.getConf().getAll():
            if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and \
                    "iceberg" in str(v).lower():
                return k.split(".")[-1]
        return None

    @property
    def use_iceberg(self) -> bool:
        return self.catalog is not None

    # -- pages ---------------------------------------------------------------

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _fqn(self, table: str) -> str:
        return f"{self.catalog}.wh.{table}"

    def _exists(self, table: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._fqn(table))
        return os.path.exists(self._path(table))

    def read_table(self, table: str, schema: T.StructType) -> DataFrame:
        """Read a table; the Parquet fallback pins ``schema``: no
        schema-inference job, and a table with no data files (or none at
        all) reads as empty instead of failing to infer a schema."""
        if self.use_iceberg:
            return self.spark.read.table(self._fqn(table))
        if not os.path.exists(self._path(table)):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(self._path(table))

    @staticmethod
    def _clustered(df: DataFrame) -> DataFrame:
        """Each bucket in one task, rows url-sorted: the staged write then
        leaves one url-sorted file per bucket."""
        return df.repartition("bucket").sortWithinPartitions("bucket", "url")

    def _write_staged(self, df: DataFrame, table: str) -> list:
        """The Parquet pages write of ``df`` (``PAGE_COLUMNS`` and
        ``bucket``): one Spark job whose tasks stage the clustered rows
        (:func:`_stage_pages`), then the publish of every bucket they
        wrote. The collected ``STAGED_SCHEMA`` rows are returned."""
        staging = self.clean_staging(table, "pages")
        rows = (self._clustered(df.select(*PAGE_COLUMNS, "bucket"))
                .mapInArrow(functools.partial(_stage_pages, staging),
                            STAGED_SCHEMA).collect())
        self._publish(table, staging, rows)
        return rows

    def write_pages(self, df: DataFrame, table: str = "pages") -> int:
        """Bucketed pages overwrite; returns the number of rows written.
        Parquet fallback: one url-sorted file per bucket, so a scan task
        holds whole buckets and the clean write that follows it also leaves
        one file per bucket; sorted urls also shrink the columnar encoding.
        Every written bucket is published, then the buckets the new data
        lacks are removed (an empty ``df`` leaves an empty table). A failed
        job leaves the table as it was."""
        if self.use_iceberg:
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {self._fqn(table)} "
                f"(url string, warc_ts timestamp, html binary, text string, "
                f"lang string) USING iceberg "
                f"PARTITIONED BY (bucket({self.num_buckets}, url))"
            )
            df.writeTo(self._fqn(table)).replace()
            return self.spark.read.table(self._fqn(table)).count()
        rows = self._write_staged(
            df.withColumn("bucket", bucket_expr("url", self.num_buckets)),
            table)
        kept = {f"bucket={r['bucket']}" for r in rows}
        for name in os.listdir(self._path(table)):
            if name.startswith("bucket=") and name not in kept:
                shutil.rmtree(os.path.join(self._path(table), name))
        return sum(r["rows"] for r in rows)

    def upsert_pages(self, new_df: DataFrame, table: str = "pages") -> dict:
        """Incremental re-crawl ingest: latest ``warc_ts`` per url wins
        (ties prefer the incoming row). Only the bucket partitions TOUCHED
        by incoming urls are rewritten, so merge cost tracks the delta's
        bucket footprint, not table size (at 65,536 buckets a 0.1% recrawl
        rewrites ~0.1% of partitions unless its urls are spread;
        content-addressed bucketing means a host-focused recrawl stays
        focused).

        Parquet fallback: the merged frame goes through the staged pages
        write (one file per rewritten bucket), which publishes only the
        touched buckets. The job reads the files it replaces, and the
        publish runs after it has finished, so no checkpoint of the merge
        is needed. On Iceberg this is ``overwritePartitions`` against a
        snapshot.
        """
        from pyspark.sql.window import Window

        def _latest(df):
            # total order: newest ts, then incoming over existing, then a
            # content hash — so equal-ts duplicates WITHIN one batch (a
            # crawler retry) resolve identically on every (re)run, keeping
            # the merge idempotent as upsert_stream's exactly-once relies on
            w = (Window.partitionBy("url")
                 .orderBy(F.col("warc_ts").desc(), F.col("_src").desc(),
                          F.md5(F.col("text")).desc()))
            return (df.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1).drop("_rn", "_src"))

        if not self._exists(table):
            # first delta against an empty warehouse: dedupe the batch
            # itself, then a plain bucketed write
            self.write_pages(_latest(new_df.withColumn("_src", F.lit(1))),
                             table)
            return {"affected_buckets": self.num_buckets,
                    "total_buckets": self.num_buckets}
        new_b = new_df.select(*PAGE_COLUMNS).withColumn(
            "bucket", bucket_expr("url", self.num_buckets))
        affected = sorted(r["bucket"] for r in
                          new_b.select("bucket").distinct().collect())
        existing = self.read_pages(table).where(
            F.col("bucket").isin(affected))
        merged = (existing.withColumn("_src", F.lit(0))
                  .unionByName(new_b.withColumn("_src", F.lit(1))))
        latest = _latest(merged)
        if self.use_iceberg:
            latest.drop("bucket").writeTo(self._fqn(table)) \
                .overwritePartitions()
        else:
            self._write_staged(latest, table)
        return {"affected_buckets": len(affected),
                "total_buckets": self.num_buckets}

    def read_pages(self, table: str = "pages") -> DataFrame:
        """The pages table. The Parquet fallback reads under the pinned
        :data:`PAGES_SCHEMA` (no schema-inference job); unlike
        :meth:`read_table`, a missing table raises rather than reading as
        empty, so a mistyped table name fails instead of filtering an empty
        corpus."""
        if self.use_iceberg:
            df = self.spark.read.table(self._fqn(table))
            return df.withColumn("bucket", bucket_expr("url", self.num_buckets))
        return self.spark.read.schema(PAGES_SCHEMA).parquet(self._path(table))

    def page_buckets(self, table: str = "pages") -> list[int]:
        """The buckets a pages table holds, sorted. The Parquet fallback
        lists the table's ``bucket=N`` directories on the driver: no Spark
        job scans the pages files."""
        if self.use_iceberg:
            return sorted(r["bucket"] for r in self.read_pages(table)
                          .select("bucket").distinct().collect())
        return sorted(int(name[len("bucket="):])
                      for name in os.listdir(self._path(table))
                      if name.startswith("bucket="))

    def clean_staging(self, table: str, key: str) -> str:
        """An emptied staging directory inside ``table`` for one writer
        (``key``: a ``run_filter`` call's run_id, or ``pages`` for the pages
        writers): dot-prefixed, so no reader lists it. What a killed call
        with the same key left there is removed first."""
        path = os.path.join(self._path(table),
                            ".staging-" + quote(key, safe=""))
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def write_clean(self, df: DataFrame, table: str, staging: str) -> list:
        """Idempotent per-bucket clean write: the buckets written replace
        their partitions, so a resumed run can rewrite a half-written bucket
        safely; a bucket with no row written is left alone. ``df``'s tasks
        stage the files (:class:`StagedBucketWriter` under ``staging``) and
        return rows naming each bucket's ``file`` (null when none);
        collecting them is the call's one Spark job. Parquet: the named
        files are published (:meth:`_publish`). Iceberg: they go to one
        ``writeTo`` (``create()`` on a new table, ``overwritePartitions()``
        after). The collected rows are returned."""
        rows = df.collect()
        if not self.use_iceberg:
            self._publish(table, staging, rows)
            return rows
        files = [os.path.join(staging, f"bucket={r['bucket']}", r["file"])
                 for r in rows if r["file"] is not None]
        clean = (self.spark.read.schema(CLEAN_SCHEMA)
                 .option("basePath", staging).parquet(*files) if files
                 else self.spark.createDataFrame([], CLEAN_SCHEMA))
        fqn = self._fqn(table)
        # the first write must CREATE the table: overwritePartitions()
        # alone fails with table-not-found on a fresh catalog
        if not self.spark.catalog.tableExists(fqn):
            (clean.writeTo(fqn).using("iceberg")
                  .partitionedBy(F.col("bucket")).create())
        else:
            clean.writeTo(fqn).overwritePartitions()
        shutil.rmtree(staging)
        return rows

    def _publish(self, table: str, staging: str, rows: list) -> None:
        """Publish the staged files ``rows`` name (``bucket``, ``file``),
        bucket by bucket in bucket order, then remove the staging
        directory."""
        named: dict[int, set[str]] = {}
        for r in rows:
            if r["file"] is not None:
                named.setdefault(r["bucket"], set()).add(r["file"])
        for bucket in sorted(named):
            self._publish_bucket(table, staging, bucket, named[bucket])
        shutil.rmtree(staging)

    def _publish_bucket(self, table: str, staging: str, bucket: int,
                        files: set[str]) -> None:
        """Replace the table's ``bucket=N`` directory with its staged one,
        after deleting every staged file not in ``files``."""
        name = f"bucket={bucket}"
        staged = os.path.join(staging, name)
        for f in os.listdir(staged):
            if f not in files:
                os.remove(os.path.join(staged, f))
        dest = os.path.join(self._path(table), name)
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(staged, dest)

    def read_clean(self, table: str = "pages_clean") -> DataFrame:
        return self.read_table(table, CLEAN_SCHEMA)

    # -- metrics / lineage / resume -------------------------------------------

    def _append_rows(self, table: str, rows: list,
                     schema: T.StructType) -> None:
        """Parquet fallback append of rows already on the driver (tuples or
        Rows in ``schema``'s field order): no Spark job. pyarrow writes one
        file under a dot-prefixed name, which every reader skips, and
        ``os.replace`` then publishes it whole, so a crash leaves no partial
        append."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        # a collected timestamp is a naive datetime in this process's local
        # time zone; pyarrow would take a naive value as UTC
        utc = datetime.timezone.utc
        names = schema.fieldNames()
        arrow = pa.Table.from_pylist(
            [{k: v.astimezone(utc) if isinstance(v, datetime.datetime)
              else v for k, v in zip(names, r)} for r in rows],
            schema=to_arrow_schema(schema))
        path = self._path(table)
        os.makedirs(path, exist_ok=True)
        name = _part_name()
        tmp = os.path.join(path, "." + name)
        pq.write_table(arrow, tmp)
        os.replace(tmp, os.path.join(path, name))

    def append_metrics(self, rows: list) -> None:
        """Checkpoint metric rows already on the driver (``METRICS_SCHEMA``
        rows, as ``pipeline.bucket_metrics`` returns them) with
        :meth:`_append_rows`. Iceberg keeps the Spark append."""
        if not self.use_iceberg:
            self._append_rows("metrics", rows, METRICS_SCHEMA)
            return
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._fqn('metrics')} "
            f"(run_id string, bucket int, docs_in bigint, docs_kept bigint,"
            f" docs_dropped bigint, rule_hits map<string,bigint>,"
            f" pii_scrubbed map<string,bigint>, completed_at timestamp) "
            f"USING iceberg"
        )
        (self.spark.createDataFrame(rows, METRICS_SCHEMA)
             .writeTo(self._fqn("metrics")).append())

    def read_metrics(self) -> DataFrame:
        return self.read_table("metrics", METRICS_SCHEMA)

    def append_alerts(self, df: DataFrame) -> None:
        """Alert sink routed through the warehouse abstraction (Iceberg table
        when a catalog is configured, bucketed Parquet otherwise)."""
        if self.use_iceberg:
            fqn = self._fqn("alerts")
            if not self.spark.catalog.tableExists(fqn):
                df.writeTo(fqn).using("iceberg").create()
            else:
                df.writeTo(fqn).append()
        else:
            df.write.mode("append").parquet(self._path("alerts"))

    def read_alerts(self) -> DataFrame:
        """One row per (run_id, bucket, severity, drop_rate), keeping the
        first payload: run_filter appends alerts before its metrics
        checkpoint, so a resumed run that rescores a bucket appends the
        same alert again, differing only in the payload's completed_at."""
        from pyspark.sql.window import Window

        first = Window.partitionBy(
            "run_id", "bucket", "severity", "drop_rate").orderBy("payload")
        return (self.read_table("alerts", ALERTS_SCHEMA)
                .withColumn("_n", F.row_number().over(first))
                .where(F.col("_n") == 1).drop("_n"))

    def append_audit(self, rows: list) -> None:
        """Completion/validation audit rows (``AUDIT_SCHEMA`` tuples) — the
        notification analogue of the reference's
        send_completion_notification (schema_drift_remediation.py:182-204).
        Parquet fallback: :meth:`_append_rows`; Iceberg: a Spark
        create/append."""
        if not self.use_iceberg:
            self._append_rows("audit", rows, AUDIT_SCHEMA)
            return
        df = self.spark.createDataFrame(rows, AUDIT_SCHEMA)
        fqn = self._fqn("audit")
        if not self.spark.catalog.tableExists(fqn):
            df.writeTo(fqn).using("iceberg").create()
        else:
            df.writeTo(fqn).append()

    def read_audit(self) -> DataFrame:
        return self.read_table("audit", AUDIT_SCHEMA)

    def completed_buckets(self, run_id: str) -> list[int]:
        """Buckets already checkpointed for this run (the resume set,
        ≤ num_buckets values), sorted. The Parquet fallback reads the two
        columns with pyarrow on the driver: no Spark job."""
        if not self._exists("metrics"):
            return []
        if self.use_iceberg:
            return sorted(r["bucket"] for r in self.read_metrics()
                          .where(F.col("run_id") == run_id)
                          .select("bucket").distinct().collect())
        import pyarrow.parquet as pq

        # a directory read skips dot- and underscore-prefixed files, as
        # Spark does: an unpublished checkpoint, _SUCCESS, checksums
        done = pq.read_table(self._path("metrics"), columns=["bucket"],
                             filters=[("run_id", "==", run_id)],
                             schema=to_arrow_schema(METRICS_SCHEMA))
        return sorted(set(done.column("bucket").to_pylist()))

    def resume_filter(self, pages: DataFrame, run_id: str) -> DataFrame:
        """Drop completed buckets as a partition filter on the scan: the
        resume set is collected to the driver, so completed buckets are
        never read and the plan has no join (nor any lineage on the
        metrics table)."""
        done = self.completed_buckets(run_id)
        return pages.where(~F.col("bucket").isin(done)) if done else pages

