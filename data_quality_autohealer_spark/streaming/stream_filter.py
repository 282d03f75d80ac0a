"""Structured Streaming variant of the quality filter.

Reference analogue: the Kafka producer/consumer loop
(/root/reference/src/streaming/kafka_producer.py:36-109,
kafka_consumer.py:107-150) — JSON events over 3 topics with a synchronous
flush per message (the reference's throughput ceiling). Re-expressed on
Spark Structured Streaming: the scorer is the SAME ``DataFrame → DataFrame``
function used in batch (plans.pipeline.score_pages, ``c4=`` included; a
null claim decides as no claim) and the clean sink writes the same
projection (plans.pipeline.clean_rows), so batch/stream parity is by
construction; micro-batches replace per-message flushes.

Sources/sinks are parameterized: files (tested), Kafka (`readStream.format(
"kafka")` + from_json; its reader chain is pinned by a recording fake), or
memory/rate for tests. Watermarking on ``warc_ts`` bounds state for the
optional windowed per-host metrics aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import clean_rows
from ..synth import PAGES_SCHEMA_DDL


def stream_pages_from_files(spark: SparkSession, path: str,
                            max_files_per_trigger: int = 4) -> DataFrame:
    """File-based streaming source over a pages directory (parquet)."""
    return (spark.readStream
            .schema(PAGES_SCHEMA_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


# the exact columns `readStream.format("kafka")` emits — kept as a DDL so
# tests can build wire-identical frames without a broker
KAFKA_WIRE_DDL = ("key binary, value binary, topic string, partition int, "
                  "offset long, timestamp timestamp, timestampType int")


def decode_kafka_frame(raw: DataFrame, drop_corrupt: bool = True) -> DataFrame:
    """PURE projection from the Kafka wire frame (key/value binary + topic
    metadata) to PAGES_SCHEMA rows: JSON-decode ``value`` (binary html rides
    as base64 inside the JSON, from_json's BinaryType convention).

    Corrupt-frame semantics (documented, tests/test_streaming.py):

    * an UNPARSEABLE value (not JSON / wrong root type) decodes to a null
      struct — dropped when ``drop_corrupt`` (the default; a poison
      message must not surface as an all-null page), kept as an all-null
      row with ``drop_corrupt=False`` for dead-letter auditing;
    * a parseable value MISSING fields yields nulls in those fields only —
      except a null ``url``, which is also dropped under ``drop_corrupt``
      (url is the document identity: bucketing, dedup and resume all key
      on it; a null-url page is unusable downstream);
    * extra/unknown JSON fields are ignored (from_json schema projection);
    * key/partition/offset metadata never participate — decode is
      invariant under re-keying or re-partitioning of the topic.

    Factored out of :func:`stream_pages_from_kafka` so the decode is
    testable without a Kafka broker — batch/file/memory sources drive it
    against KAFKA_WIRE_DDL-shaped frames (tests/test_streaming.py), and the
    real Kafka source applies the very same function.
    """
    decoded = raw.select(
        F.from_json(F.col("value").cast("string"), PAGES_SCHEMA_DDL)
        .alias("page"))
    if drop_corrupt:
        decoded = decoded.where(F.col("page").isNotNull()
                                & F.col("page.url").isNotNull())
    return decoded.select("page.*")


def encode_kafka_frame(pages: DataFrame,
                       topic: str = "data-quality-pages") -> DataFrame:
    """Producer-side twin (reference kafka_producer.py:36-109, JSON events
    keyed by document id): pages → Kafka wire shape, key = url bytes,
    value = JSON bytes. Pass to ``writeStream.format("kafka")`` on a real
    cluster; in tests, the roundtrip ``decode(encode(pages)) == pages`` is
    asserted exactly."""
    cols = pages.columns
    return pages.select(
        F.col("url").cast("binary").alias("key"),
        F.to_json(F.struct(*cols)).cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def stream_pages_from_kafka(spark: SparkSession, brokers: str,
                            topic: str) -> DataFrame:
    """Kafka source: JSON-encoded pages on ``topic`` (reference topic map,
    kafka_producer.py:23-27). Requires the spark-sql-kafka package on the
    cluster; the decode projection itself is the broker-independent
    :func:`decode_kafka_frame`."""
    raw = (spark.readStream.format("kafka")
           .option("kafka.bootstrap.servers", brokers)
           .option("subscribe", topic).load())
    return decode_kafka_frame(raw)


def kept_writer(scored: DataFrame, out_path: str, checkpoint: str):
    """Append the kept documents of a :func:`score_pages` stream to a
    parquet sink with exactly-once via the streaming checkpoint (the
    streaming twin of the metrics-table resume). The rows are
    ``run_filter``'s clean rows (:func:`clean_rows`), as
    ``(url, warc_ts, lang, text)``."""
    kept = clean_rows(scored).select("url", "warc_ts", "lang", "text")
    return (kept.writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append"))


def stream_dedup_pages(pages: DataFrame, watermark: str = "1 hour",
                       fingerprint_col: str = "text") -> DataFrame:
    """Streaming exact dedup: first page per content fingerprint wins;
    re-arrivals within the watermark horizon are dropped.

    ``dropDuplicatesWithinWatermark`` keys state by the md5 fingerprint and
    EVICTS entries older than the watermark, so state size tracks the
    horizon's unique-content rate, not the full corpus — the property that
    makes this safe on an unbounded 100 TB crawl stream (the batch
    ``exact_dedup`` twin dedups globally; the stream dedups within the
    horizon by design, which is the right call for re-crawl suppression).
    """
    fp = pages.withColumn("fp", F.md5(F.col(fingerprint_col)))
    return (fp.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["fp"])
            .drop("fp"))


def upsert_stream(pages_stream: DataFrame, wh, table: str = "pages",
                  checkpoint: str | None = None):
    """Streaming incremental ingest (the foreachBatch CDC pattern): every
    micro-batch MERGES into the bucketed pages table via
    ``Warehouse.upsert_pages`` — latest ``warc_ts`` per url wins, only
    delta-touched bucket partitions rewrite. Effective exactly-once
    without a transactional sink: the merge is idempotent (re-applying a
    replayed batch after a crash changes nothing), which is the standard
    way foreachBatch upgrades at-least-once delivery.
    """
    w = (pages_stream.writeStream
         .foreachBatch(lambda df, _epoch: wh.upsert_pages(df, table)))
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w


def stateful_host_quality(scored: DataFrame, watermark: str = "10 minutes",
                          timeout_ms: int = 600_000) -> DataFrame:
    """CUSTOM stateful operator via ``applyInPandasWithState``: per-host
    RUNNING quality totals (docs seen / kept / cumulative drop rate) carried
    across micro-batches — semantics a built-in windowed agg can't express
    (unbounded running totals with explicit eviction). State per host is
    three counters; hosts idle past ``timeout_ms`` (processing-time) emit a
    final row and evict, so state size tracks the ACTIVE host set, not the
    corpus. Arrow-batched per group; no per-row Python.
    """
    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout,
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd
        if state.hasTimedOut:
            docs, kept = state.get
            state.remove()
            yield pd.DataFrame({"host": [key[0]], "docs_in": [docs],
                                "docs_kept": [kept],
                                "drop_rate": [round(1 - kept / max(docs, 1), 6)],
                                "final": [True]})
            return
        docs, kept = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            docs += len(pdf)
            kept += int(pdf["keep"].sum())
        state.update((docs, kept))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame({"host": [key[0]], "docs_in": [docs],
                            "docs_kept": [kept],
                            "drop_rate": [round(1 - kept / max(docs, 1), 6)],
                            "final": [False]})

    host = F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("host")
    return (scored
            .withWatermark("warc_ts", watermark)
            .select(host, "keep", "warc_ts")
            .groupBy("host")
            .applyInPandasWithState(
                update,
                outputStructType=("host string, docs_in long, docs_kept long,"
                                  " drop_rate double, final boolean"),
                stateStructType="docs long, kept long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))


def windowed_host_metrics(scored: DataFrame, watermark: str = "10 minutes",
                          window: str = "5 minutes") -> DataFrame:
    """Optional stateful aggregation: per-host drop counts in event-time
    windows, bounded by a watermark on warc_ts (late data beyond the
    watermark is dropped — state cannot grow unboundedly)."""
    host = F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("host")
    return (scored
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window), host)
            .agg(F.count(F.lit(1)).alias("docs_in"),
                 F.sum(F.col("keep").cast("long")).alias("docs_kept")))
