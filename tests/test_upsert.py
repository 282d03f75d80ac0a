"""Incremental upsert: latest-wins merge semantics + proof that only the
bucket partitions touched by the delta are rewritten."""

import os

import pyspark.sql.functions as F

from data_quality_autohealer_spark import synth
from data_quality_autohealer_spark.warehouse import Warehouse, bucket_expr

N_BUCKETS = 64


def _mtimes(path):
    out = {}
    for d in os.listdir(path):
        if d.startswith("bucket="):
            full = os.path.join(path, d)
            out[d] = max(os.path.getmtime(os.path.join(full, f))
                         for f in os.listdir(full))
    return out


def test_upsert_latest_wins_and_partition_pruning(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), num_buckets=N_BUCKETS)
    base = synth.gen_pages_df(spark, 2000, num_partitions=4).cache()
    wh.write_pages(base)
    before = _mtimes(str(tmp_path / "wh" / "pages"))

    # small delta: 8 re-crawled urls (newer ts, new text) + 4 new urls
    recrawl = (base.orderBy("url").limit(8)
               .withColumn("warc_ts",
                           F.col("warc_ts") + F.expr("interval 1 day"))
               .withColumn("text", F.concat("text", F.lit(" v2"))))
    fresh = (base.orderBy(F.desc("url")).limit(4)
             .withColumn("url", F.concat(F.lit("http://new.example/"),
                                         F.col("url"))))
    delta = recrawl.unionByName(fresh).cache()
    summary = wh.upsert_pages(delta)
    assert 0 < summary["affected_buckets"] <= N_BUCKETS

    after_df = wh.read_pages()
    assert after_df.count() == 2004
    # re-crawled urls: exactly one row each, the v2 one
    sample = {r["url"]: r["text"]
              for r in after_df.join(
                  recrawl.select("url"), "url").collect()}
    assert len(sample) == 8
    assert all(t.endswith(" v2") for t in sample.values())

    # pruning proof: bucket dirs the delta does not touch are byte-untouched
    delta_buckets = {f"bucket={r['b']}" for r in delta.select(
        bucket_expr("url", N_BUCKETS).alias("b")).distinct().collect()}
    after = _mtimes(str(tmp_path / "wh" / "pages"))
    untouched = set(before) - delta_buckets
    assert untouched, "test needs at least one untouched bucket"
    for d in untouched:
        assert after[d] == before[d], f"{d} was rewritten needlessly"
    base.unpersist()
    delta.unpersist()


def _files_per_bucket(path):
    return {d: sum(f.endswith(".parquet") for f in os.listdir(
        os.path.join(path, d))) for d in os.listdir(path)
        if d.startswith("bucket=")}


def test_upsert_leaves_one_file_per_bucket(spark, tmp_path):
    """write_pages and the merge write both leave one file per bucket."""
    wh = Warehouse(spark, str(tmp_path / "wh1f"), num_buckets=8)
    base = synth.gen_pages_df(spark, 400, num_partitions=4).cache()
    wh.write_pages(base)
    path = str(tmp_path / "wh1f" / "pages")
    assert _files_per_bucket(path) == {f"bucket={b}": 1 for b in range(8)}
    delta = (base.orderBy("url").limit(20)
             .withColumn("warc_ts",
                         F.col("warc_ts") + F.expr("interval 1 day")))
    summary = wh.upsert_pages(delta)
    assert 0 < summary["affected_buckets"] <= 8
    assert _files_per_bucket(path) == {f"bucket={b}": 1 for b in range(8)}
    assert wh.read_pages().count() == 400
    base.unpersist()


def test_upsert_tie_prefers_incoming(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"), num_buckets=4)
    base = synth.gen_pages_df(spark, 100, num_partitions=1).cache()
    wh.write_pages(base)
    same_ts = (base.orderBy("url").limit(10)
               .withColumn("text", F.concat("text", F.lit(" tie-win"))))
    wh.upsert_pages(same_ts)
    got = {r["url"]: r["text"] for r in wh.read_pages().join(
        same_ts.select("url"), "url").collect()}
    assert len(got) == 10
    assert all(t.endswith(" tie-win") for t in got.values())
    base.unpersist()


def test_streaming_upsert_foreachbatch(spark, tmp_path):
    """CDC-style streaming ingest: two micro-batches where the second
    re-crawls half the first's urls with a newer ts -> final table has one
    row per url, the newer one."""
    from data_quality_autohealer_spark.streaming.stream_filter import (
        stream_pages_from_files, upsert_stream,
    )

    src = str(tmp_path / "s_src")
    base = synth.gen_pages_df(spark, 200, num_partitions=1).cache()
    base.write.parquet(src)  # micro-batch 1: the full crawl
    recrawl = (base.orderBy("url").limit(100)
               .withColumn("warc_ts",
                           F.col("warc_ts") + F.expr("interval 1 day"))
               .withColumn("text", F.concat("text", F.lit(" rev2"))))
    recrawl.coalesce(1).write.mode("append").parquet(src)  # micro-batch 2

    wh = Warehouse(spark, str(tmp_path / "s_wh"), num_buckets=8)
    stream = stream_pages_from_files(spark, src, max_files_per_trigger=1)
    q = (upsert_stream(stream, wh, checkpoint=str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    got = wh.read_pages()
    assert got.count() == 200  # one row per url, no duplicates
    rev2 = got.where(F.col("text").endswith(" rev2")).count()
    assert rev2 == 100  # every re-crawled url shows the newer revision
    base.unpersist()


def test_upsert_intra_batch_duplicates_deterministic(spark, tmp_path):
    """Equal-ts duplicates of one url WITHIN a batch resolve identically
    on every run (md5(text) tie-break) — and the first write dedupes."""
    rows = [("http://x.example/a", "2024-01-01 00:00:00", "alpha"),
            ("http://x.example/a", "2024-01-01 00:00:00", "beta")]
    delta = spark.createDataFrame(rows, "url string, ts string, text string") \
        .selectExpr("url", "cast(ts as timestamp) as warc_ts",
                    "cast(null as binary) as html", "text",
                    "'en' as lang")
    wh1 = Warehouse(spark, str(tmp_path / "w1"), num_buckets=4)
    wh1.upsert_pages(delta)          # first write: must dedupe
    got1 = wh1.read_pages().collect()
    assert len(got1) == 1
    # re-applying the same batch is a no-op (idempotent merge)
    wh1.upsert_pages(delta)
    got2 = wh1.read_pages().collect()
    assert [r["text"] for r in got1] == [r["text"] for r in got2]
    # md5('beta') vs md5('alpha'): greatest md5 wins, fixed forever
    import hashlib
    want = max(["alpha", "beta"],
               key=lambda t: hashlib.md5(t.encode()).hexdigest())
    assert got1[0]["text"] == want
