"""WARC-ingest CLI: crawl segments -> pages table, the front edge of the
pipeline (then ``jobs/run_filter.py`` scores the same warehouse).

Cluster usage:
  spark-submit --py-files dist/dqa_spark.zip jobs/run_warc_ingest.py \
      --warc '/crawl/segments/*.warc.gz' --warehouse /wh

Parallelism unit is the segment FILE (gzip'd WARC is not byte-splittable);
thousands of ~1 GB segments saturate a cluster — see sources/warc.py.

``--synth-segments N`` writes N deterministic .warc.gz segments (from the
synthetic pages corpus, HTML wrapped in an HTTP/1.1 response) before
ingesting them — the sandbox stand-in for a real crawl directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synth_segments(spark, out_dir: str, segments: int,
                   docs_per_segment: int) -> int:
    """Deterministic crawl directory: pages -> HTTP-wrapped WARC records,
    one .warc.gz per segment, written EXECUTOR-SIDE via mapInPandas (no
    driver collect — VERDICT r03 #7): each task writes the segment files
    whose docs it holds. A segment never spans partitions (repartition on
    the segment key), so files are written exactly once; record order
    inside a file is fixed by doc index, making output independent of
    partitioning/scheduling. ``out_dir`` must be shared storage on a real
    cluster (it is fixture generation — the read side is the scale path).
    """
    from pyspark.sql import functions as F

    from data_quality_autohealer_spark import synth
    from data_quality_autohealer_spark.sources.warc import write_warc_file

    os.makedirs(out_dir, exist_ok=True)
    n = segments * docs_per_segment
    rng = spark.range(0, n, numPartitions=segments)

    def _gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = synth.gen_pages_pdf(ids)
            out["doc_idx"] = ids
            yield out

    pages = rng.mapInPandas(
        _gen, schema=synth.PAGES_SCHEMA_DDL + ", doc_idx long")
    # WARC-Date formatted JVM-side under the session's pinned UTC zone —
    # Python-side datetime formatting would use the executor's OS zone
    recs = pages.select(
        "doc_idx", "url",
        F.concat(F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss"),
                 F.lit("Z")).alias("warc_date"),
        "html",
        (F.col("doc_idx") / docs_per_segment).cast("int").alias("seg"))

    def _write(batches):
        import pandas as pd
        by_seg: dict[int, list] = {}
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                by_seg.setdefault(int(r.seg), []).append(r)
        out = []
        for s, rows in by_seg.items():
            rows.sort(key=lambda r: r.doc_idx)
            seg_recs = []
            for r in rows:
                html = bytes(r.html)
                payload = (b"HTTP/1.1 200 OK\r\n"
                           b"Content-Type: text/html\r\n"
                           b"Content-Length: %d\r\n\r\n" % len(html)) + html
                seg_recs.append({
                    "warc_type": "response",
                    "url": r.url,
                    "warc_date": r.warc_date,
                    "record_id": f"<urn:uuid:{s}-{len(seg_recs)}>",
                    "content_type": "application/http; msgtype=response",
                    "payload": payload,
                })
            out.append((s, write_warc_file(
                seg_recs, os.path.join(out_dir, f"seg{s:05d}.warc.gz"),
                gzip_per_record=True)))
        yield pd.DataFrame(out, columns=["seg", "n_records"])

    written = (recs.repartition(segments, "seg")
               .mapInPandas(_write, schema="seg int, n_records long")
               .groupBy().sum("n_records").collect())
    return int(written[0][0] or 0)


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser()
    p.add_argument("--warc", required=True,
                   help="path/glob of .warc / .warc.gz segments")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--pages-table", default="pages")
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--synth-segments", type=int, default=0)
    p.add_argument("--docs-per-segment", type=int, default=500)
    p.add_argument("--text-extract", choices=["main", "tags"],
                   default="main",
                   help="'main' = block-scored boilerplate removal "
                        "(nav/footer/linkfarm dropped); 'tags' = legacy "
                        "whole-page tag strip")
    p.add_argument("--keep-noindex", action="store_true",
                   help="ingest pages carrying a noindex robots directive "
                        "(meta tag or X-Robots-Tag header) instead of "
                        "respecting the publisher opt-out")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from data_quality_autohealer_spark.session import get_spark
    from data_quality_autohealer_spark.sources.warc import (
        read_warc, robots_noindex, warc_to_pages,
    )
    from data_quality_autohealer_spark.warehouse import Warehouse

    spark = get_spark(app_name="dqa-warc-ingest", master=args.master)
    summary = {"warc": args.warc}
    if args.synth_segments:
        summary["synth_records"] = synth_segments(
            spark, args.warc, args.synth_segments, args.docs_per_segment)

    records = read_warc(spark, args.warc)
    if not args.keep_noindex:
        # the exclusion is never silent: surface the opt-out count
        summary["noindex_dropped"] = records.where(
            robots_noindex(F.col("payload"))).count()
    pages = warc_to_pages(records, text_extract=args.text_extract,
                          drop_noindex=not args.keep_noindex)
    wh = Warehouse(spark, args.warehouse, num_buckets=args.num_buckets)
    summary["pages_written"] = wh.write_pages(pages, args.pages_table)
    return summary


if __name__ == "__main__":
    json.dump(main(), sys.stdout)
    print()
