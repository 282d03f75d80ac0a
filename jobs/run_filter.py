"""CLI entry point for the quality-filter pipeline — the ``spark-submit``
deliverable (north_rule: "packaged for spark-submit --py-files").

Cluster usage:
  python tools/make_pyfiles.py               # builds dist/dqa_spark.zip
  spark-submit --py-files dist/dqa_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      jobs/run_filter.py --warehouse /wh --run-id run42 [--generate 1000000]

Local sandbox: python jobs/run_filter.py --warehouse /tmp/wh --run-id r1 \
    --generate 100000

Resume semantics: re-running with the same --run-id skips every bucket whose
metrics row is already checkpointed (a partition filter on the pages scan);
a killed job therefore resumes without rescoring completed partitions.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# repo root (when run from a checkout; on a cluster --py-files provides the pkg)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--warehouse", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--pages-table", default="pages")
    p.add_argument("--clean-table", default="pages_clean")
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--generate", type=int, default=0,
                   help="generate N synthetic pages into the warehouse first")
    p.add_argument("--validate", action="store_true",
                   help="re-profile the clean table after the run and append "
                        "a completion/validation audit row")
    p.add_argument("--wave-buckets", type=int, default=0,
                   help="process buckets in waves of N, checkpointing "
                        "metrics after each (kill loses at most one wave)")
    p.add_argument("--c4-clean", action="store_true",
                   help="apply the C4 line rules before scoring and merge "
                        "the page flag into the decision (reason c4.page)")
    p.add_argument("--master", default=None)
    args = p.parse_args()
    if args.wave_buckets < 0:
        p.error("--wave-buckets must be >= 0 (0: no waves)")

    from data_quality_autohealer_spark import synth
    from data_quality_autohealer_spark.plans.pipeline import (
        run_filter, run_filter_in_waves, validate_run,
    )
    from data_quality_autohealer_spark.session import get_spark
    from data_quality_autohealer_spark.warehouse import Warehouse

    spark = get_spark(app_name=f"dqa-filter-{args.run_id}", master=args.master)
    wh = Warehouse(spark, args.warehouse, num_buckets=args.num_buckets)

    if args.generate:
        pages = synth.gen_pages_df(spark, args.generate)
        wh.write_pages(pages, args.pages_table)

    t0 = time.perf_counter()
    if args.wave_buckets:
        summary = run_filter_in_waves(
            wh, args.run_id, args.wave_buckets, args.pages_table,
            args.clean_table, c4=args.c4_clean)
    else:
        summary = run_filter(wh, args.run_id, args.pages_table,
                             args.clean_table, c4=args.c4_clean)
    if args.validate:
        summary["validation"] = validate_run(wh, args.run_id, args.clean_table)
    summary["sec"] = round(time.perf_counter() - t0, 2)
    if summary["docs_in"]:
        summary["docs_per_sec"] = round(summary["docs_in"] / summary["sec"], 1)
    json.dump(summary, sys.stdout)
    print()


if __name__ == "__main__":
    main()
