"""filter_batch: ``plans.pipeline.run_filter`` over a pre-written 64-bucket
pages table, one fresh ``run_id`` per repetition.

This is the product path: the scoring UDF and the warehouse writes do the
work; ``operators.dedup`` does none. The traced run also measures the
near-duplicate dedup chain in the same session (``dedup_pass``).
"""

from __future__ import annotations

import os
import shutil

import common
import dedup_pass
import inputs
from spans import Tracer

NUM_BUCKETS = 64
# the first run after a cold start is ~40 % slower and the second still
# ~20 %: both belong to set-up, or the median depends on how many fit
WARMUP_OPS = 2


class FilterBench:
    def __init__(self, run: common.Run) -> None:
        self.run = run
        self.pages = inputs.filter_pages(run.seed)
        self.n = len(self.pages)
        self.summaries: dict[int, dict] = {}

    def setup(self) -> None:
        from data_quality_autohealer_spark import synth
        from data_quality_autohealer_spark.warehouse import Warehouse

        self.spark = common.start_spark(
            self.run, "perfbench-filter", f"local[{common.cores()}]")
        self.wh = Warehouse(self.spark, str(self.run.work / "wh"),
                            num_buckets=NUM_BUCKETS)
        self.wh.write_pages(self.spark.createDataFrame(
            self.pages, synth.PAGES_SCHEMA_DDL))

    def reset(self, i: int) -> None:
        """Every repetition starts from the same state: no clean, metrics
        or alerts table, and no cached plan from an earlier run."""
        for table in ("pages_clean", "metrics", "alerts"):
            shutil.rmtree(self.run.work / "wh" / table, ignore_errors=True)
        self.spark.catalog.clearCache()

    def op(self, key) -> None:
        from data_quality_autohealer_spark.plans import pipeline

        self.run.attempted += 1
        try:
            self.summaries[key] = pipeline.run_filter(self.wh, f"bench-{key}")
        except Exception as e:  # a failed run is a failed operation
            self.run.check(False, f"run_filter raised {e!r}", key)

    def check_reconcile(self, key) -> None:
        """Metrics rows reconcile to the input: one row per bucket, summed
        docs_in equals the corpus, docs_kept equals the clean table."""
        from pyspark.sql import functions as F

        s = self.summaries.get(key)
        if s is None:
            return
        run_id = f"bench-{key}"
        m = (self.wh.read_metrics().where(F.col("run_id") == run_id)
             .agg(F.count(F.lit(1)).alias("rows"),
                  F.sum("docs_in").alias("docs_in"),
                  F.sum("docs_kept").alias("kept"),
                  F.sum("docs_dropped").alias("dropped")).collect()[0])
        clean = self.wh.read_clean().count()
        ok = (s["docs_in"] == self.n and m["docs_in"] == self.n
              and m["kept"] == s["docs_kept"] == clean
              and m["kept"] + m["dropped"] == self.n
              and m["rows"] == self.n_buckets)
        self.run.check(ok, f"metrics do not reconcile: summary={s} "
                           f"metrics={m.asDict()} clean={clean}", key)

    def check_oracle(self, key) -> None:
        """Same keep decision and byte-identical scrubbed text as the
        single-process oracle, on a fixed url sample."""
        from pyspark.sql import functions as F

        from oracle.rules import reference_labels

        urls = inputs.oracle_sample_urls(self.pages, self.run.seed)
        sample = self.pages[self.pages["url"].isin(urls)].reset_index(drop=True)
        ref = reference_labels(sample[["url", "text", "lang"]])
        want = {u: t for u, k, t in zip(sample["url"], ref["keep"],
                                        ref["scrubbed_text"]) if k}
        got = {r["url"]: r["text"] for r in self.wh.read_clean()
               .where(F.col("url").isin(urls)).select("url", "text").collect()}
        bad = sorted(u for u in urls if want.get(u) != got.get(u))
        self.run.check(not bad, f"{len(bad)} of {len(urls)} sampled urls "
                                f"differ from oracle.rules, e.g. {bad[:3]}", key)

    def stop(self) -> None:
        common.stop_spark(self.spark)


def run(run: common.Run) -> tuple[dict, dict]:
    """Returns (end-to-end metrics, per-layer metrics)."""
    import time

    from data_quality_autohealer_spark import session
    from data_quality_autohealer_spark.plans import pipeline
    from data_quality_autohealer_spark.warehouse import Warehouse

    tracer = Tracer() if run.trace else None
    if tracer:
        tracer.wrap(session, "get_spark", "session.get_spark")
        tracer.wrap(Warehouse, "write_pages", "warehouse.write_pages")
    b = FilterBench(run)
    t0 = time.perf_counter()
    b.setup()
    if tracer:
        tracer.sc = b.spark.sparkContext
        tracer.restore()
    for i in range(WARMUP_OPS):
        b.reset(i)
        b.op(f"warmup{i}")
    setup_s = time.perf_counter() - t0
    run.mark("setup")
    b.n_buckets = sum(1 for d in (run.work / "wh" / "pages").iterdir()
                      if d.name.startswith("bucket="))
    b.check_reconcile(f"warmup{WARMUP_OPS - 1}")

    # a traced run reports no end-to-end metric: one untraced and one traced
    # repetition give the tracing overhead and keep the run within budget
    seconds = 0.0 if tracer else run.seconds

    def timed(prefix):
        keys = []

        def prepare(i):
            if keys:
                b.check_reconcile(keys[-1])
            keys.append(f"{prefix}{i}")
            b.reset(i)

        times = common.timed_loop(seconds, lambda i: b.op(keys[-1]),
                                  prepare)
        b.check_reconcile(keys[-1])
        b.check_oracle(keys[-1])
        return times

    times = timed("r")
    run.op_times = times
    run.mark("measured")
    rss = common.tree_peak_rss_mb(os.getpid())
    e2e = {"setup_s": setup_s,
           "docs_per_s": b.n / common.median(times),
           "latency_p50_ms": 1000 * common.median(times),
           "peak_rss_mb": rss}
    layers = {}
    if tracer:
        tracer.wrap(pipeline, "run_filter", "plans.pipeline.run_filter")
        tracer.wrap(Warehouse, "write_clean", "warehouse.write_clean")
        tracer.wrap(pipeline, "bucket_metrics", "plans.pipeline.bucket_metrics",
                    until_next=True)
        tracer.wrap(Warehouse, "append_metrics", "warehouse.append_metrics")
        tracer.wrap(Warehouse, "append_alerts", "warehouse.append_alerts")
        traced = timed("t")
        tracer.restore()
        layers["trace.overhead_ms"] = 1000 * (common.median(traced)
                                              - common.median(times))
        from kernels import kernel_rates
        layers.update(kernel_rates(b.pages["text"]))
        run.mark("traced")
        layers.update(dedup_pass.measure(run, b.spark, tracer))
        run.mark("dedup")
    b.stop()
    run.mark("stopped")
    if tracer:
        layers.update(filter_layers(run, tracer))
        layers.update(dedup_pass.span_layers(tracer))
    return e2e, layers


def filter_layers(run: common.Run, tracer: Tracer) -> dict:
    from spans import finalize, first

    finalize(run, tracer)
    med = common.median

    def dur(name):
        return med([s["dur_s"] for s in tracer.named(name)])

    writes = tracer.named("warehouse.write_clean")
    slots = common.cores()
    return {
        "session.get_spark_s": first(tracer, "session.get_spark")["dur_s"],
        "warehouse.write_pages_s":
            first(tracer, "warehouse.write_pages")["dur_s"],
        "plans.pipeline.run_filter_s": dur("plans.pipeline.run_filter"),
        "warehouse.write_clean_s": dur("warehouse.write_clean"),
        "plans.pipeline.bucket_metrics_s": dur("plans.pipeline.bucket_metrics"),
        "warehouse.append_metrics_s": dur("warehouse.append_metrics"),
        "warehouse.clean_bytes_written":
            med([s["spark"]["output_bytes"] for s in writes]),
        "operators.scoring.udf_busy_s":
            med([s["spark"]["task_s"] for s in writes]),
        "operators.scoring.udf_tasks": med([s["spark"]["tasks"] for s in writes]),
        "operators.scoring.slot_busy_frac":
            med([s["spark"]["task_s"] / (s["dur_s"] * slots) for s in writes]),
    }
