"""The near-duplicate dedup chain, measured inside the traced run of
filter_batch: ``jobs/run_dedup.py --mode neardup`` (exact pre-pass, LSH
candidates, Jaccard verify, connected components, deduped table write) over
a generated corpus with known near-duplicate clusters.

The chain is all shuffles, joins and components rounds, with no scoring-UDF
work. It runs inside the traced run only: as a workload of its own one
run took about 65 s on 4 cores (a cold warm-up chain run, 10-14 s per chain
run, the DuckDB twin), as long as a run of each other workload together.
"""

from __future__ import annotations

import shutil
import time

import common
import inputs
from spans import Tracer

RECALL_FLOOR = 0.9


class DedupBench:
    def __init__(self, run: common.Run, spark) -> None:
        from data_quality_autohealer_spark.warehouse import Warehouse

        self.run = run
        self.spark = spark
        self.corpus = inputs.dedup_corpus(run.seed)
        self.n = len(self.corpus)
        self.root = run.work / "wh_dedup"
        self.wh = Warehouse(spark, str(self.root))
        self.summaries: dict = {}
        members = self.corpus[self.corpus["cluster"] >= 0]
        self.clusters = members.groupby("cluster")["url"].apply(set).to_dict()
        self.n_removable = len(members) - len(self.clusters)
        self.singles = set(self.corpus.loc[self.corpus["cluster"] < 0, "url"])

    def write_pages(self) -> None:
        from data_quality_autohealer_spark import synth

        cols = ["url", "warc_ts", "html", "text", "lang"]
        self.wh.write_pages(self.spark.createDataFrame(
            self.corpus[cols], synth.PAGES_SCHEMA_DDL))

    def reset(self) -> None:
        for table in ("pages_deduped", "audit"):
            shutil.rmtree(self.root / table, ignore_errors=True)
        self.spark.catalog.clearCache()

    def op(self, key) -> float:
        """One chain run from a clean state; returns its wall time."""
        from jobs import run_dedup

        self.reset()
        self.run.attempted += 1
        t = time.perf_counter()
        try:
            self.summaries[key] = run_dedup.main(
                ["--warehouse", str(self.root), "--mode", "neardup"])
        except Exception as e:
            self.run.check(False, f"run_dedup raised {e!r}", key)
        return time.perf_counter() - t

    def check(self, key) -> None:
        """Counts reconcile, no doc outside a known cluster is removed,
        every cluster keeps a member, and recall of the known duplicates
        stays above the floor."""
        s = self.summaries.get(key)
        if s is None:
            return
        kept = {r["url"] for r in
                self.wh.read_pages("pages_deduped").select("url").collect()}
        removed_true = sum(len(m - kept) for m in self.clusters.values())
        recall = removed_true / max(self.n_removable, 1)
        ok = (s["docs_in"] == self.n == s["docs_out"] + s["removed"]
              and s["docs_out"] == len(kept)
              and self.singles <= kept
              and all(m & kept for m in self.clusters.values())
              and recall >= RECALL_FLOOR)
        self.run.check(ok, f"dedup output wrong: summary={s} kept={len(kept)}"
                           f" recall={recall:.4f}", key)

    def check_twin(self) -> None:
        """neardup_groups equals its DuckDB twin on a small whole-cluster
        subset (the twin's recursive CTE is quadratic in cluster size)."""
        import duckdb

        from data_quality_autohealer_spark.operators import dedup

        self.run.attempted += 1
        sub = inputs.twin_subset(self.corpus, self.run.seed)
        got = {tuple(r) for r in dedup.neardup_groups(
            self.spark.createDataFrame(sub)).collect()}
        con = duckdb.connect()
        try:
            con.register("documents", sub)
            want = {tuple(r) for r in
                    con.execute(dedup.duckdb_neardup_groups_sql()).fetchall()}
        finally:
            con.close()
        self.run.check(got == want and len(got) > 0,
                       f"neardup_groups vs DuckDB twin: {len(got)} vs "
                       f"{len(want)} rows, {len(got ^ want)} differ", "twin")

    def layer_counts(self) -> dict:
        """Exact counts of each chain stage over the run's input, and the
        components time over already-materialized verified pairs."""
        from pyspark.sql import functions as F

        from data_quality_autohealer_spark.operators import dedup

        pages = dedup.exact_dedup(self.wh.read_pages(), text_col="text",
                                  id_col="url").localCheckpoint()
        cand = dedup.minhash_lsh_pairs(pages, text_col="text",
                                       id_col="url").localCheckpoint()
        n_cand = cand.count()
        verified = dedup.jaccard_verify_pairs(
            pages, cand, text_col="text", id_col="url").localCheckpoint()
        n_ver = verified.count()
        t = time.perf_counter()
        comp = dedup.connected_components(verified)
        n_clusters = comp.select(F.countDistinct("comp")).collect()[0][0]
        cc_s = time.perf_counter() - t
        return {"operators.dedup.candidate_pairs": n_cand,
                "operators.dedup.verified_pairs": n_ver,
                "operators.dedup.verify_yield": n_ver / max(n_cand, 1),
                "operators.dedup.clusters": n_clusters,
                "operators.dedup.connected_components_s": cc_s}


def measure(run: common.Run, spark, tracer: Tracer) -> dict:
    """Warm-up chain run, one traced chain run, its correctness checks and
    the stage counts, in an already running session. Event-log counters
    are read afterwards by :func:`span_layers`."""
    from data_quality_autohealer_spark.operators import dedup
    from jobs import run_dedup

    b = DedupBench(run, spark)
    b.write_pages()
    b.op("dedup-warmup")
    b.check("dedup-warmup")
    tracer.wrap(run_dedup, "main", "jobs.run_dedup.main")
    for fn in ("exact_dedup", "neardup_dedup", "minhash_lsh_pairs",
               "jaccard_verify_pairs", "connected_components"):
        tracer.wrap(dedup, fn, f"operators.dedup.{fn}")
    dur = b.op("dedup-traced")
    tracer.restore()
    b.check("dedup-traced")
    b.check_twin()
    with tracer.span("perfbench.dedup_layer_counts"):
        layers = b.layer_counts()
    layers["operators.dedup.docs_per_s"] = b.n / dur
    return layers


def span_layers(tracer: Tracer) -> dict:
    """Spark counters of the traced chain run; call after ``finalize``."""
    main = tracer.named("jobs.run_dedup.main")[0]["spark"]
    return {"operators.dedup.spark_jobs": main["jobs"],
            "operators.dedup.shuffle_write_bytes": main["shuffle_write_bytes"],
            "operators.dedup.task_skew": main["task_skew"]}
