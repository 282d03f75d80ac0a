"""The end-to-end quality-filter pipeline: profile → detect → remediate →
checkpoint, as ONE Spark job graph.

Reference analogue: run_auto_healing.py:16-131 (generate → profile → detect →
remediate → validate), re-expressed Spark-first. The scoring stage is
shuffle-free (partition-parallel: one Arrow UDF crossing scores and decides);
the only shuffle is the per-bucket metrics groupBy. Column pruning matters:
the scoring path never reads ``html`` (BINARY) — only url/text/lang/warc_ts
reach the scan.

Resume: before scoring, the buckets already present in the metrics table
for this run_id (at most ``num_buckets`` values, collected to the driver)
become a partition filter on the pages scan — completed buckets are never
read, and the plan has no join.
"""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from ..functions.rule_ops import SPARK, PandasOps
from ..operators import decision as dec
from ..operators import scoring
from ..warehouse import AUDIT_SCHEMA, METRICS_SCHEMA, Warehouse

SCORED_COLUMNS = [
    "url", "warc_ts", "lang", "bucket",
    "word_count", "mean_word_len", "symbol_ratio", "distinct_stopwords",
    "alpha_word_frac", "dup_2gram_frac", "dup_3gram_frac", "dup_4gram_frac",
    "lang_pred", "lang_conf", "log_pplx",
    "n_email", "n_ssn", "n_phone", "n_ip", "n_tox",
    "scrubbed_text", "reasons", "keep",
]


def score_pages(pages: DataFrame, c4: bool = False) -> DataFrame:
    """DataFrame → DataFrame scorer (pure function; identical code path for
    batch and Structured Streaming): the one scoring UDF returns the kernel
    columns, ``reasons`` and ``keep`` (``scoring.with_model_scores``).

    Deliberately selects only the needed columns first so Parquet/Iceberg
    column pruning drops ``html`` at the scan.
    ``c4``: apply the C4 line rules (functions/c4.py) BEFORE scoring —
    signals and scrubbing run over the line-cleaned text — and merge the
    page flag into the decision as reason code ``c4.page``. Both steps are
    pure projections; the plan gains zero exchanges and no state store.
    """
    if c4:
        pages = c4_pre_clean(pages)
    carried = ["_c4_keep"] if c4 else []
    have = set(pages.columns)
    cols = [c for c in ["url", "warc_ts", "text", "lang", "bucket",
                        *carried] if c in have]
    # ALL per-doc text signals and the decision ride in the one scoring UDF
    # crossing (tokens split once per doc in batched Python — ~50× cheaper
    # than Spark's interpreted higher-order functions; native-expr twins
    # are asserted equal in tests and used for SQL-oracle-checked queries)
    df = scoring.with_model_scores(pages.select(*cols))
    have = set(df.columns)
    df = df.select("text", *[c for c in [*SCORED_COLUMNS, *carried]
                             if c in have])
    return c4_merge_decision(df) if c4 else df


def c4_pre_clean(pages: DataFrame) -> DataFrame:
    """Projection-only C4 stage (functions/c4.py): rewrite ``text`` to the
    line-cleaned form and carry the page flag as ``_c4_keep`` for
    :func:`c4_merge_decision` after scoring."""
    from ..functions import c4 as c4f

    return (c4f.with_c4(pages, "text")
            .withColumn("text", F.col("c4_text_clean"))
            .withColumnRenamed("c4_page_keep", "_c4_keep")
            .drop("c4_text_clean", "c4_n_lines", "c4_n_lines_kept",
                  "c4_drop_reason"))


def c4_merge_decision(scored: DataFrame) -> DataFrame:
    """Fold the carried C4 page flag into the decision: flagged pages get
    reason code ``c4.page`` (sorted in) and ``keep`` goes false."""
    return (scored.withColumn(
        "reasons",
        F.when(~F.col("_c4_keep"),
               F.array_sort(F.array_union(
                   "reasons", F.array(F.lit("c4.page")))))
        .otherwise(F.col("reasons")))
        .withColumn("keep", F.col("keep") & F.col("_c4_keep"))
        .drop("_c4_keep"))


# what run_filter's two sinks read of a scored frame: clean_rows and
# bucket_metrics (the persisted frame holds these and nothing else)
SINK_COLUMNS = ["url", "warc_ts", "lang", "lang_pred", "bucket",
                "scrubbed_text", "reasons", "keep",
                "n_email", "n_ssn", "n_phone", "n_ip"]


def clean_rows(scored: DataFrame) -> DataFrame:
    """The kept documents of a :func:`score_pages` frame as the clean sinks
    store them — ``run_filter``'s clean table and the streaming
    ``kept_writer`` both write this projection: scrubbed text, reasons as
    CSV, and ``bucket`` when the pages came from the warehouse table.

    An 'und' CLAIM (WARC ingest: unlabeled pages) adopts the model's
    predicted language, so downstream per-lang curation (export mixtures,
    severity censuses) sees real languages; labeled corpora pass through
    untouched. The projection is SQL text: a few py4j calls, not one per
    expression node."""
    return scored.where("keep").selectExpr(
        "url", "warc_ts",
        "CASE WHEN lang = 'und' AND lang_pred != 'und' THEN lang_pred"
        " ELSE lang END AS lang",
        *[c for c in ["bucket"] if c in scored.columns],
        "scrubbed_text AS text",
        "array_join(reasons, ',') AS reasons_csv",
    )


def bucket_metrics(scored: DataFrame, run_id: str) -> DataFrame:
    """Per-bucket lineage + rule-hit metrics (the checkpoint rows).

    ONE shuffle (groupBy bucket), no row explosion: rule hits are conditional
    sums (one fixed-width counter per reason code), assembled into the map
    after aggregation. All sums are algebraic → map-side partial aggregation;
    shuffle volume is O(buckets × codes), independent of document count.
    Each aggregate column is parsed from SQL text generated from
    ``REASON_CODES``: one py4j call per column instead of one per
    expression node.
    """
    def as_map(pairs):
        keys = ", ".join(f"'{k}'" for k, _ in pairs)
        return (f"map_from_arrays(array({keys}), "
                f"array({', '.join(v for _, v in pairs)}))")

    hits = [(c, f"sum(cast(array_contains(reasons, '{c}') as bigint))")
            for c in dec.REASON_CODES]
    pii = [(k, f"sum(n_{k})") for k in ("email", "ssn", "phone", "ip")]
    aggs = ["count(1) AS docs_in",
            "sum(cast(keep as bigint)) AS docs_kept",
            "sum(cast(NOT keep as bigint)) AS docs_dropped",
            f"{as_map(hits)} AS rule_hits",
            f"{as_map(pii)} AS pii_scrubbed"]
    return (scored.groupBy("bucket")
            .agg(*[F.expr(e) for e in aggs])
            .select(F.lit(run_id).alias("run_id"), "bucket", "docs_in",
                    "docs_kept", "docs_dropped", "rule_hits", "pii_scrubbed"))


def collect_metrics(scored: DataFrame, run_id: str) -> list[Row]:
    """:func:`bucket_metrics` on the driver as ``METRICS_SCHEMA`` rows, all
    stamped with one ``completed_at`` taken after the collect (a naive
    local datetime, as a collected timestamp is). Not stamped in the plan:
    the optimizer folds ``current_timestamp()`` into a literal that codegen
    inlines, so every call would compile the aggregate's classes anew."""
    rows = bucket_metrics(scored, run_id).collect()
    now = datetime.datetime.now()
    return [Row(**r.asDict(), completed_at=now) for r in rows]


def alert_severity(o):
    """``(drop_rate, severity)`` of metrics rows over a ``rule_ops``
    namespace, by ``decision.SEVERITY_CUTS``; severity is null below
    'medium'. Rendered in Spark by :func:`quality_alerts`, evaluated on the
    driver's collected metric rows by :func:`run_filter`."""
    rate = o.col("docs_dropped") / o.greatest(o.col("docs_in"), 1)
    return rate, o.case([(rate > cut, sev) for cut, sev in dec.SEVERITY_CUTS],
                        None)


def quality_alerts(metrics: DataFrame) -> DataFrame:
    """Alert rows derived from per-bucket metrics.

    Reference analogue: the Kafka alert topic + severity mapping
    (kafka_producer.py:send_quality_alert). One alert per bucket whose
    :func:`alert_severity` is set, with a JSON payload (F.to_json)
    mirroring the reference's event shape.
    """
    rate, sev = alert_severity(SPARK)
    return (metrics
            .withColumn("severity", sev)
            .where(F.col("severity").isNotNull())
            .select(
                "run_id", "bucket", "severity",
                F.round(rate, 6).alias("drop_rate"),
                F.to_json(F.struct(
                    "run_id", "bucket", "docs_in", "docs_dropped",
                    "rule_hits", "completed_at")).alias("payload"),
            ))


def run_filter(
    wh: Warehouse,
    run_id: str,
    pages_table: str = "pages",
    clean_table: str = "pages_clean",
    bucket_subset: list[int] | None = None,
    c4: bool = False,
) -> dict:
    """Full run with resume. Returns summary counters.

    The scored frame shared by the two sinks (clean write + metrics) is
    cached MEMORY_AND_DISK, narrowed to ``SINK_COLUMNS``. On a Parquet
    warehouse a call runs only the clean write and the metrics collect as
    Spark jobs (plus the alerts write when an alert fires): the pages read
    is schema-pinned, and the resume set and the metrics checkpoint are
    read and written with pyarrow on the driver.
    ``bucket_subset``: restrict this invocation to the given buckets (the
    wave unit used by :func:`run_filter_in_waves`); partition pruning makes
    the restriction a scan-level filter.
    ``c4``: the C4 line rules of :func:`score_pages`.
    """
    from pyspark import StorageLevel

    pages = wh.read_pages(pages_table)
    if bucket_subset is not None:
        pages = pages.where(F.col("bucket").isin(list(bucket_subset)))
    scored = score_pages(wh.resume_filter(pages, run_id), c4=c4)
    scored = scored.select(*SINK_COLUMNS).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # 1) commit the data, 2) append the alerts, 3) checkpoint the metrics
        # LAST. A crash before the checkpoint rescores the bucket on resume:
        # its clean partition is rewritten idempotently via dynamic partition
        # overwrite, and alerts appended again collapse in read_alerts.
        wh.write_clean(clean_rows(scored), clean_table)
        # The summary and the alert count need the ≤num_buckets metric rows
        # on the driver; the checkpoint is written from those same rows, so
        # it holds exactly what the summary reports.
        metrics_rows = collect_metrics(scored, run_id)
        n_alerts = 0
        if metrics_rows:
            _, sev = alert_severity(PandasOps(
                pd.DataFrame([r.asDict() for r in metrics_rows])))
            n_alerts = int(pd.notna(sev).sum())
            if n_alerts:
                # one slice: one task writes one alerts file
                wh.append_alerts(quality_alerts(wh.spark.createDataFrame(
                    wh.spark.sparkContext.parallelize(metrics_rows, 1),
                    METRICS_SCHEMA)))
            wh.append_metrics(metrics_rows)
        return {"run_id": run_id,
                "docs_in": sum(r["docs_in"] for r in metrics_rows),
                "docs_kept": sum(r["docs_kept"] for r in metrics_rows),
                "alerts": n_alerts}
    finally:
        scored.unpersist()


def validate_run(
    wh: Warehouse,
    run_id: str,
    clean_table: str = "pages_clean",
    tolerance: float = 0.02,
) -> dict:
    """Validate-remediation + completion-notification tail (reference
    schema_drift_remediation.py:143-204: every DAG ends validate → notify).

    Re-scores the CLEAN table through the identical scorer and asserts the
    re-drop rate ≈ 0 (kept docs were scrubbed, so signals can shift slightly
    — e.g. ``<EMAIL>`` tokens change the symbol ratio — hence ``tolerance``).
    Appends one audit row (the notification artifact) and returns it as a
    dict. One full scan of the clean table; the agg is a 1-row fence.
    """
    import datetime

    clean = wh.read_clean(clean_table)
    rescored = score_pages(clean)
    row = rescored.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum((~F.col("keep")).cast("long")).alias("redropped"),
    ).collect()[0]
    docs = int(row["docs"])
    # an empty clean table (every document dropped) sums to null
    drop_rate = round(int(row["redropped"] or 0) / max(docs, 1), 6)
    status = "ok" if drop_rate <= tolerance else "degraded"
    message = (f"revalidated {docs} kept docs; re-drop rate {drop_rate}"
               f" (tolerance {tolerance})")
    audit = wh.spark.createDataFrame(
        [(run_id, "validate_remediation", docs, float(drop_rate), status,
          message, datetime.datetime.now())], AUDIT_SCHEMA)
    wh.append_audit(audit)
    return {"run_id": run_id, "docs_validated": docs,
            "revalidation_drop_rate": drop_rate, "status": status}


def run_filter_in_waves(
    wh: Warehouse,
    run_id: str,
    wave_buckets: int = 16,
    pages_table: str = "pages",
    clean_table: str = "pages_clean",
    c4: bool = False,
) -> dict:
    """Run the filter in bucket WAVES, checkpointing metrics after each —
    this is what makes the kill/resume contract bucket-granular in practice:
    a SIGKILL mid-run loses at most the current wave, not the whole run
    (plain run_filter appends metrics once at the end, so a first-run crash
    before the append rescored everything). At 10^12 docs an orchestrator
    issues waves anyway; this makes one driver invocation do it.
    """
    done = set(wh.completed_buckets(run_id))
    todo = sorted(set(wh.page_buckets(pages_table)) - done)
    total = {"run_id": run_id, "docs_in": 0, "docs_kept": 0, "alerts": 0,
             "waves": 0, "buckets_skipped": len(done)}
    for lo in range(0, len(todo), wave_buckets):
        chunk = todo[lo:lo + wave_buckets]
        summary = run_filter(wh, run_id, pages_table, clean_table,
                             bucket_subset=chunk, c4=c4)
        total["docs_in"] += summary["docs_in"]
        total["docs_kept"] += summary["docs_kept"]
        total["alerts"] += summary["alerts"]
        total["waves"] += 1
    return total


def _run_drop_rate(wh: Warehouse, run_id: str) -> float:
    r = (wh.read_metrics().where(F.col("run_id") == run_id)
         .agg(F.sum("docs_in").alias("n"),
              F.sum("docs_dropped").alias("d")).collect()[0])
    return float(r["d"] or 0) / max(float(r["n"] or 0), 1.0)


def drift_retrain(
    wh: Warehouse,
    run_id: str,
    baseline_run_id: str,
    shift_threshold: float = 0.15,
    sample_docs: int = 2000,
    clean_table: str = "pages_clean",
) -> dict:
    """Drift-triggered model retrain (reference
    distribution_shift_remediation.py:69-104: detect shift → retrain on the
    new distribution → persist the model).

    Drift signal = |drop_rate(run) − drop_rate(baseline_run)| from the
    metrics table (two 1-row aggs over ≤num_buckets rows — no data scan).
    On drift, retrain the perplexity LM on a DETERMINISTIC sample of the
    current clean corpus (orderBy xxhash64(url), limit N — stable across
    partitionings) and persist the artifact next to the warehouse for
    ``spark-submit --py-files`` shipping. Appends an audit row either way.
    """
    import datetime
    import os

    from ..functions.perplexity import PerplexityModel

    cur = _run_drop_rate(wh, run_id)
    base = _run_drop_rate(wh, baseline_run_id)
    drift = round(abs(cur - base), 6)
    if drift <= shift_threshold:
        audit = wh.spark.createDataFrame(
            [(run_id, "drift_retrain", 0, float(drift), "skipped",
              f"drop-rate shift {drift} <= threshold {shift_threshold}",
              datetime.datetime.now())], AUDIT_SCHEMA)
        wh.append_audit(audit)
        return {"run_id": run_id, "retrained": False, "drift": drift}

    sample = (wh.read_clean(clean_table)
              .orderBy(F.xxhash64("url")).limit(sample_docs)
              .select("text").collect())
    texts = [r["text"] for r in sample]
    model = PerplexityModel.train_texts(texts)
    model_dir = os.path.join(wh.root, "models")
    os.makedirs(model_dir, exist_ok=True)
    path = os.path.join(model_dir, f"pplx_{run_id}.npz")
    model.save(path)
    audit = wh.spark.createDataFrame(
        [(run_id, "drift_retrain", len(texts), float(drift), "retrained",
          f"drop-rate shift {drift} > {shift_threshold}; retrained LM on "
          f"{len(texts)} docs -> {path}",
          datetime.datetime.now())], AUDIT_SCHEMA)
    wh.append_audit(audit)
    return {"run_id": run_id, "retrained": True, "drift": drift,
            "model_path": path, "sample_docs": len(texts)}
