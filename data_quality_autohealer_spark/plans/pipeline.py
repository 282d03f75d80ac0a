"""The end-to-end quality-filter pipeline: profile → detect → remediate →
checkpoint.

Reference analogue: run_auto_healing.py:16-131 (generate → profile → detect →
remediate → validate), re-expressed Spark-first. The scoring stage is
shuffle-free (partition-parallel: one Arrow crossing scores and decides).
The scoring tasks also stage the clean files and return per-bucket metric
partials, so a run is one Spark job with no shuffle on either engine.
Column pruning matters: the scoring path never reads ``html`` (BINARY) —
only url/text/lang/warc_ts reach the scan.

Resume: before scoring, the buckets already present in the metrics table
for this run_id (at most ``num_buckets`` values, collected to the driver)
become a partition filter on the pages scan — completed buckets are never
read, and the plan has no join.
"""

from __future__ import annotations

import datetime
import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.rule_ops import SPARK, SQL, PandasOps
from ..operators import decision as dec
from ..operators import scoring
from ..session import forget_zip_finders
from ..warehouse import (
    METRICS_SCHEMA, StagedBucketWriter, Warehouse, bucket_runs,
)

# the pages columns scoring reads (never ``html``)
SCORING_INPUT = ["url", "warc_ts", "text", "lang", "bucket"]

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
    batch and Structured Streaming): the one scoring crossing appends the
    kernel columns, ``reasons`` and ``keep`` (``scoring.with_model_scores``).

    Deliberately selects only the needed columns first so Parquet/Iceberg
    column pruning drops ``html`` at the scan: every column below the
    ``mapInArrow`` node crosses.
    ``c4``: apply the C4 line rules (functions/c4.py) BEFORE scoring —
    signals and scrubbing run over the line-cleaned text — and hand the
    page flag to the scoring, which merges it into the decision as
    reason code ``c4.page``. The plan gains zero exchanges and no state
    store.
    """
    if c4:
        pages = c4_pre_clean(pages)
    have = set(pages.columns)
    # ALL per-doc text signals and the decision ride in the one scoring
    # crossing (tokens split once per doc in batched Python — ~50× cheaper
    # than Spark's interpreted higher-order functions; native-expr twins
    # are asserted equal in tests and used for SQL-oracle-checked queries)
    df = scoring.with_model_scores(
        pages.select(*[c for c in [*SCORING_INPUT, "_c4_keep"] if c in have]))
    have = set(df.columns)
    return df.select("text", *[c for c in SCORED_COLUMNS if c in have])


def c4_pre_clean(pages: DataFrame) -> DataFrame:
    """Projection-only C4 stage (functions/c4.py): rewrite ``text`` to the
    line-cleaned form and carry the page flag as ``_c4_keep`` for the
    scoring (``scoring.decide_batch``)."""
    from ..functions import c4 as c4f

    return (c4f.with_c4(pages, "text")
            .withColumn("text", F.col("c4_text_clean"))
            .withColumnRenamed("c4_page_keep", "_c4_keep")
            .drop("c4_text_clean", "c4_n_lines", "c4_n_lines_kept",
                  "c4_drop_reason"))


PII_KINDS = ("email", "ssn", "phone", "ip")


def clean_lang(o):
    """The language a clean row stores, over a ``rule_ops`` namespace: an
    'und' CLAIM (WARC ingest: unlabeled pages) adopts the model's predicted
    language, so downstream per-lang curation (export mixtures, severity
    censuses) sees real languages; any other claim, null included, passes
    through. Rendered as SQL text by :func:`clean_rows`, evaluated on numpy
    in ``run_filter``'s scoring tasks."""
    lang, pred = o.col("lang"), o.col("lang_pred")
    return o.case([((lang == "und") & (pred != "und"), pred)], lang)


def clean_rows(scored: DataFrame) -> DataFrame:
    """The kept documents of a :func:`score_pages` frame as the streaming
    ``kept_writer`` stores them, the same rows ``run_filter``'s scoring
    tasks stage: :func:`clean_lang`, scrubbed text, reasons as CSV, and
    ``bucket`` when the pages came from the warehouse table. The
    projection is SQL text: a few py4j calls, not one per expression
    node."""
    return scored.where("keep").selectExpr(
        "url", "warc_ts", f"{clean_lang(SQL)} AS lang",
        *[c for c in ["bucket"] if c in scored.columns],
        "scrubbed_text AS text",
        "array_join(reasons, ',') AS reasons_csv",
    )


def bucket_metrics(partials: list, run_id: str) -> list[Row]:
    """Per-bucket lineage + rule-hit metrics (the checkpoint rows,
    ``METRICS_SCHEMA``), summed on the driver from the partial rows
    ``run_filter``'s scoring tasks return, one per bucket a task scored:
    ``docs_in``, ``docs_kept``, and ``rule_hits`` / ``pii_scrubbed`` as
    lists of counts in ``REASON_CODES`` / :data:`PII_KINDS` order. All rows
    are stamped with one ``completed_at`` (a naive local datetime, as a
    collected timestamp is), taken on the driver: stamped in a plan,
    ``current_timestamp()`` is folded into a literal that codegen inlines,
    so every call would compile the plan's classes anew."""
    sums: dict[int, list] = {}
    for p in partials:
        s = sums.setdefault(p["bucket"], [0, 0, [0] * len(dec.REASON_CODES),
                                          [0] * len(PII_KINDS)])
        s[0] += p["docs_in"]
        s[1] += p["docs_kept"]
        s[2] = [a + b for a, b in zip(s[2], p["rule_hits"])]
        s[3] = [a + b for a, b in zip(s[3], p["pii_scrubbed"])]
    now = datetime.datetime.now()
    return [Row(run_id=run_id, bucket=b, docs_in=n, docs_kept=k,
                docs_dropped=n - k,
                rule_hits=dict(zip(dec.REASON_CODES, hits)),
                pii_scrubbed=dict(zip(PII_KINDS, pii)), completed_at=now)
            for b, (n, k, hits, pii) in sorted(sums.items())]


# one row per bucket of a scoring task (_score_and_stage)
PARTIAL_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("docs_in", T.LongType()),
    T.StructField("docs_kept", T.LongType()),
    T.StructField("rule_hits", T.ArrayType(T.LongType())),
    T.StructField("pii_scrubbed", T.ArrayType(T.LongType())),
    T.StructField("file", T.StringType()),
])


def _score_and_stage(staging: str, batches):
    """``mapInArrow`` body of ``run_filter``: score each Arrow batch of
    pages and stage its kept rows (:func:`_stage_batch`), then yield the
    task's partial rows, one per bucket: its counts, rule hits, PII sums
    and the file its kept rows went to (null when none was kept)."""
    import pyarrow as pa

    writer = StagedBucketWriter(staging)
    counts: dict[int, dict] = {}
    try:
        for batch in batches:
            _stage_batch(batch, writer, counts)
        for s in writer.close():
            counts[s["bucket"]].update(docs_kept=s["rows"], file=s["file"])
    finally:
        writer.close()  # after a failure: files no partial row names
    if counts:
        yield pa.RecordBatch.from_pylist(
            [{"bucket": b, **c} for b, c in sorted(counts.items())],
            to_arrow_schema(PARTIAL_SCHEMA))
    forget_zip_finders()


def _stage_batch(batch, writer: StagedBucketWriter,
                 counts: dict[int, dict]) -> None:
    """Score and decide one Arrow batch of pages
    (``scoring.decide_batch``), write its kept rows as clean rows with
    ``writer``, and add its per-bucket counts to ``counts``."""
    import pyarrow as pa

    cols, decided = scoring.decide_batch(batch)
    reasons = decided["reasons"]
    kept = np.flatnonzero(decided["keep"])
    lang = clean_lang(PandasOps({"lang": batch.column("lang").to_numpy(
        zero_copy_only=False), "lang_pred": cols["lang_pred"]}))
    buckets = batch.column("bucket").to_numpy()
    writer.write_runs(buckets[kept], pa.table({
        "url": batch.column("url").take(kept).cast(pa.string()),
        "warc_ts": batch.column("warc_ts").take(kept)
                        .cast(pa.timestamp("us", tz="UTC")),
        "lang": pa.array(lang[kept], pa.string()),
        "text": pa.array(cols["scrubbed_text"][kept], pa.string()),
        "reasons_csv": pa.array([",".join(reasons[i]) for i in kept],
                                pa.string()),
    }))
    for bucket, lo, hi in bucket_runs(buckets):
        c = counts.setdefault(bucket, {
            "docs_in": 0, "docs_kept": 0, "file": None,
            "rule_hits": [0] * len(dec.REASON_CODES),
            "pii_scrubbed": [0] * len(PII_KINDS)})
        c["docs_in"] += hi - lo
        for codes in reasons[lo:hi]:
            for code in codes:
                c["rule_hits"][dec.REASON_CODES.index(code)] += 1
        for j, k in enumerate(PII_KINDS):
            c["pii_scrubbed"][j] += int(cols[f"n_{k}"][lo:hi].sum())


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

    The scoring job runs inside ``Warehouse.write_clean``: each scoring
    task stages its own clean files and returns its metric partials
    (:func:`_score_and_stage`), which ``write_clean`` publishes (Parquet)
    or hands to one Iceberg write, and :func:`bucket_metrics` adds up. On
    a Parquet warehouse a call is ONE Spark job (two when an alert fires):
    the pages read is schema-pinned, and the resume set and the metrics
    checkpoint are read and written with pyarrow on the driver.
    ``bucket_subset``: restrict this invocation to the given buckets (the
    wave unit used by :func:`run_filter_in_waves`); partition pruning makes
    the restriction a scan-level filter.
    ``c4``: the C4 line rules of :func:`score_pages`.
    """
    pages = wh.read_pages(pages_table)
    if bucket_subset is not None:
        pages = pages.where(F.col("bucket").isin(list(bucket_subset)))
    pages = wh.resume_filter(pages, run_id)
    if c4:
        pages = c4_pre_clean(pages)
    staging = wh.clean_staging(clean_table, run_id)
    staged = pages.select(*SCORING_INPUT, *(["_c4_keep"] if c4 else [])
                          ).mapInArrow(functools.partial(_score_and_stage,
                                                         staging),
                                       PARTIAL_SCHEMA)
    # 1) commit the data, 2) append the alerts, 3) checkpoint the metrics
    # LAST. A crash before the checkpoint rescores the bucket on resume:
    # its clean partition is rewritten idempotently, and alerts appended
    # again collapse in read_alerts. The summary, the alerts and the
    # checkpoint all come from the same ≤num_buckets metric rows.
    metrics_rows = bucket_metrics(
        wh.write_clean(staged, clean_table, staging), run_id)
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
    wh.append_audit([(run_id, "validate_remediation", docs,
                      float(drop_rate), status, message,
                      datetime.datetime.now())])
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
    if wave_buckets < 1:
        raise ValueError(f"wave_buckets must be >= 1, got {wave_buckets}")
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
    import os

    from ..functions.perplexity import PerplexityModel

    cur = _run_drop_rate(wh, run_id)
    base = _run_drop_rate(wh, baseline_run_id)
    drift = round(abs(cur - base), 6)
    if drift <= shift_threshold:
        wh.append_audit([(run_id, "drift_retrain", 0, float(drift),
                          "skipped",
                          f"drop-rate shift {drift} <= threshold "
                          f"{shift_threshold}", datetime.datetime.now())])
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
    wh.append_audit([(run_id, "drift_retrain", len(texts), float(drift),
                      "retrained",
                      f"drop-rate shift {drift} > {shift_threshold}; "
                      f"retrained LM on {len(texts)} docs -> {path}",
                      datetime.datetime.now())])
    return {"run_id": run_id, "retrained": True, "drift": drift,
            "model_path": path, "sample_docs": len(texts)}
